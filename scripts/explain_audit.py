"""Plan audit: dump .explain('formatted') for every queries() entry and
flag scale anti-patterns:

  * CartesianProduct / BroadcastNestedLoopJoin without an intended cross
  * BatchEvalPython (row-at-a-time Python UDF — must be ArrowEvalPython)
  * parquet scans without PushedFilters/ReadSchema pruning where a filter
    or narrow projection exists upstream

Usage: python scripts/explain_audit.py [names...] (default: all, sf0.001)
"""

from __future__ import annotations

import re
import sys

sys.path.insert(0, ".")

RED_FLAGS = [
    ("CartesianProduct", "cartesian product"),
    ("BatchEvalPython", "row-at-a-time Python UDF (want ArrowEvalPython)"),
]
ALLOW_NESTED_LOOP = {"embedding_knn", "embedding_knn_ivf",
                     "embedding_near_dup",
                     "dedup_minhash",   # intended broadcast cross joins
                                        # (8-row seed table × tokens)
                     "bm25_search",     # 1-row corpus-stats (N, avgdl)
                                        # broadcast onto the tf join
                     "composite_search",  # same bm25 stats broadcast,
                                          # once per layer
                     "kg_mmr",            # 4-row query-id broadcast onto
                                          # the candidate table
                     "kg_mmr_diverse",    # same shape at λ=0.5: 3-row
                                          # query-id broadcast × 12
                                          # candidates
                     "keyword_tfidf"}     # 1-row corpus-size N broadcast
                                          # onto the scored (doc, term)
                                          # rows
# Queries whose global (unpartitioned) windows rank only bounded inputs
# (sort().limit() upstream): rrf_fusion ranks ≤200-row candidate lists,
# build_ivf's seed ranking runs over ≤n_cells rows.
ALLOW_GLOBAL_WINDOW = {"rrf_fusion", "embedding_knn_ivf",
                       # per-layer RRF rank windows over sort().limit(2k)
                       # bounded method lists (≤20 rows each)
                       "composite_search"}


def _wsd_args(line: str) -> str | None:
    """Text inside the first windowspecdefinition(...) — paren-matched,
    since args nest (coalesce(), cast(), specifiedwindowframe())."""
    i = line.find("windowspecdefinition(")
    if i < 0:
        return None
    j = i + len("windowspecdefinition(")
    depth, k = 1, j
    while k < len(line) and depth:
        depth += {"(": 1, ")": -1}.get(line[k], 0)
        k += 1
    return line[j:k - 1]


def _split_top(s: str) -> list[str]:
    parts, depth, cur = [], 0, []
    for c in s:
        if c == "," and depth == 0:
            parts.append("".join(cur).strip())
            cur = []
        else:
            depth += {"(": 1, ")": -1}.get(c, 0)
            cur.append(c)
    if cur:
        parts.append("".join(cur).strip())
    return parts


def global_windows(plan: str) -> int:
    """Count Window nodes with NO partition spec — every corpus row
    through one task, the #1 scale-killer shape. Parse the
    windowspecdefinition args: everything before specifiedwindowframe is
    partition cols (bare expressions) then order cols (suffixed
    ASC/DESC NULLS ...). A spec whose pre-frame args ALL carry a sort
    direction has no partition columns → global. (Bracket-group counting
    can't tell partitioned-unordered from global-ordered — both print
    two groups.)"""
    n = 0
    for line in plan.splitlines():
        if "windowspecdefinition" not in line or "Arguments:" not in line:
            continue
        args = _wsd_args(line)
        if args is None:
            continue
        pre = [p for p in _split_top(args)
               if not p.startswith("specifiedwindowframe")]
        if not any(" ASC" not in p and " DESC" not in p for p in pre):
            n += 1
    return n


def main():
    import __spark_entry__ as entrymod
    from graphiti_spark.session import get_spark

    sf_dir = "/root/testdata/sf0.001"
    qs = entrymod.queries()
    names = sys.argv[1:] or [n for n in qs if n != "kg_build_edges"]

    spark = get_spark(cores=8)
    spark.sparkContext.setLogLevel("ERROR")
    problems = []
    for name in names:
        df = qs[name](spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode
            .fromString("formatted"))
        flags = []
        for pat, desc in RED_FLAGS:
            if pat in plan:
                flags.append(desc)
        if ("BroadcastNestedLoopJoin" in plan
                and name not in ALLOW_NESTED_LOOP):
            flags.append("unintended nested-loop join")
        gw = global_windows(plan)
        if gw and name not in ALLOW_GLOBAL_WINDOW:
            flags.append(f"{gw} global unpartitioned Window(s)")
        scans = len(re.findall(r"Scan parquet", plan))
        pushed = len(re.findall(r"PushedFilters: \[[^\]]", plan))
        wsc = len(re.findall(r"WholeStageCodegen", plan))
        status = "FLAG " + "; ".join(flags) if flags else "ok"
        print(f"{name:24s} scans={scans} pushedFilterScans={pushed} "
              f"codegenSpans={wsc} {status}")
        if flags:
            problems.append((name, flags, plan))
    for name, flags, plan in problems:
        print(f"\n===== {name}: {flags} =====")
        print(plan[:4000])
    spark.stop()
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
