"""The benchmark's workloads, their correctness checks and their metrics.

Each workload takes a :class:`Context` (Spark session, seed, run length,
tracer) and returns a :class:`Result`. All inputs come from the seed:
corpora from ``graphiti_spark.datagen.generate(sf, seed)``, the search mix
from a generator seeded with the same number. The program only ever sees
the generated data.
"""

from __future__ import annotations

import os
import re
import statistics
import sys
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from tracing import SPARK_LAYERS, Tracer, instrument, plan_nodes

# name -> (unit, better). BENCHMARK.json lists the same metrics;
# test_perfbench.py checks that the two agree.
END_TO_END = {
    "latency_p50_ms": ("ms", "lower"),
    "throughput_per_s": ("1/s", "higher"),
    "setup_s": ("s", "lower"),
}

_STEP_TIMES = {
    "episodes.assemble_s": "episodes.assemble",
    "episodes.hydrate_context_s": "episodes.hydrate_context",
    "extract.combined_s": "extract.combined",
    "dedup.canonicalize_s": "dedup.canonicalize",
    "dedup.resolve_pointers_s": "dedup.resolve_pointers",
    "versioning.dedupe_s": "versioning.dedupe",
    "versioning.apply_s": "versioning.apply",
    "pipeline.summaries_s": "pipeline.summaries",
    "pipeline.episodic_edges_s": "pipeline.episodic_edges",
    "api.add_bulk_call_s": "api.add_bulk_call",
    "api.materialize_s": "api.materialize",
    "communities.build_s": "communities.build",
    "serving.export_s": "serving.export",
    "serving.load_s": "serving.load",
    "serving.first_query_s": "serving.first_query",
    "session.start_s": "session.start",
    "session.warmup_s": "session.warmup",
}
SERVING_KINDS = ("edge", "node", "episode", "community")

PER_LAYER = {
    **{name: ("s", "lower") for name in _STEP_TIMES},
    "episodes.rows_out": ("count", "higher"),
    "extract.episodes_per_s": ("1/s", "higher"),
    "extract.mentions_rows": ("count", "higher"),
    "extract.edges_raw_rows": ("count", "higher"),
    "dedup.entities_in": ("count", "higher"),
    "dedup.canonical_out": ("count", "lower"),
    "dedup.merge_ratio": ("ratio", "lower"),
    "versioning.edges_out": ("count", "higher"),
    "versioning.invalidated_edges": ("count", "higher"),
    "api.jobs_per_batch": ("count", "lower"),
    "api.tasks_per_batch": ("count", "lower"),
    "api.edges_plan_nodes": ("count", "lower"),
    **{f"serving.{k}.p50_ms": ("ms", "lower")
       for k in SERVING_KINDS + ("combined", "scoped", "unscoped")},
    "trace.overhead_pct": ("%", "lower"),
}
_SPARK_UNITS = {"tasks": "count", "failed_tasks": "count",
                "shuffle_write_mb": "MB", "spill_mb": "MB",
                "executor_cpu_s": "s", "gc_s": "s"}
for _layer in SPARK_LAYERS:
    for _counter, _unit in _SPARK_UNITS.items():
        PER_LAYER[f"{_layer}.{_counter}"] = (_unit, "lower")

GRAPH_TABLES = ("edges", "entities", "episodes", "episodic_edges")
WARM_SF = 0.0004           # warm-up corpus: 20 conversations, ~200 turns
SCOPED_EVERY = 4           # a quarter of the query cycles are scoped
# 8 cycles of the 16 presets, two of the 4-cycle scoping pattern
QUERY_BLOCK = 128
# Served answers compared with Spark's composite search on every run:
# (preset, scoped). The combined preset searches all four layers (MMR on
# edges, nodes and communities, RRF on episodes), scoped by group_ids; the
# node preset runs RRF over the whole graph, unscoped. Spark's answer to
# one combined cross-encoder query took ~14 s on a 4-core host, against
# ~7 s for combined MMR, so the cross-encoder is left to the timed mix.
CHECK_QUERIES = (("COMBINED_HYBRID_SEARCH_MMR", True),
                 ("NODE_HYBRID_SEARCH_RRF", False))


@dataclass(frozen=True)
class Sizes:
    bulk_sf: float = 0.03      # 1,500 conversations, ~16k turns
    serve_sf: float = 0.005    # 250 conversations, ~2.6k turns
    warm_queries: int = 128    # untimed, after load: lazy state, caches
    min_queries: int = 1000    # >= 10 samples beyond p99


TINY = Sizes(bulk_sf=0.0004, serve_sf=0.0004, warm_queries=16,
             min_queries=40)


@dataclass
class Corpus:
    path: str
    transcripts: pd.DataFrame
    golden_edges: pd.DataFrame
    golden_components: pd.DataFrame


class Corpora:
    """Generated corpora, cached per (sf, seed) for the life of the run
    and written under the run's own work directory."""

    def __init__(self, work: str):
        self.work = work
        self._cache: dict[tuple[float, int], Corpus] = {}

    def get(self, sf: float, seed: int) -> Corpus:
        from graphiti_spark import datagen
        key = (sf, seed)
        if key not in self._cache:
            tr, _triples, comps, edges = datagen.generate(sf, seed)
            path = os.path.join(self.work, f"corpus_sf{sf:g}_seed{seed}",
                                "transcripts.parquet")
            os.makedirs(os.path.dirname(path), exist_ok=True)
            # microsecond timestamps (Spark cannot read nanosecond
            # parquet) and small row groups, as datagen.ensure_corpus
            tr.to_parquet(path, index=False, coerce_timestamps="us",
                          allow_truncated_timestamps=True,
                          row_group_size=100_000)
            self._cache[key] = Corpus(path, tr, edges, comps)
        return self._cache[key]


@dataclass
class Context:
    spark: object
    seed: int
    seconds: float
    tracer: Tracer
    work: str
    t_start: float                       # perf_counter at process start
    release_spark: object = None         # stops Spark once it is not needed
    sizes: Sizes = field(default_factory=Sizes)
    faults: frozenset = frozenset()      # planted faults, self-tests only
    corpora: Corpora | None = None

    def __post_init__(self):
        if self.corpora is None:
            self.corpora = Corpora(self.work)


@dataclass
class Result:
    setup_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    report: dict = field(default_factory=dict)      # name -> value/unit/n
    end_to_end: dict = field(default_factory=dict)  # name -> value
    overhead_pct: float = 0.0   # traced vs plain operation, traced runs

    @property
    def error_rate(self) -> float:
        """Failed operations (correctness checks included) per attempted."""
        return self.failed / max(self.attempted, 1)

    def note(self, name: str, value: float, unit: str, n: int = 1) -> None:
        self.report[name] = {"value": value, "unit": unit, "n": n}

    def op_failed(self, what: str) -> None:
        self.failed += 1
        log(f"{what} failed")
        traceback.print_exc(file=sys.stderr)


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


# -- shared set-up: session warm-up and the served graph ---------------------

def _words(text: str) -> list[str]:
    return re.findall(r"[a-z0-9]+", text.lower())


@dataclass
class Query:
    text: str
    preset: str
    group_ids: list | None
    center: str | None
    origins: list


class QueryMix:
    """Seeded closed-loop client mix. Presets cycle through all composite
    presets, so every run holds them in the same proportions; every
    ``SCOPED_EVERY``-th cycle is scoped to one conversation. The query is
    2-4 seeded words from the corpus vocabulary; centre and BFS origin
    nodes are seeded picks from one group (the scoped one, if scoped)."""

    def __init__(self, seed: int, vocab: list[str],
                 nodes: dict[str, list[str]]):
        from graphiti_spark.operators.composite_search import (
            COMPOSITE_RECIPES)
        self.rng = np.random.default_rng(seed)
        self.vocab = vocab
        self.presets = sorted(COMPOSITE_RECIPES)
        self.nodes = nodes
        self.groups = sorted(nodes)
        self.n = 0

    @classmethod
    def from_tables(cls, seed: int, transcripts: pd.DataFrame,
                    nodes: pd.DataFrame) -> "QueryMix":
        vocab = sorted({w for t in transcripts["text"] for w in _words(t)})
        by_group = {g: sorted(u) for g, u in
                    nodes.groupby("group_id")["uuid"]}
        return cls(seed, vocab, by_group)

    def next(self, preset: str | None = None,
             scoped: bool | None = None) -> Query:
        rng = self.rng
        words = rng.choice(len(self.vocab), size=int(rng.integers(2, 5)))
        text = " ".join(self.vocab[i] for i in words)
        cycle, i = divmod(self.n, len(self.presets))
        self.n += 1
        if preset is None:
            preset = self.presets[i]
        if scoped is None:
            scoped = cycle % SCOPED_EVERY == 0
        group = self.groups[int(rng.integers(len(self.groups)))]
        members = self.nodes[group]
        picks = rng.choice(len(members), size=min(3, len(members)),
                           replace=False)
        return Query(text, preset, [group] if scoped else None,
                     members[picks[0]], [members[i] for i in picks[1:]])


def run_query(served, q: Query, tracer: Tracer | None = None) -> int:
    """One served search, query embedding included; returns result rows.
    With a tracer, each layer of the preset runs as its own search call
    inside a span, which yields the per-layer serving times."""
    from graphiti_spark.functions.text import embed_text
    from graphiti_spark.operators.composite_search import (
        COMPOSITE_RECIPES, CompositeSearchConfig)
    preset = COMPOSITE_RECIPES[q.preset]
    kw = dict(group_ids=q.group_ids, center_node_uuid=q.center,
              bfs_origin_node_uuids=q.origins)
    if tracer is None:
        qvec = [float(x) for x in embed_text(q.text)]
        res = served.search(q.text, qvec, preset, **kw)
        return sum(len(getattr(res, a)) for a in
                   ("edges", "nodes", "episodes", "communities")
                   if getattr(res, a) is not None)
    rows = 0
    with tracer.span("serving.query", spark=False, preset=q.preset,
                     scoped=q.group_ids is not None):
        qvec = [float(x) for x in embed_text(q.text)]
        for kind in SERVING_KINDS:
            cfg = getattr(preset, f"{kind}_config")
            if cfg is None:
                continue
            one = CompositeSearchConfig(
                limit=preset.limit,
                reranker_min_score=preset.reranker_min_score,
                **{f"{kind}_config": cfg})
            with tracer.span(f"serving.{kind}", spark=False):
                res = served.search(q.text, qvec, one, **kw)
            got = getattr(res, "communities" if kind == "community"
                          else f"{kind}s")
            rows += 0 if got is None else len(got)
    return rows


def build_served(ctx: Context, sf: float):
    """Graph through the API write path, communities, export, load and
    one first query that builds every lazy index."""
    from graphiti_spark.api import GraphitiSpark
    from graphiti_spark.serving import ServedGraph, export_search_artifacts

    tr, spark = ctx.tracer, ctx.spark
    t0 = time.perf_counter()
    corpus = ctx.corpora.get(sf, ctx.seed)
    log(f"corpus sf{sf:g}: {time.perf_counter() - t0:.1f} s")
    handle = GraphitiSpark(spark, with_embeddings=True)
    batch_id = f"{tr.phase}:artifacts"
    with tr.batch(batch_id), instrument(tr):
        with tr.span("api.add_bulk_call", batch=batch_id):
            handle.add_episode_bulk(spark.read.parquet(corpus.path))
        # the plan the API hands back, before materializing cuts it
        n_plan = plan_nodes(handle.edges) if tr.enabled else 0
        with tr.span("api.materialize", plan_nodes=n_plan):
            # checkpointed, as GraphitiSpark.save does: later Spark work
            # (communities, export, the check) reads the materialized
            # tables instead of re-planning the build's lineage
            for table in GRAPH_TABLES:
                # episodic edges are a lazy leaf of the build: this is
                # where they are computed
                with (tr.span("pipeline.episodic_edges")
                      if table == "episodic_edges" else nullcontext()):
                    setattr(handle, table, getattr(handle, table)
                            .localCheckpoint(eager=True))
    log(f"API build materialized at {time.perf_counter() - t0:.1f} s")
    with tr.span("communities.build"):
        handle.build_communities()
    art = os.path.join(ctx.work, "artifacts")
    with tr.span("serving.export"):
        export_search_artifacts(
            art, edges=handle.edges, nodes=handle.entities,
            episodes=handle.episodes, communities=handle.communities,
            episodic_edges=handle.episodic_edges)
    with tr.span("serving.load"):
        served = ServedGraph.load(art)
    log(f"communities, export, load done at "
        f"{time.perf_counter() - t0:.1f} s")
    nodes = pd.read_parquet(os.path.join(art, "nodes"),
                            columns=["uuid", "group_id"])
    mix = QueryMix.from_tables(ctx.seed, corpus.transcripts, nodes)
    with tr.span("serving.first_query", spark=False):
        run_query(served, mix.next("COMBINED_HYBRID_SEARCH_RRF", False))
    return handle, served, mix


def warm_up_build(ctx: Context) -> None:
    """Unmeasured build of a tiny corpus, as the timed builds run it."""
    from graphiti_spark.plans import pipeline
    tr = ctx.tracer
    tr.phase, tr.ops["warmup"] = "warmup", 1
    with tr.span("session.warmup"):
        corpus = ctx.corpora.get(WARM_SF, ctx.seed)
        pipeline.build_graph(ctx.spark, ctx.spark.read.parquet(corpus.path)
                             ).edges.count()
    ctx.spark.catalog.clearCache()
    tr.phase = "setup"


def start_python_workers(spark) -> None:
    """One small embedding job: the session's Python workers start and
    import the package before the set-up build needs them. On a 4-core
    host, ~5 s for this job saved ~10 s of a cold build with embeddings."""
    from pyspark.sql import functions as F

    from graphiti_spark.operators.extract import embed_udf
    n = spark.sparkContext.defaultParallelism
    (spark.range(0, 4 * n, numPartitions=n)
     .select(embed_udf(F.col("id").cast("string")).alias("v"))
     .agg(F.count("v")).collect())


# -- bulk_build --------------------------------------------------------------

def _pr_and_components(g, corpus: Corpus, faults) -> tuple[float, float, bool]:
    """Versioned (group, subj, pred, obj, valid_at, invalid_at) P/R against
    golden_edges and exact alias components against golden_components,
    as tests/test_pipeline_golden.py does."""
    from graphiti_spark import rules
    ents = g.entities.select("uuid", "name_norm", "member_uuids").toPandas()
    edges = g.edges.select("group_id", "source_node_uuid", "name",
                           "target_node_uuid", "valid_at",
                           "invalid_at").toPandas()
    name = dict(zip(ents["uuid"], ents["name_norm"]))
    pos = edges[edges["valid_at"].notna()]
    got = {(r.group_id, name.get(r.source_node_uuid), r.name,
            name.get(r.target_node_uuid), r.valid_at,
            None if pd.isna(r.invalid_at) else r.invalid_at)
           for r in pos.itertuples()}
    want = {(r.conv_id, r.subj, r.pred, r.obj, r.valid_at,
             None if pd.isna(r.invalid_at) else r.invalid_at)
            for r in corpus.golden_edges.itertuples()}
    tp = len(got & want)
    precision, recall = tp / max(len(got), 1), tp / max(len(want), 1)

    comps: dict = {}
    for r in corpus.golden_components.itertuples():
        comps.setdefault((r.conv_id, r.comp), set()).add(
            rules.entity_uuid(r.conv_id, r.name_norm))
    want_sets = {frozenset(v) for v in comps.values()}
    got_sets = [frozenset(m) for m in ents["member_uuids"]]
    if "split_entity" in faults:
        # planted fault: one alias drops out of its canonical entity
        i = next(i for i, m in enumerate(got_sets) if len(m) > 1)
        got_sets[i] = frozenset(sorted(got_sets[i])[1:])
    return precision, recall, set(got_sets) == want_sets


def bulk_build(ctx: Context) -> Result:
    from graphiti_spark.plans import pipeline

    spark, tr, res = ctx.spark, ctx.tracer, Result()
    corpus = ctx.corpora.get(ctx.sizes.bulk_sf, ctx.seed)
    warm_up_build(ctx)
    transcripts = spark.read.parquet(corpus.path)
    res.setup_s = time.perf_counter() - ctx.t_start
    log(f"set-up done in {res.setup_s:.1f} s")

    tr.phase = "measure"
    plain, traced, n_edges = [], [], []
    g = None
    t_loop = time.perf_counter()
    # One timed build: a second would not fit the benchmark's time budget
    # (see README.md). A traced run makes two, one plain and one traced,
    # and their edge counts must agree.
    min_builds = 2 if tr.enabled else 1
    while (res.attempted < min_builds
           or time.perf_counter() - t_loop < ctx.seconds):
        spark.catalog.clearCache()
        on = tr.enabled and len(plain) > len(traced)
        res.attempted += 1
        try:
            with instrument(tr) if on else nullcontext():
                t0 = time.perf_counter()
                g = pipeline.build_graph(spark, transcripts)
                n = g.edges.count()
                dt = time.perf_counter() - t0
                if on:
                    with tr.span("pipeline.episodic_edges"):
                        g.episodic_edges.count()
        except Exception:
            res.op_failed("build_graph")
            g = None
            continue
        (traced if on else plain).append(dt)
        n_edges.append(n)
        log(f"build {res.attempted}{' (traced)' if on else ''}: {dt:.2f} s")
    tr.ops["measure"] = len(traced)
    tr.phase = "check"
    t_check = time.perf_counter()
    log(f"{res.attempted} builds in {t_check - t_loop:.1f} s")

    if len(set(n_edges)) > 1:
        res.failed += 1
        log(f"edge counts differ across builds: {n_edges}")
    res.attempted += 1
    precision = recall = 0.0
    try:
        if g is None:
            raise RuntimeError("no build completed")
        precision, recall, comps_ok = _pr_and_components(g, corpus,
                                                         ctx.faults)
        if precision < 0.95 or recall < 0.95 or not comps_ok:
            res.failed += 1
            log(f"golden check failed: P={precision:.4f} R={recall:.4f} "
                f"components_exact={comps_ok}")
    except Exception:
        res.op_failed("golden check")
    spark.catalog.clearCache()
    log(f"check done in {time.perf_counter() - t_check:.1f} s")

    build_s = _median(plain or traced)
    triples = n_edges[-1] if n_edges else 0
    res.note("build_s", build_s, "s", len(plain or traced))
    res.note("build_triples_per_s", triples / build_s if build_s else 0.0,
             "1/s", len(plain or traced))
    res.note("triple_precision", precision, "ratio")
    res.note("triple_recall", recall, "ratio")
    res.end_to_end = {"latency_p50_ms": build_s * 1e3,
                      "throughput_per_s": triples / build_s if build_s
                      else 0.0}
    if traced and plain:
        res.overhead_pct = 100.0 * (_median(traced) / _median(plain) - 1.0)
    return res


# -- served_search -----------------------------------------------------------

def check_queries(mix: QueryMix, corpus: Corpus) -> list[Query]:
    """The CHECK_QUERIES, each with the text of one seeded golden fact of
    its query's group ("david jones works at vandelay industries"): names,
    fact and turn text all match it, so every layer returns rows."""
    facts = corpus.golden_edges
    out = []
    for preset, scoped in CHECK_QUERIES:
        q = mix.next(preset, scoped)
        group = next(g for g, members in mix.nodes.items()
                     if q.center in members)
        mine = facts[facts["conv_id"] == group]
        r = mine.iloc[int(mix.rng.integers(len(mine)))]
        q.text = f"{r.subj} {r.pred.lower().replace('_', ' ')} {r.obj}"
        out.append(q)
    return out


def _served_matches_spark(handle, served, q: Query, fault: bool) -> bool:
    """Served uuid order == Spark composite_search.search, every layer
    the preset searches."""
    from graphiti_spark.functions.text import embed_text
    from graphiti_spark.operators import composite_search as CS
    preset = CS.COMPOSITE_RECIPES[q.preset]
    qvec = [float(x) for x in embed_text(q.text)]
    kw = dict(group_ids=q.group_ids, center_node_uuid=q.center,
              bfs_origin_node_uuids=q.origins)
    want = CS.search(q.text, qvec, preset, edges=handle.edges,
                     nodes=handle.entities, episodes=handle.episodes,
                     communities=handle.communities,
                     episodic_edges=handle.episodic_edges, **kw)
    got = served.search(q.text, qvec, preset, **kw)
    for attr in ("edges", "nodes", "episodes", "communities"):
        w, s = getattr(want, attr), getattr(got, attr)
        if (w is None) != (s is None):
            return False
        if w is None:
            continue
        w_ids = [r["uuid"] for r in w.select("uuid").collect()]
        s_ids = s["uuid"].tolist()
        log(f"check {q.preset} scoped={q.group_ids is not None} {attr}: "
            f"{len(w_ids)} rows")
        if fault:
            # planted fault: the served ranking comes back rotated by one
            # (a lone or empty result gains a stray uuid instead)
            s_ids = s_ids[1:] + s_ids[:1] if len(s_ids) > 1 \
                else s_ids + ["planted-fault"]
        if w_ids != s_ids:
            return False
    return True


def served_search(ctx: Context) -> Result:
    tr, res = ctx.tracer, Result()
    start_python_workers(ctx.spark)
    handle, served, mix = build_served(ctx, ctx.sizes.serve_sf)
    # The check against Spark runs before the timed loop, so that Spark can
    # stop first: no JVM shares the host with the served queries.
    tr.phase = "check"
    t_check = time.perf_counter()
    corpus = ctx.corpora.get(ctx.sizes.serve_sf, ctx.seed)
    for q in check_queries(QueryMix(ctx.seed + 1, mix.vocab, mix.nodes),
                           corpus):
        res.attempted += 1
        try:
            if not _served_matches_spark(handle, served, q,
                                         "reorder_result" in ctx.faults):
                res.failed += 1
                log(f"served {q.preset} differs from Spark")
        except Exception:
            res.op_failed(f"served-vs-Spark check {q.preset}")
    check_s = time.perf_counter() - t_check
    log(f"check done in {check_s:.1f} s")
    ctx.release_spark()

    # warm-up: untimed queries fill the served graph's lazy state
    tr.phase, tr.ops["warmup"] = "warmup", 1
    warm_mix = QueryMix(ctx.seed + 2, mix.vocab, mix.nodes)
    with tr.span("session.warmup", spark=False):
        for _ in range(ctx.sizes.warm_queries):
            run_query(served, warm_mix.next())
    res.setup_s = time.perf_counter() - ctx.t_start - check_s
    log(f"set-up done in {res.setup_s:.1f} s")

    # Whole blocks of QUERY_BLOCK queries, each holding the same preset
    # and scoping mix; the latency reported is the median of the block
    # medians, so a burst of host noise that slows a few blocks does not
    # move it. A traced run alternates plain and traced blocks.
    tr.phase = "measure"
    plain, traced = [], []
    min_blocks = max(-(-ctx.sizes.min_queries // QUERY_BLOCK),
                     2 if tr.enabled else 1)
    t_loop = time.perf_counter()
    while (len(plain) + len(traced) < min_blocks
           or time.perf_counter() - t_loop < ctx.seconds):
        on = tr.enabled and len(plain) > len(traced)
        block = []
        for _ in range(QUERY_BLOCK):
            q = mix.next()
            res.attempted += 1
            t0 = time.perf_counter()
            try:
                run_query(served, q, tr if on else None)
            except Exception:
                res.op_failed(f"query {q.preset}")
                continue
            block.append(time.perf_counter() - t0)
        (traced if on else plain).append(block)
    tr.ops["measure"] = len(traced)
    log(f"{QUERY_BLOCK * (len(plain) + len(traced))} queries in "
        f"{time.perf_counter() - t_loop:.1f} s")

    blocks = [b for b in (plain or traced) if b]
    lat = np.concatenate(blocks) * 1e3 if blocks else np.zeros(0)
    p50 = _median([float(np.median(b)) * 1e3 for b in blocks])
    qps = _median([len(b) / sum(b) for b in blocks])
    p99 = float(np.percentile(lat, 99)) if len(lat) else 0.0
    res.note("search_p50_ms", p50, "ms", len(lat))
    res.note("search_p99_ms", p99, "ms", len(lat))
    res.note("search_qps", qps, "1/s", len(lat))
    res.end_to_end = {"latency_p50_ms": p50, "throughput_per_s": qps}
    if traced and plain:
        res.overhead_pct = 100.0 * (
            _median([x for b in traced for x in b])
            / _median([x for b in plain for x in b]) - 1.0)
    return res


WORKLOADS = {"bulk_build": bulk_build, "served_search": served_search}


# -- per-layer metrics -------------------------------------------------------

def per_layer_metrics(tracer: Tracer, jobs: list[dict], res: Result) -> dict:
    """Every PER_LAYER metric from the spans, the event-log jobs and the
    workload's own overhead figure."""
    from tracing import batch_metrics, spark_layer_metrics

    m = {name: tracer.median_s(span) for name, span in _STEP_TIMES.items()}
    last = tracer.last_attr
    m["episodes.rows_out"] = last("episodes.assemble", "rows")
    rows_in = last("extract.combined", "rows_in")
    m["extract.episodes_per_s"] = (rows_in / m["extract.combined_s"]
                                   if m["extract.combined_s"] else 0.0)
    m["extract.mentions_rows"] = last("extract.mentions", "rows")
    m["extract.edges_raw_rows"] = last("extract.edges_raw", "rows")
    m["dedup.entities_in"] = last("dedup.canonicalize", "rows_in")
    m["dedup.canonical_out"] = last("dedup.canonicalize", "rows")
    m["dedup.merge_ratio"] = (m["dedup.canonical_out"] / m["dedup.entities_in"]
                              if m["dedup.entities_in"] else 0.0)
    m["versioning.edges_out"] = last("versioning.apply", "rows")
    m["versioning.invalidated_edges"] = last("versioning.apply",
                                             "invalidated")
    m["api.edges_plan_nodes"] = last("api.materialize", "plan_nodes")
    per_batch = [batch_metrics(jobs, s["batch"])
                 for s in tracer.chosen("api.add_bulk_call")]
    m["api.jobs_per_batch"] = _median([j for j, _ in per_batch])
    m["api.tasks_per_batch"] = _median([t for _, t in per_batch])

    queries = tracer.chosen("serving.query")
    for kind in SERVING_KINDS:
        m[f"serving.{kind}.p50_ms"] = 1e3 * tracer.median_s(
            f"serving.{kind}")
    for key, keep in (
            ("combined", lambda s: s["preset"].startswith("COMBINED")),
            ("scoped", lambda s: s["scoped"]),
            ("unscoped", lambda s: not s["scoped"])):
        m[f"serving.{key}.p50_ms"] = 1e3 * _median(
            [s["dur_s"] for s in queries if keep(s)])
    m.update(spark_layer_metrics(tracer, jobs))
    m["trace.overhead_pct"] = res.overhead_pct
    return m
