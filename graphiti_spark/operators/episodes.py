"""M1 — episode assembly (SURVEY.md §2.1 S1-S3).

transcripts(conv_id, turn_idx, role, text, tool, ts) → episodes DataFrame.

Reference semantics reproduced:
  * content = ``role || ': ' || text`` — the message episode format
    (``prompts/extract_nodes.py:96``; eval harness
    ``tests/evals/eval_e2e_graph_building.py:53``). This is the per-row
    invariant: per-turn text equality under stable (conv_id, turn_idx) order.
  * previous-episode context = prior ``EPISODE_WINDOW_LEN = 3`` turns
    (``utils/maintenance/graph_data_operations.py:28,84-135``), defined
    once by :func:`_context`. The build reads it inside its extraction
    kernel from the conversation's turn-sorted rows
    (:func:`graphiti_spark.operators.extract.extract_combined`);
    :func:`hydrate_context` runs the same window per conversation and
    attaches it as a column, for callers outside the build.
  * ``valid_at`` = turn ts (document time), ``created_at`` = fixed run_ts
    (ingestion time) — the bi-temporal split (``nodes.py:151-153``).

Assembly is JVM-side column expressions (whole-stage codegen; no Python).
"""

from __future__ import annotations

from datetime import datetime

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from graphiti_spark.operators import dedup

EPISODE_WINDOW_LEN = 3  # graph_data_operations.py:28

SEP = "\x1f"


def stable_id_cols(*cols):
    """JVM-side equivalent of rules.stable_id: sha1 of 0x1f-joined parts,
    first 32 hex chars. Keeps id generation in codegen (no UDF)."""
    return F.substring(F.sha1(F.concat_ws(SEP, *cols)), 1, 32)


def assemble_episodes(transcripts: DataFrame, run_ts: datetime) -> DataFrame:
    """transcripts → one episode row per turn.

    The build's extraction kernel reads each episode's previous turns
    from the sorted rows itself; :func:`hydrate_context` attaches them as
    a column for other callers. Context retrieval for the read path is
    :func:`retrieve_episodes`.
    """
    # EpisodeType routing (``nodes.py:45-70``): an optional `source` column
    # on the transcripts selects the episode kind per row; 'message'
    # content is "role: text", 'text'/'json' pass the payload through
    # verbatim (the reference formats only message episodes,
    # ``bulk_utils.py:57-63`` RawEpisode.content is raw otherwise).
    if "source" in transcripts.columns:
        source = F.coalesce(F.col("source"), F.lit("message"))
    else:
        source = F.lit("message")
    msg_content = F.concat_ws(": ", F.col("role"),
                              F.coalesce(F.col("text"), F.lit("")))
    content = F.when(source == "message", msg_content) \
               .otherwise(F.coalesce(F.col("text"), F.lit("")))
    return (
        transcripts
        .withColumn("_source", source)
        .withColumn("content", content)
        .select(
            stable_id_cols(F.lit("episode"), F.col("conv_id"),
                           F.col("turn_idx").cast("string")).alias("uuid"),
            F.concat_ws("-", F.col("conv_id"),
                        F.col("turn_idx").cast("string")).alias("name"),
            F.col("conv_id").alias("group_id"),
            F.col("_source").alias("source"),
            F.coalesce(F.col("tool"), F.lit("")).alias("source_description"),
            F.col("content"),
            F.col("ts").alias("valid_at"),
            F.lit(run_ts).cast("timestamp").alias("created_at"),
            F.col("turn_idx"),
        )
    )


def _context(turns: list, contents: list, i: int) -> list[str]:
    """Contents of the turns in ``[t - EPISODE_WINDOW_LEN, t)`` before row
    ``i`` of one group's turn-sorted rows, oldest first: the reference's
    ``previous_episodes`` window (``graph_data_operations.py:28``). The
    window is by ``turn_idx`` value, so a gap in the turns shortens it."""
    t = turns[i]
    prev = []
    j = i - 1
    while (j >= 0 and t is not None and turns[j] is not None
           and turns[j] >= t - EPISODE_WINDOW_LEN):
        if turns[j] < t:
            prev.append((turns[j], contents[j] or ""))
        j -= 1
    return [c for _, c in sorted(prev)]


def hydrate_context(episodes: DataFrame) -> DataFrame:
    """``episodes`` plus ``prev_context``: each episode's previous turns
    (:func:`_context`, the reference's ``previous_episodes`` window,
    ``graph_data_operations.py:28,84-135``), computed once per
    conversation over its turn-sorted rows by
    :func:`graphiti_spark.operators.dedup.map_groups`. The build does
    not call it: its extraction kernel reads the same window in the task
    that extracts."""
    rest = [c for c in episodes.columns if c not in ("group_id", "turn_idx")]
    rows = episodes.select("group_id", "turn_idx", *rest)
    content = rest.index("content")

    def solve(g, turns: list, *cols: list) -> list[list]:
        turns = [None if pd.isna(t) else int(t) for t in turns]
        ctx = [_context(turns, cols[content], i) for i in range(len(turns))]
        return [[g] * len(turns), turns, *cols, ctx]

    schema = T.StructType(rows.schema.fields + [T.StructField(
        "prev_context", T.ArrayType(T.StringType()))])
    return (dedup.map_groups(rows, solve, schema)
            .select(*episodes.columns, "prev_context"))


def retrieve_episodes(episodes: DataFrame, reference_time, last_n: int = 10,
                      group_ids: list[str] | None = None) -> DataFrame:
    """S3 — last-n episodes with valid_at <= reference_time per group,
    returned chronologically (``graph_data_operations.py:84-135``)."""
    df = episodes.where(F.col("valid_at") <= F.lit(reference_time))
    if group_ids:
        df = df.where(F.col("group_id").isin(group_ids))
    w = Window.partitionBy("group_id").orderBy(F.col("valid_at").desc(),
                                               F.col("turn_idx").desc())
    return (df.withColumn("_rn", F.row_number().over(w))
              .where(F.col("_rn") <= last_n).drop("_rn")
              .orderBy("group_id", "valid_at", "turn_idx"))
