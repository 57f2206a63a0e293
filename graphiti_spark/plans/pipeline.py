"""End-to-end KG-construction pipeline (the Spark analogue of
``Graphiti.add_episode_bulk``, ``/root/reference/graphiti_core/graphiti.py:
554-831`` — SURVEY.md §3.2).

Stages (each a resumable checkpoint; `group_id` keys every shuffle):

  1. episodes   — window assembly over (conv_id, turn_idx)        [M1]
  2. mentions   — vectorized mention extraction + explode          [M2/E1]
  3. edges_raw  — vectorized triple extraction + explode           [M2/E3]
  4. entities   — blocking + CC canonicalization (+ uuid_map)      [M3/J1/A1]
  5. edges      — endpoint remap, dedup, temporal versioning       [M4/J8/J2/T1-T2]
  6. episodic_edges / duplicate_edges / summaries                  [S4/E4]

On a real cluster the same code runs via ``spark-submit --py-files`` with
the transcripts read from an Iceberg table partitioned by bucket(conv_id);
here the IO layer degrades to parquet (sources/tables.py).
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphiti_spark.operators import dedup, episodes as ep, extract, versioning
from graphiti_spark.operators.episodes import stable_id_cols
from graphiti_spark.sources.tables import TableStore

RUN_TS = datetime(2025, 1, 1, tzinfo=timezone.utc)  # fixed for determinism
SUMMARY_MAX_WORDS = 250   # node_operations.py:295-381 (≤250-word summary)

# Below this input size the eager-materialization barriers (which exist to
# stop multi-consumer branches recomputing a shared subtree through a cold
# cache — a race that costs minutes at 10^7 rows) cost more fixed latency
# than the recompute they prevent: at 5×10^4 rows recomputing the subtree
# 3× is milliseconds while each count() barrier is a full scheduled job.
EAGER_MIN_ROWS = 1_000_000


@dataclass
class GraphTables:
    episodes: DataFrame
    entities: DataFrame
    edges: DataFrame
    episodic_edges: DataFrame
    uuid_map: DataFrame


def entity_summaries(entities: DataFrame, edges: DataFrame) -> DataFrame:
    """E4 deterministic stand-in: summary = chronological concat of the
    entity's supporting facts, truncated to 250 words; typed entity
    attributes from the ontology type of the first mention
    (node_operations.py:295-381)."""
    facts = (edges.select(F.col("source_node_uuid").alias("uuid"),
                          "fact", "valid_at", "created_at")
             .unionByName(edges.select(
                 F.col("target_node_uuid").alias("uuid"),
                 "fact", "valid_at", "created_at")))
    per_entity = (facts
                  .groupBy("uuid")
                  .agg(F.array_join(
                      F.transform(
                          F.array_sort(F.collect_list(
                              F.struct(F.coalesce("valid_at", "created_at")
                                        .alias("t"), F.col("fact").alias("f")))),
                          lambda s: s["f"]), ". ").alias("_summary")))
    words = F.split(F.col("_summary"), " ")
    trunc = F.when(F.size(words) > SUMMARY_MAX_WORDS,
                   F.array_join(F.slice(words, 1, SUMMARY_MAX_WORDS), " ")
                   ).otherwise(F.col("_summary"))
    return (entities.join(per_entity, "uuid", "left")
            .withColumn("summary", F.coalesce(trunc, F.lit("")))
            .withColumn("attributes",
                        F.create_map(
                            F.lit("entity_type"),
                            F.coalesce(F.element_at("labels", 1),
                                       F.lit("Entity"))))
            .drop("_summary"))


def _fingerprint(**kwargs) -> str:
    return json.dumps(kwargs, sort_keys=True, default=str)


def build_graph(spark: SparkSession, transcripts: DataFrame,
                store: TableStore | None = None,
                run_ts: datetime = RUN_TS,
                with_embeddings: bool = False,
                eager: bool | None = None,
                ontology=None) -> GraphTables:
    """Run the full pipeline. With a `store`, every stage is materialized
    and resumable; without, stages persist in memory.

    ``with_embeddings=True`` additionally materializes ``name_embedding`` /
    ``fact_embedding`` columns (dim 1024, hash-based — E7) for the vector
    search layer; the core triple/versioning output never depends on them
    (dedup verifies via token-cosine, operators/dedup.py), so the default
    keeps ~1 GB/million-rows of Arrow traffic out of the hot path.
    """
    # Checkpoint fingerprints are ontology-scoped (E6): the same input
    # extracted under a different rule set must never resume from the
    # other ontology's materialized stages.
    fp = _fingerprint(v=1, run_ts=run_ts, emb=with_embeddings,
                      onto=None if ontology is None
                      else ontology.fingerprint())

    # Adaptive eagerness: one zero-column count() on the raw input (parquet
    # footer metadata — cheap even at 10^7 rows) decides whether the
    # multi-consumer stages pay their materialization barrier. Large input
    # → eager (the sf20 cold-cache race cost 200s→127s at local[8]);
    # small input → lazy persist only (the barriers alone added ~7s of
    # fixed latency to an 11s sf0.1 run).
    n_rows = None
    if eager is None:
        n_rows = transcripts.count()
        eager = n_rows >= EAGER_MIN_ROWS

    # Partition the input by conversation BEFORE any compute: a single
    # parquet file (or an AQE-coalesced shuffle) would otherwise serialize
    # the pandas-UDF extraction stages. Explicit numPartitions (2-3× cores)
    # is exempt from AQE coalescing; keying by conv_id co-partitions every
    # downstream group_id shuffle. On TINY inputs (known free when the
    # eagerness count ran) the 2-3×-cores width itself is the cost: every
    # pandas-UDF stage schedules n_part tasks and warms that many Python
    # workers for a handful of rows each, so cap width at ~40 rows per
    # partition (600-row graph build: 64 → 16 partitions, ~1.6× faster
    # warm; any input past ~2.5k rows is back at full width, and results
    # are partition-invariant — the scaling gate re-proves it per round).
    n_part = max(2 * spark.sparkContext.defaultParallelism, 8)
    if n_rows is not None and n_rows < EAGER_MIN_ROWS:
        n_part = min(n_part, max(8, n_rows // 40 + 1))
    transcripts = transcripts.repartition(n_part, "conv_id")

    def stage(name: str, build, partition_by=None, barrier: bool = True
              ) -> DataFrame:
        if store is None:
            # Storeless mode: persist AND (for multi-consumer stages, at
            # large scale) materialize eagerly. A lazy persist is not
            # enough there — the first action would pull several branches
            # (e.g. the blocking self-join's two sides) through the cold
            # cache concurrently, computing the shared subtree more than
            # once before any partition lands in cache. Leaf outputs stay
            # lazy so callers that never touch them (throughput runs
            # consuming only `edges`) don't pay for them.
            from pyspark.storagelevel import StorageLevel
            df = build().persist(StorageLevel.MEMORY_AND_DISK)
            if barrier and eager:
                df.count()
            return df
        return store.stage(name, fp, build, partition_by)

    episodes = stage("episodes",
                     lambda: ep.assemble_episodes(transcripts, run_ts))
    # Cross-episode coreference context (the reference passes
    # previous_episodes into every extraction prompt,
    # graph_data_operations.py:28): hydrated by need — a predicate-pruned
    # ranged self-join attaches the previous turns ONLY to
    # pronoun-triggered episodes, so a pronoun-free corpus pays one
    # filter scan (AQE empty-relation propagation collapses the join)
    # instead of a full-corpus window shuffle. Derived lazily from the
    # persisted episodes stage; the episodes OUTPUT table is unchanged.
    episodes_x = ep.hydrate_context(episodes)
    # ONE combined UDF pass over the episode content, flattened into the
    # mentions and raw-edge tables. (History: round 2 measured the
    # combined pass as a loss — the 'array<struct>' intermediate moved
    # more bytes through cache than the second Python scan cost. The
    # keyword-prefiltered single-scan matcher in rules.extract_all
    # flipped that: at sf5/local[32] combined extracts in 6.1 s vs 9.2 s
    # for two passes, identical outputs.) The combined stage is
    # multi-consumer (both flattens read it) so it takes the adaptive
    # materialization barrier; the flattened single-consumer stages stay
    # lazy. A custom ontology binds into the same UDF.
    combined = stage("extract_combined",
                     lambda: extract.extract_combined(episodes_x, ontology))
    mentions = stage("mentions",
                     lambda: extract.mentions_from_combined(combined),
                     barrier=False)
    edges_raw = stage("edges_raw",
                      lambda: extract.edges_from_combined(combined, run_ts),
                      barrier=False)

    _canon: dict = {}

    def canon():
        # Memoized: CC runs eagerly at construction, so this must only be
        # invoked from inside a stage build (skipped entirely on resume)
        # and at most once per pipeline run.
        if "v" not in _canon:
            from pyspark.storagelevel import StorageLevel
            # raw_entities feeds blocking, CC vertices, and the canonical
            # merge — persist so it is computed once.
            raw = (extract.raw_entities(mentions, run_ts)
                   .persist(StorageLevel.MEMORY_AND_DISK))
            _canon["v"] = dedup.canonicalize_entities(raw, run_ts)
        return _canon["v"]

    # uuid_map is its own (small, 2-column) stage — the edge remap and the
    # episodic MENTIONS build consume it directly, without detouring
    # through the wider entities table.
    uuid_map = stage("uuid_map", lambda: canon()[1])

    def build_entities():
        canonical, umap = canon()
        return canonical.join(
            umap.groupBy("canonical_uuid")
                .agg(F.array_sort(F.collect_list("uuid")).alias("member_uuids")),
            canonical.uuid == F.col("canonical_uuid"), "left"
        ).drop("canonical_uuid")

    entities = stage("entities", build_entities, barrier=False)

    def build_edges():
        remapped = dedup.resolve_edge_pointers(edges_raw, uuid_map)
        deduped = versioning.dedupe_edges(remapped)
        # E4 typed attributes flow from the extraction rules (template
        # slots like FOUNDED year, temporal adjuncts, JSON field names)
        # through dedup (first-resolved-edge's map wins) — not overwritten.
        out = versioning.apply_versioning(deduped, run_ts, eager=eager,
                                          ontology=ontology)
        if with_embeddings:
            out = out.withColumn("fact_embedding",
                                 extract.embed_udf(F.col("fact")))
        return out

    edges = stage("edges", build_edges)

    def build_episodic_edges():
        # MENTIONS edges episode→canonical entity (edges.py:79), distinct.
        return (mentions
                .join(uuid_map, mentions.entity_uuid == uuid_map.uuid, "left")
                .select(mentions.group_id, "episode_uuid",
                        F.coalesce("canonical_uuid", "entity_uuid")
                         .alias("entity_canonical"))
                .distinct()
                .select(
                    stable_id_cols(F.lit("mention"), F.col("group_id"),
                                   F.col("episode_uuid"),
                                   F.col("entity_canonical")).alias("uuid"),
                    "group_id",
                    F.col("episode_uuid").alias("source_node_uuid"),
                    F.col("entity_canonical").alias("target_node_uuid"),
                    F.lit(run_ts).cast("timestamp").alias("created_at")))

    episodic_edges = stage("episodic_edges", build_episodic_edges,
                           barrier=False)

    def build_summaries():
        out = entity_summaries(entities, edges)
        if with_embeddings:
            out = out.withColumn("name_embedding",
                                 extract.embed_udf(F.col("name_norm")))
        return out

    entities_final = stage("entities_final", build_summaries, barrier=False)

    if store is not None:
        store.flush_lineage()
    return GraphTables(episodes=episodes, entities=entities_final,
                       edges=edges, episodic_edges=episodic_edges,
                       uuid_map=uuid_map)
