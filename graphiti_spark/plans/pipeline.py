"""End-to-end KG-construction pipeline (the Spark analogue of
``Graphiti.add_episode_bulk``, ``/root/reference/graphiti_core/graphiti.py:
554-831`` — SURVEY.md §3.2).

The transcripts are clustered once by ``conv_id`` and sorted by
``turn_idx``; every stage before versioning is then local to one
conversation. Stages (each a resumable checkpoint with a store):

  1. episodes         — one episode per turn, a projection              [M1]
  2. extract_combined — THE group kernel, one ``mapInPandas``: previous-
                        turn context, rule extraction and the in-group
                        union-find, with canonical endpoints   [M2/E1/E3/M3/J8]
  3. mentions / edges_raw / uuid_map — projections of the kernel output
  4. entities         — canonical merge of the raw entities         [M3/A1]
  5. edges            — edge dedup + window-based temporal versioning
                                                               [M4/J2/T1-T2]
  6. episodic_edges / summaries                                  [S4/E4]

Without a store only the kernel output is persisted: every table is a
projection or aggregate of it, so nothing upstream of it recomputes.

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
from pyspark.storagelevel import StorageLevel

from graphiti_spark.operators import dedup, episodes as ep, extract, versioning
from graphiti_spark.operators.episodes import stable_id_cols
from graphiti_spark.sources.tables import TableStore

RUN_TS = datetime(2025, 1, 1, tzinfo=timezone.utc)  # fixed for determinism
SUMMARY_MAX_WORDS = 250   # node_operations.py:295-381 (≤250-word summary)


@dataclass
class GraphTables:
    episodes: DataFrame
    entities: DataFrame
    edges: DataFrame
    episodic_edges: DataFrame
    uuid_map: DataFrame
    kernel: DataFrame | None = None   # the persisted kernel output

    def release(self) -> None:
        """Unpersist the kernel output. Call once every table that will
        be read again is materialized: lazy tables recompute from it."""
        if self.kernel is not None:
            self.kernel.unpersist()


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
                ontology=None) -> GraphTables:
    """Run the full pipeline. With a `store`, every stage is materialized
    and resumable; without, only the extraction kernel's output persists
    in memory.

    ``with_embeddings=True`` additionally materializes ``name_embedding`` /
    ``fact_embedding`` columns (dim 1024, hash-based — E7) for the vector
    search layer; the core triple/versioning output never depends on them
    (dedup verifies via token-cosine, operators/dedup.py), so the default
    keeps ~1 GB/million-rows of Arrow traffic out of the hot path.
    """
    # Checkpoint fingerprints are ontology-scoped (E6): the same input
    # extracted under a different rule set must never resume from the
    # other ontology's materialized stages.
    fp = _fingerprint(v=3, run_ts=run_ts, emb=with_embeddings,
                      onto=None if ontology is None
                      else ontology.fingerprint())

    # Cluster the input by conversation BEFORE any compute, at the width
    # the kernel's own clustering asks for: the kernel's repartition and
    # sort then match this one and Spark plans them away, so the build
    # shuffles its transcripts exactly once. An explicit numPartitions is
    # exempt from AQE coalescing, which would otherwise serialize the
    # kernel on a single-file input.
    transcripts = (transcripts
                   .repartition(dedup.group_partitions(spark), "conv_id")
                   .sortWithinPartitions("conv_id", "turn_idx"))

    def stage(name: str, build, partition_by=None,
              persist: bool = False) -> DataFrame:
        if store is None:
            df = build()
            return df.persist(StorageLevel.MEMORY_AND_DISK) if persist \
                else df
        return store.stage(name, fp, build, partition_by)

    episodes = stage("episodes",
                     lambda: ep.assemble_episodes(transcripts, run_ts))
    # The kernel: context, extraction and union-find per conversation in
    # one task. Every later table derives from it, so it is the one
    # persisted stage of a storeless build. A custom ontology binds into
    # the same kernel.
    combined = stage("extract_combined",
                     lambda: extract.extract_combined(episodes, ontology),
                     persist=True)
    mentions = stage("mentions",
                     lambda: extract.mentions_from_combined(combined))
    edges_raw = stage("edges_raw",
                      lambda: extract.edges_from_combined(combined, run_ts))
    uuid_map = stage("uuid_map",
                     lambda: extract.raw_entities(mentions, run_ts)
                     .select("uuid", "canonical_uuid"))
    entities = stage("entities", lambda: dedup.canonicalize_entities(
        extract.raw_entities(mentions, run_ts), run_ts)[0])

    def build_edges():
        # E4 typed attributes flow from the extraction rules (template
        # slots like FOUNDED year, temporal adjuncts, JSON field names)
        # through dedup (first-resolved-edge's map wins) — not overwritten.
        out = versioning.apply_versioning(versioning.dedupe_edges(edges_raw),
                                          run_ts, ontology=ontology)
        if with_embeddings:
            out = out.withColumn("fact_embedding",
                                 extract.embed_udf(F.col("fact")))
        return out

    edges = stage("edges", build_edges)

    def build_episodic_edges():
        # MENTIONS edges episode→canonical entity (edges.py:79), distinct.
        return (mentions
                .select("group_id", "episode_uuid",
                        F.col("canonical_uuid").alias("entity_canonical"))
                .distinct()
                .select(
                    stable_id_cols(F.lit("mention"), F.col("group_id"),
                                   F.col("episode_uuid"),
                                   F.col("entity_canonical")).alias("uuid"),
                    "group_id",
                    F.col("episode_uuid").alias("source_node_uuid"),
                    F.col("entity_canonical").alias("target_node_uuid"),
                    F.lit(run_ts).cast("timestamp").alias("created_at")))

    episodic_edges = stage("episodic_edges", build_episodic_edges)

    def build_summaries():
        out = entity_summaries(entities, edges)
        if with_embeddings:
            out = out.withColumn("name_embedding",
                                 extract.embed_udf(F.col("name_norm")))
        return out

    entities_final = stage("entities_final", build_summaries)

    if store is not None:
        store.flush_lineage()
    return GraphTables(episodes=episodes, entities=entities_final,
                       edges=edges, episodic_edges=episodic_edges,
                       uuid_map=uuid_map, kernel=combined)
