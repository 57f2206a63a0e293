"""Incremental-maintenance helpers (SURVEY §2.3 J3, §2.10).

The reference's ``add_episode`` resolves each newly extracted node against
the already-materialized graph through candidate joins —
``get_relevant_nodes`` (``search_utils.py:85-103``; dedup resolution
``node_operations.py:258-381``). :func:`relevant_nodes` is that candidate
join over tables (the ``kg_relevant_nodes`` driver query).

:func:`stored_edges_to_raw` re-slices stored edges back to raw rows so a
group's edges can re-enter ``dedupe_edges`` + ``apply_versioning``
together with new rows — the re-merge behind ``add_triplet`` and the
touched-group replace (``operators/maintenance.py``). Exactness of the
re-slice: a stored positive edge re-enters the merge with its resolved
``invalid_at`` treated as explicit. That is still exact, because every
fresh T1 candidate (lead over the superset slice, negation min) is
``<=`` the previously resolved value — the successor that produced the
old value is still in the slice — and ``least()`` therefore lands on the
full-rebuild answer. Ordering ties are exact too: the stored row carries
the winning raw row's ``(t, turn_idx, uuid)`` ordering key
(``versioning.dedupe_edges`` keeps ``turn_idx``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from graphiti_spark.operators.dedup import MAX_BLOCK, _tok, duplicate_decision


# -- J3: candidate existing nodes per new node -------------------------------

def relevant_nodes(batch_entities: DataFrame, entities: DataFrame,
                   max_block: int = MAX_BLOCK) -> DataFrame:
    """``get_relevant_nodes`` (search_utils.py:85-103 as used by dedup
    resolution): verified candidate existing entities for each batch
    entity, same group only.

    Shape: group-scoped token-block equi-join. The batch side is
    micro-batch-sized → broadcast; the existing side's token index is
    df-capped per ``(group, token)`` so no stop-token block goes
    quadratic. Returns (group_id, uuid, name_norm, existing_uuid,
    existing_name)."""
    b = (batch_entities
         .select("group_id", "uuid", "name_norm")
         .withColumn("block_key", F.explode(_tok(F.col("name_norm")))))
    e = (entities
         .select("group_id",
                 F.col("uuid").alias("existing_uuid"),
                 F.col("name_norm").alias("existing_name"))
         .withColumn("block_key", F.explode(_tok(F.col("existing_name")))))
    w = Window.partitionBy("group_id", "block_key").orderBy("existing_uuid")
    e = (e.withColumn("_rn", F.row_number().over(w))
          .where(F.col("_rn") <= max_block).drop("_rn"))
    cand = (e.join(F.broadcast(b), ["group_id", "block_key"])
             .drop("block_key")
             .dropDuplicates(["group_id", "uuid", "existing_uuid"]))
    return cand.where(duplicate_decision(F.col("name_norm"),
                                         F.col("existing_name")))


def stored_edges_to_raw(edges: DataFrame) -> DataFrame:
    """Inverse of the ``dedupe_edges`` merge, for re-slicing: explode the
    ``episodes`` array back to per-episode rows carrying the winner's
    ``(t, turn_idx, uuid)`` ordering key and payload. Resolved
    ``invalid_at`` re-enters as explicit — exact per the module
    docstring's least() argument."""
    return edges.select(
        "group_id", "source_node_uuid", "target_node_uuid",
        F.col("name").alias("pred"),
        "subj", "obj", "fact", "uuid", "attributes",
        "valid_at", "invalid_at", "created_at", "turn_idx",
        # explode_OUTER: a manual triplet (api.add_triplet) has an EMPTY
        # episodes array — plain explode would silently drop it from the
        # re-slice and the re-merge would delete the edge; the outer row
        # carries a NULL episode_uuid, which collect_list skips on the
        # way back, preserving the empty provenance exactly
        F.explode_outer("episodes").alias("episode_uuid"))
