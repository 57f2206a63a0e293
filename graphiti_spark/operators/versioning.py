"""M4 — edge dedup + temporal versioning (window-based T1/T2 semantics).

Re-expresses the reference's row-at-a-time invalidation
(``/root/reference/graphiti_core/utils/maintenance/edge_operations.py:
345-375`` resolve_edge_contradictions, ``:471-488`` new-edge self-expiry)
as closed-form window logic (SURVEY.md §2.5 W6, §2.7):

  * **edge dedup** (J2): duplicates only between edges with identical
    (source, target) endpoints (pair guard ``bulk_utils.py:318-321``);
    deterministically merged per (group_id, src, pred, dst) — earliest
    ``valid_at`` wins, episode lists union, canonical uuid = min
    ("first duplicate becomes the resolved edge", ``edge_operations.py:
    428-436``).
  * **T1/T2 invalidation**, deterministic contradiction definition:
      - functional predicates (one object at a time): a later fact with the
        same (subj, pred) supersedes → ``invalid_at = lead(valid_at)`` over
        a window per (group_id, src, pred) ordered by valid_at;
      - sentiment predicates: LIKES/DISLIKES contradict per (subj, obj) —
        the reference temporal test contract
        (``tests/utils/maintenance/test_temporal_operations_int.py:96-264``);
      - explicit negation rows ("no longer ...", invalid_at = ts) close the
        matching open edge, earliest negation strictly after valid_at —
        replicating the reference's sorted-by-valid_at-asc-Nones-last
        candidate order (``edge_operations.py:476``).
  * ``expired_at = run_ts`` whenever versioning set/found ``invalid_at``
    (T2: "resolved edge has invalid_at but no expired_at → expired_at=now",
    ``edge_operations.py:471-472``).

One stream, one exchange: ``dedupe_edges`` repartitions the raw edges by
(group_id, source_node_uuid) once, and the merge and every versioning
window are keyed by a superset of that, so the whole stage runs as sorts
over that single shuffle.
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from graphiti_spark import rules

FUNCTIONAL = sorted(rules.FUNCTIONAL_PREDS)
SENTIMENT = sorted(rules.SENTIMENT_PREDS)


def dedupe_edges(edges_raw: DataFrame) -> DataFrame:
    """Merge duplicate facts per (group_id, src, pred, dst, polarity).

    Positive rows (valid_at set): earliest occurrence is the resolved edge;
    episodes of merged rows are unioned (``edge_operations.py:428-436``).
    Negation rows are deduped exactly (same invalid_at ts collapses).
    """
    is_neg = F.col("valid_at").isNull() & F.col("invalid_at").isNotNull()
    attrs = (F.col("attributes") if "attributes" in edges_raw.columns
             else F.create_map().cast("map<string,string>"))
    # Negation rows with distinct timestamps stay distinct — merging them to
    # a min would lose later "no longer ..." statements; only exact repeats
    # collapse. Positive rows merge per (group, src, pred, dst); an
    # EXPLICIT invalid_at on a positive row ("... until <date>") is kept
    # aside for the merge (earliest explicit date wins) rather than used
    # as a grouping key. One select builds every helper column.
    df = edges_raw.select(
        *[c for c in edges_raw.columns if c != "invalid_at"],
        F.when(is_neg, F.col("invalid_at")).alias("invalid_at"),
        F.when(~is_neg, F.col("invalid_at")).alias("_exp_invalid"),
        is_neg.alias("_neg"), attrs.alias("_attrs"))
    # ONE explicit shuffle keyed by (group_id, source_node_uuid): hash
    # partitioning on a subset of every downstream clustering key means
    # the dedupe groupBy and all three versioning windows (w_func on
    # (group,src,name), w_sent on (group,src,dst), w_neg on
    # (group,src,name,dst)) reuse this partitioning — sorts only, no
    # further exchanges of the edge table through the whole
    # dedupe+versioning stage.
    df = df.repartition("group_id", "source_node_uuid")
    # Flat ordering struct: comparison short-circuits at the unique uuid,
    # so the payload fields (fact/subj/obj/attrs) ride along without ever
    # being compared — one cheap min() instead of a nested-struct aggregate.
    first_struct = F.struct(
        F.coalesce(F.col("valid_at"), F.col("invalid_at")).alias("t"),
        F.col("turn_idx").alias("ti"),
        F.col("uuid").alias("uuid"),
        F.col("fact").alias("fact"),
        F.col("subj").alias("subj"),
        F.col("obj").alias("obj"))
    grp = ["group_id", "source_node_uuid", "pred", "target_node_uuid",
           "_neg", "invalid_at"]
    merged = df.groupBy(*grp).agg(
        F.min(first_struct).alias("first"),
        # maps are not orderable, so attrs can't ride in the struct —
        # min_by picks the same first-row's map
        F.min_by("_attrs", first_struct).alias("_first_attrs"),
        F.min("valid_at").alias("valid_at"),
        F.min("_exp_invalid").alias("_exp_invalid"),
        F.min("created_at").alias("created_at"),
        F.array_sort(F.array_distinct(
            F.collect_list("episode_uuid"))).alias("episodes"),
    )
    return merged.select(
        F.col("first.uuid").alias("uuid"),
        "group_id", "source_node_uuid", "target_node_uuid",
        F.col("pred").alias("name"),
        F.col("first.fact").alias("fact"),
        F.col("first.subj").alias("subj"),
        F.col("first.obj").alias("obj"),
        F.col("_first_attrs").alias("attributes"),
        "episodes", "created_at", "valid_at",
        F.coalesce("invalid_at", "_exp_invalid").alias("invalid_at"),
        # Winner row's turn_idx rides through to the stored table so a
        # re-slice (maintenance.stored_edges_to_raw) re-enters the merge
        # with the EXACT (t, turn_idx, uuid) ordering key the full
        # rebuild would use — tie-breaks included.
        F.col("first.ti").alias("turn_idx"),
        "_neg",
    )


def apply_versioning(edges: DataFrame, run_ts: datetime,
                     ontology=None) -> DataFrame:
    """Fill invalid_at / expired_at per the T1/T2 rules. Input: output of
    :func:`dedupe_edges`. Output: full EDGES-shaped rows (minus embeddings).

    ``ontology`` (E6) extends the functional/sentiment predicate sets —
    a custom functional pred gets the same supersede-on-next-fact T1a
    semantics as the builtins.

    One stream, one exchange: negation rows ride through all three
    windows with the facts, over the input's (group_id,
    source_node_uuid) partitioning, and keep their own invalid_at.
    """
    functional = (FUNCTIONAL if ontology is None
                  else sorted(ontology.functional_preds))
    sentiment = (SENTIMENT if ontology is None
                 else sorted(ontology.sentiment_preds))
    by_valid = (F.col("valid_at").asc_nulls_last(), F.col("uuid"))

    # T1a — functional predicates: next fact same (src, pred) supersedes.
    # Negation rows have a NULL valid_at, so they sort after every dated
    # fact: a lead that reaches one reads NULL, as if there were no next.
    w_func = (Window.partitionBy("group_id", "source_node_uuid", "name")
              .orderBy(*by_valid))
    cand_func = F.when(F.col("name").isin(functional),
                       F.lead("valid_at").over(w_func))

    # T1b — sentiment contradiction per (src, dst): opposite pred later.
    w_sent = (Window.partitionBy("group_id", "source_node_uuid",
                                 "target_node_uuid")
              .orderBy(*by_valid))
    lead_pred = F.lead("name").over(w_sent)
    cand_sent = F.when(
        F.col("name").isin(sentiment) & lead_pred.isin(sentiment)
        & (lead_pred != F.col("name")),
        F.lead("valid_at").over(w_sent))

    # T1c — explicit negations close the matching open edge: the earliest
    # negation strictly after valid_at. Rows sort by their time (valid_at,
    # or a negation's invalid_at), negations first on a tie → the frame
    # after a fact holds exactly the negations strictly after it.
    w_neg = (Window.partitionBy("group_id", "source_node_uuid", "name",
                                "target_node_uuid")
             .orderBy(F.coalesce("valid_at", "invalid_at").asc_nulls_last(),
                      F.col("_neg").desc(), F.col("uuid"))
             .rowsBetween(1, Window.unboundedFollowing))
    cand_neg = F.min(F.when(F.col("_neg"), F.col("invalid_at"))).over(w_neg)

    invalid_at = F.when(F.col("_neg"), F.col("invalid_at")).otherwise(
        F.least("invalid_at", cand_func, cand_sent, cand_neg))
    out = edges.select(*[invalid_at.alias(c) if c == "invalid_at" else c
                         for c in edges.columns if c != "_neg"])
    # T2 — anything holding an invalid_at is expired as of processing time.
    return out.withColumn("expired_at",
                          F.when(F.col("invalid_at").isNotNull(),
                                 F.lit(run_ts).cast("timestamp")))
