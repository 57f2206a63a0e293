"""GraphitiSpark facade (graphiti_spark/api.py): the reference's verbs
drive the tested operators end-to-end through one handle."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from graphiti_spark.api import GraphitiSpark

TS = dt.datetime(2024, 6, 1, tzinfo=dt.timezone.utc)


def _tr(spark, rows):
    return spark.createDataFrame(
        [(c, i, "user", t, None, TS.replace(tzinfo=None) +
          dt.timedelta(minutes=i)) for c, i, t in rows],
        "conv_id string, turn_idx int, role string, text string,"
        " tool string, ts timestamp")


ROWS = [
    ("conv1", 0, "Alice Smith works at Acme Corp."),
    ("conv1", 1, "Alice Smith lives in Paris."),
    ("conv2", 0, "Bob Jones works at Hooli Inc."),
]


def test_facade_end_to_end(spark):
    g = GraphitiSpark(spark, run_ts=TS).add_episode_bulk(_tr(spark, ROWS))
    assert g.edges.count() >= 3
    base_conv2 = sorted(r["uuid"] for r in
                        g.edges.where("group_id = 'conv2'").collect())

    # single-episode write: touched-group incremental, conv2 untouched
    g.add_episode("conv1", "Alice Smith moved to Berlin.")
    assert g.transcripts.where("conv_id = 'conv1'").count() == 3
    assert sorted(r["uuid"] for r in
                  g.edges.where("group_id = 'conv2'").collect()) \
        == base_conv2
    facts = [r["fact"] for r in
             g.edges.where("group_id = 'conv1'").collect()]
    assert any("Berlin" in f for f in facts)

    # incremental ≡ one-shot bulk over the same turns
    full = GraphitiSpark(spark, run_ts=TS).add_episode_bulk(
        g.transcripts)
    assert sorted(map(tuple, g.edges.select(
        "uuid", "group_id", "fact", "valid_at", "invalid_at")
        .collect())) == \
        sorted(map(tuple, full.edges.select(
            "uuid", "group_id", "fact", "valid_at", "invalid_at")
            .collect()))

    # edge-RRF search shortcut finds the Hooli fact
    hits = g.search("works Hooli", num_results=5).collect()
    assert any("Hooli" in r["fact"] for r in hits)

    # composite search by preset name returns a bundle
    res = g.search_("Alice Paris", "COMBINED_HYBRID_SEARCH_RRF")
    assert res.edges is not None and res.edges.count() >= 1

    # communities: every conversation's star collapses to one community
    comms = g.build_communities()
    assert comms.where("group_id = 'conv2'").count() == 1

    # add_triplet resolves against existing edges: an exact repeat of a
    # stored fact merges instead of duplicating
    n_before = g.edges.where("group_id = 'conv2'").count()
    g.add_triplet("conv2", "Bob Jones", "WORKS_AT", "Hooli Inc",
                  "Bob Jones works at Hooli Inc.")
    assert g.edges.where("group_id = 'conv2'").count() == n_before
    # ... and a genuinely new triplet lands, with its entities upserted
    g.add_triplet("conv2", "Bob Jones", "FOUNDED", "Initech",
                  "Bob Jones founded Initech.")
    assert g.edges.where(
        "group_id = 'conv2' AND name = 'FOUNDED'").count() == 1
    assert g.entities.where(
        "group_id = 'conv2' AND name = 'Initech'").count() == 1

    # retrieve_episodes: last-n read path
    eps = g.retrieve_episodes(TS + dt.timedelta(days=1), last_n=2,
                              group_ids=["conv1"]).collect()
    assert 1 <= len(eps) <= 2

    # get_nodes_and_edges_by_episode round-trip on a real episode uuid
    ep_uuid = g.episodes.where("group_id = 'conv1'") \
        .select("uuid").head()[0]
    nodes, edges = g.get_nodes_and_edges_by_episode([ep_uuid])
    assert nodes.count() >= 1

    # remove_episode: conv2's only extraction episode goes away; the
    # manually-added FOUNDED edge (no episode provenance) survives
    ep2 = [r["uuid"] for r in
           g.episodes.where("group_id = 'conv2'").collect()]
    g.remove_episode(ep2)
    assert g.episodes.where("group_id = 'conv2'").count() == 0
    assert g.edges.where(
        "group_id = 'conv2' AND name = 'FOUNDED'").count() == 1
    assert g.edges.where(
        "group_id = 'conv2' AND name = 'WORKS_AT'").count() == 0


def test_facade_save_load_roundtrip(spark, tmp_path):
    """save() then load() resumes the SAME graph: tables equal, and an
    incremental add_episode on the re-opened handle matches one applied
    to the original (restart-safety lives in the files)."""
    g = GraphitiSpark(spark, run_ts=TS).add_episode_bulk(_tr(spark, ROWS))
    g.save(str(tmp_path / "graph"))
    h = GraphitiSpark.load(spark, str(tmp_path / "graph"), run_ts=TS)

    def edge_set(x):
        return sorted(map(tuple, x.edges.select(
            "uuid", "group_id", "fact", "valid_at", "invalid_at")
            .collect()))

    assert edge_set(g) == edge_set(h)
    g.add_episode("conv2", "Bob Jones lives in Oslo.")
    h.add_episode("conv2", "Bob Jones lives in Oslo.")
    assert edge_set(g) == edge_set(h)
    assert any("Oslo" in f for (_, _, f, _, _) in edge_set(h))


def test_add_triplet_hardening(spark):
    """code-review r5 continuation: two manual triplets in one group must
    both survive (explode_outer in the raw re-slice), the touched
    group's fact_embedding must be re-derived, the upserted entities
    carry name_embedding, and validation applies on a populated graph."""
    import pytest as _pytest

    g = GraphitiSpark(spark, run_ts=TS).add_episode_bulk(_tr(spark, ROWS))
    assert "fact_embedding" in g.edges.columns
    g.add_triplet("conv2", "Bob Jones", "FOUNDED", "Initech",
                  "Bob Jones founded Initech.")
    g.add_triplet("conv2", "Carol Moss", "OWNS", "Globex",
                  "Carol Moss owns Globex.")
    names = {r["name"] for r in
             g.edges.where("group_id = 'conv2'").collect()}
    assert {"FOUNDED", "OWNS"} <= names          # first manual edge kept
    assert g.edges.where(
        "group_id = 'conv2' AND fact_embedding IS NULL").count() == 0
    assert g.entities.where(
        "name = 'Globex' AND name_embedding IS NULL").count() == 0
    with _pytest.raises(ValueError):
        g.add_triplet("conv2", "Bob Jones", "LIKES", "bob jones", "x")


def test_resupplied_turn_takes_new_text(spark):
    g = GraphitiSpark(spark, run_ts=TS).add_episode_bulk(_tr(spark, ROWS))
    g.add_episode_bulk(_tr(spark, [
        ("conv1", 1, "Alice Smith lives in Madrid.")]))
    texts = [r["text"] for r in g.transcripts
             .where("conv_id = 'conv1' AND turn_idx = 1").collect()]
    assert texts == ["Alice Smith lives in Madrid."]
    facts = [r["fact"] for r in
             g.edges.where("group_id = 'conv1'").collect()]
    assert any("Madrid" in f for f in facts)
    assert not any("Paris" in f for f in facts)


def test_null_turn_key_raises_and_leaves_handle_unchanged(spark):
    import pytest as _pytest

    g = GraphitiSpark(spark, run_ts=TS).add_episode_bulk(_tr(spark, ROWS))
    n_tr, n_edges = g.transcripts.count(), g.edges.count()
    bad = _tr(spark, [(None, 0, "Carol Wu works at Globex.")])
    with _pytest.raises(ValueError):
        g.add_episode_bulk(bad)
    with _pytest.raises(ValueError):
        g.add_episode_bulk(bad.withColumn("conv_id", F.lit("conv3"))
                           .withColumn("turn_idx", F.lit(None).cast("int")))
    with _pytest.raises(ValueError):
        g.add_episode(None, "Carol Wu works at Globex.")
    assert g.transcripts.count() == n_tr
    assert g.edges.count() == n_edges


def test_repeated_turn_key_raises_and_leaves_handle_unchanged(spark):
    """A (conv_id, turn_idx) the batch holds twice raises on every write,
    the first one included, and the handle keeps its tables."""
    import pytest as _pytest

    dup = _tr(spark, [("conv1", 0, "Carol Wu works at Acme Corp."),
                      ("conv1", 0, "Carol Wu works at Globex.")])
    empty = GraphitiSpark(spark, run_ts=TS)
    with _pytest.raises(ValueError, match="conv1"):
        empty.add_episode_bulk(dup)
    assert empty.transcripts is None and empty.edges is None

    g = GraphitiSpark(spark, run_ts=TS).add_episode_bulk(_tr(spark, ROWS))
    before = sorted(map(tuple, g.transcripts.collect()))
    with _pytest.raises(ValueError, match="conv1"):
        g.add_episode_bulk(dup)
    assert sorted(map(tuple, g.transcripts.collect())) == before


def test_save_in_place_after_load(spark, tmp_path):
    import pytest as _pytest

    root = str(tmp_path / "graph")
    GraphitiSpark(spark, run_ts=TS).add_episode_bulk(
        _tr(spark, ROWS)).save(root)
    h = GraphitiSpark.load(spark, root, run_ts=TS)
    h.add_episode("conv1", "Alice Smith moved to Berlin.")
    h.save(root)                      # overwrite the dirs we read from
    again = GraphitiSpark.load(spark, root, run_ts=TS)
    assert any("Berlin" in r["fact"] for r in again.edges.collect())
    with _pytest.raises(FileNotFoundError):
        GraphitiSpark.load(spark, str(tmp_path / "nope"), run_ts=TS)


def test_numeric_looking_conv_id_survives_reload(spark, tmp_path):
    """conv_id "007" reloads as "007", not the int-inferred "7": a turn
    re-sent after load() replaces the saved one instead of being added
    next to it under a second key."""
    root = str(tmp_path / "graph")
    GraphitiSpark(spark, run_ts=TS).add_episode_bulk(_tr(spark, [
        ("007", 0, "Alice Smith works at Acme Corp."),
        ("007", 1, "Alice Smith lives in Paris.")])).save(root)
    h = GraphitiSpark.load(spark, root, run_ts=TS)
    h.add_episode_bulk(_tr(spark, [
        ("007", 1, "Alice Smith lives in Madrid.")]))
    keys = sorted(tuple(r) for r in
                  h.transcripts.select("conv_id", "turn_idx").collect())
    assert keys == [("007", 0), ("007", 1)]
    per_turn = sorted(tuple(r) for r in h.episodes
                      .groupBy("group_id", "turn_idx").count().collect())
    assert per_turn == [("007", 0, 1), ("007", 1, 1)]
    assert {r["group_id"] for r in h.edges.collect()} == {"007"}


def _edge_set(g):
    return sorted(map(tuple, g.edges.select(
        "uuid", "group_id", "fact", "valid_at", "invalid_at").collect()))


def _entity_uuids(g):
    return sorted(r["uuid"] for r in g.entities.select("uuid").collect())


def test_add_triplet_survives_add_episode(spark):
    g = GraphitiSpark(spark, run_ts=TS).add_episode_bulk(_tr(spark, ROWS))
    g.add_triplet("conv1", "Alice Smith", "FOUNDED", "Initech",
                  "Alice Smith founded Initech.")
    g.add_episode("conv1", "Alice Smith moved to Berlin.")
    assert g.edges.where(
        "group_id = 'conv1' AND name = 'FOUNDED'").count() == 1
    assert g.entities.where(
        "group_id = 'conv1' AND name = 'Initech'").count() == 1
    assert any("Berlin" in r["fact"] for r in
               g.edges.where("group_id = 'conv1'").collect())


def test_add_triplet_on_empty_handle_survives_bulk(spark):
    g = GraphitiSpark(spark, run_ts=TS)
    g.add_triplet("conv2", "Bob Jones", "FOUNDED", "Initech",
                  "Bob Jones founded Initech.")
    assert g.edges.first()["episodes"] == []
    g.add_episode_bulk(_tr(spark, ROWS))
    assert g.edges.where(
        "group_id = 'conv2' AND name = 'FOUNDED'").count() == 1
    assert g.entities.where("name = 'Initech'").count() == 1
    assert g.edges.where(
        "group_id = 'conv2' AND name = 'WORKS_AT'").count() == 1


def test_removed_episode_stays_removed(spark):
    g = GraphitiSpark(spark, run_ts=TS).add_episode_bulk(_tr(spark, ROWS))
    gone = g.episodes.where("group_id = 'conv1' AND turn_idx = 0") \
        .select("uuid").head()[0]
    g.remove_episode([gone])
    g.add_episode("conv1", "Alice Smith moved to Berlin.")
    assert g.episodes.where(F.col("uuid") == gone).count() == 0
    assert g.transcripts.where(
        "conv_id = 'conv1' AND text LIKE '%Acme%'").count() == 0
    facts = [r["fact"] for r in
             g.edges.where("group_id = 'conv1'").collect()]
    assert not any("Acme" in f for f in facts)
    assert any("Berlin" in f for f in facts)


def _plan_nodes(df) -> int:
    """Node count of a DataFrame's analyzed logical plan, counted as
    perfbench/tracing.plan_nodes counts it."""
    stack, n = [df._jdf.queryExecution().analyzed()], 0
    while stack:
        node = stack.pop()
        n += 1
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return n


def test_writes_drop_communities_and_keep_plans_flat(spark):
    g = GraphitiSpark(spark, run_ts=TS).add_episode_bulk(_tr(spark, ROWS))
    nodes = []
    for k, place in enumerate(("Berlin", "Rome", "Oslo", "Lima")):
        if k == 0:
            g.build_communities()
        g.add_episode("conv1", f"Alice Smith moved to {place}.")
        assert g.communities is None and g.community_edges is None
        nodes.append(_plan_nodes(g.edges))
    assert nodes[3] == nodes[1]
    g.build_communities()
    g.add_triplet("conv2", "Bob Jones", "FOUNDED", "Initech",
                  "Bob Jones founded Initech.")
    assert g.communities is None
    g.build_communities()
    g.remove_episode([g.episodes.select("uuid").head()[0]])
    assert g.communities is None


def test_build_communities_materializes_community_edges(spark):
    """community_edges is cut like communities (one checkpoint scan), so
    a later read such as save() does not run label propagation again."""
    g = GraphitiSpark(spark, run_ts=TS).add_episode_bulk(_tr(spark, ROWS))
    g.build_communities()
    assert _plan_nodes(g.community_edges) == _plan_nodes(g.communities)


def test_write_sequence_equals_fresh_build(spark, tmp_path):
    """add_episode_bulk → add_triplet → add_episode → remove_episode →
    save/load equals a fresh build over the surviving turns with the
    surviving manual triplets added; communities saved before the writes
    do not come back."""
    root = str(tmp_path / "graph")
    g = GraphitiSpark(spark, run_ts=TS).add_episode_bulk(_tr(spark, ROWS))
    g.build_communities()
    g.save(root)
    g.add_triplet("conv1", "Alice Smith", "FOUNDED", "Initech",
                  "Alice Smith founded Initech.")
    g.add_triplet("conv2", "Bob Jones", "WORKS_AT", "Globex",
                  "Bob Jones works at Globex.")
    g.add_episode("conv1", "Alice Smith works at Hooli.")
    g.remove_episode([g.episodes.where("group_id = 'conv2'")
                      .select("uuid").head()[0]])
    g.save(root)
    h = GraphitiSpark.load(spark, root, run_ts=TS)
    assert h.communities is None and h.community_edges is None

    fresh = GraphitiSpark(spark, run_ts=TS).add_episode_bulk(h.transcripts)
    fresh.add_triplet("conv1", "Alice Smith", "FOUNDED", "Initech",
                      "Alice Smith founded Initech.")
    fresh.add_triplet("conv2", "Bob Jones", "WORKS_AT", "Globex",
                      "Bob Jones works at Globex.")
    assert h.transcripts.where("conv_id = 'conv2'").count() == 0
    assert _edge_set(h) == _edge_set(fresh)
    assert _entity_uuids(h) == _entity_uuids(fresh)


def test_aware_times_are_converted_to_utc(spark):
    plus2 = dt.timezone(dt.timedelta(hours=2))
    g = GraphitiSpark(spark, run_ts=TS)
    g.add_triplet("conv9", "Eve Adams", "FOUNDED", "Umbrella",
                  "Eve Adams founded Umbrella.",
                  valid_at=dt.datetime(2024, 3, 1, 12, tzinfo=plus2))
    g.add_episode("conv9", "Eve Adams lives in Oslo.",
                  reference_time=dt.datetime(2024, 5, 1, 12, tzinfo=plus2))
    assert g.transcripts.head()["ts"] == dt.datetime(2024, 5, 1, 10)
    assert g.edges.where("name = 'FOUNDED'").head()["valid_at"] == \
        dt.datetime(2024, 3, 1, 10)


def test_writes_release_the_build_cache(spark):
    """Each write unpersists its build's kernel output once the handle's
    tables are checkpointed: after several writes the cache manager holds
    no plan, and the tables still read."""
    spark.catalog.clearCache()
    g = GraphitiSpark(spark, run_ts=TS).add_episode_bulk(_tr(spark, ROWS))
    for i in range(3):
        g.add_episode("conv1", f"Carol Ng works at Initech{i} Corp.")
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert g.transcripts.count() == len(ROWS) + 3
    assert g.edges.where("fact LIKE '%Initech2%'").count() == 1
