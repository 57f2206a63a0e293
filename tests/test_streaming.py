"""Streaming ingest test: two parquet drops through foreachBatch must
converge to the same graph as one batch rebuild (§2.10 equivalence)."""

import os
from datetime import datetime, timezone

from graphiti_spark.plans.pipeline import build_graph
from graphiti_spark.streaming.ingest import run_stream

RUN_TS = datetime(2025, 1, 1, tzinfo=timezone.utc)

SCHEMA = ("conv_id string, turn_idx int, role string, text string,"
          " tool string, ts timestamp")


def _turns(spark, rows):
    return spark.createDataFrame(
        [(c, i, "user", t, None, datetime(2024, 1, 1, h)) for c, i, t, h
         in rows], SCHEMA)


def test_stream_matches_batch_rebuild(spark, tmp_path):
    in_dir, out_dir = str(tmp_path / "in"), str(tmp_path / "out")
    os.makedirs(in_dir)
    batch1 = _turns(spark, [
        ("c1", 0, "Alice works at Acme Corp.", 0),
        ("c1", 1, "Alice lives in Paris.", 1)])
    batch2 = _turns(spark, [
        ("c2", 0, "Bob Jones works at Globex.", 0),
        ("c1", 2, "Alice works at Acme Corp.", 2)])   # duplicate fact
    batch1.coalesce(1).write.mode("append").parquet(in_dir)

    q = run_stream(spark, in_dir, out_dir, RUN_TS)
    q.awaitTermination(120)

    batch2.coalesce(1).write.mode("append").parquet(in_dir)
    q2 = run_stream(spark, in_dir, out_dir, RUN_TS)
    q2.awaitTermination(120)

    got_edges = spark.read.parquet(os.path.join(out_dir, "edges"))
    got_entities = spark.read.parquet(os.path.join(out_dir, "entities"))

    full = build_graph(spark, batch1.unionByName(batch2), run_ts=RUN_TS)
    want_edges = {tuple(r) for r in full.edges
                  .select("uuid", "source_node_uuid", "name",
                          "target_node_uuid").collect()}
    have_edges = {tuple(r) for r in got_edges
                  .select("uuid", "source_node_uuid", "name",
                          "target_node_uuid").collect()}
    assert have_edges == want_edges
    assert (got_entities.select("uuid").distinct().count()
            == got_entities.count())
    assert (got_entities.count()
            == full.entities.count())


def test_unreadable_state_raises(spark, tmp_path):
    """Only a missing table directory means "no state yet": a state dir
    that cannot be read must fail the batch, not be treated as empty
    (which would rebuild the touched groups from the batch alone and
    overwrite their partitions)."""
    import pytest

    from graphiti_spark.streaming.ingest import StreamingGraphWriter

    out = tmp_path / "out"
    (out / "transcripts").mkdir(parents=True)
    (out / "transcripts" / "part-0.txt").write_text("not parquet")
    writer = StreamingGraphWriter(str(out), RUN_TS)
    with pytest.raises(Exception):
        writer(_turns(spark, [("c1", 0, "Alice works at Acme Corp.", 0)]), 0)


def test_numeric_looking_conv_id_keeps_earlier_turns(spark, tmp_path):
    """Two micro-batches on conv "007" equal one batch rebuild: the second
    batch must find the first one's state under the key it was written
    with (partition-type inference reads ``conv_id=007`` back as 7)."""
    from graphiti_spark.streaming.ingest import StreamingGraphWriter

    out = str(tmp_path / "out")
    batch1 = _turns(spark, [
        ("007", 0, "Alice works at Acme Corp.", 0),
        ("007", 1, "Alice lives in Paris.", 1)])
    batch2 = _turns(spark, [("007", 2, "Bob Jones works at Globex.", 2)])
    writer = StreamingGraphWriter(out, RUN_TS)
    writer(batch1, 0)
    writer(batch2, 1)

    full = build_graph(spark, batch1.unionByName(batch2), run_ts=RUN_TS)
    cols = ("uuid", "source_node_uuid", "name", "target_node_uuid")
    got = spark.read.parquet(os.path.join(out, "edges"))
    assert ({tuple(r) for r in got.select(*cols).collect()}
            == {tuple(r) for r in full.edges.select(*cols).collect()})
    got_ents = spark.read.parquet(os.path.join(out, "entities"))
    assert ({r["uuid"] for r in got_ents.collect()}
            == {r["uuid"] for r in full.entities.collect()})
    assert spark.read.parquet(os.path.join(out, "transcripts")).count() == 3


def test_micro_batches_release_cached_state(spark, tmp_path):
    """After several micro-batches no build plan stays cached and none of
    the writer's checkpoint blocks stays persisted."""
    from graphiti_spark.streaming.ingest import StreamingGraphWriter

    spark.catalog.clearCache()
    jsc = spark.sparkContext._jsc
    first_new_rdd = jsc.sc().newRddId()
    writer = StreamingGraphWriter(str(tmp_path / "out"), RUN_TS)
    for i in range(3):
        writer(_turns(spark, [("c1", i, f"Alice works at Acme{i} Corp.", i),
                              (f"c{i + 2}", 0, "Bob lives in Paris.", i)]), i)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    leaked = [int(k) for k in jsc.getPersistentRDDs().keySet()
              if int(k) > first_new_rdd]
    assert leaked == []
    got = spark.read.parquet(str(tmp_path / "out" / "edges"))
    assert got.where("group_id = 'c1'").count() == 3


def test_resupplied_turn_takes_new_text(spark, tmp_path):
    """A micro-batch that re-supplies a stored ``(conv_id, turn_idx)``
    replaces that turn, as ``add_episode_bulk`` does: the stored
    transcript holds the new text and the edges are the new text's."""
    from graphiti_spark.streaming.ingest import StreamingGraphWriter

    out = str(tmp_path / "out")
    writer = StreamingGraphWriter(out, RUN_TS)
    writer(_turns(spark, [("c1", 0, "Alice Smith works at Acme Corp.", 0),
                          ("c1", 1, "Bob Jones lives in Paris.", 1)]), 0)
    batch2 = _turns(spark, [("c1", 0, "Alice Smith works at Globex.", 2)])
    writer(batch2, 1)

    tr = spark.read.parquet(os.path.join(out, "transcripts"))
    assert sorted((r["turn_idx"], r["text"]) for r in tr.collect()) == [
        (0, "Alice Smith works at Globex."), (1, "Bob Jones lives in Paris.")]
    full = build_graph(spark, _turns(spark, [
        ("c1", 0, "Alice Smith works at Globex.", 2),
        ("c1", 1, "Bob Jones lives in Paris.", 1)]), run_ts=RUN_TS)
    cols = ("uuid", "subj", "name", "obj")
    got = spark.read.parquet(os.path.join(out, "edges"))
    assert ({tuple(r) for r in got.select(*cols).collect()}
            == {tuple(r) for r in full.edges.select(*cols).collect()})
    assert ("Alice Smith", "WORKS_AT", "Globex") in {
        (r["subj"], r["name"], r["obj"]) for r in got.collect()}


def test_null_turn_key_raises_without_writing(spark, tmp_path):
    """A NULL ``conv_id`` or ``turn_idx`` raises ``ValueError``, as in
    ``add_episode_bulk``, and leaves the stored tables as they were."""
    import pytest

    from graphiti_spark.streaming.ingest import StreamingGraphWriter

    out = str(tmp_path / "out")
    writer = StreamingGraphWriter(out, RUN_TS)
    writer(_turns(spark, [("c1", 0, "Alice Smith works at Acme Corp.", 0)]),
           0)

    def stored():
        def read(name, *cols):
            df = spark.read.parquet(os.path.join(out, name))
            return sorted(map(tuple, df.select(*cols).collect()))
        return (read("transcripts", "conv_id", "turn_idx", "text"),
                read("edges", "uuid"), read("entities", "uuid"))

    before = stored()
    for bad in ([(None, 0, "Bob Jones works at Globex.", 1)],
                [("c2", None, "Carol Moss lives in Oslo.", 1)]):
        with pytest.raises(ValueError):
            writer(_turns(spark, bad), 1)
    assert stored() == before


def test_repeated_turn_key_raises_without_writing(spark, tmp_path):
    """A micro-batch that holds one (conv_id, turn_idx) twice raises
    ``ValueError``, on an empty store and on a stored one, and writes
    nothing."""
    import pytest

    from graphiti_spark.streaming.ingest import StreamingGraphWriter

    out = str(tmp_path / "out")
    writer = StreamingGraphWriter(out, RUN_TS)
    dup = _turns(spark, [("c1", 0, "Alice Smith works at Acme Corp.", 0),
                         ("c1", 0, "Alice Smith works at Globex.", 1)])
    with pytest.raises(ValueError, match="c1"):
        writer(dup, 0)
    assert not os.path.exists(out)

    writer(_turns(spark, [("c1", 0, "Bob Jones lives in Oslo.", 0)]), 0)
    transcripts = os.path.join(out, "transcripts")

    def stored():
        return sorted(map(tuple, spark.read.parquet(transcripts)
                          .select("conv_id", "turn_idx", "text")
                          .collect()))

    before = stored()
    with pytest.raises(ValueError, match="c1"):
        writer(dup, 1)
    assert stored() == before


def test_stream_store_loads_as_full_handle(spark, tmp_path):
    """A store written by the streaming writer holds all five tables: the
    loaded handle equals an ``add_episode_bulk`` over the same turns,
    serves its episodes, and removes one like the in-memory handle."""
    from graphiti_spark.api import GraphitiSpark
    from graphiti_spark.streaming.ingest import StreamingGraphWriter

    out = str(tmp_path / "out")
    batch1 = _turns(spark, [
        ("c1", 0, "Alice Smith works at Acme Corp.", 0),
        ("c1", 1, "Alice Smith lives in Paris.", 1),
        ("c2", 0, "Bob Jones works at Globex.", 0)])
    batch2 = _turns(spark, [("c1", 2, "Carol Moss works at Acme Corp.", 2)])
    writer = StreamingGraphWriter(out, RUN_TS)
    writer(batch1, 0)
    writer(batch2, 1)

    loaded = GraphitiSpark.load(spark, out, RUN_TS, with_embeddings=False)
    fresh = GraphitiSpark(spark, RUN_TS, with_embeddings=False)
    fresh.add_episode_bulk(batch1.unionByName(batch2))

    def rows(df):
        return sorted(repr(tuple(r)) for r in
                      df.select(*sorted(df.columns)).collect())

    for name in ("transcripts", "episodes", "entities", "edges",
                 "episodic_edges"):
        have, want = getattr(loaded, name), getattr(fresh, name)
        assert sorted(have.columns) == sorted(want.columns), name
        assert rows(have) == rows(want), name

    stored = {r["uuid"] for r in
              spark.read.parquet(os.path.join(out, "episodes")).collect()}
    assert len(stored) == 4
    got = loaded.retrieve_episodes(datetime(2030, 1, 1))
    assert {r["uuid"] for r in got.collect()} == stored

    gone = [r["uuid"] for r in loaded.episodes
            .where("group_id = 'c1' AND turn_idx = 0").collect()]
    assert len(gone) == 1
    for h in (loaded, fresh):
        h.remove_episode(gone)
    assert rows(loaded.transcripts) == rows(fresh.transcripts)
    assert rows(loaded.edges) == rows(fresh.edges)
    assert ({r["uuid"] for r in loaded.entities.collect()}
            == {r["uuid"] for r in fresh.entities.collect()})


def test_stream_write_drops_stale_communities(spark, tmp_path):
    """A micro-batch drops the store's communities, as a write on the
    handle does: they describe the graph before the batch, so a store
    saved with communities loads without them after one batch."""
    from graphiti_spark.api import GraphitiSpark
    from graphiti_spark.streaming.ingest import StreamingGraphWriter

    out = str(tmp_path / "out")
    g = GraphitiSpark(spark, RUN_TS, with_embeddings=False)
    g.add_episode_bulk(_turns(spark, [
        ("c1", 0, "Alice Smith works at Acme Corp.", 0),
        ("c1", 1, "Bob Jones works at Acme Corp.", 1)]))
    g.build_communities()
    g.save(out)

    def load():
        return GraphitiSpark.load(spark, out, RUN_TS, with_embeddings=False)

    assert load().communities is not None
    writer = StreamingGraphWriter(out, RUN_TS)
    writer(_turns(spark, [("c2", 0, "Carol Moss works at Globex.", 0)]), 0)
    loaded = load()
    assert loaded.communities is None and loaded.community_edges is None
    assert {r["group_id"] for r in loaded.edges.collect()} == {"c1", "c2"}
