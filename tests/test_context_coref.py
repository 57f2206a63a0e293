"""Cross-episode coreference through the DISTRIBUTED path: the build's
group kernel (``extract.extract_combined``) reads each episode's previous
turns from the conversation's turn-sorted rows (the reference's
previous_episodes window, graph_data_operations.py:28,84-135) before it
extracts, and the full build_graph pipeline runs the same kernel."""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import functions as F

from graphiti_spark import rules
from graphiti_spark.operators.episodes import assemble_episodes
from graphiti_spark.operators.extract import extract_edges
from graphiti_spark.plans.pipeline import build_graph

TS0 = datetime(2024, 1, 1, tzinfo=timezone.utc)

SCHEMA = ("conv_id string, turn_idx int, role string, text string, "
          "tool string, ts timestamp")


def _triples(df):
    return sorted((r.group_id, r.turn_idx, r.subj, r.pred, r.obj)
                  for r in df.select("group_id", "turn_idx", "subj",
                                     "pred", "obj").collect())


def test_hydrate_context_resolves_cross_episode(spark):
    rows = [
        ("c1", 0, "user", "Carol Moss lives in Oslo.", None, TS0),
        ("c1", 1, "user", "She works at Globex.", None, TS0),
        ("c1", 2, "user", "Acme Corp employs her.", None, TS0),
        ("c2", 0, "user", "Alice Chen works at Initech.", None, TS0),
        ("c2", 1, "bob", "Dana Kim does too.", None, TS0),
        # conversation isolation: c3's pronoun must NOT see c1/c2 names
        ("c3", 0, "user", "He works at Hooli.", None, TS0),
    ]
    tr = spark.createDataFrame(rows, SCHEMA)
    eps = assemble_episodes(tr, TS0)
    got = _triples(extract_edges(eps, TS0))
    assert got == sorted([
        ("c1", 0, "Carol Moss", "LIVES_IN", "Oslo"),
        ("c1", 1, "Carol Moss", "WORKS_AT", "Globex"),
        ("c1", 2, "Carol Moss", "WORKS_AT", "Acme Corp"),
        ("c2", 0, "Alice Chen", "WORKS_AT", "Initech"),
        ("c2", 1, "Dana Kim", "WORKS_AT", "Initech"),
    ])


def test_hydrate_window_is_bounded(spark):
    # the antecedent window is EPISODE_WINDOW_LEN (3) previous turns —
    # a name 4 turns back is out of reach, same as the reference's
    # previous-episodes window
    rows = ([("c1", 0, "user", "Carol Moss lives in Oslo.", None, TS0)]
            + [("c1", i, "user", "nothing to see here.", None, TS0)
               for i in (1, 2, 3)]
            + [("c1", 4, "user", "She works at Globex.", None, TS0)])
    tr = spark.createDataFrame(rows, SCHEMA)
    eps = assemble_episodes(tr, TS0)
    got = _triples(extract_edges(eps, TS0))
    assert got == [("c1", 0, "Carol Moss", "LIVES_IN", "Oslo")]
    # ... and exactly at distance 3 it IS in reach
    rows2 = ([("c1", 0, "user", "Carol Moss lives in Oslo.", None, TS0)]
             + [("c1", i, "user", "nothing to see here.", None, TS0)
                for i in (1, 2)]
             + [("c1", 3, "user", "She works at Globex.", None, TS0)])
    eps2 = assemble_episodes(spark.createDataFrame(rows2, SCHEMA), TS0)
    assert ("c1", 3, "Carol Moss", "WORKS_AT", "Globex") in _triples(
        extract_edges(eps2, TS0))


def test_hydrate_context_inert_on_pronoun_free_corpus(spark, corpus_dir):
    # on a pronoun-free corpus the kernel, which hands every episode its
    # previous turns, must produce BIT-IDENTICAL extraction output to a
    # context-free per-episode extraction
    tr = spark.read.parquet(f"{corpus_dir}/transcripts.parquet")
    eps = assemble_episodes(tr, TS0)
    a = _triples(extract_edges(eps, TS0))
    b = sorted(
        (r.group_id, r.turn_idx, t["subj"], t["pred"], t["obj"])
        for r in eps.select("group_id", "turn_idx", "content").collect()
        for t in rules.extract_all(r.content, TS0)[1]
        if rules.entity_uuid(r.group_id, t["subj"])
        != rules.entity_uuid(r.group_id, t["obj"]))
    assert a == b and len(a) > 0


def test_pipeline_consumes_cross_episode_context(spark):
    # end-to-end: build_graph resolves a cross-episode pronoun into the
    # SAME canonical entity as the named mentions
    rows = [
        ("c1", 0, "user", "Carol Moss lives in Oslo.", None, TS0),
        ("c1", 1, "user", "She works at Globex.", None, TS0),
    ]
    tr = spark.createDataFrame(rows, SCHEMA)
    g = build_graph(spark, tr)
    names = {r.name for r in g.entities.collect()}
    assert names == {"Carol Moss", "Oslo", "Globex"}
    edges = {(r.source_node_uuid, r.name, r.target_node_uuid)
             for r in g.edges.collect()}
    ents = {r.name: r.uuid for r in g.entities.collect()}
    assert (ents["Carol Moss"], "WORKS_AT", ents["Globex"]) in edges
    assert (ents["Carol Moss"], "LIVES_IN", ents["Oslo"]) in edges


def test_hydrate_resolves_punctuationless_tails(spark):
    # regression: consumable shapes with no terminal punctuation must
    # still resolve against the previous turns in the distributed path
    rows = [
        ("c1", 0, "user", "Carol Moss lives in Oslo.", None, TS0),
        ("c1", 1, "user", "Acme Corp employs her", None, TS0),
        ("c2", 0, "user", "Alice Chen works at Initech.", None, TS0),
        ("c2", 1, "user", "Dana Kim does too", None, TS0),
    ]
    tr = spark.createDataFrame(rows, SCHEMA)
    eps = assemble_episodes(tr, TS0)
    got = _triples(extract_edges(eps, TS0))
    assert ("c1", 1, "Carol Moss", "WORKS_AT", "Acme Corp") in got
    assert ("c2", 1, "Dana Kim", "WORKS_AT", "Initech") in got


def test_hydrate_context_matches_kernel_window(spark):
    """``hydrate_context`` attaches the kernel's previous-turn window to
    every row and keeps every other column, whatever the input order and
    partitioning; a gap in ``turn_idx`` shortens the window."""
    import random

    from graphiti_spark.operators.episodes import _context, hydrate_context

    rows = ([("g1", i, "user", f"g1 turn {i}.", None, TS0)
             for i in (0, 1, 2, 5, 6)]
            + [("g2", i, "bob", f"g2 turn {i}.", None, TS0)
               for i in range(5)])
    random.Random(3).shuffle(rows)
    eps = assemble_episodes(spark.createDataFrame(rows, SCHEMA), TS0)
    eps = eps.repartition(3)
    assert eps.rdd.getNumPartitions() >= 2
    got = hydrate_context(eps).collect()
    assert len(got) == len(rows)
    assert ({tuple(r[c] for c in eps.columns) for r in got}
            == {tuple(r) for r in eps.collect()})
    by_group: dict[str, list] = {}
    for r in sorted(got, key=lambda r: (r.group_id, r.turn_idx)):
        by_group.setdefault(r.group_id, []).append(r)
    for group in by_group.values():
        turns = [r.turn_idx for r in group]
        contents = [r.content for r in group]
        for i, r in enumerate(group):
            assert r.prev_context == _context(turns, contents, i)
    ctx = {(r.group_id, r.turn_idx): r.prev_context for r in got}
    assert ctx[("g1", 0)] == []
    assert ctx[("g1", 5)] == ["user: g1 turn 2."]
    assert ctx[("g1", 6)] == ["user: g1 turn 5."]
    assert ctx[("g2", 4)] == ["bob: g2 turn 1.", "bob: g2 turn 2.",
                              "bob: g2 turn 3."]
