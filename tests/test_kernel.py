"""The build's group kernel (``extract.extract_group`` behind
``extract.extract_combined``), called directly on pandas frames: context
window, conversation isolation, Arrow-batch splits, the token-blocked
union-find branch, and uuid parity with the JVM id expressions (the one
test here that needs Spark)."""

from __future__ import annotations

import functools
from datetime import datetime

import pandas as pd
from pyspark.sql import functions as F

from graphiti_spark import rules
from graphiti_spark.operators import dedup, extract
from graphiti_spark.operators.episodes import stable_id_cols
from graphiti_spark.operators.extract import norm_name_col

TS0 = datetime(2024, 1, 1)
NAMES = extract.kernel_schema().fieldNames()


def _batch(rows):
    """(conv_id, turn_idx, text) rows → one kernel input batch, in the
    column order ``extract_combined`` feeds the kernel."""
    return pd.DataFrame({
        "group_id": [g for g, _, _ in rows],
        "turn_idx": [t for _, t, _ in rows],
        "episode_uuid": [rules.episode_uuid(g, t) for g, t, _ in rows],
        "content": [f"user: {x}" for _, _, x in rows],
        "valid_at": [pd.Timestamp(TS0)] * len(rows),
        "source": ["message"] * len(rows)})


def _run(*batches, ontology=None) -> pd.DataFrame:
    solve = functools.partial(extract.extract_group, ontology=ontology)
    outs = list(dedup.split_groups(iter(batches), solve, NAMES))
    return pd.concat(outs, ignore_index=True) if outs else \
        pd.DataFrame(columns=NAMES)


def _triples(out: pd.DataFrame):
    t = out[out["uuid"].notna()]
    return sorted(zip(t["group_id"], t["turn_idx"], t["subj"], t["pred"],
                      t["obj"]))


def test_context_window_counts_turn_gaps():
    # the window is the previous 3 turns BY turn_idx VALUE: turn 2 sees
    # turn 0 (gap of one), turn 6 sees turns 3..5 only, i.e. nothing
    rows = [("c1", 0, "Carol Moss lives in Oslo."),
            ("c1", 2, "She works at Globex."),
            ("c1", 6, "She works at Initech.")]
    assert _triples(_run(_batch(rows))) == [
        ("c1", 0, "Carol Moss", "LIVES_IN", "Oslo"),
        ("c1", 2, "Carol Moss", "WORKS_AT", "Globex")]
    turns = [0, 2, 6]
    contents = [x for _, _, x in rows]
    assert extract._context(turns, contents, 1) == [contents[0]]
    assert extract._context(turns, contents, 2) == []
    # exactly 3 back is in reach, oldest first
    assert extract._context([1, 2, 3, 4], list("abcd"), 3) == \
        ["a", "b", "c"]
    assert extract._context([0, 1, 2, 3, 4], list("abcde"), 4) == \
        ["b", "c", "d"]


def test_conversations_are_isolated():
    # c2's pronoun must not see c1's names, even in the same batch
    rows = [("c1", 0, "Carol Moss lives in Oslo."),
            ("c2", 1, "She works at Globex."),
            ("c3", 0, "Bob Smith works at Hooli."),
            ("c3", 1, "Bob works at Hooli.")]
    out = _run(_batch(rows))
    assert _triples(out) == [
        ("c1", 0, "Carol Moss", "LIVES_IN", "Oslo"),
        ("c3", 0, "Bob Smith", "WORKS_AT", "Hooli"),
        ("c3", 1, "Bob", "WORKS_AT", "Hooli")]
    m = out[out["entity_uuid"].notna()]
    # every mention's canonical uuid is an entity of its own group
    by_group = m.groupby("group_id")["entity_uuid"].agg(set)
    assert all(c in by_group[g]
               for g, c in zip(m["group_id"], m["canonical_uuid"]))
    # the alias merges inside c3 and the two c3 edges share endpoints
    bob = {rules.entity_uuid("c3", "Bob"),
           rules.entity_uuid("c3", "Bob Smith")}
    assert set(m[m["entity_uuid"].isin(bob)]["canonical_uuid"]) == \
        {min(bob)}
    t = out[(out["group_id"] == "c3") & out["uuid"].notna()]
    assert set(t["source_node_uuid"]) == {min(bob)}


def test_group_split_across_batches_equals_one_batch():
    rows = [("c1", 0, "Carol Moss lives in Oslo."),
            ("c1", 1, "She works at Globex."),
            ("c1", 2, "Carol works at Globex."),
            ("c2", 0, "Alice Chen works at Initech."),
            ("c2", 1, "Dana Kim does too.")]
    whole = _run(_batch(rows))
    split = _run(_batch(rows[:1]), _batch(rows[1:2]), _batch(rows[2:4]),
                 _batch(rows[4:]))

    def key(df):
        return sorted(repr(tuple(None if pd.isna(v) else v for v in r))
                      for r in df.drop(columns=["attributes", "valid_at",
                                                "invalid_at"])
                      .itertuples(index=False))
    assert key(whole) == key(split)
    assert ("c1", 1, "Carol Moss", "WORKS_AT", "Globex") in _triples(split)
    # one first mention per entity, carrying the first turn
    m = split[split["entity_uuid"].notna()]
    firsts = m[m["first_mention"].astype(bool)]
    assert sorted(firsts["entity_uuid"]) == sorted(set(m["entity_uuid"]))
    assert firsts.set_index("entity_uuid")["turn_idx"].to_dict() == \
        m.groupby("entity_uuid")["turn_idx"].min().to_dict()


def test_group_above_max_full_pairwise_takes_blocked_branch():
    firsts = ["Alice", "Bruno", "Chen", "Dara", "Eli", "Fay", "Gus", "Hana",
              "Ivo", "Jun", "Kai", "Lea", "Mo", "Nia", "Oto"]
    lasts = ["Abe", "Baro", "Cruz", "Dietz", "Ekko", "Fors", "Gale",
             "Hopp", "Imre", "Joss", "Kuhn", "Lutz", "Moss", "Nash", "Orr"]
    text = [f"{a} {b} works at Globex." for a in firsts for b in lasts]
    text += [f"{a} works at Globex." for a in firsts[:5]]
    rows = [("big", i, x) for i, x in enumerate(text)]
    out = _run(_batch(rows))
    m = out[out["first_mention"].astype(bool)]
    assert len(m) > dedup.MAX_FULL_PAIRWISE        # 241 entities
    # oracle: the full pairwise comparison of the same rule
    uuids = sorted(m["entity_uuid"])
    names = m.set_index("entity_uuid").loc[uuids, "name_norm"].tolist()
    full = dedup.canonical_uuids(uuids, names, max_full_pairwise=10**6)
    assert dict(zip(m["entity_uuid"], m["canonical_uuid"])) == \
        dict(zip(uuids, full))
    # 'Alice' merges all 15 'Alice *' names; 'Fay' has no bare alias
    alice = {rules.entity_uuid("big", f"Alice {b}") for b in lasts}
    alice.add(rules.entity_uuid("big", "Alice"))
    canon = dict(zip(m["entity_uuid"], m["canonical_uuid"]))
    assert {canon[u] for u in alice} == {min(alice)}
    assert canon[rules.entity_uuid("big", "Fay Moss")] == \
        rules.entity_uuid("big", "Fay Moss")


def test_kernel_ids_match_jvm_expressions(spark, corpus_dir):
    # every name shape rules.extract_all emits on the test corpus, plus
    # punctuated, alias and speaker (lower-case role) shapes
    tr = pd.read_parquet(f"{corpus_dir}/transcripts.parquet")
    extra = pd.DataFrame({
        "conv_id": ["p1"] * 4, "turn_idx": [0, 1, 2, 3],
        "role": ["carol", "user", "user", "user"],
        "text": ["I live in Lisbon.", "Coca-Cola employs J.P. Morgan.",
                 "AT&T is based in Dallas.",
                 "Bob Smith works at Bob Smith Holdings."],
        "ts": [pd.Timestamp(TS0)] * 4})
    tr = pd.concat([tr[extra.columns], extra], ignore_index=True)
    tr = tr.sort_values(["conv_id", "turn_idx"])
    batch = pd.DataFrame({
        "group_id": tr["conv_id"].tolist(),
        "turn_idx": tr["turn_idx"].tolist(),
        "episode_uuid": [rules.episode_uuid(g, t) for g, t in
                         zip(tr["conv_id"], tr["turn_idx"])],
        "content": (tr["role"] + ": " + tr["text"]).tolist(),
        "valid_at": tr["ts"].tolist(),
        "source": ["message"] * len(tr)})
    out = _run(batch)
    m = out[out["entity_uuid"].notna()]
    t = out[out["uuid"].notna()]
    assert len(m) > 100 and len(t) > 50
    assert {"carol", "Coca-Cola", "AT&T"} <= set(m["name"])
    ments = spark.createDataFrame(
        list(zip(m["group_id"], m["name"], m["name_norm"],
                 m["entity_uuid"])),
        "group_id string, name string, name_norm string, "
        "entity_uuid string")
    bad = ments.where(
        (norm_name_col(F.col("name")) != F.col("name_norm"))
        | (stable_id_cols(F.lit("entity"), F.col("group_id"),
                          norm_name_col(F.col("name")))
           != F.col("entity_uuid")))
    assert bad.count() == 0
    trip = spark.createDataFrame(
        [(g, int(ti), s, p, o, f, u) for g, ti, s, p, o, f, u in
         zip(t["group_id"], t["turn_idx"], t["subj"], t["pred"], t["obj"],
             t["fact"], t["uuid"])],
        "group_id string, turn_idx int, subj string, pred string, "
        "obj string, fact string, uuid string")

    def ent(c):
        return stable_id_cols(F.lit("entity"), F.col("group_id"),
                              norm_name_col(F.col(c)))
    jvm = stable_id_cols(F.lit("edge"), F.col("group_id"), ent("subj"),
                         F.col("pred"), ent("obj"),
                         norm_name_col(F.col("fact")),
                         F.col("turn_idx").cast("string"))
    assert trip.where(jvm != F.col("uuid")).count() == 0
    # the canonical self-loop (alias subject and object) is dropped
    assert not ((t["group_id"] == "p1") & (t["subj"] == "Bob Smith")).any()
