"""Canonicalization tests: blocking recall, pair components vs a pure-Python
union-find oracle (``bulk_utils.py:377-414`` semantics), uuid-map transitive
compression (3→2, 2→1 ⇒ 3→1)."""

import random

from pyspark.sql import functions as F

from graphiti_spark import rules
from graphiti_spark.operators import dedup
from graphiti_spark.operators.extract import norm_name_col
from graphiti_spark.plans.pipeline import RUN_TS


def _entities_df(spark, names, group="g"):
    rows = [(rules.entity_uuid(group, n), n, group, ["Entity"],
             RUN_TS.replace(tzinfo=None), i) for i, n in enumerate(names)]
    df = spark.createDataFrame(
        rows, ["uuid", "name", "group_id", "labels", "created_at", "first_turn"])
    return df.withColumn("name_norm", norm_name_col(F.col("name")))


def test_alias_pairs_found_and_distinct_people_kept(spark):
    ents = _entities_df(spark, ["Bob Smith", "Bob", "Alice Smith", "Paris"])
    pairs = {(r["uuid_a"], r["uuid_b"])
             for r in dedup.duplicate_pairs(ents).collect()}
    bob, bobs = rules.entity_uuid("g", "Bob"), rules.entity_uuid("g", "Bob Smith")
    alice = rules.entity_uuid("g", "Alice Smith")
    assert (min(bob, bobs), max(bob, bobs)) in pairs
    # 'Alice Smith' shares the token 'smith' with 'Bob Smith' (a blocking
    # candidate) but must NOT be confirmed a duplicate.
    assert not any(alice in p for p in pairs)


def test_punctuated_alias_merges(spark):
    """Names with internal punctuation ('Coca-Cola' vs 'Coca Cola') must
    share a block and pass the duplicate rule — alnum-run tokenization on
    every path (rules.name_tokens, JVM _tok, grouped union-find)."""
    ents = _entities_df(spark, ["Coca-Cola", "Coca Cola", "Pepsi"])
    cc1 = rules.entity_uuid("g", "Coca-Cola")
    cc2 = rules.entity_uuid("g", "Coca Cola")
    pairs = {(r["uuid_a"], r["uuid_b"])
             for r in dedup.duplicate_pairs(ents).collect()}
    assert (min(cc1, cc2), max(cc1, cc2)) in pairs
    # pure-python rule agrees (single source of truth)
    assert rules.node_is_duplicate("Coca-Cola", "Coca Cola", 0.0)
    # the in-group union-find (the build kernel's path) merges them too
    rows = ents.select("uuid", "name_norm").collect()
    umap = dict(zip((r["uuid"] for r in rows), dedup.canonical_uuids(
        [r["uuid"] for r in rows], [r["name_norm"] for r in rows])))
    assert umap[cc1] == umap[cc2] == min(cc1, cc2)
    assert umap[rules.entity_uuid("g", "Pepsi")] == \
        rules.entity_uuid("g", "Pepsi")


def test_no_cross_group_merge(spark):
    a = _entities_df(spark, ["Bob Smith", "Bob"], group="g1")
    b = _entities_df(spark, ["Bob Smith", "Bob"], group="g2")
    pairs = dedup.duplicate_pairs(a.unionByName(b)).collect()
    assert all(r["group_id"] in ("g1", "g2") for r in pairs)
    assert len(pairs) == 2  # one within each group, none across


class _UF:
    def __init__(self):
        self.p = {}

    def find(self, x):
        self.p.setdefault(x, x)
        while self.p[x] != x:
            self.p[x] = self.p[self.p[x]]
            x = self.p[x]
        return x

    def union(self, a, b):
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.p[max(ra, rb)] = min(ra, rb)  # lexicographic-min canonical


def _components(spark, nodes, pairs, group="g"):
    """pair_components over one group → {uuid: component}."""
    v = spark.createDataFrame([(group, n) for n in nodes],
                              ["group_id", "uuid"])
    p = spark.createDataFrame([(group, a, b) for a, b in pairs],
                              "group_id string, uuid_a string, uuid_b string")
    return {r["uuid"]: r["component"]
            for r in dedup.pair_components(v, p).collect()}


def test_cc_matches_union_find_on_random_graphs(spark):
    rng = random.Random(7)
    nodes = [f"n{i:03d}" for i in range(60)]
    edges = [(a, b) for a, b in
             ((rng.choice(nodes), rng.choice(nodes)) for _ in range(45))
             if a != b]
    uf = _UF()
    for n in nodes:
        uf.find(n)
    for a, b in edges:
        uf.union(a, b)
    want = {n: uf.find(n) for n in nodes}
    got = _components(spark, nodes,
                      [(min(a, b), max(a, b)) for a, b in edges])
    assert got == want


def test_uuid_map_transitive_compression(spark):
    """bulk_utils.py:270,359 — chains compress to the root canonical."""
    got = _components(spark, ["a", "b", "c"], [("b", "c"), ("a", "b")])
    assert got == {"a": "a", "b": "a", "c": "a"}


def test_components_exact_on_long_path(spark):
    """A 60-node path has diameter 59: every node's component is the
    path's min uuid. A round-capped hash-min propagation stops short of
    that silently; the union-find has no round cap."""
    nodes = [f"n{i:03d}" for i in range(60)]
    got = _components(spark, nodes, list(zip(nodes, nodes[1:])))
    assert got == {n: "n000" for n in nodes}


def test_components_stay_in_group(spark):
    """The same uuid pair in two groups never joins their components,
    and a vertex with no pair is its own component."""
    v = spark.createDataFrame(
        [("g1", "a"), ("g1", "b"), ("g2", "b"), ("g2", "c"), ("g2", "z")],
        ["group_id", "uuid"])
    p = spark.createDataFrame([("g1", "a", "b"), ("g2", "b", "c")],
                              ["group_id", "uuid_a", "uuid_b"])
    got = sorted(map(tuple, dedup.pair_components(v, p).collect()))
    assert got == [("a", "a"), ("b", "a"), ("b", "b"), ("c", "b"),
                   ("z", "z")]


def test_resolve_edge_pointers_drops_self_loops(spark):
    edges = spark.createDataFrame(
        [("e1", "x", "y"), ("e2", "x", "z")],
        ["uuid", "source_node_uuid", "target_node_uuid"])
    umap = spark.createDataFrame(
        [("x", "x"), ("y", "x"), ("z", "z")], ["uuid", "canonical_uuid"])
    out = dedup.resolve_edge_pointers(edges, umap).collect()
    # e1 becomes x→x (self) and is dropped; e2 stays x→z
    assert [(r["uuid"], r["source_node_uuid"], r["target_node_uuid"])
            for r in out] == [("e2", "x", "z")]


def _emb_entities_df(spark, rows, group="g"):
    """rows: list of (name, embedding list[float])."""
    data = [(rules.entity_uuid(group, n), n, group, ["Entity"],
             RUN_TS.replace(tzinfo=None), i, [float(x) for x in e])
            for i, (n, e) in enumerate(rows)]
    df = spark.createDataFrame(
        data, "uuid string, name string, group_id string,"
              " labels array<string>, created_at timestamp,"
              " first_turn int, emb array<float>")
    return df.withColumn("name_norm", norm_name_col(F.col("name")))


def test_embedding_cosine_branch_disagrees_with_token_cosine(spark):
    """bulk_utils.py:236-241 verifies with REAL embedding cosine; token
    cosine is only its stand-in for hash embeddings. Case where the two
    disagree: 'Alpha Beta' vs 'Alpha Gamma' has token cosine 0.5 (< 0.8,
    not a token-duplicate) but the external model says 0.995."""
    near = [1.0, 0.1, 0.0, 0.0]
    ents = _emb_entities_df(spark, [
        ("Alpha Beta", [1.0, 0.0, 0.0, 0.0]),
        ("Alpha Gamma", near),
        ("Acme Corp", [0.0, 1.0, 0.0, 0.0]),
        ("Acme Inc", [0.0, 0.0, 1.0, 0.0]),     # orthogonal to 'Acme Corp'
    ])
    ab = rules.entity_uuid("g", "Alpha Beta")
    ag = rules.entity_uuid("g", "Alpha Gamma")
    # token path: neither pair is a duplicate (cos 0.5, no subset)
    tok_pairs = {(r["uuid_a"], r["uuid_b"])
                 for r in dedup.duplicate_pairs(ents).collect()}
    assert not tok_pairs
    # embedding path: the cosine-similar pair merges, the orthogonal
    # 'Acme *' pair (same token overlap!) does not
    emb_pairs = {(r["uuid_a"], r["uuid_b"])
                 for r in dedup.duplicate_pairs(ents, emb_col="emb").collect()}
    assert emb_pairs == {(min(ab, ag), max(ab, ag))}


def test_embedding_branch_finds_cross_token_duplicates_via_lsh(spark):
    """A real-embedding duplicate can share NO name token — the sign-LSH
    bucket join must supply the candidate the token block cannot."""
    v = [0.3, -0.7, 0.2, 0.9]
    ents = _emb_entities_df(spark, [
        ("IBM", v),
        ("International Business Machines", list(v)),   # identical vector
        ("Pepsi", [-0.9, 0.4, 0.1, -0.2]),
    ])
    u1 = rules.entity_uuid("g", "IBM")
    u2 = rules.entity_uuid("g", "International Business Machines")
    assert not dedup.duplicate_pairs(ents).collect()     # no shared token
    emb_pairs = {(r["uuid_a"], r["uuid_b"])
                 for r in dedup.duplicate_pairs(ents, emb_col="emb").collect()}
    assert emb_pairs == {(min(u1, u2), max(u1, u2))}
    # end-to-end: canonicalize with the embedding branch merges them
    merged, umap = dedup.canonicalize_entities(ents, RUN_TS, emb_col="emb")
    m = {r["uuid"]: r["canonical_uuid"] for r in umap.collect()}
    assert m[u1] == m[u2] == min(u1, u2)
    assert m[rules.entity_uuid("g", "Pepsi")] == rules.entity_uuid("g", "Pepsi")


def test_edge_duplicate_pairs_pair_guard_and_threshold(spark):
    """J2: candidates ONLY between identical (src, dst) endpoints
    (bulk_utils.py:318-321), verified at fact-cosine >= 0.6
    (bulk_utils.py:297) or fact word overlap."""
    rows = [
        # uuid, src, dst, fact, emb
        ("e1", "a", "b", "alpha", [1.0, 0.0, 0.0]),
        ("e2", "a", "b", "beta", [0.9, 0.3, 0.0]),    # cos≈0.95 with e1
        ("e3", "a", "b", "gamma", [0.0, 0.0, 1.0]),   # orthogonal, no overlap
        ("e4", "a", "c", "alpha", [1.0, 0.0, 0.0]),   # same fact, other dst
    ]
    edges = spark.createDataFrame(
        [("g", s, d, u, f, e) for u, s, d, f, e in rows],
        "group_id string, source_node_uuid string, target_node_uuid string,"
        " uuid string, fact string, fact_embedding array<float>")
    pairs = {(r["uuid_a"], r["uuid_b"])
             for r in dedup.edge_duplicate_pairs(edges).collect()}
    assert pairs == {("e1", "e2")}   # e4 blocked by pair guard, e3 by cosine
