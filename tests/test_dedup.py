"""Canonicalization tests: blocking recall, pair components vs a pure-Python
union-find oracle (``bulk_utils.py:377-414`` semantics), uuid-map transitive
compression (3→2, 2→1 ⇒ 3→1)."""

import random

from graphiti_spark import rules
from graphiti_spark.operators import dedup
from graphiti_spark.operators.extract import (extract_group, kernel_schema,
                                              norm_name)


def _canonical(names, group="g"):
    """The build kernel's in-group union-find over one group's entity
    names → {uuid: canonical uuid}."""
    uuids = [rules.entity_uuid(group, n) for n in names]
    return dict(zip(uuids, dedup.canonical_uuids(
        uuids, [norm_name(n) for n in names])))


def test_alias_pairs_found_and_distinct_people_kept():
    umap = _canonical(["Bob Smith", "Bob", "Alice Smith", "Paris"])
    bob, bobs = rules.entity_uuid("g", "Bob"), rules.entity_uuid("g", "Bob Smith")
    alice = rules.entity_uuid("g", "Alice Smith")
    assert umap[bob] == umap[bobs] == min(bob, bobs)
    # 'Alice Smith' shares the token 'smith' with 'Bob Smith' (a blocking
    # candidate) but must NOT be confirmed a duplicate.
    assert umap[alice] == alice
    assert [u for u, c in umap.items() if c == alice] == [alice]


def test_punctuated_alias_merges():
    """Names with internal punctuation ('Coca-Cola' vs 'Coca Cola') must
    share a block and pass the duplicate rule — alnum-run tokenization on
    both paths (rules.name_tokens and the in-group union-find)."""
    cc1 = rules.entity_uuid("g", "Coca-Cola")
    cc2 = rules.entity_uuid("g", "Coca Cola")
    # pure-python rule agrees (single source of truth)
    assert rules.node_is_duplicate("Coca-Cola", "Coca Cola", 0.0)
    # the in-group union-find (the build kernel's path) merges them
    umap = _canonical(["Coca-Cola", "Coca Cola", "Pepsi"])
    assert umap[cc1] == umap[cc2] == min(cc1, cc2)
    assert umap[rules.entity_uuid("g", "Pepsi")] == \
        rules.entity_uuid("g", "Pepsi")


def test_no_cross_group_merge():
    """The same alias pair in two conversations merges once in each and
    never across: the kernel mints group-scoped entity uuids and solves
    each group alone."""
    contents = ["user: Bob Smith works at Acme Corp.",
                "user: Bob lives in Paris."]
    names = kernel_schema().fieldNames()
    merged = []
    for g in ("g1", "g2"):
        cols = dict(zip(names, extract_group(
            g, [0, 1], ["e0", "e1"], contents, [None, None],
            ["message", "message"])))
        group_uuids = {rules.entity_uuid(g, n)
                       for n in ("Bob Smith", "Bob", "Acme Corp", "Paris")}
        pairs = {(u, c) for u, c in zip(cols["entity_uuid"],
                                        cols["canonical_uuid"])
                 if u is not None}
        assert {u for p in pairs for u in p} <= group_uuids
        merged += [p for p in pairs if p[0] != p[1]]
    assert len(merged) == 2  # one within each group, none across


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
