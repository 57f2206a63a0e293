"""M7 community-detection tests: label propagation fixpoint + plurality
semantics (community_operations.py:77-122), summarize-reduce determinism."""

from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F

from graphiti_spark.operators import communities as C

RUN_TS = datetime(2025, 1, 1, tzinfo=timezone.utc)


def _graph(spark, edge_rows, nodes):
    edges = spark.createDataFrame(
        [(f"e{i}", "g", s, d) for i, (s, d) in enumerate(edge_rows)],
        ["uuid", "group_id", "source_node_uuid", "target_node_uuid"])
    ents = spark.createDataFrame(
        [(n, n.upper(), "g", f"summary of {n}") for n in nodes],
        ["uuid", "name", "group_id", "summary"])
    return ents, edges


def test_two_cliques_two_communities(spark):
    # triangle a-b-c + triangle x-y-z, joined by nothing
    ents, edges = _graph(
        spark,
        [("a", "b"), ("b", "c"), ("a", "c"),
         ("x", "y"), ("y", "z"), ("x", "z")],
        ["a", "b", "c", "x", "y", "z"])
    labels = C.label_propagation(ents, edges).collect()
    by = {r["uuid"]: r["community"] for r in labels}
    assert by["a"] == by["b"] == by["c"]
    assert by["x"] == by["y"] == by["z"]
    assert by["a"] != by["x"]


def test_isolated_node_keeps_own_label(spark):
    ents, edges = _graph(spark, [("a", "b")], ["a", "b", "lonely"])
    by = {r["uuid"]: r["community"]
          for r in C.label_propagation(ents, edges).collect()}
    assert by["lonely"] == "lonely"
    assert by["a"] == by["b"]


def test_edge_multiplicity_weights_votes(spark):
    # b is pulled both ways; a-b has multiplicity 3, b-c multiplicity 1,
    # so b must land in a's community.
    ents, edges = _graph(
        spark,
        [("a", "b"), ("a", "b"), ("a", "b"), ("b", "c"),
         ("c", "d"), ("c", "d"), ("d", "c")],
        ["a", "b", "c", "d"])
    by = {r["uuid"]: r["community"]
          for r in C.label_propagation(ents, edges).collect()}
    assert by["a"] == by["b"]
    assert by["c"] == by["d"]


def test_build_communities_rollup(spark):
    ents, edges = _graph(
        spark,
        [("a", "b"), ("b", "c"), ("a", "c"), ("x", "y")],
        ["a", "b", "c", "x", "y"])
    comms, comm_edges = C.build_communities(ents, edges, RUN_TS)
    rows = comms.collect()
    assert {r["n_members"] for r in rows} == {3, 2}
    # summaries are ordered member concat
    big = next(r for r in rows if r["n_members"] == 3)
    assert big["summary"] == "summary of a summary of b summary of c"
    # HAS_MEMBER edges: one per member, pointing community → entity
    assert comm_edges.count() == 5
    orphan = (comm_edges.join(
        comms.select(F.col("uuid").alias("source_node_uuid")),
        "source_node_uuid", "left_anti").count())
    assert orphan == 0


def test_label_propagation_shared_lineage(spark):
    """Entities and edges derived from ONE upstream plan (the pipeline's
    normal shape): the cogroup's two sides then carry identical
    attribute ids, which tripped Spark's ambiguous-self-join check
    before _grouped_lpa re-aliased its inputs."""
    base = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], ["src", "dst"])
    nodes = (base.select(F.col("src").alias("uuid"))
             .unionByName(base.select(F.col("dst").alias("uuid")))
             .distinct())
    ents = nodes.select("uuid", F.lit("g").alias("group_id"))
    edges = base.select(
        F.concat(F.lit("e"), "src", "dst").alias("uuid"),
        F.lit("g").alias("group_id"),
        F.col("src").alias("source_node_uuid"),
        F.col("dst").alias("target_node_uuid"))
    by = {r["uuid"]: r["community"]
          for r in C.label_propagation(ents, edges).collect()}
    assert by == {"a": "c", "b": "c", "c": "c", "x": "y", "y": "y"}


def test_get_communities_by_nodes(spark):
    ents, edges = _graph(
        spark,
        [("a", "b"), ("b", "c"), ("a", "c"), ("x", "y")],
        ["a", "b", "c", "x", "y"])
    comms, comm_edges = C.build_communities(ents, edges, RUN_TS)
    got = C.get_communities_by_nodes(comm_edges, comms, ["a"]).collect()
    assert len(got) == 1 and got[0]["n_members"] == 3
    both = C.get_communities_by_nodes(comm_edges, comms, ["a", "x"])
    assert both.count() == 2
    assert C.get_communities_by_nodes(comm_edges, comms, ["nope"]).count() == 0


def test_determine_and_update_communities(spark):
    """Incremental path (community_operations.py:228-311): an existing
    member keeps its community; a new entity adopts the neighbor-mode
    community; the affected community is re-summarized with the new
    member; untouched communities are carried over unchanged."""
    ents, edges = _graph(
        spark,
        [("a", "b"), ("b", "c"), ("a", "c"), ("x", "y")],
        ["a", "b", "c", "x", "y"])
    comms, comm_edges = C.build_communities(ents, edges, RUN_TS)

    # new entity 'n' linked to two members of the abc community
    ents2, edges2 = _graph(
        spark,
        [("a", "b"), ("b", "c"), ("a", "c"), ("x", "y"),
         ("n", "a"), ("n", "b")],
        ["a", "b", "c", "x", "y", "n"])
    assign = {r["uuid"]: (r["community_uuid"], r["is_new"])
              for r in C.determine_entity_communities(
                  comm_edges, edges2, ["a", "n"]).collect()}
    abc = next(r["source_node_uuid"] for r in comm_edges.collect()
               if r["target_node_uuid"] == "a")
    assert assign["a"] == (abc, False)       # existing membership kept
    assert assign["n"] == (abc, True)        # adopted neighbor-mode comm

    comms2, comm_edges2 = C.update_communities(
        ents2, edges2, comms, comm_edges, ["n"], RUN_TS)
    rows = {r["uuid"]: r for r in comms2.collect()}
    assert rows[abc]["n_members"] == 4
    assert "summary of n" in rows[abc]["summary"]
    xy = next(u for u in rows if u != abc)
    assert rows[xy]["n_members"] == 2        # untouched community intact
    # membership edge added exactly once
    assert comm_edges2.where(
        (F.col("source_node_uuid") == abc)
        & (F.col("target_node_uuid") == "n")).count() == 1
    # an entity with no communal neighbors is not assigned
    lone = C.determine_entity_communities(comm_edges, edges2, ["zzz"])
    assert lone.count() == 0


def test_label_propagation_deterministic(spark):
    ents, edges = _graph(
        spark,
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"), ("a", "c")],
        ["a", "b", "c", "d"])
    l1 = sorted(map(tuple, C.label_propagation(ents, edges).collect()))
    l2 = sorted(map(tuple, C.label_propagation(
        ents.repartition(7), edges.repartition(5)).collect()))
    assert l1 == l2


# --- reference-semantics LPA mode vs a pure-Python port -----------------


def _lpa_reference_port(nodes, edge_rows, max_rounds=50):
    """Direct port of community_operations.py:77-122 with uuids as their
    own labels (order-isomorphic to the reference's dict-enumeration
    integers; labels are only compared/counted, so the PARTITION is the
    same): synchronous rounds; plurality weighted by edge multiplicity;
    a weight>1 plurality wins outright, otherwise max(candidate, cur);
    tie on weight -> larger label."""
    from collections import defaultdict
    proj = defaultdict(lambda: defaultdict(int))
    for s, d in edge_rows:
        if s != d:
            proj[s][d] += 1
            proj[d][s] += 1
    community = {u: u for u in nodes}
    for _ in range(max_rounds):
        new, change = {}, False
        for u in nodes:
            cand = defaultdict(int)
            for v, w in proj[u].items():
                cand[community[v]] += w
            lst = sorted(((c, l) for l, c in cand.items()), reverse=True)
            if lst and lst[0][0] > 1:
                newl = lst[0][1]
            elif lst:
                newl = max(lst[0][1], community[u])
            else:
                newl = community[u]
            new[u] = newl
            change |= newl != community[u]
        community = new
        if not change:
            break
    return community


def _partition(by):
    from collections import defaultdict
    groups = defaultdict(set)
    for u, c in by.items():
        groups[c].add(u)
    return frozenset(frozenset(g) for g in groups.values())


def _random_graph(seed):
    import random
    rng = random.Random(seed)
    nodes = [f"u{i:03d}" for i in range(40)]
    # two planted blocks + sprinkled cross edges + duplicate edges
    # (multiplicity weights) + a couple of isolated nodes
    edge_rows = []
    for _ in range(90):
        blk = rng.choice([nodes[:18], nodes[18:36]])
        s, d = rng.sample(blk, 2)
        edge_rows.append((s, d))
    for _ in range(8):
        edge_rows.append((rng.choice(nodes[:18]),
                          rng.choice(nodes[18:36])))
    for _ in range(20):
        edge_rows.append(rng.choice(edge_rows))   # multiplicity
    return nodes, edge_rows


@pytest.mark.parametrize("seed", [11, 23, 47])
def test_reference_mode_matches_python_port(spark, seed):
    nodes, edge_rows = _random_graph(seed)
    ents, edges = _graph(spark, edge_rows, nodes)
    # reference mode lacks the monotone invariant, so convergence can
    # take more rounds than the scale default (seed 47 needs 26)
    got = {r["uuid"]: r["community"]
           for r in C.label_propagation(ents, edges, max_rounds=60,
                                        mode="reference").collect()}
    want = _lpa_reference_port(nodes, edge_rows, max_rounds=60)
    assert got == want                       # labels, not just partition
    assert _partition(got) == _partition(want)


def _lpa_monotone_port(nodes, edge_rows, max_rounds=50):
    """The monotone scale rule in plain Python: synchronous rounds; each
    node adds a weight-1 self-vote to its neighbors' multiplicity-weighted
    votes and adopts the plurality label (ties -> larger label) only when
    it is LARGER than its current one."""
    from collections import defaultdict
    proj = defaultdict(lambda: defaultdict(int))
    for s, d in edge_rows:
        if s != d:
            proj[s][d] += 1
            proj[d][s] += 1
    community = {u: u for u in nodes}
    for _ in range(max_rounds):
        new = {}
        for u in nodes:
            cand = defaultdict(int)
            cand[community[u]] += 1
            for v, w in proj[u].items():
                cand[community[v]] += w
            _, lbl = max((c, l) for l, c in cand.items())
            new[u] = max(lbl, community[u])
        if new == community:
            break
        community = new
    return community


_PORTS = {"monotone": _lpa_monotone_port, "reference": _lpa_reference_port}


@pytest.mark.parametrize("mode", ["monotone", "reference"])
def test_grouped_lpa_matches_port_per_group(spark, mode):
    """Groups are independent graphs: label propagation over a 3-group
    mix of random blocks, stars and an isolated node equals the
    pure-Python port of the mode's update rule run on each group
    alone, label-exact."""
    rows, nodes, want = [], [], {}
    for g, seed in (("g", 5), ("h", 6)):
        ns, es = _random_graph(seed)
        nodes += [(f"{g}{n}", g) for n in ns]
        rows += [(f"{g}{s}", f"{g}{d}", g) for s, d in es]
        want.update(_PORTS[mode]([f"{g}{n}" for n in ns],
                                 [(f"{g}{s}", f"{g}{d}") for s, d in es],
                                 max_rounds=60))
    nodes += [("iso", "k")]                   # node-only group
    want["iso"] = "iso"
    edges = spark.createDataFrame(
        [(f"e{i}", g, s, d) for i, (s, d, g) in enumerate(rows)],
        ["uuid", "group_id", "source_node_uuid", "target_node_uuid"])
    ents = spark.createDataFrame(nodes, ["uuid", "group_id"])
    got = {r["uuid"]: r["community"] for r in C.label_propagation(
        ents, edges, max_rounds=60, mode=mode).collect()}
    assert got == want


def test_job_count_independent_of_diameter(spark, job_count):
    """Pair components and label propagation run the same number of
    Spark jobs on a 10-node and a 60-node path: the whole fixpoint runs
    inside one task per group, with no driver loop per round."""
    from graphiti_spark.operators import dedup

    counts = {}
    for n in (10, 60):
        nodes = [f"n{i:03d}" for i in range(n)]
        path = list(zip(nodes, nodes[1:]))
        ents, edges = _graph(spark, path, nodes)
        pairs = spark.createDataFrame(
            [("g", a, b) for a, b in path], ["group_id", "uuid_a", "uuid_b"])
        got = {}
        counts[n] = (
            job_count(f"cc-{n}", lambda: got.update(
                (r["uuid"], r["component"]) for r in
                dedup.pair_components(ents, pairs).collect())),
            job_count(f"lpa-{n}", lambda: C.label_propagation(
                ents, edges).collect()))
        assert got == {u: "n000" for u in nodes}
    assert counts[10] == counts[60]
    assert min(counts[10]) > 0


def test_monotone_lpa_reaches_fixpoint_on_long_path(spark):
    """The monotone rule runs to its fixpoint with default arguments: a
    60-node path needs ~60 rounds, beyond the reference mode's
    ``max_rounds`` default, and ends with one label, the largest uuid."""
    nodes = [f"n{i:03d}" for i in range(60)]
    ents, edges = _graph(spark, list(zip(nodes, nodes[1:])), nodes)
    got = {r["uuid"]: r["community"]
           for r in C.label_propagation(ents, edges).collect()}
    assert set(got) == set(nodes)
    assert set(got.values()) == {"n059"}


@pytest.mark.parametrize("mode", ["monotone", "reference"])
def test_cross_group_edge_never_leaks_votes(spark, mode):
    """Groups are independent graphs (the reference labels one group at
    a time): an edge row whose group_id differs from an endpoint's must
    not carry a vote across the boundary. x sits alone in group g2; a g1
    edge a→x must leave x labeled by itself and not pull a's label onto
    x."""
    ents = spark.createDataFrame(
        [("a", "g1"), ("b", "g1"), ("x", "g2")], ["uuid", "group_id"])
    edges = spark.createDataFrame(
        [("e1", "g1", "a", "b"),     # in-group: a,b merge
         ("e2", "g1", "a", "x")],    # cross-group: must be inert
        ["uuid", "group_id", "source_node_uuid", "target_node_uuid"])
    expect = {("a", "g1", "b"), ("b", "g1", "b"), ("x", "g2", "x")}
    got = {tuple(r) for r in C.label_propagation(
        ents, edges, mode=mode).collect()}
    assert got == expect


def test_reference_mode_weight1_rule(spark):
    """A weight-1 plurality only wins if LARGER than the current label:
    chain a-b with one edge -> both end at max('a','b') = 'b'; with a
    doubled edge the plurality (weight 2) wins outright both ways and
    the pair still merges."""
    ents, edges = _graph(spark, [("a", "b")], ["a", "b"])
    by = {r["uuid"]: r["community"]
          for r in C.label_propagation(ents, edges,
                                       mode="reference").collect()}
    assert by == {"a": "b", "b": "b"}
    port = _lpa_reference_port(["a", "b"], [("a", "b")])
    assert by == port


def test_lpa_mode_validation(spark):
    ents, edges = _graph(spark, [("a", "b")], ["a", "b"])
    with pytest.raises(ValueError, match="mode"):
        C.label_propagation(ents, edges, mode="jacobi")


def test_null_group_entities_keep_rows_and_propagate(spark):
    """A NULL group_id is one more group: its entities keep their rows
    and a NULL-keyed pair still propagates a shared label, beside a
    keyed group."""
    ents = spark.createDataFrame(
        [("a1", "big"), ("a2", "big"), ("a3", "big"),
         ("n1", None), ("n2", None)],
        "uuid string, group_id string")
    edges = spark.createDataFrame(
        [("e1", "big", "a1", "a2"), ("e2", "big", "a2", "a3"),
         ("e3", None, "n1", "n2")],
        "uuid string, group_id string, source_node_uuid string, "
        "target_node_uuid string")
    rows = C.label_propagation(ents, edges, max_rounds=20).collect()
    assert {r["uuid"] for r in rows} == {"a1", "a2", "a3", "n1", "n2"}
    labels = {r["uuid"]: r["community"] for r in rows}
    assert labels["n1"] == labels["n2"] == "n2"
    assert labels["a1"] == labels["a2"] == labels["a3"] == "a3"
