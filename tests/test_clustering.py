"""Connected components unit + e2e tests.

Every case runs twice: at the default ``DRIVER_MAX_EDGES`` (these small
graphs take the driver union-find path) and, in the ``StarRounds``
classes at the end, with the bound at 0 so the large-star/small-star
rounds run instead."""

import random

import pytest
from pyspark.sql import functions as F

from poi_name_matching_spark.operators import clustering
from poi_name_matching_spark.operators.clustering import components


def _cc(spark, edges, nodes):
    e = spark.createDataFrame(edges, "src string, dst string")
    n = spark.createDataFrame([(x,) for x in nodes], "conv_id string")
    out = components(n, e)
    return {r["conv_id"]: r["component_id"] for r in out.collect()}


def test_chain(spark):
    got = _cc(spark, [("a", "b"), ("b", "c"), ("c", "d")], list("abcde"))
    assert got == {"a": "a", "b": "a", "c": "a", "d": "a", "e": "e"}


def test_two_components_and_reversed_edges(spark):
    got = _cc(
        spark,
        [("b", "a"), ("c", "b"), ("e", "d"), ("d", "e"), ("f", "f")],
        list("abcdefg"),
    )
    assert got == {
        "a": "a", "b": "a", "c": "a",
        "d": "d", "e": "d",
        "f": "f", "g": "g",
    }


def test_random_graph_matches_union_find(spark):
    rng = random.Random(3)
    nodes = [f"n{i:03d}" for i in range(200)]
    edges = [
        (rng.choice(nodes), rng.choice(nodes)) for _ in range(150)
    ]
    # driver-side union-find oracle
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical min-label per component
    from collections import defaultdict

    groups = defaultdict(list)
    for n in nodes:
        groups[find(n)].append(n)
    expected = {}
    for members in groups.values():
        m = min(members)
        for n in members:
            expected[n] = m

    got = _cc(spark, edges, nodes)
    assert got == expected


def test_deterministic_across_partitionings(spark):
    edges = [("a", "b"), ("c", "d"), ("b", "c"), ("x", "y")]
    nodes = list("abcdxyz")
    e1 = spark.createDataFrame(edges, "src string, dst string").repartition(1)
    e8 = spark.createDataFrame(edges, "src string, dst string").repartition(8)
    n = spark.createDataFrame([(x,) for x in nodes], "conv_id string")
    r1 = {r["conv_id"]: r["component_id"] for r in components(n, e1).collect()}
    r8 = {r["conv_id"]: r["component_id"] for r in components(n, e8).collect()}
    assert r1 == r8
    assert r1["d"] == "a" and r1["y"] == "x" and r1["z"] == "z"


class TestIncrementalComponents:
    """Contraction-based CC update: old components become supernodes,
    CC runs only over the new edges — output must be bit-identical
    (labels included) to a full run over the union graph."""

    def _run(self, spark, old_assign, new_nodes, new_edges):
        from poi_name_matching_spark.operators.clustering import (
            incremental_components,
        )

        oc = spark.createDataFrame(
            list(old_assign.items()), "conv_id string, component_id string"
        )
        nn = spark.createDataFrame([(x,) for x in new_nodes], "conv_id string")
        ne = spark.createDataFrame(new_edges, "src string, dst string")
        out = incremental_components(oc, nn, ne)
        return {r["conv_id"]: r["component_id"] for r in out.collect()}

    def _full(self, spark, old_assign, old_edges, new_nodes, new_edges):
        return _cc(
            spark,
            old_edges + new_edges,
            sorted(set(old_assign) | set(new_nodes)),
        )

    def test_bridge_merges_two_old_components(self, spark):
        # old: {a,b} and {c,d}; new node n bridges them
        old_edges = [("a", "b"), ("c", "d")]
        old = {"a": "a", "b": "a", "c": "c", "d": "c"}
        new_edges = [("n", "b"), ("n", "d")]
        got = self._run(spark, old, ["n"], new_edges)
        want = self._full(spark, old, old_edges, ["n"], new_edges)
        assert got == want
        assert got["d"] == "a" and got["n"] == "a"

    def test_singletons_and_untouched_components(self, spark):
        old = {"a": "a", "b": "a", "x": "x"}
        got = self._run(spark, old, ["m", "n"], [("n", "x")])
        want = self._full(spark, old, [("a", "b")], ["m", "n"], [("n", "x")])
        assert got == want
        assert got["m"] == "m"          # edge-less new node → singleton
        assert got["a"] == "a" and got["b"] == "a"  # untouched
        assert got["n"] == "n" and got["x"] == "n"  # n < x relabels x

    def test_new_edge_between_old_components(self, spark):
        # supports old×old edges too (both endpoints contract)
        old = {"a": "a", "b": "a", "c": "c"}
        got = self._run(spark, old, [], [("b", "c")])
        want = self._full(spark, old, [("a", "b")], [], [("b", "c")])
        assert got == want == {"a": "a", "b": "a", "c": "a"}

    def test_chain_of_merges_through_new_nodes(self, spark):
        old = {f"c{i}": f"c{i}" for i in range(6)}
        new_edges = [("n1", "c0"), ("n1", "c2"), ("n2", "c2"), ("n2", "c4")]
        got = self._run(spark, old, ["n1", "n2"], new_edges)
        want = self._full(spark, old, [], ["n1", "n2"], new_edges)
        assert got == want
        assert got["c4"] == "c0" and got["n2"] == "c0"

    def test_random_increments_match_full_run(self, spark):
        """Randomized equivalence sweep: arbitrary old graph, then an
        arbitrary increment mixing new×new, new×old, and old×old edges
        — the contraction path must be BIT-identical (labels included)
        to a full CC over the union graph, for every seed. This is the
        soundness claim incremental_components's docstring makes, pinned
        over graphs no directed case enumerates (multi-way merges,
        re-merges inside one component, islands of new nodes)."""
        for seed in (11, 47):
            rng = random.Random(seed)
            old_nodes = [f"o{i:03d}" for i in range(60)]
            old_edges = [
                (rng.choice(old_nodes), rng.choice(old_nodes))
                for _ in range(45)
            ]
            old = _cc(spark, old_edges, old_nodes)
            new_nodes = [f"n{i:03d}" for i in range(20)]
            pool = old_nodes + new_nodes
            new_edges = (
                # new×old and new×new, biased toward touching new nodes
                [
                    (rng.choice(new_nodes), rng.choice(pool))
                    for _ in range(18)
                ]
                # plus a few old×old bridges (supernode merges)
                + [
                    (rng.choice(old_nodes), rng.choice(old_nodes))
                    for _ in range(4)
                ]
            )
            got = self._run(spark, old, new_nodes, new_edges)
            want = self._full(spark, old, old_edges, new_nodes, new_edges)
            assert got == want, f"seed {seed}: incremental != full"


@pytest.fixture
def star_rounds(monkeypatch):
    """Force every ``components`` call onto the star rounds."""
    monkeypatch.setattr(clustering, "DRIVER_MAX_EDGES", 0)


@pytest.mark.usefixtures("star_rounds")
class TestStarRounds:
    test_chain = staticmethod(test_chain)
    test_two_components_and_reversed_edges = staticmethod(
        test_two_components_and_reversed_edges
    )
    test_random_graph_matches_union_find = staticmethod(
        test_random_graph_matches_union_find
    )
    test_deterministic_across_partitionings = staticmethod(
        test_deterministic_across_partitionings
    )


@pytest.mark.usefixtures("star_rounds")
class TestIncrementalComponentsStarRounds(TestIncrementalComponents):
    pass


def test_driver_bound_boundary(spark, monkeypatch):
    """A graph of exactly ``bound`` edges takes the driver path, one of
    ``bound + 1`` the star rounds, and both give the same components —
    null endpoints and self-loops included, which both paths drop."""
    rng = random.Random(5)
    nodes = [f"n{i:02d}" for i in range(40)]
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(30)]
    edges += [("n07", "n07"), (None, "n03"), ("n05", None)]
    star_calls = []
    star = clustering.connected_components_edges

    def spy(*args, **kwargs):
        star_calls.append(1)
        return star(*args, **kwargs)

    monkeypatch.setattr(clustering, "connected_components_edges", spy)
    got = {}
    for bound in (len(edges), len(edges) - 1):
        monkeypatch.setattr(clustering, "DRIVER_MAX_EDGES", bound)
        got[bound] = _cc(spark, edges, nodes)
    assert len(star_calls) == 1  # only the bound + 1 run took the star path
    assert got[len(edges)] == got[len(edges) - 1]
    assert len(set(got[len(edges)].values())) < len(nodes)


def test_driver_path_long_ids_and_no_edges(spark):
    """The driver mapping keeps the id column's type, and a graph with
    no edges leaves every node a singleton."""
    e = spark.createDataFrame([(3, 1), (2, 3), (9, 8)], "src long, dst long")
    n = spark.createDataFrame([(x,) for x in (1, 2, 3, 8, 9, 10)], "conv_id long")
    out = components(n, e)
    assert dict(out.dtypes) == {"conv_id": "bigint", "component_id": "bigint"}
    assert {r[0]: r[1] for r in out.collect()} == {
        1: 1, 2: 1, 3: 1, 8: 8, 9: 8, 10: 10,
    }
    none = components(n, e.limit(0))
    assert {r[0]: r[1] for r in none.collect()} == {x: x for x in (1, 2, 3, 8, 9, 10)}
