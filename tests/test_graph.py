"""Connected components + canonical dedup (operators/graph.py): known
topologies, a union-find cross-check on pseudo-random graphs, logarithmic
convergence on a long chain."""

import os
import random
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from py_evalfilter_spark import gate
from py_evalfilter_spark.operators import graph


def _cc(spark, edges):
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    return {
        r["node"]: r["comp"]
        for r in graph.connected_components(df, ).collect()
    }


def _uf(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


import pytest


@pytest.fixture
def regime(request, monkeypatch):
    """A DRIVER_MAX_ROWS of 0 forces the DISTRIBUTED doubling loop; the
    default takes the driver union-find path."""
    if request.param == "distributed":
        monkeypatch.setattr(gate, "DRIVER_MAX_ROWS", 0)


# every topology must agree on both paths
BOTH_PATHS = pytest.mark.parametrize(
    "regime", ["driver", "distributed"], indirect=True
)


class TestConnectedComponents:
    @BOTH_PATHS
    def test_two_chains_and_star(self, spark, regime):
        edges = [(0, 1), (1, 2), (2, 3)] + [(10, 11), (10, 12), (10, 13)]
        got = _cc(spark, edges)
        assert got == {0: 0, 1: 0, 2: 0, 3: 0, 10: 10, 11: 10, 12: 10, 13: 10}

    @BOTH_PATHS
    def test_cycle_and_self_loop(self, spark, regime):
        got = _cc(spark, [(5, 6), (6, 7), (7, 5), (9, 9)], )
        assert got == {5: 5, 6: 5, 7: 5}  # self-loop-only node drops out

    @BOTH_PATHS
    def test_min_id_in_middle_of_chain(self, spark, regime):
        # min label must propagate BOTH directions from the middle
        got = _cc(spark, [(50, 3), (3, 70), (70, 80)], )
        assert got == {50: 3, 3: 3, 70: 3, 80: 3}

    @BOTH_PATHS
    def test_matches_union_find_on_random_graphs(self, spark, regime):
        rng = random.Random(1234)
        for trial in range(3):
            nodes = list(range(trial * 1000, trial * 1000 + 60))
            edges = [
                (rng.choice(nodes), rng.choice(nodes)) for _ in range(40)
            ]
            edges = [e for e in edges if e[0] != e[1]]
            assert _cc(spark, edges) == _uf(edges), f"trial {trial}"

    def test_long_chain_converges_via_doubling(self, spark, monkeypatch):
        # a 300-node path has diameter 299; pointer doubling must close it
        # within the default max_iter=20 (~log2 rounds), where plain
        # min-propagation would need ~299 rounds — forced distributed
        monkeypatch.setattr(gate, "DRIVER_MAX_ROWS", 0)
        edges = [(i, i + 1) for i in range(300)]
        got = _cc(spark, edges)
        assert set(got.values()) == {0} and len(got) == 301


class TestDedupKeepCanonical:
    def test_keeps_one_per_cluster(self, spark):
        docs = spark.createDataFrame(
            [(i, f"t{i}") for i in range(8)], "doc_id long, text string"
        )
        pairs = spark.createDataFrame(
            [(1, 2), (2, 4), (6, 7)], "id_a long, id_b long"
        )
        kept = sorted(
            r["doc_id"]
            for r in graph.dedup_keep_canonical(docs, pairs).collect()
        )
        # clusters {1,2,4} -> keep 1; {6,7} -> keep 6; singletons untouched
        assert kept == [0, 1, 3, 5, 6]


class TestDedupKeepBest:
    def test_keeps_highest_score_ties_to_lowest_id(self, spark):
        docs = spark.createDataFrame(
            [(0, 1.0), (1, 0.2), (2, 0.9), (4, 0.9), (6, 0.5), (7, 0.5)],
            "doc_id long, quality double",
        )
        pairs = spark.createDataFrame(
            [(1, 2), (2, 4), (6, 7)], "id_a long, id_b long"
        )
        kept = sorted(
            r["doc_id"]
            for r in graph.dedup_keep_best(docs, pairs, "quality").collect()
        )
        # {1,2,4}: best score 0.9 shared by 2 and 4 -> lowest id 2 wins
        # (NOT min-id 1, whose score is 0.2); {6,7}: tie -> 6; singleton 0
        assert kept == [0, 2, 6]

    def test_null_score_loses_to_any_scored_member(self, spark):
        """A NULL score must never win the survivor race (struct-min sorts
        NULL first, so without the +inf coalesce an unscored doc beats
        every scored one); an all-NULL component falls back to lowest id."""
        docs = spark.createDataFrame(
            [(1, None), (2, 0.1), (3, 0.9), (6, None), (7, None)],
            "doc_id long, quality double",
        )
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (6, 7)], "id_a long, id_b long"
        )
        kept = sorted(
            r["doc_id"]
            for r in graph.dedup_keep_best(docs, pairs, "quality").collect()
        )
        # {1,2,3}: NULL-scored 1 loses, 3 (0.9) wins; {6,7} all-NULL -> 6
        assert kept == [3, 6]

    def test_differs_from_min_id_canonical(self, spark):
        docs = spark.createDataFrame(
            [(1, 0.1), (2, 0.9)], "doc_id long, quality double"
        )
        pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
        best = [r["doc_id"] for r in graph.dedup_keep_best(docs, pairs, "quality").collect()]
        canon = [r["doc_id"] for r in graph.dedup_keep_canonical(docs, pairs).collect()]
        assert best == [2] and canon == [1]
