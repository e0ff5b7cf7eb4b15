"""connected_components (operators/dedup.py): pairs → dup clusters."""

import random

import pytest

from pdf_ai_mapper_spark.operators.dedup import connected_components, release


def _cc(spark, edges, **kw):
    df = spark.createDataFrame(edges, 'id_a long, id_b long')
    out = connected_components(df, **kw)
    got = {(r['node'], r['component']) for r in out.collect()}
    release(out)
    return got


def test_chain_needs_multiple_rounds(spark):
    # a path 0-1-2-...-9: min label must walk the full diameter
    edges = [(i, i + 1) for i in range(9)]
    assert _cc(spark, edges) == {(i, 0) for i in range(10)}


def test_disjoint_clusters(spark):
    edges = [(1, 2), (2, 3), (10, 11), (20, 21), (21, 20)]
    got = _cc(spark, edges)
    assert got == {(1, 1), (2, 1), (3, 1),
                   (10, 10), (11, 10), (20, 20), (21, 20)}


def test_empty_pairs(spark):
    assert _cc(spark, []) == set()


def test_max_iter_guard(spark):
    edges = [(i, i + 1) for i in range(9)]
    with pytest.raises(RuntimeError, match='did not converge'):
        df = spark.createDataFrame(edges, 'id_a long, id_b long')
        connected_components(df, max_iter=3)


def _union_find(edges):
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
    # min id per component
    comp_min = {}
    for n in list(parent):
        r = find(n)
        comp_min[r] = min(comp_min.get(r, n), n)
    return {(n, comp_min[find(n)]) for n in parent}


def test_random_graphs_match_union_find(spark):
    rng = random.Random(42)
    for trial in range(3):
        n = 60
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(50)]
        edges = [(a, b) for a, b in edges if a != b]
        assert _cc(spark, edges) == _union_find(edges)


class TestKeepBestPerCluster:
    """keep_best_per_cluster (round 7): one survivor per cluster by
    (order_by DESC, id ASC); unclustered docs untouched. The
    q_cluster_keep_best oracle replays the policy corpus-wide; these
    pin the row-level semantics and the narrow-window plan shape."""

    def _run(self, spark, docs, edges, order_by=('quality',)):
        from pdf_ai_mapper_spark.operators.dedup import (
            connected_components, keep_best_per_cluster, release)
        d = spark.createDataFrame(docs, 'doc_id long, quality long, text string')
        p = spark.createDataFrame(edges, 'id_a long, id_b long')
        cc = connected_components(p)
        kept = sorted(r['doc_id'] for r in
                      keep_best_per_cluster(d, cc, 'doc_id', order_by).collect())
        release(cc)
        return kept

    def test_best_wins_and_singletons_pass(self, spark):
        docs = [(1, 5, 'a'), (2, 9, 'b'), (3, 9, 'c'), (4, 1, 'd')]
        # cluster {1,2,3}: quality 9 tie between 2 and 3 -> lower id 2
        assert self._run(spark, docs, [(1, 2), (2, 3)]) == [2, 4]

    def test_two_clusters(self, spark):
        docs = [(1, 1, 'a'), (2, 2, 'b'), (10, 7, 'x'), (11, 3, 'y'),
                (20, 0, 'z')]
        assert self._run(spark, docs, [(1, 2), (10, 11)]) == [2, 10, 20]

    def test_payload_never_rides_the_window_exchange(self, spark):
        from pdf_ai_mapper_spark.operators.dedup import (
            connected_components, keep_best_per_cluster, release)
        d = spark.createDataFrame([(1, 2, 'payload'), (2, 1, 'p2')],
                                  'doc_id long, quality long, text string')
        p = spark.createDataFrame([(1, 2)], 'id_a long, id_b long')
        cc = connected_components(p)
        out = keep_best_per_cluster(d, cc, 'doc_id', ('quality',))
        plan = out._jdf.queryExecution().executedPlan().toString()
        release(cc)
        for line in plan.splitlines():
            if 'Exchange hashpartitioning' in line and 'component' in line:
                assert 'text#' not in line  # window sees ids + keys only
