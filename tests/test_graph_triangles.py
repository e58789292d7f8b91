"""Unit tests for the degree-oriented triangle counter on known graphs.

The oracle-parity test proves the lineitem-derived query matches DuckDB's
naive triple-join; these pin the COUNTING CORE on graphs whose triangle
counts are known by inspection, including the hub shape the orientation
exists for.
"""

from __future__ import annotations

import pytest

from spark_etl_pipeline_spark.operators.graph import triangle_count


def canonical_edges(spark, pairs):
    rows = [(min(a, b), max(a, b)) for a, b in pairs]
    return spark.createDataFrame(sorted(set(rows)), "a long, b long")


CASES = [
    # K4: every 3-subset is a triangle -> C(4,3) = 4
    ("k4", [(i, j) for i in range(4) for j in range(i + 1, 4)], 4),
    # 4-cycle: no triangles
    ("square", [(0, 1), (1, 2), (2, 3), (3, 0)], 0),
    # 4-cycle + one diagonal: two triangles
    ("square_diag", [(0, 1), (1, 2), (2, 3), (3, 0), (0, 2)], 2),
    # star: hub with 5 leaves, no leaf-leaf edges -> 0 (the skew case
    # orientation handles: all wedges would otherwise pile on the hub)
    ("star", [(0, i) for i in range(1, 6)], 0),
    # wheel: hub + 5-cycle rim -> 5 triangles
    (
        "wheel",
        [(0, i) for i in range(1, 6)]
        + [(1, 2), (2, 3), (3, 4), (4, 5), (5, 1)],
        5,
    ),
    # two disjoint triangles
    ("two_tris", [(0, 1), (1, 2), (0, 2), (10, 11), (11, 12), (10, 12)], 2),
]


@pytest.mark.parametrize("name,pairs,expected", CASES, ids=[c[0] for c in CASES])
def test_triangle_count_known_graphs(spark, name, pairs, expected):
    edges = canonical_edges(spark, pairs)
    row = triangle_count(edges).collect()[0]
    assert row.n_edges == len(set((min(a, b), max(a, b)) for a, b in pairs))
    assert row.n_triangles == expected, name


def test_triangle_count_ignores_edge_input_order(spark):
    # Same wheel graph fed in reversed declaration order: identical count
    # (the algorithm's total order is (degree, id), never input order).
    pairs = [(0, i) for i in range(1, 6)] + [(1, 2), (2, 3), (3, 4), (4, 5), (5, 1)]
    fwd = triangle_count(canonical_edges(spark, pairs)).collect()[0]
    rev = triangle_count(canonical_edges(spark, list(reversed(pairs)))).collect()[0]
    assert fwd == rev


def test_bfs_deep_hops_plan_bounded(spark, monkeypatch):
    """Deep-hop lineage bound for both BFS variants (hops=10 on a
    12-node path graph): correct min-hop distances AND a returned plan
    that is linear in hops — every round but the LAST sits behind its
    ``localCheckpoint`` (leaf scans only), and the last round (whose
    frontier has no later consumer, so r16 skips its checkpoint) may
    contribute at most ONE live round's joins: ≤2 expansion joins plus
    the seen anti-join, never nested lineage into earlier rounds.

    The bound is a property of the distributed loop, so the row cap is
    0: a graph this small is otherwise solved on the driver."""
    from spark_etl_pipeline_spark.operators import graph
    from spark_etl_pipeline_spark.operators.graph import (
        bfs_hops,
        bfs_hops_bipartite,
    )

    monkeypatch.setattr(graph, "BFS_BROADCAST_MAX_ROWS", 0)

    hops = 10
    # path 0-1-2-...-11, seeded at 0: node k is at hop min(k, hops)
    path_pairs = [(i, i + 1) for i in range(11)]
    seeds = spark.createDataFrame([(0,)], "node long")

    edge_dist = bfs_hops(canonical_edges(spark, path_pairs), seeds, hops)
    # bipartite incidence with the same implied path graph: order i
    # contains parts {i, i+1}
    op = spark.createDataFrame(
        [(i, i) for i in range(11)] + [(i, i + 1) for i in range(11)],
        "ok long, pk long",
    )
    bip_dist = bfs_hops_bipartite(op, seeds, hops)

    expected = {(k, k) for k in range(hops + 1)}
    for dist in (edge_dist, bip_dist):
        assert {(r.node, r.hop) for r in dist.collect()} == expected
        plan = dist._jdf.queryExecution().executedPlan().toString()
        # An executed AQE plan prints "== Final Plan ==" followed by
        # "== Initial Plan ==" — the same operators twice; bound the
        # final section only.
        plan = plan.split("== Initial Plan ==")[0]
        assert "CartesianProduct" not in plan
        # One live round max: the bipartite round is 2 expansion joins
        # + 1 anti-join, the edge round 1 + 1. More joins than that
        # means earlier rounds' lineage leaked past their checkpoints.
        n_joins = plan.count("Join")
        assert n_joins <= 3, (
            f"{n_joins} join operators — more than the final round's own:\n"
            + plan
        )
        # Leaf scans stay linear in hops, exactly 2*hops + 3: `hops`
        # checkpointed level leaves (seeds and rounds 1..hops-1) in the
        # level union, `hops` more as the live last round's seen-union,
        # one frontier leaf that round expands from, and two reads of
        # the input (incidence or edge list) inside that round.
        n_scans = plan.count("Scan ExistingRDD")
        assert 0 < n_scans <= 2 * hops + 3, (
            f"{n_scans} leaf scans for {hops} hops — union not flat/bounded"
        )
