"""Both sides of the connected-components and BFS row gates on the
inputs where a driver-local solve could drift from the distributed loop:
an empty edge list, an empty seed set, a self-loop and a null endpoint.
Each case runs at the default cap (driver-local solve) and at cap -1
(distributed loop) and must return the same rows and column types.
"""

from __future__ import annotations

import pytest

from spark_etl_pipeline_spark.operators import dedup, graph


def _both_sides(monkeypatch, module, cap_name, run):
    default = getattr(module, cap_name)
    out = []
    # -1, not 0: the gate admits inputs of at most `cap` rows, so a cap
    # of 0 still sends an empty input down the local path
    for cap in (default, -1):
        monkeypatch.setattr(module, cap_name, cap)
        df = run()
        # the driver-local solve returns a broadcast-hinted local
        # relation; the loop never does
        plan = df._jdf.queryExecution().analyzed()
        local = (
            plan.nodeName() == "ResolvedHint"
            and plan.child().nodeName() == "LocalRelation"
        )
        assert local == (cap == default), f"cap={cap}: wrong side of the gate"
        rows = sorted((tuple(r) for r in df.collect()), key=repr)
        out.append((rows, [f.dataType for f in df.schema.fields]))
    monkeypatch.setattr(module, cap_name, default)
    (local, local_types), (loop, loop_types) = out
    assert local == loop
    assert local_types == loop_types
    return local


CC_CASES = {
    "empty": ([], []),
    "self_loop": ([(5, 5), (1, 2)], [(1, 1), (2, 1), (5, 5)]),
    # a null endpoint connects nothing; the null-id row keeps the
    # smallest of its direct neighbors as its label
    "null_endpoint": (
        [(1, 2), (None, 3), (None, 2), (4, None)],
        [(1, 1), (2, 1), (3, 3), (4, 4), (None, 2)],
    ),
    "null_only": ([(None, None)], [(None, None)]),
}


@pytest.mark.parametrize("case", sorted(CC_CASES))
def test_connected_components_edge_cases_both_sides(spark, monkeypatch, case):
    edges, want = CC_CASES[case]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = _both_sides(
        monkeypatch,
        dedup,
        "CC_BROADCAST_MAX_ROWS",
        lambda: dedup.connected_components(df, fallback=None),
    )
    assert got == sorted(want, key=repr)


BFS_CASES = {
    "empty_edges": ([], [1], [(1, 0)]),
    "empty_seeds": ([(1, 2), (2, 3)], [], []),
    "self_loop": ([(1, 1), (1, 2)], [1], [(1, 0), (2, 1)]),
    # a null part is reached but never "seen", so it is listed at every
    # hop whose frontier touches it; a null seed expands nothing
    "null_endpoint": (
        [(1, None), (1, 2), (2, 3), (None, 3)],
        [1, None],
        [(1, 0), (2, 1), (3, 2), (None, 0), (None, 1), (None, 3)],
    ),
}


@pytest.mark.parametrize("case", sorted(BFS_CASES))
def test_bfs_edge_cases_both_sides(spark, monkeypatch, case):
    """Both walks, both paths. The edge list (a, b) doubles as a
    bipartite incidence list: edge i is an order holding parts a_i and
    b_i, so both walks see the same graph."""
    edges, seeds, want = BFS_CASES[case]
    edf = spark.createDataFrame(edges, "a long, b long")
    op = spark.createDataFrame(
        [(i, p) for i, e in enumerate(edges) for p in e], "ok long, pk long"
    )
    sdf = spark.createDataFrame([(s,) for s in seeds], "node long")
    for run in (
        lambda: graph.bfs_hops(edf, sdf, 3),
        lambda: graph.bfs_hops_bipartite(op, sdf, 3),
    ):
        got = _both_sides(monkeypatch, graph, "BFS_BROADCAST_MAX_ROWS", run)
        assert got == sorted(want, key=repr)
