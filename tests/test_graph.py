"""Link-graph triangle census invariants (operators/graph.py): exact
counts on K4 with noisy duplicate/reverse/self-loop edges, a
triangle-free star, and two triangles sharing an edge. Value-level
cross-engine identity is pinned by the DuckDB twin (triangle_census in
plans/entry_queries.py)."""

from __future__ import annotations


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def test_triangle_census_counts_k4(spark):
    """K4 has exactly 4 triangles; duplicate, reverse, and self-loop
    edges must collapse before counting (a multigraph would
    multiply-count)."""
    from xdan_dqa_spark.operators.graph import triangle_census

    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    noisy = k4 + [(b, a) for a, b in k4] + [(2, 2), (0, 1), (1, 0)]
    row = triangle_census(_edges(spark, noisy)).collect()[0]
    assert (row["n_nodes"], row["n_edges"], row["n_triangles"]) == (4, 6, 4)


def test_triangle_census_star_is_triangle_free(spark):
    from xdan_dqa_spark.operators.graph import triangle_census

    e = _edges(spark, [(0, i) for i in range(1, 9)])
    row = triangle_census(e).collect()[0]
    assert row["n_triangles"] == 0
    assert row["n_nodes"] == 9 and row["n_edges"] == 8


def test_triangle_census_shared_edge_two_triangles(spark):
    """Two triangles glued on edge (0,1): counts each exactly once
    regardless of which endpoint the degree orientation picks first."""
    from xdan_dqa_spark.operators.graph import triangle_census

    e = _edges(spark, [(0, 1), (0, 2), (1, 2), (0, 3), (1, 3)])
    assert triangle_census(e).collect()[0]["n_triangles"] == 2
