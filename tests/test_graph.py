"""Link-graph operator invariants (operators/graph.py): degree census
full-outer semantics, PageRank's closed-form fixed points (uniform ring),
rank ordering under concentrated in-links, and the bit-determinism
contract (integer fixed-point ⇒ identical under repartition). Value-level
cross-engine identity is pinned by the unrolled-CTE DuckDB twin
(link_pagerank in plans/entry_queries.py)."""

from __future__ import annotations

import pytest


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def test_degree_census_full_outer(spark):
    from xdan_dqa_spark.operators.graph import degree_census

    e = _edges(spark, [(1, 2), (1, 3), (2, 3), (4, 1)])
    got = {r["node"]: (r["out_degree"], r["in_degree"])
           for r in degree_census(e).collect()}
    assert got[1] == (2, 1)
    assert got[2] == (1, 1)
    assert got[3] == (0, 2)   # appears only as target
    assert got[4] == (1, 0)   # appears only as source


def test_pagerank_uniform_on_ring(spark):
    """A directed ring is perfectly symmetric: every node's rank must be
    exactly 1/N at every iteration (the uniform fixed point survives the
    fixed-point quantization because 1e12/5 is exact)."""
    from xdan_dqa_spark.operators.graph import pagerank

    n = 5
    e = _edges(spark, [(i, (i + 1) % n) for i in range(n)])
    ranks = {r["node"]: r["rank"] for r in pagerank(e, n_iter=4).collect()}
    assert all(v == pytest.approx(1 / n, abs=1e-9) for v in ranks.values())


def test_pagerank_concentrates_on_hub_and_is_partition_invariant(spark):
    """Everyone links the hub: the hub must outrank every leaf, leaves
    stay at the (1-d)/N floor; and the INTEGER fixed-point arithmetic
    makes the result bit-identical under any repartitioning (the
    determinism contract float PageRank cannot give)."""
    from xdan_dqa_spark.operators.graph import pagerank

    e = _edges(spark, [(i, 0) for i in range(1, 9)])
    r1 = {r["node"]: r["rank"] for r in pagerank(e, n_iter=3).collect()}
    assert all(r1[0] > r1[i] for i in range(1, 9))
    # leaves receive nothing: rank = (1-d)/N exactly (N=9)
    assert r1[1] == pytest.approx(0.15 / 9, abs=1e-9)
    r2 = {r["node"]: r["rank"]
          for r in pagerank(e.repartition(13), n_iter=3).collect()}
    assert r1 == r2   # bit-identical, not approx


def test_pagerank_mass_bounds_with_dangling_leak(spark):
    """Total rank mass stays within ((1-d), 1]: dangling nodes leak
    (documented), so mass can fall below 1 but never below the teleport
    floor, and never exceeds 1 + rounding noise."""
    from xdan_dqa_spark.operators.graph import pagerank

    e = _edges(spark, [(1, 2), (2, 3), (3, 4)])  # 4 is dangling
    total = sum(r["rank"] for r in pagerank(e, n_iter=3).collect())
    assert 0.15 < total <= 1.0 + 1e-9


def test_pagerank_rejects_bad_params(spark):
    from xdan_dqa_spark.operators.graph import pagerank

    e = _edges(spark, [(1, 2)])
    with pytest.raises(ValueError):
        pagerank(e, n_iter=0)
    with pytest.raises(ValueError):
        pagerank(e, damping_num=20, damping_den=20)


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


def test_resolve_redirects_chain_and_fanin(spark):
    """Chain 5->4->3->1 plus a side branch 2->1: every src resolves to
    the terminal 1 (which has no out-edge)."""
    from xdan_dqa_spark.operators.graph import resolve_redirects

    e = _edges(spark, [(5, 4), (4, 3), (3, 1), (2, 1)])
    got = {r["node"]: (r["terminal"], r["resolved"])
           for r in resolve_redirects(e).collect()}
    assert got == {5: (1, True), 4: (1, True), 3: (1, True), 2: (1, True)}


def test_resolve_redirects_flags_loops_instead_of_hanging(spark):
    """A 301 loop (7->8->7) can never terminate: both nodes must come
    back resolved=False with the pointer still on a redirecting node."""
    from xdan_dqa_spark.operators.graph import resolve_redirects

    e = _edges(spark, [(7, 8), (8, 7), (1, 2)])
    got = {r["node"]: r["resolved"] for r in resolve_redirects(e, max_rounds=4).collect()}
    assert got[1] is True
    assert got[7] is False and got[8] is False


def test_resolve_redirects_long_chain_doubles_past_rounds(spark):
    """A 40-hop chain resolves in 8 doubling rounds (2^8 >> 40) — the
    log-round contract that makes this usable on deep redirect chains."""
    from xdan_dqa_spark.operators.graph import resolve_redirects

    e = _edges(spark, [(i, i - 1) for i in range(1, 41)])
    got = {r["node"]: (r["terminal"], r["resolved"])
           for r in resolve_redirects(e).collect()}
    assert all(got[i] == (0, True) for i in range(1, 41))


def test_hits_authority_concentrates_and_zero_degree_persists(spark):
    """Three hubs all pointing at node 10, one also at 11: node 10 must
    be the top authority (norm 1.0), the pure sources must be hubs with
    authority 0, and every node keeps a row."""
    from xdan_dqa_spark.operators.graph import hits_scores

    e = _edges(spark, [(1, 10), (2, 10), (3, 10), (3, 11)])
    got = {r["node"]: (r["hub"], r["authority"])
           for r in hits_scores(e, n_iter=2).collect()}
    assert set(got) == {1, 2, 3, 10, 11}
    assert got[10][1] == 1.0                       # max authority, L-inf norm
    assert got[11][1] < got[10][1]
    for src in (1, 2, 3):
        assert got[src][1] == 0.0                  # never linked-to
        assert got[src][0] > 0.0
    assert got[3][0] >= got[1][0]                  # 3 links an extra authority
    assert got[10][0] == 0.0                       # sink: no out-links


def test_hits_is_partition_invariant(spark):
    """Integer fixed-point ⇒ bit-identical scores at any parallelism."""
    from xdan_dqa_spark.operators.graph import hits_scores

    pairs = [(i, (i * 7 + 3) % 23) for i in range(200)] + [(i, 5) for i in range(40)]
    e1 = _edges(spark, pairs)
    e2 = e1.repartition(13)
    a = sorted(map(tuple, hits_scores(e1, n_iter=2).collect()))
    b = sorted(map(tuple, hits_scores(e2, n_iter=2).collect()))
    assert a == b


def test_hits_rejects_bad_params(spark):
    from xdan_dqa_spark.operators.graph import hits_scores

    with pytest.raises(ValueError):
        hits_scores(_edges(spark, [(1, 2)]), n_iter=0)


def test_kcore_keeps_clique_drops_pendants(spark):
    """K4 + a pendant chain: every K4 node has degree 3 and survives a
    3-core peel; pendants (degree <= 2) peel away round by round."""
    from xdan_dqa_spark.operators.graph import kcore_peel

    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    chain = [(3, 10), (10, 11), (11, 12)]
    got = {r["node"]: r["degree"]
           for r in kcore_peel(_edges(spark, k4 + chain), k=3, n_rounds=3).collect()}
    assert set(got) == {0, 1, 2, 3}
    assert all(d == 3 for d in got.values())


def test_kcore_rounds_are_monotone(spark):
    """Each extra round only removes nodes (bounded peel is a monotone
    over-approximation of the true core)."""
    from xdan_dqa_spark.operators.graph import kcore_peel

    # a long cycle with one chord: cycle nodes have degree 2 -> a 3-core
    # peel erodes progressively
    cyc = [(i, (i + 1) % 12) for i in range(12)] + [(0, 6), (3, 9)]
    e = _edges(spark, cyc)
    n1 = kcore_peel(e, k=3, n_rounds=1).count()
    n2 = kcore_peel(e, k=3, n_rounds=2).count()
    n3 = kcore_peel(e, k=3, n_rounds=3).count()
    assert n1 >= n2 >= n3


def test_kcore_rejects_bad_params(spark):
    from xdan_dqa_spark.operators.graph import kcore_peel

    with pytest.raises(ValueError):
        kcore_peel(_edges(spark, [(1, 2)]), k=0)


def test_link_structure_reciprocity_extremes(spark):
    from xdan_dqa_spark.operators.graph import link_structure_stats

    mutual = _edges(spark, [(1, 2), (2, 1), (3, 4), (4, 3)])
    r = link_structure_stats(mutual).collect()[0]
    assert r["n_edges"] == 4 and r["reciprocity"] == 1.0
    oneway = _edges(spark, [(1, 2), (2, 3), (3, 4)])
    r2 = link_structure_stats(oneway).collect()[0]
    assert r2["reciprocity"] == 0.0


def test_link_structure_assortativity_sign(spark):
    """Hub-and-spoke is maximally DISassortative — but with every edge
    leaving the hub the src-degree has zero variance and r is guarded
    to 0.0, so the fixture mixes edge directions (some leaves point
    INTO their hub) to put variance on both endpoints; the high-degree
    endpoint still always pairs with a degree-1 leaf -> strongly
    negative."""
    from xdan_dqa_spark.operators.graph import link_structure_stats

    e = ([(0, i) for i in (1, 2, 3)] + [(4, 0), (5, 0)]
         + [(10, i) for i in (11, 12, 13)] + [(14, 10), (15, 10)]
         + [(0, 10)])
    r = link_structure_stats(_edges(spark, e)).collect()[0]
    assert r["assortativity"] < 0


def test_local_clustering_clique_vs_star(spark):
    from xdan_dqa_spark.operators.graph import local_clustering

    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    star = [(10, i) for i in range(11, 16)]
    got = {r["node"]: r for r in
           local_clustering(_edges(spark, k4 + star), top_k=20).collect()}
    for n in range(4):
        assert got[n]["clustering"] == 1.0 and got[n]["n_triangles"] == 3
    assert got[10]["clustering"] == 0.0          # star center: no triangles
    assert 11 not in got                          # degree-1 leaves filtered


# --------------------------------------------------- label propagation

def test_lpa_two_cliques_bridge(spark):
    """Two 4-cliques joined by one bridge edge: after 3 synchronous
    rounds each clique converges to its own dominant label — the bridge
    is a single vote, outvoted by the three in-clique neighbors — so
    LPA separates what connected components would merge. (Round 1 is
    all ties — every neighbor label distinct — so each node takes its
    MIN neighbor label; the bridge node 10 briefly adopts 4, then the
    in-clique majority pulls it back: exactly the deterministic
    tie-break semantics the docstring pins.)"""
    from xdan_dqa_spark.operators.graph import label_propagation

    clique_a = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    clique_b = [(10, 11), (10, 12), (10, 13), (11, 12), (11, 13), (12, 13)]
    e = _edges(spark, clique_a + clique_b + [(4, 10)])
    got = {r["node"]: r["label"] for r in label_propagation(e, 3).collect()}
    assert got[1] == got[2] == got[3] == got[4] == 1
    assert got[10] == got[11] == got[12] == got[13] == 10


def test_lpa_deterministic_under_repartition(spark):
    from xdan_dqa_spark.operators.graph import label_propagation

    e = _edges(spark, [(i, (i * 7 + 3) % 23) for i in range(60)])
    a = sorted(map(tuple, label_propagation(e, 3).collect()))
    b = sorted(map(tuple, label_propagation(e.repartition(11), 3).collect()))
    assert a == b


def test_cocitation_counts_and_jaccard(spark):
    """srcs 1,2 both cite {100, 200}; src 3 cites {100, 300}: only the
    (100, 200) pair reaches min_shared=2, with citer-Jaccard
    2 / (3 + 2 - 2)."""
    from xdan_dqa_spark.operators.graph import cocitation_pairs

    e = _edges(spark, [(1, 100), (1, 200), (2, 100), (2, 200),
                       (3, 100), (3, 300)])
    rows = cocitation_pairs(e, min_shared=2).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["a"], r["b"], r["n_shared_citers"]) == (100, 200, 2)
    assert abs(r["cocite_jaccard"] - 2 / 3) < 1e-6   # rounded to 6 dp


def test_cocitation_dedups_multi_edges(spark):
    """Duplicate (src, dst) rows must not inflate citer counts: the
    edge list is distinct-ed first."""
    from xdan_dqa_spark.operators.graph import cocitation_pairs

    e = _edges(spark, [(1, 100), (1, 100), (1, 200), (2, 100), (2, 200)])
    r = cocitation_pairs(e, min_shared=2).collect()[0]
    assert r["n_shared_citers"] == 2 and abs(r["cocite_jaccard"] - 1.0) < 1e-9


# ------------------------------------------------------------ trustrank

def test_trustrank_spam_island_scores_zero(spark):
    """A subgraph unreachable from any seed gets trust exactly 0 —
    the property uniform-teleport PageRank lacks (every node keeps its
    (1-d)/N floor there)."""
    from xdan_dqa_spark.operators.graph import pagerank, trustrank

    # trusted cluster 1->2->3; spam island 10<->11
    e = _edges(spark, [(1, 2), (2, 3), (10, 11), (11, 10)])
    seeds = spark.createDataFrame([(1,)], "node long")
    t = {r["node"]: r["trust"] for r in trustrank(e, seeds, 3).collect()}
    assert t[10] == 0.0 and t[11] == 0.0
    assert t[1] > 0 and t[2] > 0 and t[3] > 0
    p = {r["node"]: r["rank"] for r in pagerank(e, 3).collect()}
    assert p[10] > 0  # pagerank pays the floor; trustrank does not


def test_trustrank_repartition_invariant(spark):
    from xdan_dqa_spark.operators.graph import trustrank

    e = _edges(spark, [(i, (i * 7 + 3) % 23) for i in range(60)])
    seeds = spark.createDataFrame([(0,), (5,)], "node long")
    a = sorted(map(tuple, trustrank(e, seeds, 3).collect()))
    b = sorted(map(tuple, trustrank(e.repartition(9), seeds, 3).collect()))
    assert a == b
