"""Link-graph triangle census for web-crawl curation: the link-farm
clique signal over a document link graph.

Reference scope: the reference (src/processor.py) scores documents in
isolation and has no graph surface at all; this module is part of the
beyond-reference web-pipeline layer (SURVEY.md §2.6), built Spark-first:
plain join + aggregate plans — no RDDs, no Pregel, no driver-side loops
over collected data. Counts are integers, so the result is identical in
any engine, at any parallelism, in any row order."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def triangle_census(links: DataFrame, src_col: str = "src",
                    dst_col: str = "dst") -> DataFrame:
    """Global triangle census over the UNDIRECTED simplification of an
    edge list: one row (n_nodes, n_edges, n_triangles). Triangle density
    is the classic link-farm fingerprint — organic web neighborhoods
    are sparse in triangles, while paid-link cliques and mirror rings
    are triangle-saturated.

    Scale shape (the textbook degree-ordered orientation, Chiba–Nishizeki
    / Suri–Vassilvitskii): direct every undirected edge from its
    lower-(degree, node) endpoint to the higher one, so each node's
    OUT-neighborhood is O(√m) even for celebrity nodes — the wedge
    self-join's output is bounded by Σ out_deg² = O(m^1.5) total, where
    the unoriented join would emit Σ deg² (quadratic in the hottest
    node's degree: a 10⁷-in-degree homepage alone would yield 10¹⁴
    wedges). Each wedge (a→b, b→c) is closed by ONE more equi-join
    probe against the oriented edge set on (a, c); every oriented
    triangle a<b<c (in rank order) is counted exactly once. Three
    shuffles total (degree agg, wedge join, closing join), all
    equi-keyed, no windows, no driver state.

    Rank ties are broken by node id, so the orientation — hence the
    plan's intermediate sizes — is deterministic; the final COUNTS are
    orientation-independent anyway. Self-loops are dropped; parallel /
    reverse duplicate edges collapse via distinct (a multigraph would
    otherwise multiply-count its triangles)."""
    e = (
        links.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("u"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    deg = (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("_du"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("_dv"))
    ranked = e.join(du, "u").join(dv, "v")
    u_first = F.struct(F.col("_du"), F.col("u")) < F.struct(F.col("_dv"), F.col("v"))
    o = ranked.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("b"),
    )
    wedges = o.alias("o1").join(
        o.alias("o2"), F.col("o1.b") == F.col("o2.a")
    ).select(F.col("o1.a").alias("wa"), F.col("o2.b").alias("wc"))
    closing = o.select(F.col("a").alias("wa"), F.col("b").alias("wc"))
    n_tri = wedges.join(closing, ["wa", "wc"]).agg(
        F.count("*").alias("n_triangles")
    )
    n_nodes = deg.agg(F.count("*").alias("n_nodes"))
    n_edges = e.agg(F.count("*").alias("n_edges"))
    return n_nodes.crossJoin(F.broadcast(n_edges)).crossJoin(F.broadcast(n_tri))
