"""Link-graph operators for web-crawl curation: degree census and a
fixed-iteration PageRank — the crawl-frontier prioritization / spam-farm
demotion signal every web pipeline keeps next to its quality scores.

Reference scope: the reference (src/processor.py) scores documents in
isolation and has no graph surface at all; this module is part of the
beyond-reference web-pipeline layer (SURVEY.md §2.6), built Spark-first:
propagation rounds are plain join + aggregate plans — no RDDs, no
Pregel, no driver-side loops over collected data.

Cross-engine determinism discipline: PageRank is normally a float fixed
point, and float sums are ORDER-DEPENDENT — a Spark aggregation and a
DuckDB aggregation would drift in the last ulps and break value-level
oracle checks (and Spark's own DECIMAL division truncates scale to 6
when precision overflows, so decimals don't save you either). Ranks
here are INTEGER FIXED-POINT: BIGINT micro-units at 1e12 scale, every
division a round-half-up integral (2a+b) DIV (2b), damping a small
rational (17/20 by default). Zero float ops until the single terminal
/1e12 — so an n-iteration run is bit-identical in any engine, at any
parallelism, in any row order. Quantization error is < 1e-12·in_degree
per round — noise against PageRank's own iteration error."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

SCALE = 10 ** 12


def degree_census(links: DataFrame, src_col: str = "src",
                  dst_col: str = "dst") -> DataFrame:
    """Per-node (out_degree, in_degree) — the cheap structural spam
    signal (link farms: huge out_degree, low distinct targets; doorway
    pages: in_degree 0). One aggregate per direction at node grain,
    map-side combinable, full-outer merged (a node may appear on only
    one side)."""
    out_d = links.groupBy(F.col(src_col).alias("node")).agg(
        F.count("*").alias("out_degree")
    )
    in_d = links.groupBy(F.col(dst_col).alias("node")).agg(
        F.count("*").alias("in_degree")
    )
    return (
        out_d.join(in_d, "node", "full_outer")
        .select(
            "node",
            F.coalesce(F.col("out_degree"), F.lit(0)).alias("out_degree"),
            F.coalesce(F.col("in_degree"), F.lit(0)).alias("in_degree"),
        )
    )


def triangle_census(links: DataFrame, src_col: str = "src",
                    dst_col: str = "dst") -> DataFrame:
    """Global triangle census over the UNDIRECTED simplification of an
    edge list: one row (n_nodes, n_edges, n_triangles). Triangle density
    is the classic link-farm fingerprint — organic web neighborhoods
    are sparse in triangles, while paid-link cliques and mirror rings
    are triangle-saturated — so the census rides next to degree_census
    in crawl-curation reports.

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


def _rdiv(a, b):
    """Round-half-up integer division of non-negative BIGINT columns."""
    return F.expr(f"({a} * 2 + {b}) DIV ({b} * 2)")


def pagerank(links: DataFrame, n_iter: int = 3,
             damping_num: int = 17, damping_den: int = 20,
             src_col: str = "src", dst_col: str = "dst") -> DataFrame:
    """Fixed-iteration PageRank over an edge list; returns (node, rank)
    for every node that appears as source or target.

    Semantics: ranks start uniform at 1/N; each round every node sends
    rank/out_degree along its out-edges, and
    new_rank = (1−d)/N + d·(received sum), d = damping_num/damping_den
    (17/20 = 0.85 default). Dangling nodes (out_degree 0) keep receiving
    but send nothing — their mass leaks, the standard simplification
    when ranking is relative (crawl prioritization), documented rather
    than silently redistributed. All arithmetic is 1e12-scaled integer
    fixed-point (module docstring) — bit-deterministic cross-engine.

    Scale shape per round: ONE shuffle — contributions group on the
    destination key (map-side partial sums first), then a LEFT join
    back to the bounded node table keeps zero-in-degree nodes. The node
    table and per-node out-degree are computed ONCE before the loop.
    The Python for loop builds the PLAN only (n_iter is a small
    constant); nothing collects to the driver. Lineage grows n_iter
    joins deep — past ~10 rounds, persist/checkpoint the frontier per
    round as operators/dedup.py:cc_dedup does. A mega-in-degree node
    (everyone links the homepage) is one hot reduce key whose partial
    sums combine map-side, so the skew AQE sees is already collapsed.
    BIGINT headroom: total mass is ≤ SCALE (1e12) micro-units, so even
    a node receiving ALL mass times damping_num stays ~1e13 ≪ 2⁶³."""
    if n_iter < 1:
        raise ValueError(f"n_iter must be >= 1, got {n_iter}")
    if not (0 < damping_num < damping_den):
        raise ValueError(
            f"damping must satisfy 0 < num < den, got {damping_num}/{damping_den}"
        )

    e = links.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    deg = e.groupBy("src").agg(F.count("*").alias("deg"))
    n_tbl = nodes.agg(F.count("*").alias("_n"))

    ranks = (
        nodes.crossJoin(F.broadcast(n_tbl))
        .select("node", _rdiv(str(SCALE), "_n").alias("fp"))
    )
    base_num = (damping_den - damping_num) * SCALE  # (1-d)·SCALE·den
    for _ in range(n_iter):
        contrib = (
            e.join(ranks, e.src == ranks.node)
            .join(deg, "src")
            .select(F.col("dst").alias("node"), _rdiv("fp", "deg").alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("received"))
        )
        ranks = (
            ranks.select("node")
            .join(contrib, "node", "left")
            .crossJoin(F.broadcast(n_tbl))
            .select(
                "node",
                (
                    _rdiv(str(base_num), f"_n * {damping_den}")
                    + _rdiv(
                        f"coalesce(received, 0L) * {damping_num}",
                        str(damping_den),
                    )
                ).alias("fp"),
            )
        )
    return ranks.select(
        "node", (F.col("fp").cast("double") / F.lit(float(SCALE))).alias("rank")
    )


def resolve_redirects(edges: DataFrame, src_col: str = "src",
                      dst_col: str = "dst",
                      max_rounds: int = 8) -> DataFrame:
    """Resolve HTTP-redirect chains to their terminal target — the URL
    canonicalization step a crawl runs before dedup (a page reachable
    via 4 hops of 301s must collapse onto its final URL). Input is a
    FUNCTIONAL edge list (≤1 out-edge per src — a url redirects to one
    place; feed `url_dedup`'s last-wins winner per src if yours has
    history). Returns (node, terminal, resolved) for every src:
    `terminal` is where the chain ends after following up to
    2^max_rounds hops, `resolved` is False when the pointer still sits
    on a redirecting node (a longer chain — raise max_rounds — or a
    redirect LOOP, which real crawls do contain and must flag, not
    hang on).

    Algorithm: POINTER DOUBLING (path halving), not per-hop walking —
    each round rewrites ptr ← f(ptr) using the CURRENT resolved table
    as f, so after k rounds every pointer has advanced 2^k hops. A
    30-hop chain costs 5 join rounds instead of 30; at web scale the
    round count is log₂(longest chain), each round ONE equi-join +
    the convergence count that also materializes the lazy
    localCheckpoint (the same one-job-per-round discipline as
    connected_components above). Distinct from CC: this is function
    iteration on a digraph (chases direction), not undirected label
    spreading."""
    f = edges.select(
        F.col(src_col).alias("node"), F.col(dst_col).alias("ptr")
    ).distinct().localCheckpoint(eager=True)
    srcs = f.select(F.col("node").alias("_s")).distinct().localCheckpoint(eager=True)
    cur = f
    for _ in range(max_rounds):
        nxt = (
            cur.alias("a")
            .join(cur.select(F.col("node").alias("ptr"),
                             F.col("ptr").alias("_p2")).alias("b"),
                  "ptr", "left")
            .select(
                "node",
                F.col("ptr").alias("_old"),
                F.coalesce(F.col("_p2"), F.col("ptr")).alias("ptr"),
            )
            .localCheckpoint(eager=False)
        )
        changed = nxt.filter(F.col("ptr") != F.col("_old")).count()
        cur = nxt.select("node", "ptr")
        if changed == 0:
            break
    return cur.join(srcs, cur.ptr == srcs._s, "left").select(
        "node",
        F.col("ptr").alias("terminal"),
        F.col("_s").isNull().alias("resolved"),
    )


HITS_SCALE = 10 ** 6


def hits_scores(links: DataFrame, n_iter: int = 2,
                src_col: str = "src", dst_col: str = "dst") -> DataFrame:
    """Fixed-iteration HITS (Kleinberg 1999): (node, hub, authority) for
    every node in the edge list — the complementary link signal to
    PageRank for crawl curation: a good HUB is a page whose out-links
    concentrate on good authorities (directory/index pages worth
    recrawling often), a good AUTHORITY is one linked by good hubs
    (content worth keeping); link farms light up BOTH at once, which is
    exactly the spam fingerprint.

    Semantics per round: a'(v) = sum of h(u) over in-edges u->v, then
    h'(u) = sum of a'(v) over out-edges; after each half-step scores
    renormalize so max = 1 (the standard L-inf normalization, which
    keeps the iteration from diverging and makes scores comparable).

    Cross-engine determinism (module docstring): scores are BIGINT
    fixed-point at 1e6 scale, sums are integer (order-independent), and
    the renormalization is round-half-up integral division by the
    current max — scale chosen so the worst intermediate
    (sum <= n_nodes * HITS_SCALE, times 2 in _rdiv, times HITS_SCALE in
    the renorm numerator) stays under 2^63 for graphs up to ~10^6
    nodes per connected blast radius; for larger graphs drop
    HITS_SCALE a decade per decade of nodes (documented knob, the
    ranking resolution is still 1e-5 at 1e5 scale).

    Scale shape per round: TWO key-grained shuffles (one per
    half-step: hub mass groups on dst, authority mass groups on src,
    both with map-side partial sums) plus a 1-row max broadcast per
    half-step. The Python loop builds the plan only; n_iter is a small
    constant (2 rounds separate farms from organic hubs; the classic
    convergent ranking needs ~20 — checkpoint per round past ~5 like
    pagerank's lineage note). Zero-degree sides persist via LEFT joins
    from the node table, scoring 0 rather than vanishing."""
    if n_iter < 1:
        raise ValueError(f"n_iter must be >= 1, got {n_iter}")
    e = links.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    hub = nodes.select("node", F.lit(HITS_SCALE).cast("long").alias("h"))

    def _renorm(df, col):
        mx = df.agg(F.max(col).alias("_mx"))
        return df.crossJoin(F.broadcast(mx)).select(
            "node",
            F.when(F.col("_mx") > 0,
                   _rdiv(f"{col} * {HITS_SCALE}", "_mx"))
            .otherwise(F.lit(0)).cast("long").alias(col),
        )

    auth = None
    for _ in range(n_iter):
        a_raw = (
            e.join(hub.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("h").alias("a"))
        )
        auth = _renorm(
            nodes.join(a_raw, "node", "left").select(
                "node", F.coalesce(F.col("a"), F.lit(0)).alias("a")
            ),
            "a",
        )
        h_raw = (
            e.join(auth.withColumnRenamed("node", "dst"), "dst")
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum("a").alias("h"))
        )
        hub = _renorm(
            nodes.join(h_raw, "node", "left").select(
                "node", F.coalesce(F.col("h"), F.lit(0)).alias("h")
            ),
            "h",
        )
    return (
        hub.join(auth, "node")
        .select(
            "node",
            (F.col("h").cast("double") / float(HITS_SCALE)).alias("hub"),
            (F.col("a").cast("double") / float(HITS_SCALE)).alias("authority"),
        )
    )


def kcore_peel(links: DataFrame, k: int = 3, n_rounds: int = 3,
               src_col: str = "src", dst_col: str = "dst") -> DataFrame:
    """Bounded k-core peel over the UNDIRECTED simplification of an edge
    list: repeatedly drop nodes with degree < k (and their edges) for
    ``n_rounds`` rounds; returns the surviving (node, degree). The
    k-core is the densely-interlinked kernel of a link graph — paid-link
    rings and mirror farms survive deep cores that organic neighborhoods
    don't, so this rides next to triangle_census in spam reports.

    BOUNDED rounds, deliberately: the exact k-core needs
    peel-until-fixpoint (O(peel depth) rounds), but a FIXED round count
    makes the result a deterministic, engine-portable function of the
    input — each extra round only removes more nodes, so round r is a
    monotone over-approximation of the true core, and spam kernels
    (the target) are already stable after 2-3 rounds. Pass a larger
    ``n_rounds`` + localCheckpoint per round (cc_dedup's pattern) when
    the exact core matters more than the oracle.

    Scale shape per round: ONE degree aggregate (map-side combinable) +
    two semi-joins filtering the edge list on surviving endpoints —
    all equi-keyed, no windows, no driver state. Self-loops dropped,
    parallel/reverse duplicates collapsed (a multigraph would inflate
    degrees). The edge frontier is localCheckpoint-ed per round —
    connected_components' lineage discipline: without the cut, round
    r's plan re-derives every earlier round (a 3-round peel measured
    499 Exchanges; with the cut, ~5 per round), and the re-execution
    compounds exponentially with rounds."""
    if k < 1 or n_rounds < 1:
        raise ValueError(f"k and n_rounds must be >= 1 (got k={k}, n_rounds={n_rounds})")
    e = links.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"))
    und = (
        e.filter(F.col("u") != F.col("v"))
        .select(F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v"))
        .distinct()
    )
    sym = und.unionByName(
        und.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint(eager=True)
    for _ in range(n_rounds):
        deg = sym.groupBy("u").agg(F.count("*").alias("degree"))
        keep = deg.filter(F.col("degree") >= k).select("u")
        sym = (
            sym.join(keep, "u", "left_semi")
            .join(keep.withColumnRenamed("u", "v"), "v", "left_semi")
            .select("u", "v")
            .localCheckpoint(eager=True)
        )
    return (
        sym.groupBy(F.col("u").alias("node"))
        .agg(F.count("*").alias("degree"))
        .filter(F.col("degree") >= k)
    )


def link_structure_stats(links: DataFrame, src_col: str = "src",
                         dst_col: str = "dst") -> DataFrame:
    """One-row structural health report of a directed link graph:
    (n_edges, reciprocity, assortativity). Reciprocity — the fraction
    of distinct directed edges whose reverse also exists — separates
    mutual-exchange link rings (high) from organic citation flow (low);
    degree assortativity — Pearson r between the endpoints' total
    degrees across edges — is positive when heavy nodes link heavy
    nodes (farm cliques) and negative for hub-and-spoke organic webs.

    Determinism discipline (feature_correlation's moment pattern):
    degrees are integers, all five moment sums (Σx, Σy, Σxy, Σx², Σy²)
    are exact DECIMAL(38,0) integer aggregates — order-independent and
    map-side combinable — and the final r is ONE fixed IEEE expression
    on the aggregated scalars. Reciprocity is an integer count ratio
    divided once.

    Scale shape: dedup + self-loop drop (one shuffle), reciprocity via
    a LEFT SEMI self-join on the reversed key (never an all-pairs
    product), degree attach via two node-keyed joins against the
    bounded degree table, then ONE global fold to a single row."""
    e = (
        links.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    recip = e.join(
        e.select(F.col("v").alias("u"), F.col("u").alias("v")),
        ["u", "v"], "left_semi",
    ).agg(F.count("*").alias("_nr"))
    tot_deg = (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    paired = (
        e.join(tot_deg.withColumnRenamed("node", "u")
               .withColumnRenamed("deg", "dx"), "u")
        .join(tot_deg.withColumnRenamed("node", "v")
              .withColumnRenamed("deg", "dy"), "v")
    )
    # moment widths mirror metrics.feature_correlation: products at
    # DECIMAL(19,0) x DECIMAL(18,0) -> exact (38,0) with no engine
    # precision clamp, then (38,0) sums
    x19, y19 = F.col("dx").cast("decimal(19,0)"), F.col("dy").cast("decimal(19,0)")
    x18, y18 = F.col("dx").cast("decimal(18,0)"), F.col("dy").cast("decimal(18,0)")
    m = paired.agg(
        F.count("*").alias("n_edges"),
        F.sum(F.col("dx").cast("decimal(38,0)")).alias("_sx"),
        F.sum(F.col("dy").cast("decimal(38,0)")).alias("_sy"),
        F.sum((x19 * y18).cast("decimal(38,0)")).alias("_sxy"),
        F.sum((x19 * x18).cast("decimal(38,0)")).alias("_sxx"),
        F.sum((y19 * y18).cast("decimal(38,0)")).alias("_syy"),
    )
    n = F.col("n_edges").cast("double")
    sx, sy = F.col("_sx").cast("double"), F.col("_sy").cast("double")
    sxy = F.col("_sxy").cast("double")
    sxx, syy = F.col("_sxx").cast("double"), F.col("_syy").cast("double")
    var_ok = ((n * sxx - sx * sx) > 0) & ((n * syy - sy * sy) > 0)
    r = (n * sxy - sx * sy) / (
        F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)
    )
    return m.crossJoin(F.broadcast(recip)).select(
        "n_edges",
        F.round(
            F.col("_nr").cast("double") / F.col("n_edges").cast("double"), 9
        ).alias("reciprocity"),
        F.round(F.when(var_ok, r).otherwise(F.lit(0.0)), 9).alias("assortativity"),
    )


def local_clustering(links: DataFrame, top_k: int = 20, min_degree: int = 2,
                     src_col: str = "src", dst_col: str = "dst") -> DataFrame:
    """Per-node local clustering coefficient — triangles_at(v) /
    C(deg(v), 2) — for the ``top_k`` most clustered nodes (ties node
    ASC, degree >= ``min_degree``): the NODE-LEVEL link-farm
    fingerprint behind triangle_census' global count (a paid-link ring
    member's neighborhood is near-complete — coefficient -> 1 — while
    organic hubs sit near 0). Returns (node, degree, n_triangles,
    clustering).

    Scale shape: the same degree-ordered orientation as
    triangle_census (each node's out-neighborhood is O(sqrt m), wedge
    output bounded at O(m^1.5)), but the closing join KEEPS all three
    corners and explodes them into one combinable per-node count —
    each triangle credits its three nodes exactly once. The
    coefficient is one division of exact integers; selection orders by
    the ROUNDED value with a node tie-break."""
    e = (
        links.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .select(F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v"))
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
    ).select(
        F.col("o1.a").alias("wa"), F.col("o1.b").alias("wm"),
        F.col("o2.b").alias("wc"),
    )
    closing = o.select(F.col("a").alias("wa"), F.col("b").alias("wc"))
    tris = wedges.join(closing, ["wa", "wc"])
    per_node = (
        tris.select(
            F.explode(F.array("wa", "wm", "wc")).alias("node")
        )
        .groupBy("node")
        .agg(F.count("*").alias("n_triangles"))
    )
    joined = deg.join(per_node, "node", "left").select(
        "node", "deg",
        F.coalesce(F.col("n_triangles"), F.lit(0)).alias("n_triangles"),
    ).filter(F.col("deg") >= min_degree)
    coef = F.round(
        F.lit(2.0) * F.col("n_triangles").cast("double")
        / (F.col("deg").cast("double") * (F.col("deg") - 1).cast("double")),
        9,
    )
    w = Window.orderBy(F.desc("clustering"), F.asc("node"))
    return (
        joined.withColumn("clustering", coef)
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= top_k)
        .select("node", F.col("deg").alias("degree"), "n_triangles",
                "clustering")
    )


def label_propagation(links: DataFrame, n_rounds: int = 3,
                      src_col: str = "src", dst_col: str = "dst") -> DataFrame:
    """(node, label) community labels after ``n_rounds`` of SYNCHRONOUS
    label propagation (Raghavan et al. 2007) over the undirected
    simplification of the edge list — the linear-time community
    detector web pipelines run to group mirror rings and template
    families when connected components is too coarse (CC merges
    anything touching; LPA needs a DENSE neighborhood to pull a node
    over).

    Determinism discipline: LPA is normally run asynchronously with
    random tie-breaks; here every round is synchronous, every node
    adopts the label with the highest neighbor VOTE COUNT with ties to
    the SMALLEST label, and rounds are a fixed constant — so the result
    is a pure function of the edge set (bounded rounds also sidestep
    the classic bipartite oscillation, the reason async variants
    exist). Votes are neighbor-only (no self-vote); initial label =
    node id.

    Scale shape per round: one join (edges × labels, dst-keyed) and TWO
    map-side-combinable aggregates — count votes per (node, label),
    then max-count / min-label per node via a count-then-join (NOT a
    per-node window: a 10⁹-degree hub's votes would sort in one window
    task, while the aggregate folds them map-side). Lineage is cut per
    round with localCheckpoint like connected_components."""
    if n_rounds < 1:
        raise ValueError(f"n_rounds must be >= 1, got {n_rounds}")
    e = links.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"))
    edges = e.unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).distinct().localCheckpoint(eager=True)
    labels = edges.select(F.col("u").alias("node")).distinct().withColumn(
        "label", F.col("node")
    )
    for _ in range(n_rounds):
        votes = (
            edges.join(labels.withColumnRenamed("node", "v"), "v")
            .groupBy(F.col("u").alias("node"), F.col("label"))
            .agg(F.count("*").alias("c"))
        )
        best_c = votes.groupBy("node").agg(F.max("c").alias("mc"))
        labels = (
            votes.join(best_c, "node")
            .filter(F.col("c") == F.col("mc"))
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            .localCheckpoint(eager=True)
        )
    return labels


def cocitation_pairs(links: DataFrame, min_shared: int = 2,
                     src_col: str = "src", dst_col: str = "dst") -> DataFrame:
    """Co-citation similarity (Small 1973): pairs of TARGET pages cited
    by the same sources — (a, b, n_shared_citers, cocite_jaccard) for
    every dst pair sharing >= ``min_shared`` in-linking srcs, where
    cocite_jaccard = shared / (in(a) + in(b) - shared) over distinct
    citers. The "related pages" signal that needs no content at all:
    two URLs repeatedly linked from the same pages are topically bound
    even when their text shares nothing (the complement to text
    near-dup — used to group mirrors ACROSS hosts and to expand
    blocklists from seed spam pages).

    Scale shape: distinct edges, then a src-keyed self-join whose
    output per src is out_degree² — the SAME quadratic-bucket geometry
    as an LSH band bucket, so the identical mitigation applies: at web
    scale, pre-cap each src's out-list (dedup.py:cap_band_buckets
    pattern) or drop mega-hubs (a directory page linking 10⁵ targets
    asserts little about any pair). Fixture out-degree is a small
    constant. The pair aggregate and both in-degree folds are map-side
    combinable; ``min_shared`` prunes the pair table before the
    in-degree join."""
    if min_shared < 1:
        raise ValueError(f"min_shared must be >= 1, got {min_shared}")
    e = links.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst")).distinct()
    left = e.select("src", F.col("dst").alias("a"))
    right = e.select("src", F.col("dst").alias("b"))
    shared = (
        left.join(right, "src")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_shared_citers"))
        .filter(F.col("n_shared_citers") >= min_shared)
    )
    ind = e.groupBy("dst").agg(F.count("*").alias("_in"))
    return (
        shared.join(ind.select(F.col("dst").alias("a"), F.col("_in").alias("_ia")), "a")
        .join(ind.select(F.col("dst").alias("b"), F.col("_in").alias("_ib")), "b")
        .select(
            "a", "b", "n_shared_citers",
            F.round(
                F.col("n_shared_citers").cast("double")
                / (F.col("_ia") + F.col("_ib") - F.col("n_shared_citers")).cast("double"),
                6,
            ).alias("cocite_jaccard"),
        )
    )


def trustrank(links: DataFrame, seeds: DataFrame, n_iter: int = 3,
              damping_num: int = 17, damping_den: int = 20,
              src_col: str = "src", dst_col: str = "dst",
              seed_col: str = "node") -> DataFrame:
    """Fixed-iteration TrustRank (Gyöngyi, Garcia-Molina & Pedersen,
    VLDB 2004): PageRank whose teleport mass is restricted to a curated
    SEED set of trusted pages — trust flows out along links, so pages
    reachable only from spam neighborhoods score ~0 while a uniform-
    teleport PageRank would still pay them their (1−d)/N floor. This is
    the standard whitelist-propagation signal a crawl pipeline runs
    NEXT TO pagerank: rank high + trust low = the link-farm flag.

    Returns (node, trust) for every node in the edge list. Semantics
    per round: trust(v) = (1−d)·[v ∈ S]/|S| + d·Σ_{u→v} trust(u)/deg(u);
    init = 1/|S| on seeds, 0 elsewhere; dangling mass leaks exactly as
    in :func:`pagerank` (relative ranking, documented).

    Same determinism contract as pagerank (module docstring): 1e12
    integer fixed-point, round-half-up integral divisions, zero float
    ops until the terminal /1e12 — bit-identical cross-engine at any
    parallelism. Same scale shape too: ONE dst-keyed shuffle per round
    with map-side partial sums; the seed flag is a broadcast-joined
    bounded column; |S| is a 1-row broadcast."""
    if n_iter < 1:
        raise ValueError(f"n_iter must be >= 1, got {n_iter}")
    if not (0 < damping_num < damping_den):
        raise ValueError(
            f"damping must satisfy 0 < num < den, got {damping_num}/{damping_den}"
        )
    e = links.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    flagged = nodes.join(
        seeds.select(F.col(seed_col).alias("node")).distinct()
        .withColumn("_is_seed", F.lit(1)),
        "node", "left",
    ).select("node", F.coalesce(F.col("_is_seed"), F.lit(0)).alias("_is_seed"))
    s_tbl = flagged.agg(F.sum("_is_seed").alias("_s"))
    deg = e.groupBy("src").agg(F.count("*").alias("deg"))

    ranks = (
        flagged.crossJoin(F.broadcast(s_tbl))
        .select(
            "node", "_is_seed",
            F.when(F.col("_is_seed") == 1, _rdiv(str(SCALE), "_s"))
            .otherwise(F.lit(0).cast("long")).alias("fp"),
        )
    )
    base_num = (damping_den - damping_num) * SCALE
    for _ in range(n_iter):
        contrib = (
            e.join(ranks.select("node", "fp"), e.src == F.col("node"))
            .join(deg, "src")
            .select(F.col("dst").alias("node"), _rdiv("fp", "deg").alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("received"))
        )
        ranks = (
            flagged.join(contrib, "node", "left")
            .crossJoin(F.broadcast(s_tbl))
            .select(
                "node", "_is_seed",
                (
                    F.when(
                        F.col("_is_seed") == 1,
                        _rdiv(str(base_num), f"_s * {damping_den}"),
                    ).otherwise(F.lit(0).cast("long"))
                    + _rdiv(
                        f"coalesce(received, 0L) * {damping_num}",
                        str(damping_den),
                    )
                ).alias("fp"),
            )
        )
    return ranks.select(
        "node", (F.col("fp").cast("double") / F.lit(float(SCALE))).alias("trust")
    )
