"""Distributed probabilistic sketches: HyperLogLog cardinality,
count-min frequency and fixed-threshold theta samples — the
sublinear-state summaries a 100 TB pipeline runs where exact answers
would shuffle the corpus (vocabulary size per shard, heavy-hitter
terms, vocabulary overlap).

Reference scope: the reference (src/processor.py) has no sketch surface;
this module is part of the beyond-reference scale layer (SURVEY.md
§2.6). Spark ships built-in approximations (approx_count_distinct,
Bloom in the optimizer), but their hash seeds and merge order are
engine-internal, so their OUTPUTS cannot be oracle-checked. These
sketches instead derive every hash from md5 — available and
bit-identical in any engine — and keep all aggregation in integer /
DECIMAL space (max and exact sums are order-independent), so the whole
sketch, not just its contract, is verifiable bit-for-bit against DuckDB
at any parallelism. The float ops that remain are single terminal
scalar expressions on already-aggregated values (deterministic: one
round-to-nearest conversion, no reassociation).

Cross-engine determinism discipline: aggregate in {max, integer sum,
DECIMAL(38,0) sum} only; divide once at the end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# HyperLogLog geometry: m = 2^P registers; the remaining W bits of the
# 64-bit md5-derived hash feed the leading-zero rank, rho in [1, W+1].
HLL_P = 8
HLL_M = 1 << HLL_P          # 256 registers
_HLL_W = 56                 # hash bits left after the register index
_HLL_RHO_MAX = _HLL_W + 1   # rank when the suffix is all zeros

# Count-min geometry: D independent rows of WIDTH counters. Error bound
# is eps = e/WIDTH of the stream length with prob 1 - e^-D.
CMS_D = 4
CMS_WIDTH = 1024

def _h32(col: F.Column, salt: str | int = "") -> F.Column:
    """First 32 bits of md5(salt:value) as a non-negative BIGINT — the
    one hash primitive every engine evaluates identically."""
    return F.conv(F.substring(F.md5(F.concat(F.lit(f"{salt}:"), col)), 1, 8),
                  16, 10).cast("long")


def hll_registers(df: DataFrame, col: str) -> DataFrame:
    """(idx, rho) HyperLogLog register table over ``df[col]``.

    Per value: a 64-bit hash from md5 carried as two 32-bit halves
    (conv of 16 hex chars would overflow a signed long — same layout as
    operators/dedup.py's SimHash). Low HLL_P bits of the first half are
    the register index; the remaining 56 bits w rank by leading zeros,
    computed EXACTLY as 57 - length(bin(w)) — bin() renders the minimal
    binary string in both Spark and DuckDB, so no float log2 near a
    power-of-two boundary can flip the rank. Register merge is max():
    order-independent, duplicate-insensitive (so the input needs no
    distinct), and map-side combinable — shuffle rows out = registers
    touched, never values."""
    c = F.col(col).cast("string")
    hl = _h32(c, "hl")
    hh = _h32(c, "hh")
    idx = hl.bitwiseAND(F.lit(HLL_M - 1))
    w = F.shiftright(hl, HLL_P) * F.lit(1 << 32).cast("long") + hh
    rho = F.when(w == 0, F.lit(_HLL_RHO_MAX)).otherwise(
        F.lit(_HLL_RHO_MAX) - F.length(F.bin(w))
    )
    return (
        df.select(idx.alias("idx"), rho.alias("rho"))
        .groupBy("idx")
        .agg(F.max("rho").alias("rho"))
    )


def hll_estimate(df: DataFrame, col: str) -> DataFrame:
    """One-row HyperLogLog cardinality report: (m, n_zero_registers,
    hll_estimate, exact_distinct, rel_error).

    The harmonic mean is kept EXACT until the last step: each register
    contributes 2^(57 - rho) — an integer in [1, 2^56] — summed as
    DECIMAL(38,0) (256 registers x 2^56 can exceed a signed long);
    absent registers contribute 2^57 each. The single float division
    happens once on the two aggregated scalars, and the small-range
    linear-counting correction (E <= 2.5m with empty registers) is one
    scalar ln. alpha_m is the standard bias constant for m = 256.

    ``exact_distinct`` is computed alongside (count_distinct — one extra
    aggregate over the same scan) so the report self-documents the
    sketch error; at 100 TB you would drop that column and keep only
    the 256-row register state, which merges across shards/days with
    max() — the whole point of the sketch."""
    base = hll_estimate_from_registers(hll_registers(df, col))
    exact = df.agg(F.count_distinct(F.col(col)).alias("exact_distinct"))
    return base.crossJoin(exact).select(
        "m",
        "n_zero_registers",
        "hll_estimate",
        "exact_distinct",
        F.round(
            (F.col("hll_estimate") - F.col("exact_distinct").cast("double"))
            / F.col("exact_distinct").cast("double"),
            6,
        ).alias("rel_error"),
    )


def hll_estimate_from_registers(regs: DataFrame) -> DataFrame:
    """(m, n_zero_registers, hll_estimate) from an (idx, rho) register
    table — the MERGE-SIDE finisher: shard/day/stream register tables
    union + max() into one table, and this turns it into the estimate."""
    # 2^(57-rho) exactly: never float pow() — an integer shiftleft (the
    # max single contribution 2^56 fits a long), widened to DECIMAL(38,0)
    # before the sum because 256 registers x 2^56 can exceed 2^63. The
    # python API's shiftleft only takes a literal shift, so SQL-expr it.
    contrib = F.expr(
        f"cast(shiftleft(cast(1 as bigint), cast({_HLL_RHO_MAX} - rho as int)) "
        "as decimal(38,0))"
    )
    s = regs.agg(
        F.count("*").alias("n_present"),
        F.sum(contrib).alias("s_present"),
    )
    alpha = 0.7213 / (1.0 + 1.079 / HLL_M)
    out = s.select(
        F.lit(HLL_M).alias("m"),
        (F.lit(HLL_M) - F.col("n_present")).alias("n_zero_registers"),
        (
            F.col("s_present")
            + (F.lit(HLL_M) - F.col("n_present")).cast("decimal(38,0)")
            * F.lit(1 << 57).cast("decimal(38,0)")
        ).alias("_s_total"),
    )
    raw = (
        F.lit(alpha * HLL_M * HLL_M * float(1 << 57))
        / F.col("_s_total").cast("double")
    )
    v = F.col("n_zero_registers").cast("double")
    est = F.when(
        (raw <= F.lit(2.5 * HLL_M)) & (v > 0),
        F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / v),
    ).otherwise(raw)
    return out.select(
        "m",
        "n_zero_registers",
        F.round(est, 4).alias("hll_estimate"),
    )


def cms_table(df: DataFrame, col: str, weight: F.Column | None = None) -> DataFrame:
    """(row_id, col_id, cnt) count-min sketch of the ``col`` stream —
    CMS_D x CMS_WIDTH counters, one exploded struct array per input row
    (x D rows into ONE map-side-combined aggregate; shuffle rows out
    are bounded by D*WIDTH = 4 096 regardless of stream length)."""
    w = weight if weight is not None else F.lit(1).cast("long")
    cells = F.array(*[
        F.struct(
            F.lit(d).alias("row_id"),
            F.pmod(_h32(F.col(col).cast("string"), d), F.lit(CMS_WIDTH)).alias("col_id"),
        )
        for d in range(CMS_D)
    ])
    return (
        df.select(F.explode(cells).alias("_c"), w.alias("_w"))
        .groupBy(F.col("_c.row_id").alias("row_id"), F.col("_c.col_id").alias("col_id"))
        .agg(F.sum("_w").alias("cnt"))
    )


def cms_heavy_hitters(df: DataFrame, col: str, top_k: int = 20) -> DataFrame:
    """Heavy-hitter report: the ``top_k`` most frequent values with
    their TRUE counts next to their count-min ESTIMATES —
    (value, true_cnt, cms_estimate, overcount).

    The estimate is min over the D rows of the value's counter cell; by
    construction cms_estimate >= true_cnt always, and the overcount
    column makes the sketch's collision error visible on real data
    instead of asserted. At 100 TB the true-count side is what you can
    NOT afford on the full stream — you'd keep only cms_table (4 096
    counters, mergeable by cell-wise sum) and probe candidates; this
    report form exists to be oracle-checked end to end.

    All integer: true counts and cell sums are exact; min/least is
    order-independent. Top-k selection tie-breaks by value ascending so
    the report is total-order deterministic."""
    sketch = cms_table(df, col)
    truth = df.groupBy(F.col(col).cast("string").alias("value")).agg(
        F.count("*").alias("true_cnt")
    )
    w = Window.orderBy(F.desc("true_cnt"), F.asc("value"))
    top = truth.withColumn("_rk", F.row_number().over(w)).filter(
        F.col("_rk") <= top_k
    ).drop("_rk")
    # probe: join each candidate's D cells against the sketch
    probes = top.select(
        "value", "true_cnt",
        F.explode(F.array(*[
            F.struct(
                F.lit(d).alias("row_id"),
                F.pmod(_h32(F.col("value"), d), F.lit(CMS_WIDTH)).alias("col_id"),
            )
            for d in range(CMS_D)
        ])).alias("_c"),
    ).select("value", "true_cnt",
             F.col("_c.row_id").alias("row_id"), F.col("_c.col_id").alias("col_id"))
    est = (
        probes.join(sketch, ["row_id", "col_id"])
        .groupBy("value", "true_cnt")
        .agg(F.min("cnt").alias("cms_estimate"))
    )
    return est.select(
        "value", "true_cnt", "cms_estimate",
        (F.col("cms_estimate") - F.col("true_cnt")).alias("overcount"),
    )


# --------------------------------------------------------------- theta

# Theta-sketch sampling rate: keep hashes below 2^32 / 2^THETA_LG — a
# fixed 1/64 uniform sample of the DISTINCT-value space (not the row
# space: sampling is on the value hash, so every occurrence of a kept
# value is kept, and the sample is closed under union/intersection
# across shards — the property HLL registers lack).
THETA_LG = 6


def theta_sample(df: DataFrame, col: str, lg_theta: int = THETA_LG,
                 salt: str = "th") -> DataFrame:
    """(v, h) fixed-threshold theta sample of DISTINCT values: rows
    whose 32-bit md5 hash falls below 2^32/2^lg_theta, one row per
    distinct kept value.

    This is the Theta/KMV sketch family with a FIXED theta (Dasgupta et
    al., DataSketches): a deterministic 1/2^lg_theta coordinated sample
    of the value space. Unlike a bottom-k KMV, the threshold does not
    depend on the data, so the sample is a pure map-side filter — no
    global k-smallest state — and two shards' samples merge by UNION,
    two corpora INTERSECT directly (the same value hashes identically
    everywhere). Estimate for any derived set S: |S_sample| * 2^lg_theta.

    Scale shape: filter (drops 1-1/2^lg_theta of value mass before any
    shuffle) then one distinct at hash grain. The distinct's shuffle
    carries only the sampled values — at 100 TB with lg_theta=10 the
    exchange is ~0.1% of the vocabulary."""
    h = _h32(F.col(col), salt)
    thresh = (1 << 32) >> lg_theta
    return (
        df.select(F.col(col).alias("v"), h.alias("h"))
        .filter(F.col("h") < F.lit(thresh))
        .distinct()
    )


def theta_distinct_by(df: DataFrame, col: str, by: str,
                      lg_theta: int = THETA_LG) -> DataFrame:
    """Per-group distinct-count estimates from one coordinated theta
    sample: (by, n_sampled, theta_estimate, exact_distinct, rel_error).

    One sample pass serves EVERY group (coordinated sampling — the
    group column rides along), so a 20-source census costs one filtered
    distinct, not 20 sketches. ``exact_distinct`` is the audit column:
    cheap at test scale, omitted at 100 TB where the estimate is the
    point. Estimator: n_sampled * 2^lg_theta; relative std error is
    ~sqrt((2^lg_theta - 1)/n_distinct), surfaced by rel_error rather
    than asserted."""
    h = _h32(F.col(col), "th")
    thresh = (1 << 32) >> lg_theta
    sampled = (
        df.select(F.col(by).alias("g"), F.col(col).alias("v"), h.alias("h"))
        .filter(F.col("h") < F.lit(thresh))
        .select("g", "h")
        .distinct()
        .groupBy("g")
        .agg(F.count("*").alias("n_sampled"))
    )
    exact = (
        df.select(F.col(by).alias("g"), F.col(col).alias("v"))
        .distinct()
        .groupBy("g")
        .agg(F.count("*").alias("exact_distinct"))
    )
    est = F.col("n_sampled") * F.lit(1 << lg_theta)
    return (
        exact.join(sampled, "g", "left")
        .select(
            F.col("g").alias(by),
            F.coalesce(F.col("n_sampled"), F.lit(0)).alias("n_sampled"),
            F.coalesce(est, F.lit(0)).cast("long").alias("theta_estimate"),
            "exact_distinct",
            F.round(
                (F.coalesce(est, F.lit(0)).cast("double")
                 - F.col("exact_distinct").cast("double"))
                / F.col("exact_distinct").cast("double"),
                6,
            ).alias("rel_error"),
        )
    )


def theta_set_overlap(df_a: DataFrame, df_b: DataFrame, col: str,
                      lg_theta: int = THETA_LG) -> DataFrame:
    """Distinct-set union/intersection/difference estimates from two
    coordinated theta samples — the set-algebra query HLL cannot answer
    directly (HLL registers give |A∩B| only by inclusion-exclusion,
    amplifying error; theta INTERSECTS the samples, so A∩B error scales
    with the overlap itself). One row: (est_a, est_b, est_union, est_intersect,
    est_a_only, exact_intersect, rel_error_intersect).

    Because both samples keep exactly the values hashing below the SAME
    threshold, sample(A) ∩ sample(B) IS sample(A∩B) — set identity, not
    approximation; the only estimation error is the sampling itself.
    Scale: two map-side filters + hash-grain distincts, then set ops on
    ~1/2^lg_theta of the vocabulary."""
    # Count at hash grain: two values whose hashes collide are one sample
    # element, as in theta_distinct_by and the DuckDB twin.
    sa = theta_sample(df_a, col, lg_theta).select("h").distinct()
    sb = theta_sample(df_b, col, lg_theta).select("h").distinct()
    m = F.lit(1 << lg_theta).cast("long")
    na = sa.agg(F.count("*").alias("na"))
    nb = sb.agg(F.count("*").alias("nb"))
    ni = sa.join(sb, "h", "left_semi").agg(F.count("*").alias("ni"))
    exact = (
        df_a.select(F.col(col).alias("_k")).distinct()
        .join(df_b.select(F.col(col).alias("_k")).distinct(), "_k", "left_semi")
        .agg(F.count("*").alias("exact_intersect"))
    )
    return (
        na.crossJoin(nb).crossJoin(ni).crossJoin(exact)
        .select(
            (F.col("na") * m).alias("est_a"),
            (F.col("nb") * m).alias("est_b"),
            ((F.col("na") + F.col("nb") - F.col("ni")) * m).alias("est_union"),
            (F.col("ni") * m).alias("est_intersect"),
            ((F.col("na") - F.col("ni")) * m).alias("est_a_only"),
            "exact_intersect",
            F.round(
                (F.col("ni") * m - F.col("exact_intersect")).cast("double")
                / F.greatest(F.col("exact_intersect"), F.lit(1)).cast("double"),
                6,
            ).alias("rel_error_intersect"),
        )
    )
