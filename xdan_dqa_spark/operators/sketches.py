"""Distributed probabilistic sketches: HyperLogLog cardinality,
count-min frequency, and Bloom-filter membership — the sublinear-state
summaries a 100 TB pipeline runs where exact answers would shuffle the
corpus (vocabulary size per shard, heavy-hitter terms, join pre-filters).

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

Cross-engine determinism discipline (shared with graph.py's fixed-point
PageRank): aggregate in {max, integer sum, DECIMAL(38,0) sum} only;
divide once at the end.
"""

from __future__ import annotations

import math

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

BLOOM_BITS = 1 << 16        # 65 536 positions
BLOOM_K = 4


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
    union + max() into one table, and this turns it into the estimate.
    Split out from hll_estimate so the STREAMING path (complete-mode
    max() aggregation = the register table as streaming state) reuses
    the identical arithmetic (q_stream_hll)."""
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


def bloom_positions(col: F.Column) -> F.Column:
    """Array of the BLOOM_K bit positions a key sets/probes."""
    return F.array(*[
        F.pmod(_h32(col.cast("string"), k), F.lit(BLOOM_BITS))
        for k in range(BLOOM_K)
    ])


def bloom_build(df: DataFrame, col: str) -> DataFrame:
    """(pos) set-bit table of the Bloom filter over ``df[col]`` — the
    relational representation of the bitset (<= BLOOM_BITS rows after
    distinct, independent of input size), which is what a join
    pre-filter broadcasts."""
    return (
        df.select(F.explode(bloom_positions(F.col(col))).alias("pos"))
        .distinct()
    )


def bloom_probe_report(build_df: DataFrame, build_col: str,
                       probe_df: DataFrame, probe_col: str,
                       group_col: str | None = None) -> DataFrame:
    """Probe every ``probe_df[probe_col]`` key against the Bloom filter
    built over ``build_df[build_col]`` and report, per ``group_col``
    (or one global row): (n_probes, n_claimed_present,
    n_actually_present, n_false_positives, fp_rate).

    A key is CLAIMED present iff all BLOOM_K of its positions are set —
    computed as an inner join of the probe's exploded positions against
    the (broadcastable) bit table, counting matches per key; ACTUAL
    membership is a left-semi mark against the distinct build keys. The
    filter guarantees no false negatives (claimed >= actual, verified
    by the report's columns) and the fp_rate column measures the real
    false-positive rate against the theoretical (1 - e^(-kn/m))^k.

    Scale shape: the bit table and the distinct build-key set are the
    only non-probe-side state; the bit table is <= 65 536 rows (always
    broadcastable), so probing N keys is one broadcast join + one
    bounded aggregate — the exact shape Spark's own runtime bloom-join
    filter uses, made explicit and oracle-checkable."""
    bits = bloom_build(build_df, build_col)
    gcol = F.col(group_col) if group_col else F.lit("all")
    probes = probe_df.select(
        gcol.alias("grp"),
        F.col(probe_col).cast("string").alias("key"),
    ).distinct()
    ex = probes.select(
        "grp", "key", F.explode(bloom_positions(F.col("key"))).alias("pos")
    )
    claimed = (
        ex.join(F.broadcast(bits), "pos")
        .groupBy("grp", "key")
        .agg(F.count("*").alias("_hits"))
        .filter(F.col("_hits") == BLOOM_K)
        .select("grp", "key", F.lit(True).alias("claimed"))
    )
    actual_keys = build_df.select(
        F.col(build_col).cast("string").alias("key")
    ).distinct().withColumn("actual", F.lit(True))
    marked = (
        probes.join(claimed, ["grp", "key"], "left")
        .join(actual_keys, "key", "left")
        .select(
            "grp",
            F.coalesce(F.col("claimed"), F.lit(False)).alias("claimed"),
            F.coalesce(F.col("actual"), F.lit(False)).alias("actual"),
        )
    )
    return marked.groupBy(F.col("grp").alias(group_col or "scope")).agg(
        F.count("*").alias("n_probes"),
        F.sum(F.when(F.col("claimed"), 1).otherwise(0)).alias("n_claimed_present"),
        F.sum(F.when(F.col("actual"), 1).otherwise(0)).alias("n_actually_present"),
        F.sum(
            F.when(F.col("claimed") & ~F.col("actual"), 1).otherwise(0)
        ).alias("n_false_positives"),
        F.round(
            F.sum(F.when(F.col("claimed") & ~F.col("actual"), 1).otherwise(0))
            .cast("double")
            / F.greatest(
                F.sum(F.when(~F.col("actual"), 1).otherwise(0)), F.lit(1)
            ).cast("double"),
            6,
        ).alias("fp_rate"),
    )


def bloom_theoretical_fp(n_keys: int) -> float:
    """Textbook expected false-positive rate for the module geometry."""
    return (1.0 - math.exp(-BLOOM_K * n_keys / BLOOM_BITS)) ** BLOOM_K


def hll_registers_by(df: DataFrame, col: str, by: str) -> DataFrame:
    """(group, idx, rho) GROUPED HyperLogLog registers — one 256-row
    register table per group, the per-slice cardinality monitor
    (vocabulary per source/shard/day). Same construction as
    hll_registers with the group key carried through the ONE map-side-
    combined max aggregate; state is 256 rows × groups, merges across
    shards with max() exactly like the global sketch."""
    c = F.col(col).cast("string")
    hl = _h32(c, "hl")
    hh = _h32(c, "hh")
    idx = hl.bitwiseAND(F.lit(HLL_M - 1))
    w = F.shiftright(hl, HLL_P) * F.lit(1 << 32).cast("long") + hh
    rho = F.when(w == 0, F.lit(_HLL_RHO_MAX)).otherwise(
        F.lit(_HLL_RHO_MAX) - F.length(F.bin(w))
    )
    return (
        df.select(F.col(by).alias("grp"), idx.alias("idx"), rho.alias("rho"))
        .groupBy("grp", "idx")
        .agg(F.max("rho").alias("rho"))
    )


def hll_estimate_by(df: DataFrame, col: str, by: str) -> DataFrame:
    """Per-group HyperLogLog report: (group, m, n_zero_registers,
    hll_estimate, exact_distinct, rel_error) — hll_estimate's math
    applied group-wise (identical constants and op order, so each
    group's estimate is bit-identical to running the global sketch on
    that slice alone). The exact column rides a second aggregate over
    the same scan for self-documentation; at 100 TB keep only the
    grouped register table."""
    regs = hll_registers_by(df, col, by)
    contrib = F.expr(
        f"cast(shiftleft(cast(1 as bigint), cast({_HLL_RHO_MAX} - rho as int)) "
        "as decimal(38,0))"
    )
    s = regs.groupBy("grp").agg(
        F.count("*").alias("n_present"),
        F.sum(contrib).alias("s_present"),
    )
    alpha = 0.7213 / (1.0 + 1.079 / HLL_M)
    staged = s.select(
        "grp",
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
    exact = df.groupBy(F.col(by).alias("grp")).agg(
        F.count_distinct(F.col(col)).alias("exact_distinct")
    )
    return (
        staged.join(exact, "grp")
        .select(
            F.col("grp").alias(by),
            "m",
            "n_zero_registers",
            F.round(est, 4).alias("hll_estimate"),
            "exact_distinct",
            F.round(
                (F.round(est, 4) - F.col("exact_distinct").cast("double"))
                / F.col("exact_distinct").cast("double"),
                6,
            ).alias("rel_error"),
        )
    )


def cms_join_cardinality(df1: DataFrame, col1: str,
                         df2: DataFrame, col2: str) -> DataFrame:
    """Equi-join CARDINALITY estimate from two count-min sketches —
    (cms_estimate, exact_join_count, overcount). The inner product of
    two streams' frequency vectors Σ_v f1(v)·f2(v) IS the equi-join
    output size, and the count-min estimate of it is min over the D
    rows of the cell-wise product sum (Cormode–Muthukrishnan 2005) —
    never an underestimate, biased up by hash collisions.

    This is the sketch composition a query planner wants at 100 TB:
    join size from two 4 096-counter summaries that each side
    maintains independently (and merges by cell-wise sum), with
    neither table scanned at planning time. The exact count rides
    alongside for self-documentation — it is the expensive thing the
    sketch replaces.

    All-integer: cell counts are exact sums, the product sum is
    DECIMAL(38,0) (two 10^9-row streams can put ~10^18 in one cell
    product), min is order-independent — the estimate itself is
    oracle-exact."""
    s1 = cms_table(df1, col1)
    s2 = cms_table(df2, col2)
    per_row = (
        s1.join(
            s2.withColumnRenamed("cnt", "cnt2"), ["row_id", "col_id"]
        )
        .groupBy("row_id")
        .agg(
            F.sum(
                F.col("cnt").cast("decimal(19,0)")
                * F.col("cnt2").cast("decimal(18,0)")
            ).alias("_ip")
        )
    )
    est = per_row.agg(F.min("_ip").cast("long").alias("cms_estimate"))
    exact = (
        df1.select(F.col(col1).cast("string").alias("_k"))
        .join(df2.select(F.col(col2).cast("string").alias("_k")), "_k")
        .agg(F.count("*").alias("exact_join_count"))
    )
    return est.crossJoin(exact).select(
        "cms_estimate",
        "exact_join_count",
        (F.col("cms_estimate") - F.col("exact_join_count")).alias("overcount"),
    )


def hll_rolling_estimate(df: DataFrame, col: str, ts_col: str,
                         window_days: int = 7) -> DataFrame:
    """Rolling ``window_days``-day distinct-cardinality estimate from
    WINDOWED register merges — (day, hll_estimate): "7-day active
    users" at sketch cost. The exact rolling distinct needs either a
    distinct-per-window recount (window_days full scans) or a giant
    dedup state; the HLL form keeps ONE 256-row register table per day
    and merges a trailing window of them with max() — the canonical
    production shape for rolling reach/NDV dashboards.

    Construction: daily registers (day, idx, rho) via one fold, then
    max(rho) over a ROWS window per idx ordered by day — the per-idx
    partition holds one row per day, so the window state is bounded by
    the calendar, never the data. Day indexing is integral
    (epoch-day), so trailing-N-days is a rows frame on a gap-filled
    day grid; missing (day, idx) combinations contribute nothing to a
    max, which is exactly HLL-correct. The finisher is
    hll_estimate_from_registers' arithmetic applied per day."""
    # integral epoch-day: DIV, not float-divide-then-floor (the float
    # path is a different op than DuckDB's BIGINT // and invites ULP
    # drift at day boundaries)
    day = F.expr(
        f"unix_micros(cast({ts_col} as timestamp)) div 86400000000"
    ).cast("long")
    c = F.col(col).cast("string")
    hl = _h32(c, "hl")
    hh = _h32(c, "hh")
    idx = hl.bitwiseAND(F.lit(HLL_M - 1))
    w = F.shiftright(hl, HLL_P) * F.lit(1 << 32).cast("long") + hh
    rho = F.when(w == 0, F.lit(_HLL_RHO_MAX)).otherwise(
        F.lit(_HLL_RHO_MAX) - F.length(F.bin(w))
    )
    daily = (
        df.select(day.alias("day"), idx.alias("idx"), rho.alias("rho"))
        .groupBy("day", "idx")
        .agg(F.max("rho").alias("rho"))
    )
    # gap-fill the day axis per idx so the ROWS frame means calendar
    # days: build the full (day x idx) grid from the observed day span
    days = daily.select("day").distinct()
    span = days.agg(F.min("day").alias("_d0"), F.max("day").alias("_d1"))
    grid = span.select(
        F.explode(F.sequence(F.col("_d0"), F.col("_d1"))).alias("day")
    ).crossJoin(
        daily.select("idx").distinct()
    )
    filled = grid.join(daily, ["day", "idx"], "left")
    wr = (
        Window.partitionBy("idx").orderBy("day")
        .rowsBetween(-(window_days - 1), 0)
    )
    rolled = filled.withColumn("mrho", F.max("rho").over(wr)).filter(
        F.col("mrho").isNotNull()
    )
    regs = rolled.select("day", F.col("idx"), F.col("mrho").alias("rho"))
    contrib = F.expr(
        f"cast(shiftleft(cast(1 as bigint), cast({_HLL_RHO_MAX} - rho as int)) "
        "as decimal(38,0))"
    )
    s = regs.groupBy("day").agg(
        F.count("*").alias("n_present"),
        F.sum(contrib).alias("s_present"),
    )
    alpha = 0.7213 / (1.0 + 1.079 / HLL_M)
    staged = s.select(
        "day",
        (F.lit(HLL_M) - F.col("n_present")).alias("_nz"),
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
    v = F.col("_nz").cast("double")
    est = F.when(
        (raw <= F.lit(2.5 * HLL_M)) & (v > 0),
        F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / v),
    ).otherwise(raw)
    return staged.select("day", F.round(est, 4).alias("hll_estimate"))


def bloom_join_prefilter_report(fact: DataFrame, fact_key: str,
                                dim: DataFrame, dim_key: str) -> DataFrame:
    """The Bloom join pre-filter MEASURED end-to-end: build the filter
    over the (already predicate-pruned) dim keys, pass the fact table
    through it, and report one row (n_fact_rows, n_pass_bloom,
    n_true_match, n_false_pass, pruned_frac) — the explicit form of
    what Spark's runtime row-group/bloom filters do inside an
    exchange, with the pruning power quantified instead of hidden in
    metrics. No false negatives: n_pass_bloom >= n_true_match always,
    and every true match passes.

    Shape: the bitset is the <= 65 536-row broadcast position table;
    the fact side probes map-side (explode K positions -> broadcast
    join -> count-K), so the only fact-wide shuffle is the final
    1-row fold; the true-match count is a broadcast LEFT SEMI against
    the distinct dim keys."""
    bits = bloom_build(dim, dim_key)
    keys = dim.select(F.col(dim_key).cast("string").alias("_k")).distinct()
    f = fact.select(F.col(fact_key).cast("string").alias("_k"))
    # probe DISTINCT keys (a key repeated r times in the fact would
    # otherwise accumulate 4r position hits and fail the == K test)
    ex = f.distinct().select(
        "_k", F.explode(bloom_positions(F.col("_k"))).alias("pos")
    )
    passed = (
        ex.join(F.broadcast(bits), "pos")
        .groupBy("_k")
        .agg(F.count("*").alias("_hits"))
        .filter(F.col("_hits") == BLOOM_K)
        .select("_k")
    )
    n_fact = f.agg(F.count("*").alias("n_fact_rows"))
    n_pass = f.join(passed, "_k", "left_semi").agg(
        F.count("*").alias("n_pass_bloom")
    )
    n_true = f.join(F.broadcast(keys), "_k", "left_semi").agg(
        F.count("*").alias("n_true_match")
    )
    return (
        n_fact.crossJoin(n_pass).crossJoin(n_true)
        .select(
            "n_fact_rows", "n_pass_bloom", "n_true_match",
            (F.col("n_pass_bloom") - F.col("n_true_match")).alias("n_false_pass"),
            F.round(
                (F.col("n_fact_rows") - F.col("n_pass_bloom")).cast("double")
                / F.col("n_fact_rows").cast("double"),
                6,
            ).alias("pruned_frac"),
        )
    )


def log_histogram_quantiles(df: DataFrame, col: str,
                            quantiles: tuple = (0.5, 0.9, 0.99)) -> DataFrame:
    """Mergeable QUANTILE SKETCH with a guaranteed 2x relative-error
    bound: positive values bucket by power of two (bucket = bit length
    — integral in both engines, no float log2), the sketch state is one
    count per occupied bucket (<= 64 rows, mergeable by cell-wise sum
    across shards/days), and a quantile estimate is the midpoint of the
    bucket where the cumulative count crosses ceil(q*n). Returns
    (quantile, est, exact, ratio) with the exact type-7 quantile
    alongside — the bounded-state complement to the exact
    value-compressed histogram (textstats.exact_quantiles_histogram),
    for when even the distinct-value set is too large to shuffle.

    Rank selection is EXACT integer arithmetic: target rank =
    ceil(q*n) computed as (num*n + den - 1) DIV den from the rational
    form of q (q is snapped to thousandths), so no float boundary can
    move the chosen bucket. The estimate 3*2^(b-2) (bucket midpoint)
    and the ratio are terminal float ops. Zero/negative values are
    excluded (log buckets are undefined there) and surface via the
    exact column diverging — callers shift such domains first."""
    pos = df.select(F.col(col).cast("long").alias("v")).filter(F.col("v") > 0)
    hist = pos.groupBy(F.length(F.bin(F.col("v"))).alias("b")).agg(
        F.count("*").alias("c")
    )
    w = Window.orderBy("b")
    staged = (
        hist.withColumn("cum", F.sum("c").over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("n", F.sum("c").over(
            Window.partitionBy(F.lit(1))))
    )
    outs = []
    for q in quantiles:
        num = int(round(q * 1000))
        target = F.expr(f"({num} * n + 999) DIV 1000")
        picked = (
            staged.filter(F.col("cum") >= target)
            .orderBy("b")
            .limit(1)
            .select(
                F.lit(float(num) / 1000.0).alias("quantile"),
                F.when(F.col("b") == 1, F.lit(1.0)).otherwise(
                    F.lit(3.0) * F.pow(F.lit(2.0), F.col("b") - 2)
                ).alias("est"),
            )
        )
        outs.append(picked)
    est = outs[0]
    for o in outs[1:]:
        est = est.unionByName(o)
    # exact type-7 quantile per q over the same positive-value set
    vh = pos.groupBy("v").agg(F.count("*").alias("c"))
    wv = Window.orderBy("v")
    vh = (
        vh.withColumn("cum", F.sum("c").over(
            wv.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("cum_prev", F.col("cum") - F.col("c"))
        .withColumn("n", F.sum("c").over(Window.partitionBy(F.lit(1))))
    )
    exacts = []
    for q in quantiles:
        qq = float(int(round(q * 1000))) / 1000.0
        h = F.lit(qq) * (F.col("n") - 1).cast("double")
        lo_rank = F.floor(h) + 1           # 1-based rank of lower value
        lo = vh.filter(
            (F.col("cum_prev") < lo_rank) & (F.col("cum") >= lo_rank)
        ).agg(F.min("v").alias("_lo"))
        hi = vh.filter(
            (F.col("cum_prev") < lo_rank + 1) & (F.col("cum") >= lo_rank + 1)
        ).agg(F.min("v").alias("_hi"))
        frac = vh.agg(
            (F.lit(qq) * (F.max("n") - 1).cast("double")
             - F.floor(F.lit(qq) * (F.max("n") - 1).cast("double"))).alias("_f")
        )
        exacts.append(
            lo.crossJoin(hi).crossJoin(frac).select(
                F.lit(qq).alias("quantile"),
                (
                    F.col("_lo").cast("double")
                    + F.col("_f")
                    * (F.coalesce(F.col("_hi"), F.col("_lo"))
                       - F.col("_lo")).cast("double")
                ).alias("exact"),
            )
        )
    ex = exacts[0]
    for o in exacts[1:]:
        ex = ex.unionByName(o)
    return est.join(ex, "quantile").select(
        "quantile", F.round("est", 6).alias("est"),
        F.round("exact", 6).alias("exact"),
        F.round(F.col("est") / F.col("exact"), 6).alias("ratio"),
    )


def hll_set_overlap(df_a: DataFrame, df_b: DataFrame, col: str) -> DataFrame:
    """Distinct-set OVERLAP estimate by HyperLogLog inclusion-exclusion:
    |A∩B| ~= est(A) + est(B) − est(A∪B), where est(A∪B) comes from the
    max()-merge of the two register tables — the audience-overlap /
    recrawl-overlap question answered from three 256-row states without
    ever joining the raw sets. Returns one row (est_a, est_b,
    est_union, est_overlap, exact_overlap, rel_error).

    Union-merge exactness is the HLL property (registers of A∪B ==
    cell-wise max — test-pinned for the shard case); the subtraction
    amplifies relative error when the overlap is small compared to the
    sets (standard caveat, visible in the rel_error column rather than
    hidden). Exact overlap rides alongside via one semi-joined
    distinct count."""
    ra = hll_registers(df_a, col)
    rb = hll_registers(df_b, col)
    ru = ra.unionByName(rb).groupBy("idx").agg(F.max("rho").alias("rho"))
    ea = hll_estimate_from_registers(ra).select(
        F.col("hll_estimate").alias("est_a"))
    eb = hll_estimate_from_registers(rb).select(
        F.col("hll_estimate").alias("est_b"))
    eu = hll_estimate_from_registers(ru).select(
        F.col("hll_estimate").alias("est_union"))
    exact = (
        df_a.select(F.col(col).alias("_k")).distinct()
        .join(df_b.select(F.col(col).alias("_k")).distinct(), "_k", "left_semi")
        .agg(F.count("*").alias("exact_overlap"))
    )
    return (
        ea.crossJoin(eb).crossJoin(eu).crossJoin(exact)
        .select(
            "est_a", "est_b", "est_union",
            F.round(
                F.col("est_a") + F.col("est_b") - F.col("est_union"), 4
            ).alias("est_overlap"),
            "exact_overlap",
            F.round(
                (F.round(F.col("est_a") + F.col("est_b") - F.col("est_union"), 4)
                 - F.col("exact_overlap").cast("double"))
                / F.greatest(F.col("exact_overlap").cast("double"), F.lit(1.0)),
                6,
            ).alias("rel_error"),
        )
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
    directly (hll_set_overlap must inclusion-exclude, amplifying error;
    theta INTERSECTS the samples, so A∩B error scales with the overlap
    itself). One row: (est_a, est_b, est_union, est_intersect,
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
