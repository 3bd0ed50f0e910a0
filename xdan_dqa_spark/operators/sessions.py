"""Gap-based sessionization over event streams (the classic web-log
operator a 100 TB training-data pipeline needs for behavioral filtering
— e.g. dropping docs whose crawl sessions look like bot bursts).

Spark-first shape: ONE shuffle on the user key, then two window passes
inside each partition (lag → new-session flag → running sum = session
ordinal) and a hash aggregate — no self-joins, no UDFs, whole-stage
codegen throughout. Timestamps are compared as epoch MICROSECONDS
(``unix_micros``) so arithmetic is integral and engine-portable (the
session timezone is pinned UTC in session.py).

Skew note: a single pathological user's events all land in one task
(window semantics require it). Real deployments cap per-user history
first (``max_events_per_user`` via the same row_number trick as the
bounded LSH buckets); the cap is opt-in here and logged, never silent.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

log = logging.getLogger(__name__)


def sessionize(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    gap_sec: int = 1800,
    max_events_per_user: int | None = None,
) -> DataFrame:
    """One row per (user, session): event count, start/end epoch-µs,
    duration. A session breaks when the gap to the previous event of the
    same user exceeds ``gap_sec``. Ordering ties on ``ts`` are broken by
    ``id_col`` so the session assignment is deterministic under any
    partitioning."""
    # NTZ→LTZ cast first: unix_micros needs an instant, and with the
    # session tz pinned UTC the NTZ wall-clock IS the UTC instant — the
    # same convention DuckDB's epoch_us applies to naive timestamps.
    tus = F.unix_micros(F.col(ts_col).cast("timestamp"))
    w = Window.partitionBy(user_col).orderBy("tus", id_col)
    e = df.select(F.col(user_col), F.col(id_col), tus.alias("tus"))
    if max_events_per_user is not None:
        e = e.withColumn("_rn", F.row_number().over(w)).filter(
            F.col("_rn") <= max_events_per_user
        ).drop("_rn")
        log.info("sessionize: capped users at %d events", max_events_per_user)
    prev = F.lag("tus").over(w)
    is_new = F.when(
        prev.isNull() | ((F.col("tus") - prev) > gap_sec * 1_000_000), F.lit(1)
    ).otherwise(F.lit(0))
    sess = (
        e.withColumn("is_new", is_new)
        .withColumn(
            "session_seq",
            F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    return (
        sess.groupBy(F.col(user_col), F.col("session_seq"))
        .agg(
            F.count("*").alias("n_events"),
            F.min("tus").alias("start_us"),
            F.max("tus").alias("end_us"),
        )
        .withColumn(
            "duration_sec",
            (F.col("end_us") - F.col("start_us")).cast("double") / F.lit(1e6),
        )
    )


def funnel_conversion(
    df: DataFrame,
    step_a: str = "click",
    step_b: str = "purchase",
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    type_col: str = "event_type",
) -> DataFrame:
    """Two-step funnel: for each user, the first ``step_a`` event and the
    first ``step_b`` event AT OR AFTER it (A→B conversion + delay) — the
    sequential-pattern primitive behind engagement/bot-quality signals.

    Spark-first shape: ONE shuffle on the user key. A running-min window
    (``min(case when A then t end)`` over rows-unbounded-preceding)
    carries "earliest A so far" past every event, so a single hash
    aggregate can then take ``min(t where B and t >= first_A_so_far)`` —
    no self-join of A-events against B-events (which would be a second
    shuffle plus a range-join blow-up on busy users). Ordering ties on
    ``ts`` break by ``id_col`` so the carry is deterministic under any
    partitioning. Nullable outputs are
    sentinel-coalesced (-1 / 0 / 0.0) — the portable null convention used
    by the as-of join. Returns one bounded row per user:
    (user, first_a_us, first_b_after_us, converted, delay_sec)."""
    tus = F.unix_micros(F.col(ts_col).cast("timestamp"))
    e = df.select(F.col(user_col), F.col(id_col), F.col(type_col), tus.alias("tus"))
    w = (
        Window.partitionBy(user_col)
        .orderBy("tus", id_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    a_so_far = F.min(
        F.when(F.col(type_col) == step_a, F.col("tus"))
    ).over(w)
    carried = e.withColumn("_a_seen", a_so_far)
    agg = carried.groupBy(user_col).agg(
        F.min(F.when(F.col(type_col) == step_a, F.col("tus"))).alias("_fa"),
        F.min(
            F.when(
                (F.col(type_col) == step_b)
                & F.col("_a_seen").isNotNull()
                & (F.col("tus") >= F.col("_a_seen")),
                F.col("tus"),
            )
        ).alias("_fb"),
    )
    converted = F.col("_fb").isNotNull()
    return agg.select(
        F.col(user_col),
        F.coalesce(F.col("_fa"), F.lit(-1)).alias("first_a_us"),
        F.coalesce(F.col("_fb"), F.lit(-1)).alias("first_b_after_us"),
        converted.cast("int").alias("converted"),
        F.when(
            converted, (F.col("_fb") - F.col("_fa")).cast("double") / F.lit(1e6)
        ).otherwise(F.lit(0.0)).alias("delay_sec"),
    )


def cohort_retention(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Weekly retention matrix: users cohorted by their first-activity
    week, counted once per (cohort_week, week_offset) they return in —
    the engagement-quality table behind "does this source's audience
    stick around" corpus triage.

    Weeks are integral epoch-µs arithmetic (``unix_micros div 604.8e9``)
    — no calendar/timezone semantics to disagree across engines. Shape:
    dedup to (user, week) grain (map-side-combinable distinct — state is
    one row per user-week, never per event), a min-over-user window
    carries the cohort week without a groupBy+join round trip, then one
    hash aggregate to the bounded (cohort × offset) matrix where a plain
    count(*) IS the distinct-user count (each user contributes at most
    one row per cell by construction — no count-distinct state needed).
    Three shuffles, every intermediate bounded.
    """
    week = F.expr(f"unix_micros(cast({ts_col} as timestamp)) div 604800000000")
    uw = df.select(F.col(user_col).alias("u"), week.alias("week")).distinct()
    cohort = F.min("week").over(Window.partitionBy("u"))
    return (
        uw.withColumn("cohort_week", cohort)
        .groupBy("cohort_week", (F.col("week") - F.col("cohort_week")).alias("week_offset"))
        .agg(F.count("*").alias("n_users"))
    )


def burst_users(df: DataFrame, window_sec: int = 86400, min_events: int = 8,
                user_col: str = "user_id", ts_col: str = "ts",
                ) -> DataFrame:
    """Bot/abuse triage: users whose peak activity inside ANY rolling
    ``window_sec`` window reaches ``min_events`` — the rate-limit
    signal scrapers and click-bots trip that a plain per-day count
    smears away (a burst straddling midnight halves under calendar
    bucketing; a rolling RANGE frame has no seams).

    ONE shuffle on the user key: a RANGE-frame count over integral
    epoch-µs (the two-pointer sliding frame keeps O(window occupancy)
    state, never the whole partition), then a hash aggregate folding
    each user to (n_events, max_burst). Equal timestamps share a frame
    in both engines — RANGE, not ROWS, so the result is independent of
    tie order. Integral µs arithmetic end to end; no calendar/tz
    semantics anywhere.
    """
    tus = F.unix_micros(F.col(ts_col).cast("timestamp"))
    e = df.select(F.col(user_col), tus.alias("tus"))
    w = (
        Window.partitionBy(user_col).orderBy("tus")
        .rangeBetween(-window_sec * 1_000_000, 0)
    )
    return (
        e.withColumn("_c", F.count("*").over(w))
        .groupBy(user_col)
        .agg(F.count("*").alias("n_events"), F.max("_c").alias("max_burst"))
        .filter(F.col("max_burst") >= min_events)
    )


def daily_spike_zscore(events: DataFrame, ts_col: str = "ts",
                       group_col: str = "event_type",
                       window_days: int = 7) -> DataFrame:
    """Per-group daily-volume spike detector: each day's event count
    z-scored against the TRAILING ``window_days`` full days (current
    day excluded — a spike must not inflate its own baseline).
    Returns (group, day, n_events, z) for every day with a complete
    trailing window — the feed-health alarm that catches a bot burst
    or a broken dedup upstream in one pass.

    Determinism discipline: the trailing mean/variance come from EXACT
    integer sums (Σc, Σc²) over a ROWS frame of the per-day count
    table; the z is ONE fixed IEEE sequence (mu = sx/n; var = sxx/n −
    mu·mu; z = (c − mu)/sqrt(var)) on those integers, with the
    zero-variance case guarded to z = 0 (a constant baseline makes any
    deviation infinite-sigma; flagging it is a policy choice left to
    the caller via n_events vs mu).

    Scale shape: the day grain folds FIRST (map-side combinable;
    shuffle rows = groups × days), windows then run over that bounded
    per-group day table — hundreds of rows per partition, never raw
    events."""
    if window_days < 2:
        raise ValueError(f"window_days must be >= 2 (got {window_days})")
    daily = events.groupBy(
        F.col(group_col).alias("grp"), F.to_date(F.col(ts_col)).alias("day")
    ).agg(F.count("*").alias("n_events"))
    w = (
        Window.partitionBy("grp").orderBy("day")
        .rowsBetween(-window_days, -1)
    )
    staged = daily.select(
        "grp", "day", "n_events",
        F.count("*").over(w).alias("_np"),
        F.sum("n_events").over(w).alias("_sx"),
        F.sum(F.col("n_events") * F.col("n_events")).over(w).alias("_sxx"),
    ).filter(F.col("_np") == window_days)
    n = float(window_days)
    mu = F.col("_sx").cast("double") / F.lit(n)
    var = F.col("_sxx").cast("double") / F.lit(n) - mu * mu
    z = F.when(var > 0,
               (F.col("n_events").cast("double") - mu) / F.sqrt(var)
               ).otherwise(F.lit(0.0))
    return staged.select(
        F.col("grp").alias(group_col), "day", "n_events",
        F.round(z, 6).alias("z"),
    )


def theilsen_daily_trend(events: DataFrame, ts_col: str = "ts",
                         group_col: str = "event_type") -> DataFrame:
    """Per-group Theil–Sen trend of DAILY event volume: the median of
    all pairwise slopes (c_j − c_i)/(t_j − t_i) over the day index —
    the robust trend estimator (up to ~29% outlier days cannot move
    it, unlike a least-squares fit where one logging glitch rewrites
    the slope). Returns (group, n_days, n_pairs, slope_per_day): the
    volume growth/decay rate a feed-health dashboard plots next to
    spike z-scores.

    Scale shape: the day grain folds FIRST (shuffle rows = groups ×
    days), then the pairwise self-join and the median-rank window run
    over that BOUNDED per-group day table — d days make d(d−1)/2
    pairs, thousands for a year of days, never event-scaled. Pair
    slopes are single IEEE divisions of exact integers (identical in
    any engine); the median is rank-selected with a deterministic
    (slope, i, j) order and averages the two middles on even counts —
    type-7 semantics, engine-portable."""
    daily = events.groupBy(
        F.col(group_col).alias("grp"), F.to_date(F.col(ts_col)).alias("day")
    ).agg(F.count("*").alias("c"))
    wd = Window.partitionBy("grp").orderBy("day")
    t = daily.withColumn("t", F.row_number().over(wd)).select("grp", "t", "c")
    a = t.select("grp", F.col("t").alias("i"), F.col("c").alias("ci"))
    b = t.select("grp", F.col("t").alias("j"), F.col("c").alias("cj"))
    pairs = a.join(b, "grp").filter(F.col("i") < F.col("j")).select(
        "grp", "i", "j",
        (
            (F.col("cj") - F.col("ci")).cast("double")
            / (F.col("j") - F.col("i")).cast("double")
        ).alias("slope"),
    )
    wr = Window.partitionBy("grp").orderBy("slope", "i", "j")
    wall = Window.partitionBy("grp")
    ranked = pairs.select(
        "grp", "slope",
        F.row_number().over(wr).alias("rk"),
        F.count("*").over(wall).alias("np"),
    )
    lo = (F.col("np") + 1) / 2
    mid = ranked.filter(
        (F.col("rk") == F.floor(lo)) | (F.col("rk") == F.ceil(lo))
    )
    med = mid.groupBy("grp").agg(
        F.max("np").alias("n_pairs"),
        # one row (odd np) or two (even): avg of the selected middles
        (F.sum("slope") / F.count("*")).alias("_med"),
    )
    days = t.groupBy("grp").agg(F.max("t").alias("n_days"))
    return med.join(days, "grp").select(
        F.col("grp").alias(group_col), "n_days", "n_pairs",
        F.round(F.col("_med"), 6).alias("slope_per_day"),
    )


def event_paths(events: DataFrame, ts_col: str = "ts",
                user_col: str = "user_id", type_col: str = "event_type",
                n: int = 3, top_k: int = 20) -> DataFrame:
    """Top-k ``n``-event behavioral paths: the most frequent length-n
    sequences of consecutive event types per user — the upgrade of the
    first-order transition matrix (a25) to path mining ("view>click>
    purchase" vs "click>click>click" bot loops). Returns (path, n_occurrences)
    with a deterministic (count DESC, path ASC) top-k.

    Scale shape: ONE shuffle on the user key; the n−1 lag columns ride
    the SAME window (one sort, O(1) frame state, partition bounded by
    the busiest user); the path fold is map-side combinable; selection
    is TakeOrderedAndProject. Ties in the per-user event order break on
    a stable id so paths are reproducible."""
    if n < 2:
        raise ValueError(f"n must be >= 2 (got {n})")
    w = Window.partitionBy(user_col).orderBy(F.col(ts_col), F.col(type_col))
    cols = [F.lag(F.col(type_col), n - 1 - i).over(w) for i in range(n - 1)]
    cols.append(F.col(type_col))
    path = F.concat_ws(">", *cols)
    staged = events.select(
        path.alias("path"), cols[0].isNotNull().alias("_full")
    ).filter(F.col("_full"))
    return (
        staged.groupBy("path").agg(F.count("*").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), F.asc("path"))
        .limit(top_k)
    )


def concurrency_peak(sessions: DataFrame, start_col: str, end_col: str,
                     group_col: str = "event_type") -> DataFrame:
    """Peak concurrency per group from (start, end) intervals — the
    sweep-line classic: explode each interval into a +1 at start and a
    −1 at end, order by time, running-sum, take the max. Returns
    (group, n_intervals, peak_concurrency, peak_at) with ``peak_at``
    the EARLIEST instant the peak is reached (deterministic tie-break).

    Boundary semantics: ends sort BEFORE starts at the same instant
    (a session ending exactly when another starts does not overlap it)
    — encoded by ordering on (t, delta) with delta = −1 first; both
    engines sort identically on the integer pair.

    Scale shape: ONE shuffle on the group key; the running sum is a
    per-group window over 2× the interval count with O(1) frame state;
    peak selection is a max(struct) fold, not a second sort."""
    pts = sessions.select(
        F.col(group_col).alias("grp"),
        F.explode(
            F.array(
                F.struct(F.col(start_col).cast("long").alias("t"),
                         F.lit(1).alias("delta")),
                F.struct(F.col(end_col).cast("long").alias("t"),
                         F.lit(-1).alias("delta")),
            )
        ).alias("_p"),
    ).select("grp", F.col("_p.t").alias("t"), F.col("_p.delta").alias("delta"))
    w = (
        Window.partitionBy("grp").orderBy("t", "delta")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    run = pts.withColumn("conc", F.sum("delta").over(w))
    # argmax as ONE struct-max fold: max (conc, -t) is the peak value
    # with the EARLIEST time among its instants — no second window.
    agg = run.groupBy("grp").agg(
        (F.count("*") / 2).cast("long").alias("n_intervals"),
        F.max(
            F.struct(F.col("conc").alias("c"), (-F.col("t")).alias("nt"))
        ).alias("_m"),
    )
    return agg.select(
        F.col("grp").alias(group_col), "n_intervals",
        F.col("_m.c").alias("peak_concurrency"),
        (-F.col("_m.nt")).alias("peak_at"),
    )


def dow_uniformity_chi2(events: DataFrame, ts_col: str = "ts",
                        group_col: str = "event_type") -> DataFrame:
    """Per-group day-of-week chi-square uniformity statistic —
    (group, n_events, chi2, uniform_rejected): bot/synthetic feeds are
    FLAT across weekdays (chi2 ~ 0 never rejects), human traffic has a
    weekly rhythm (large chi2) — the seasonality fingerprint next to
    spike z-scores and CUSUM in a feed-health report.

    Exactness discipline: with e = n/7 the statistic
    chi2 = Σ_d (o_d − e)²/e rewrites as Σ_d (7·o_d − n)² / (7·n) — the
    numerator is an EXACT DECIMAL integer sum, so the whole statistic
    is ONE terminal division (no per-cell float accumulation at all,
    tighter than the rounded-term trick MI needs). Day-of-week is
    integral epoch-day arithmetic ((day + 4) mod 7; 1970-01-01 was a
    Thursday) — no calendar/timezone function whose locale semantics
    could differ across engines. The rejection flag compares against
    the 6-dof critical value 12.592 at alpha = 0.05.

    Shape: one (group, dow) fold (bounded at 7 rows per group), one
    bounded final fold."""
    day = F.expr(
        f"unix_micros(cast({ts_col} as timestamp)) div 86400000000"
    )
    dow = F.pmod(day + 4, F.lit(7))
    cells = events.groupBy(
        F.col(group_col).alias("grp"), dow.alias("dow")
    ).agg(F.count("*").alias("o"))
    tot = cells.groupBy("grp").agg(F.sum("o").alias("n"))
    j = cells.join(tot, "grp")
    num_term = (
        (F.lit(7).cast("decimal(19,0)") * F.col("o").cast("decimal(18,0)")
         - F.col("n").cast("decimal(37,0)"))
    )
    sq = (num_term.cast("decimal(19,0)") * num_term.cast("decimal(18,0)"))
    agg = j.groupBy("grp", "n").agg(
        F.sum(sq.cast("decimal(38,0)")).alias("_num")
    )
    chi2 = F.col("_num").cast("double") / (
        F.lit(7.0) * F.col("n").cast("double")
    )
    return agg.select(
        F.col("grp").alias(group_col),
        F.col("n").alias("n_events"),
        F.round(chi2, 6).alias("chi2"),
        (F.round(chi2, 6) > 12.592).alias("uniform_rejected"),
    )


def km_survival(events: DataFrame, entry_type: str = "click",
                event_type_val: str = "purchase",
                user_col: str = "user_id", ts_col: str = "ts",
                type_col: str = "event_type") -> DataFrame:
    """Kaplan–Meier survival curve for time-from-entry-to-event with
    right censoring: each user enters at their FIRST ``entry_type``
    event; the terminal event is the first ``event_type_val`` at or
    after it; users who never convert are CENSORED at their last
    observed event (the whole point of KM — dropping them would bias
    conversion time low). Returns one row per distinct event time:
    (t_sec, n_risk, n_events, survival) — S(t) = Π_{t_i<=t}
    (1 − d_i/n_i), the time-to-conversion curve product analytics
    reads off (and, on crawl data, time-to-recrawl survival).

    Determinism discipline: a cumulative PRODUCT of float factors is
    order-dependent across engines only in its reduction ORDER — here
    the order is the total order of distinct event times, so a
    log-space cumulative sum over that window is a FIXED sequence;
    still, each ln(1 − d/n) term is rounded to 9 dp and DECIMAL-summed
    (the MI/token-entropy pattern) so partial sums are exact, and the
    single exp runs per output row. Durations are integral µs; risk
    counts are exact integer window sums over the bounded
    distinct-duration table.

    Shape: per-user fold to (duration, converted) — one user-key
    shuffle via the funnel's running-min carry — then all curve math
    runs on the distinct-duration grain (bounded by observed times,
    never users)."""
    tus = F.unix_micros(F.col(ts_col).cast("timestamp"))
    e = events.select(F.col(user_col).alias("u"), F.col(type_col).alias("ty"),
                      tus.alias("tus"))
    w = (
        Window.partitionBy("u").orderBy("tus")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    entry_so_far = F.min(
        F.when(F.col("ty") == entry_type, F.col("tus"))
    ).over(w)
    carried = e.withColumn("_entry", entry_so_far)
    per_user = carried.groupBy("u").agg(
        F.min(F.when(F.col("ty") == entry_type, F.col("tus"))).alias("_e0"),
        F.min(
            F.when(
                (F.col("ty") == event_type_val)
                & F.col("_entry").isNotNull()
                & (F.col("tus") >= F.col("_entry")),
                F.col("tus"),
            )
        ).alias("_ev"),
        F.max("tus").alias("_last"),
    ).filter(F.col("_e0").isNotNull())
    durations = per_user.select(
        F.when(F.col("_ev").isNotNull(),
               (F.col("_ev") - F.col("_e0"))).otherwise(
            F.col("_last") - F.col("_e0")
        ).alias("dur_us"),
        F.col("_ev").isNotNull().alias("converted"),
    )
    total = durations.agg(F.count("*").alias("_n0"))
    grid = durations.groupBy("dur_us").agg(
        F.sum(F.when(F.col("converted"), 1).otherwise(0)).alias("d"),
        F.count("*").alias("_leave"),
    )
    wt = Window.orderBy("dur_us").rowsBetween(Window.unboundedPreceding, -1)
    staged = (
        grid.crossJoin(F.broadcast(total))
        .withColumn("_gone", F.coalesce(F.sum("_leave").over(wt), F.lit(0)))
        .withColumn("n_risk", F.col("_n0") - F.col("_gone"))
        .filter(F.col("d") > 0)
    )
    # d == n_risk zeroes the survival exactly; ln(0) is null in Spark
    # but an ERROR in DuckDB, so the zero factor is carried as a flag
    # (max over the prefix window) instead of a log term.
    term = F.when(
        F.col("d") < F.col("n_risk"),
        F.round(
            F.log(
                F.lit(1.0)
                - F.col("d").cast("double") / F.col("n_risk").cast("double")
            ),
            9,
        ),
    ).otherwise(F.lit(0.0)).cast("decimal(20,9)")
    wc = Window.orderBy("dur_us").rowsBetween(Window.unboundedPreceding, 0)
    curve = (
        staged.withColumn("_ls", F.sum(term).over(wc))
        .withColumn(
            "_dead",
            F.max(F.when(F.col("d") == F.col("n_risk"), 1).otherwise(0)).over(wc),
        )
    )
    return curve.select(
        (F.col("dur_us").cast("double") / F.lit(1e6)).alias("t_sec"),
        "n_risk",
        F.col("d").alias("n_events"),
        F.when(F.col("_dead") == 1, F.lit(0.0)).otherwise(
            F.round(F.exp(F.col("_ls").cast("double")), 6)
        ).alias("survival"),
    )


def lateness_census(events: DataFrame, ts_col: str = "ts",
                    arrival_col: str = "event_id",
                    group_col: str = "event_type",
                    watermark_sec: int = 600) -> DataFrame:
    """Watermark-tuning census: replay events in ARRIVAL order (the
    ingest sequence), track the running max event time (exactly the
    quantity a streaming watermark trails), and bucket each event's
    LATENESS = running_max − event_time. Returns per group:
    (group, n_events, n_on_time, n_late_1m, n_late_10m, n_very_late,
    n_dropped_at_watermark) with the last column counting events a
    ``watermark_sec`` watermark would DROP — the number you read
    before choosing withWatermark's horizon, from batch data instead
    of production incidents.

    Determinism: arrival order is the stable ingest id (ties
    impossible on a unique id); lateness is integral µs; buckets are
    integral comparisons. ONE group-key shuffle; the running max is an
    O(1)-state frame."""
    tus = F.unix_micros(F.col(ts_col).cast("timestamp"))
    e = events.select(
        F.col(group_col).alias("grp"), F.col(arrival_col).alias("aid"),
        tus.alias("tus"),
    )
    w = (
        Window.partitionBy("grp").orderBy("aid")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    late = (F.max("tus").over(w) - F.col("tus"))
    staged = e.withColumn("late_us", late)
    m = F.lit(60_000_000)
    return staged.groupBy(F.col("grp").alias(group_col)).agg(
        F.count("*").alias("n_events"),
        F.sum(F.when(F.col("late_us") == 0, 1).otherwise(0)).alias("n_on_time"),
        F.sum(F.when((F.col("late_us") > 0) & (F.col("late_us") <= m), 1)
              .otherwise(0)).alias("n_late_1m"),
        F.sum(F.when((F.col("late_us") > m) & (F.col("late_us") <= 10 * m), 1)
              .otherwise(0)).alias("n_late_10m"),
        F.sum(F.when(F.col("late_us") > 10 * m, 1).otherwise(0)).alias("n_very_late"),
        F.sum(
            F.when(F.col("late_us") > F.lit(watermark_sec) * 1_000_000, 1)
            .otherwise(0)
        ).alias("n_dropped_at_watermark"),
    )


def funnel3_strict(events: DataFrame, steps: tuple = ("view", "click", "purchase"),
                   user_col: str = "user_id", ts_col: str = "ts",
                   id_col: str = "event_id",
                   type_col: str = "event_type") -> DataFrame:
    """Strict three-step funnel: per user, the earliest completion of
    step1 -> step2 -> step3 IN ORDER (each step at or after the
    previous step's chosen instant) — one row per user who entered:
    (user, t1_us, t2_us, t3_us, reached) with reached in {1,2,3} and
    -1 sentinels for unreached steps (the as-of join's portable null
    convention).

    The earliest-completion semantics chain greedily: t1 = first
    step1; t2 = first step2 >= t1; t3 = first step3 >= t2 — greedy is
    OPTIMAL for existence (any valid chain's step2 is >= the greedy
    t2, so greedy t3 exists whenever any chain completes).

    Shape (funnel_conversion's carry, one more level): ONE user-key
    shuffle; running-min windows carry "first step1 so far" and "first
    chained step2 so far" past every event, then a single fold takes
    the chained minima — never a 3-way self-join (two extra shuffles
    and an |A||B||C| blow-up on busy users)."""
    s1, s2, s3 = steps
    tus = F.unix_micros(F.col(ts_col).cast("timestamp"))
    e = events.select(F.col(user_col).alias("u"), F.col(id_col).alias("i"),
                      F.col(type_col).alias("ty"), tus.alias("tus"))
    w = (
        Window.partitionBy("u").orderBy("tus", "i")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    t1_so_far = F.min(F.when(F.col("ty") == s1, F.col("tus"))).over(w)
    e1 = e.withColumn("_t1s", t1_so_far)
    t2_so_far = F.min(
        F.when(
            (F.col("ty") == s2) & F.col("_t1s").isNotNull()
            & (F.col("tus") >= F.col("_t1s")),
            F.col("tus"),
        )
    ).over(w)
    e2 = e1.withColumn("_t2s", t2_so_far)
    agg = e2.groupBy("u").agg(
        F.min(F.when(F.col("ty") == s1, F.col("tus"))).alias("_t1"),
        F.min(
            F.when(
                (F.col("ty") == s2) & F.col("_t1s").isNotNull()
                & (F.col("tus") >= F.col("_t1s")),
                F.col("tus"),
            )
        ).alias("_t2"),
        F.min(
            F.when(
                (F.col("ty") == s3) & F.col("_t2s").isNotNull()
                & (F.col("tus") >= F.col("_t2s")),
                F.col("tus"),
            )
        ).alias("_t3"),
    ).filter(F.col("_t1").isNotNull())
    reached = (
        F.lit(1)
        + F.when(F.col("_t2").isNotNull(), 1).otherwise(0)
        + F.when(F.col("_t3").isNotNull(), 1).otherwise(0)
    )
    return agg.select(
        F.col("u").alias(user_col),
        F.col("_t1").alias("t1_us"),
        F.coalesce(F.col("_t2"), F.lit(-1)).alias("t2_us"),
        F.coalesce(F.col("_t3"), F.lit(-1)).alias("t3_us"),
        reached.alias("reached"),
    )


def daily_xcorr(events: DataFrame, type_x: str = "click",
                type_y: str = "purchase", max_lag: int = 3,
                ts_col: str = "ts", type_col: str = "event_type") -> DataFrame:
    """Lagged cross-correlation of two event types' DAILY volumes:
    (lag, n_days, r) for lag in [−max_lag, max_lag], r = Pearson
    correlation of x_t with y_{t+lag} — the lead/lag discovery tool
    (does click volume PREDICT purchase volume two days later, or
    trail it?) behind campaign attribution and capacity planning.

    Determinism: the feature_correlation discipline per lag — exact
    DECIMAL moment sums over the matched-day pairs, one fixed IEEE
    closed form; day alignment is integral epoch-day arithmetic; the
    per-lag matched-day table is the bounded calendar grain."""
    day = F.expr(
        f"unix_micros(cast({ts_col} as timestamp)) div 86400000000"
    ).cast("long")
    daily = events.groupBy(
        day.alias("day"), F.col(type_col).alias("ty")
    ).agg(F.count("*").alias("c"))
    x = daily.filter(F.col("ty") == type_x).select("day", F.col("c").alias("x"))
    y = daily.filter(F.col("ty") == type_y).select("day", F.col("c").alias("y"))
    outs = []
    for lag in range(-max_lag, max_lag + 1):
        j = x.join(
            y.select((F.col("day") - lag).alias("day"), "y"), "day"
        )
        x19, y19 = F.col("x").cast("decimal(19,0)"), F.col("y").cast("decimal(19,0)")
        x18, y18 = F.col("x").cast("decimal(18,0)"), F.col("y").cast("decimal(18,0)")
        m = j.agg(
            F.count("*").alias("n_days"),
            F.sum(F.col("x").cast("decimal(38,0)")).alias("_sx"),
            F.sum(F.col("y").cast("decimal(38,0)")).alias("_sy"),
            F.sum((x19 * y18).cast("decimal(38,0)")).alias("_sxy"),
            F.sum((x19 * x18).cast("decimal(38,0)")).alias("_sxx"),
            F.sum((y19 * y18).cast("decimal(38,0)")).alias("_syy"),
        )
        n = F.col("n_days").cast("double")
        sx, sy = F.col("_sx").cast("double"), F.col("_sy").cast("double")
        sxy = F.col("_sxy").cast("double")
        sxx, syy = F.col("_sxx").cast("double"), F.col("_syy").cast("double")
        ok = ((n * sxx - sx * sx) > 0) & ((n * syy - sy * sy) > 0)
        r = (n * sxy - sx * sy) / (
            F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)
        )
        outs.append(m.select(
            F.lit(lag).alias("lag"),
            "n_days",
            F.round(F.when(ok, r).otherwise(F.lit(0.0)), 6).alias("r"),
        ))
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res


def rfm_segments(events: DataFrame, user_col: str = "user_id",
                 ts_col: str = "ts", value_col: str = "value",
                 n_tiles: int = 5) -> DataFrame:
    """RFM (recency / frequency / monetary) segmentation census: each
    user scores an n_tiles-quantile rank on recency of last activity,
    event count, and summed value; the output is the bounded
    (r, f, m) -> user-count census (plus per-cell mean monetary) that
    engagement triage reads ("5-5-5 whales", "1-x-x churned").

    Determinism: the three ntile ranks run over the USER-grain table
    (bounded: one row per user, not per event) with explicit
    (metric, user_id) tie-breaks — ntile over ties is otherwise
    order-dependent; monetary sums ride DECIMAL(20,6). The census fold
    is bounded by n_tiles³ cells.

    Scale note: ntile is an unpartitioned window over the user table —
    fine to ~10⁸ users in one sorted task; beyond that derive tile
    boundaries from the bounded a17-style count histogram and bucket
    map-side (documented swap, value-identical up to tie placement)."""
    tus = F.unix_micros(F.col(ts_col).cast("timestamp"))
    per_user = events.groupBy(F.col(user_col).alias("u")).agg(
        F.max(tus).alias("last_us"),
        F.count("*").alias("freq"),
        F.sum(F.col(value_col).cast("decimal(20,6)")).alias("money"),
    )
    wr = Window.orderBy(F.asc("last_us"), F.asc("u"))
    wf = Window.orderBy(F.asc("freq"), F.asc("u"))
    wm = Window.orderBy(F.asc("money"), F.asc("u"))
    scored = per_user.select(
        "u", "money",
        F.ntile(n_tiles).over(wr).alias("r"),
        F.ntile(n_tiles).over(wf).alias("f"),
        F.ntile(n_tiles).over(wm).alias("m"),
    )
    return scored.groupBy("r", "f", "m").agg(
        F.count("*").alias("n_users"),
        F.round(
            F.sum("money").cast("double") / F.count("*").cast("double"), 6
        ).alias("mean_monetary"),
    )
