"""Event-stream operators over the bounded `events` table: fixed time
buckets, gap sessionization, as-of join. Bounded execution is parity
with the reference (it has no unbounded sources, SURVEY §2.9); the
unbounded spelling of the windowed aggregate lives in
datafusion_gpu_spark.streaming (Structured Streaming file source +
watermark).
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window, WindowSpec

from datafusion_gpu_spark.operators.util import cuts, owns_cuts


def _epoch_us(ts_col: str) -> F.Column:
    # NTZ-safe (session tz is pinned UTC by register_tables)
    return F.unix_micros(F.col(ts_col).cast("timestamp"))


def tumbling_window_agg(events: DataFrame, width: str = "1 hour") -> DataFrame:
    """Per-(window, event_type) counts and value sums — F.window is the
    canonical epoch-aligned tumbling bucket (same alignment as DuckDB's
    time_bucket)."""
    return (
        events.groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def hopping_window_agg(
    events: DataFrame, width: str = "1 hour", slide: str = "30 minutes"
) -> DataFrame:
    """Overlapping (hopping) windows: every event lands in width/slide
    windows — F.window with a slideDuration expands rows JVM-side, and
    the aggregate stays two-phase."""
    return (
        events.groupBy(F.window("ts", width, slide).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def session_window_agg(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Native session windows (F.session_window): per-(user, session)
    span and event count, sessions closing after ``gap`` idle. Same
    semantics as the manual sessionize() below, but windowed state is
    managed by Spark — and this form re-targets Structured Streaming
    unchanged."""
    return (
        events.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
        )
    )


def sessionize(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Gap-based sessions per user: a new session starts when the gap to
    the previous event exceeds the threshold; session id = running count
    of session starts (two window passes over the same (user, ts)
    partitioning — one shuffle total)."""
    gap_us = gap_minutes * 60 * 1_000_000
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag(_epoch_us("ts")).over(w)
    is_new = F.when(
        prev_ts.isNull() | ((_epoch_us("ts") - prev_ts) > gap_us), 1
    ).otherwise(0)
    sessions = events.withColumn(
        "session_id",
        F.sum(is_new).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        sessions.groupBy("user_id")
        .agg(
            F.max("session_id").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


def asof_join_prior(
    left: DataFrame,
    right: DataFrame,
    on: str,
    ts: str = "ts",
    left_id: str = "event_id",
    right_id: str = "event_id",
) -> DataFrame:
    """As-of join: for each left row, the most recent right row with
    right.ts <= left.ts and equal key (DuckDB/QuestDB ASOF semantics —
    the reference's engine lacks this, SURVEY §2.3 'out of scope').

    Spark-first spelling: union both sides tagged, one window pass
    ordered by (ts, side) with last_value(ignoreNulls) carrying the
    latest right id forward — a single shuffle on the join key, no
    nested-loop, no per-key skew beyond the key's own row count.
    Right rows sort before left rows at equal ts so ties count.
    """
    l_tag = left.select(
        F.col(on).alias("k"),
        F.col(ts).alias("t"),
        F.col(left_id).alias("left_id"),
        F.lit(None).cast("long").alias("right_id"),
        F.lit(1).alias("side"),
    )
    r_tag = right.select(
        F.col(on).alias("k"),
        F.col(ts).alias("t"),
        F.lit(None).cast("long").alias("left_id"),
        F.col(right_id).alias("right_id"),
        F.lit(0).alias("side"),
    )
    # right_id as the last sort key: with duplicate right rows at one
    # (key, ts) the max right_id wins deterministically (left rows carry
    # NULL right_id, which sorts first and cannot win last_value anyway)
    w = (
        Window.partitionBy("k")
        .orderBy("t", "side", "right_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = l_tag.unionByName(r_tag).withColumn(
        "matched_right", F.last("right_id", ignorenulls=True).over(w)
    )
    return merged.where(F.col("side") == 1).select(
        F.col("k").alias(on),
        F.col("left_id"),
        F.col("matched_right").alias("prior_right_id"),
    )


def gap_fill(events: DataFrame, unit: str = "hour") -> DataFrame:
    """Time-series regularization: resample each user's event stream onto
    a dense ``unit``-aligned grid and forward-fill the value — the
    feature-store primitive that turns irregular event logs into
    fixed-step model inputs (and the batch twin of a streaming
    sliding-state fill).

    Per (user_id, bucket): the last observed value (ties broken by
    event_id, so the reduction is deterministic) and the observation
    count; the grid spans each user's own [min, max] bucket
    (``sequence`` + explode — no cross-user densification); missing
    buckets forward-fill via last-non-null over an UNBOUNDED
    PRECEDING..CURRENT ROW frame. The first bucket is observed by
    construction, so no leading NULLs survive.

    Scale: one (user, bucket) aggregation, one per-user span
    aggregation, a grid join keyed the same way, and one per-user
    ordered window — all partition by user_id, so AQE chains them on a
    single exchange family. A pathological user spanning years of
    buckets skews its grid task; cap the span or shard the window by
    (user, month) when that matters.
    """
    filled = _observed_grid(events, unit).select(
        "user_id",
        "bucket",
        "n_obs",
        "is_observed",
        F.last("obs_value", ignorenulls=True)
        .over(
            Window.partitionBy("user_id")
            .orderBy("bucket")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        .alias("value_filled"),
    )
    return filled


def _observed_grid(events: DataFrame, unit: str) -> DataFrame:
    """Shared resampling substrate of :func:`gap_fill` (LOCF) and
    :func:`gap_fill_linear`: per (user, unit-bucket) the observation
    count and last-observed value (ties broken by event_id), densified
    onto each user's own [min, max] bucket span. Columns: user_id,
    bucket, n_obs, is_observed, obs_value (NULL on missing buckets)."""
    bucket = F.date_trunc(unit, F.col("ts")).alias("bucket")
    ranked = events.select("user_id", bucket, "ts", "event_id", "value").withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("user_id", "bucket").orderBy(
                F.desc("ts"), F.desc("event_id")
            )
        ),
    )
    observed = ranked.groupBy("user_id", "bucket").agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.max(F.when(F.col("rn") == 1, F.col("value"))).alias("obs_value"),
    )
    spans = observed.groupBy("user_id").agg(
        F.min("bucket").alias("mn"), F.max("bucket").alias("mx")
    )
    grid = spans.select(
        "user_id",
        F.explode(F.expr(f"sequence(mn, mx, interval 1 {unit})")).alias("bucket"),
    )
    return grid.join(observed, ["user_id", "bucket"], "left").select(
        "user_id",
        "bucket",
        F.coalesce("n_obs", F.lit(0)).alias("n_obs"),
        F.col("obs_value").isNotNull().alias("is_observed"),
        "obs_value",
    )


def gap_fill_linear(events: DataFrame, unit: str = "hour") -> DataFrame:
    """Linear-interpolation gap fill — the other standard resampling
    fill next to :func:`gap_fill`'s LOCF: interior missing buckets take
    the straight line between the surrounding observations,
    ``prev + (next - prev) * (t - t_prev) / (t_next - t_prev)``;
    trailing gaps (no later observation) fall back to LOCF; the first
    bucket is observed by construction. The time ratio is a division of
    exact bigint epoch-micros (grid buckets are unit-aligned, so it is
    i/gap in whole units — both engines derive the identical double),
    and the value arithmetic is the same IEEE expression on both sides,
    rounded once at the end.

    Same plan shape as gap_fill plus ONE more per-user ordered window
    (the forward-looking next-observation pass): everything partitions
    by user_id on one exchange family.
    """
    j = _observed_grid(events, unit)
    wp = (
        Window.partitionBy("user_id")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy("bucket")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_bucket = F.when(F.col("obs_value").isNotNull(), F.col("bucket"))
    w = j.select(
        "user_id",
        "bucket",
        "n_obs",
        "is_observed",
        "obs_value",
        F.last("obs_value", ignorenulls=True).over(wp).alias("pv"),
        F.last(obs_bucket, ignorenulls=True).over(wp).alias("pt"),
        F.first("obs_value", ignorenulls=True).over(wf).alias("nv"),
        F.first(obs_bucket, ignorenulls=True).over(wf).alias("nt"),
    )
    ratio = (_epoch_us("bucket") - _epoch_us("pt")).cast("double") / (
        _epoch_us("nt") - _epoch_us("pt")
    )
    interp = (
        F.when(F.col("is_observed"), F.col("obs_value"))
        .when(F.col("nv").isNull(), F.col("pv"))
        .otherwise(F.col("pv") + (F.col("nv") - F.col("pv")) * ratio)
    )
    # quantize through INTEGER micro-units rather than ROUND(x, 6):
    # decimal-scaled rounding differs between engines by 1 ulp at the
    # half boundary (Spark rounds the exact BigDecimal, DuckDB the
    # double product), but integer rounding of the SAME double product
    # is identical — so the emitted value is bigint/1e6 on both sides
    return w.withColumn("__iv", interp).select(
        "user_id",
        "bucket",
        "n_obs",
        "is_observed",
        F.expr(
            "CAST(ROUND(__iv * 1e6, 0) AS BIGINT) / 1e6"
        ).alias("value_interp"),
    )


def interval_join_bucketed(
    events: DataFrame,
    intervals: DataFrame,
    unit: str = "hour",
) -> DataFrame:
    """Interval join without a nested-loop: match events to the
    (start_ts, end_ts, interval_id) intervals that CONTAIN them by
    exploding each interval into its covered ``unit`` buckets and
    equi-joining on the bucket, then refining with the exact bounds.

    A plain `ts BETWEEN start AND end` join has no equality key, so
    Spark plans BroadcastNestedLoop — O(|events| x |intervals|) compares.
    The bucket spelling is the scalable rewrite: join work becomes
    O(|events| + sum of interval spans) keyed rows, a hash join on the
    bucket (plan-asserted: no BNLJ). Knob: ``unit`` trades explode
    amplification (long intervals -> many buckets) against refine
    selectivity — pick it near the median interval length.
    """
    ev = events.select(
        "event_id", "user_id", "event_type", "value", "ts",
        F.date_trunc(unit, F.col("ts")).alias("bucket"),
    )
    iv = intervals.select(
        "interval_id", "start_ts", "end_ts",
        F.explode(
            F.expr(
                f"sequence(date_trunc('{unit}', start_ts),"
                f" date_trunc('{unit}', end_ts), interval 1 {unit})"
            )
        ).alias("bucket"),
    )
    return (
        ev.join(iv, "bucket")
        .where((F.col("ts") >= F.col("start_ts")) & (F.col("ts") < F.col("end_ts")))
        .select("interval_id", "event_id", "user_id", "event_type", "value", "ts")
    )


def rolling_anomalies(
    events: DataFrame,
    unit: str = "hour",
    trailing: int = 24,
    z_threshold: float = 3.0,
) -> DataFrame:
    """Rolling z-score anomaly flags over the regularized series: compose
    :func:`gap_fill` with a trailing-``trailing``-bucket mean/stddev
    window (EXCLUDING the current bucket — the baseline must not contain
    the point being judged) and flag |z| >= ``z_threshold``.

    The monitoring primitive over event streams: one extra window pass
    on the same user_id partitioning gap_fill already established, so
    no additional shuffle. z is ROUNDED to 6 before the threshold so
    the SQL oracle replays every flag decision; buckets with fewer than
    2 prior observations or zero variance get z NULL / flag false.
    """
    g = gap_fill(events, unit)
    w = (
        Window.partitionBy("user_id")
        .orderBy("bucket")
        .rowsBetween(-trailing, -1)
    )
    mu = F.avg("value_filled").over(w)
    sd = F.stddev_samp("value_filled").over(w)
    n_prior = F.count("value_filled").over(w)
    # LOCF makes long constant runs, whose TRUE stddev is 0 — but the
    # floating sum-of-squares may return 0 in one engine and ~1e-13 in
    # another, turning z into +-1e19 on one side only. The epsilon guard
    # (real per-bucket stddevs here are O(10)) makes "zero variance" a
    # decision both engines reach identically.
    z = F.when(
        (n_prior >= 2) & (sd > 1e-9),
        F.round((F.col("value_filled") - mu) / sd, 6),
    )
    return g.select(
        "user_id",
        "bucket",
        "value_filled",
        n_prior.alias("n_prior"),
        z.alias("zscore"),
        F.coalesce(F.abs(z) >= z_threshold, F.lit(False)).alias("is_anomaly"),
    )


def winsorize(
    events: DataFrame,
    p_lo: float = 0.01,
    p_hi: float = 0.99,
    group_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """Percentile winsorization: clip ``value_col`` to its per-group
    [p_lo, p_hi] exact interpolated percentiles — the outlier treatment
    a metrics/feature pipeline applies before aggregation so one fat
    finger doesn't move the mean.

    Bounds come from one dimension-sized exact-percentile aggregate
    (per group, not per row) broadcast back; the clip is a map-side
    least/greatest. Both engines define the exact percentile as the
    same linear interpolation (Spark `percentile` == DuckDB
    `quantile_cont`), and outputs are ROUNDED so the replay matches.
    """
    bounds = events.groupBy(group_col).agg(
        F.expr(f"percentile({value_col}, {p_lo})").alias("lo"),
        F.expr(f"percentile({value_col}, {p_hi})").alias("hi"),
    )
    clipped = F.least(F.greatest(F.col(value_col), F.col("lo")), F.col("hi"))
    return events.join(F.broadcast(bounds), group_col).select(
        "event_id",
        group_col,
        F.round(value_col, 6).alias("value"),
        F.round(clipped, 6).alias("clipped"),
        (F.round(clipped, 6) != F.round(value_col, 6)).alias("was_clipped"),
    )


def multi_resolution_rollup(
    events: DataFrame,
    value_col: str = "value",
) -> DataFrame:
    """Minute/hour/day aggregates in one pass over the raw events — the
    hypertable "continuous aggregate" shape: the MINUTE tier is the only
    scan of the raw table; the hour tier re-aggregates minute PARTIALS
    (sum of sums, sum of counts) and the day tier re-aggregates hour
    partials. At 100 TB the raw scan happens once and each coarser tier
    costs O(previous tier's groups), not O(raw rows) — and in production
    the minute tier is what you persist, so daily rollups never touch
    raw data again.

    Returns (resolution, bucket_start, event_type, n_events, sum_value),
    one row per (tier, bucket, type); sums are rounded only at the final
    projection so tiers reaggregate unrounded partials.
    """
    minute = events.groupBy(
        F.date_trunc("minute", "ts").alias("bucket"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col(value_col)).alias("sum_value"),
    )
    return rollup_tiers_from_minute(minute)


def rollup_tiers_from_minute(minute: DataFrame) -> DataFrame:
    """Derive the hour/day tiers from a MINUTE-partial relation and tag
    all three — the reaggregation half of the continuous aggregate,
    shared by the batch operator above and the streaming twin
    (streaming.materialized_multi_rollup), which persists the minute
    tier from the stream and derives coarser tiers from those partials
    in batch — exactly the production split."""
    hour = minute.groupBy(
        F.date_trunc("hour", "bucket").alias("bucket"), "event_type"
    ).agg(
        F.sum("n_events").alias("n_events"),
        F.sum("sum_value").alias("sum_value"),
    )
    day = hour.groupBy(
        F.date_trunc("day", "bucket").alias("bucket"), "event_type"
    ).agg(
        F.sum("n_events").alias("n_events"),
        F.sum("sum_value").alias("sum_value"),
    )

    def tag(df: DataFrame, name: str) -> DataFrame:
        return df.select(
            F.lit(name).alias("resolution"),
            F.col("bucket").alias("bucket_start"),
            "event_type",
            "n_events",
            F.round("sum_value", 2).alias("sum_value"),
        )

    return tag(minute, "minute").unionAll(tag(hour, "hour")).unionAll(
        tag(day, "day")
    )


def scd2_history(
    changes: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Slowly-changing-dimension type-2 compaction of a change log: one
    row per (key, version) with ``effective_from`` / ``effective_to``
    validity bounds and an ``is_current`` flag — the standard warehouse
    shape for replaying CDC streams into point-in-time-queryable
    history (join on ``from <= t < to`` answers "what did the row say
    at time t").

    One window over (key ORDER BY ts, tiebreak): ``effective_to`` is
    the NEXT version's timestamp (NULL for the open current row). One
    hash shuffle on the key, codegen-only — at 100 TB this is the same
    single-exchange shape as any keyed window, and AQE handles skewed
    keys.
    """
    order = [F.col(ts_col)]
    if tiebreak_col:
        order.append(F.col(tiebreak_col))
    w = Window.partitionBy(*key_cols).orderBy(*order)
    eff_from = F.col(ts_col)
    if tiebreak_col is None:
        # without a tiebreak, duplicate (key, ts) rows would make which
        # version is "current" depend on arbitrary partition order —
        # fail at execution instead of replaying nondeterministically
        # (assert_true rides inside the kept column so pruning cannot
        # drop the check)
        n_ts = F.count(F.lit(1)).over(
            Window.partitionBy(*key_cols, ts_col)
        )
        eff_from = F.when(
            F.assert_true(
                n_ts == 1,
                "scd2_history: duplicate (key, ts) rows make the current "
                "version nondeterministic; pass tiebreak_col",
            ).isNull(),
            F.col(ts_col),
        )
    nxt = F.lead(ts_col).over(w)
    return (
        changes.withColumn("effective_from", eff_from)
        .withColumn("effective_to", nxt)
        .withColumn("is_current", nxt.isNull())
    )


# -- funnel & cohort analytics ----------------------------------------------


def funnel_counts(
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """(step, stage, users): how many users completed each prefix of the
    ordered funnel ``steps`` — a user counts for step i only if they hit
    every earlier stage first, each at a STRICTLY later timestamp than
    the previous conversion (the standard product-analytics funnel).

    ONE keyed shuffle does all stages: the conversion-time chain
    ``t_i = min(ts of stage i strictly after t_{i-1})`` is a cascade of
    whole-partition window minima over ``partitionBy(user_col)`` — every
    Window node after the first reuses the same hash exchange (one
    shuffle total, plan-asserted in tests), and per-key aggregation
    state is ONE scalar per stage. Unlike a ``collect_list`` spelling,
    a bot user with millions of funnel events never builds an unbounded
    in-memory array: WindowExec's row buffer spills to disk, the min
    state does not grow. The per-user chain then collapses via a
    partial-agg ``first`` (no new exchange — already partitioned by
    user) and a driver-sized count + explode emits the per-stage user
    counts. At 100 TB: one hash shuffle on ``user_col`` (AQE handles
    skew), then a driver-sized result.
    """
    if len(steps) < 2:
        raise ValueError("funnel needs at least two stages")
    w = Window.partitionBy(user_col)
    g = events.where(F.col(type_col).isin(list(steps))).withColumn(
        "t_0",
        F.min(F.when(F.col(type_col) == steps[0], F.col(ts_col))).over(w),
    )
    for i, s in enumerate(steps[1:], start=1):
        prev = F.col(f"t_{i - 1}")
        g = g.withColumn(
            f"t_{i}",
            F.min(
                F.when(
                    (F.col(type_col) == s) & (F.col(ts_col) > prev),
                    F.col(ts_col),
                )
            ).over(w),
        )
    per_user = g.groupBy(user_col).agg(
        *[F.first(f"t_{i}").alias(f"t_{i}") for i in range(len(steps))]
    )
    counts = per_user.agg(
        *[F.count(F.col(f"t_{i}")).alias(f"c_{i}") for i in range(len(steps))]
    )
    stages = F.array(
        *[
            F.struct(
                F.lit(i + 1).alias("step"),
                F.lit(s).alias("stage"),
                F.col(f"c_{i}").alias("users"),
            )
            for i, s in enumerate(steps)
        ]
    )
    return counts.select(F.explode(stages).alias("r")).select("r.*")


def cohort_retention(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """(cohort_day, day_offset, users): the classic retention triangle —
    users grouped by first-seen calendar day, counted on each later day
    they were active. Three bounded shuffles: first-seen per user (one
    keyed agg), distinct (user, day) activity (one agg — dedups the raw
    events down to at most |U| x days rows BEFORE the join), then the
    cohort/offset rollup. The activity->cohort join is keyed on
    ``user_col`` and co-partitioned with the first-seen agg's output, so
    at 100 TB the only big shuffle is the initial per-user one.
    """
    firsts = events.groupBy(user_col).agg(
        F.to_date(F.min(ts_col)).alias("cohort_day")
    )
    active = events.select(
        user_col, F.to_date(ts_col).alias("day")
    ).distinct()
    return (
        active.join(firsts, user_col)
        .groupBy(
            "cohort_day", F.datediff("day", "cohort_day").alias("day_offset")
        )
        .agg(F.count(F.lit(1)).alias("users"))
    )


def transition_counts(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """(src_type, dst_type, n): the first-order Markov transition matrix
    of the event stream — for each user's (ts, tiebreak)-ordered
    timeline, count consecutive event-type pairs. One window shuffle on
    the user key plus one |types|^2-sized aggregation; the per-user
    ordering is total (tiebreak column), so the matrix is deterministic
    and an ANSI LEAD() oracle replays it exactly.
    """
    w = Window.partitionBy(user_col).orderBy(ts_col, tiebreak_col)
    nxt = F.lead(type_col).over(w)
    return (
        events.select(F.col(type_col).alias("src_type"), nxt.alias("dst_type"))
        .where(F.col("dst_type").isNotNull())
        .groupBy("src_type", "dst_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def top_paths(
    events: DataFrame,
    length: int = 3,
    k: int = 10,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """(path, n): the ``k`` most common ``length``-step event-type
    sequences across all user timelines (sliding n-grams over each
    user's total order) — path mining for product analytics and for
    sequence-frequency pruning in training-data curation. Same shuffle
    shape as :func:`transition_counts` (one keyed window, one
    aggregation); the final top-k is a TakeOrderedAndProject, not a full
    sort. Ties rank deterministically (count desc, then path asc).
    """
    w = Window.partitionBy(user_col).orderBy(ts_col, tiebreak_col)
    cols = [F.col(type_col)] + [
        F.lead(type_col, i).over(w) for i in range(1, length)
    ]
    path = F.concat_ws(" -> ", *cols)
    # every element must be non-null: concat_ws SKIPS nulls (a NULL type
    # mid-window would silently collapse to a shorter path), so the
    # completeness predicate covers all positions, not just the last
    complete = cols[0].isNotNull()
    for c in cols[1:]:
        complete = complete & c.isNotNull()
    return (
        events.select(path.alias("path"), complete.alias("ok"))
        .where("ok")
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("path"))
        .limit(k)
    )


def value_histogram(
    events: DataFrame,
    width: float = 5.0,
    value_col: str = "value",
    type_col: str = "event_type",
) -> DataFrame:
    """(event_type, bucket, n, sum_value) fixed-width histogram of the
    value distribution — floor(value / width) buckets, the numeric
    sibling of the tumbling time bucket. One hash aggregation with
    map-side partials; at 100 TB the result is |types| x |buckets|
    rows regardless of input size. floor() keeps bucket assignment
    portable across engines (width_bucket edge semantics differ)."""
    return (
        events.groupBy(
            F.col(type_col),
            F.floor(F.col(value_col) / width).cast("long").alias("bucket"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(value_col), 2).alias("sum_value"),
        )
    )


def mad_anomalies(
    events: DataFrame,
    k: float = 3.0,
    value_col: str = "value",
    type_col: str = "event_type",
) -> DataFrame:
    """Robust per-type outlier flags via Median Absolute Deviation:
    |value - median| > k * 1.4826 * MAD — the heavy-tail-safe sibling
    of the rolling z-score (one extreme bot value shifts a mean/stddev
    baseline but not a median/MAD one).

    Two keyed aggregations (median per type, then MAD per type) and a
    broadcast join of the |types|-row stats back onto the stream; the
    deviation is ROUNDED to 6 before the threshold so the SQL oracle
    replays every flag decision bit-for-bit. Exact medians here; at
    100 TB swap in approx_percentile(0.5) (mergeable sketch) — the
    same plan shape with bounded state.
    """
    med = events.groupBy(type_col).agg(
        F.median(value_col).alias("med")
    )
    mad = (
        events.join(F.broadcast(med), type_col)
        .groupBy(type_col)
        .agg(
            F.first("med").alias("med"),
            F.median(F.abs(F.col(value_col) - F.col("med"))).alias("mad"),
        )
    )
    dev = F.round(
        F.abs(F.col(value_col) - F.col("med")) / (F.lit(1.4826) * F.col("mad")),
        6,
    )
    return (
        events.join(F.broadcast(mad), type_col)
        .select(
            "event_id",
            F.col(type_col),
            F.round(value_col, 2).alias("value"),
            F.round("med", 6).alias("med"),
            F.round("mad", 6).alias("mad"),
            F.when(F.col("mad") > 0, dev > k).otherwise(F.lit(False)).alias(
                "is_outlier"
            ),
        )
    )


def cusum_alarms(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    val_col: str = "value",
    id_col: str = "event_id",
    k_sigmas: float = 0.5,
    h_sigmas: float = 4.0,
    scale: int = 100,
) -> DataFrame:
    """Per-key one-sided CUSUM drift detection (Page 1954) over the
    time-ordered value stream — the standard change-point monitor a
    training-data pipeline runs over ingest telemetry (a source whose
    quality score / doc length / dedup rate drifts upward past h
    sigmas should alarm long before a fixed threshold fires):

        y_i = x_i - mean(key) - k          (k = k_sigmas * stddev)
        S_i = max(0, S_{i-1} + y_i)        (alarm when S_i > h)

    The recursion LOOKS sequential, but has the exact closed form
    S_i = cumsum(y)_i - min(0, running_min(cumsum(y))) — so it is two
    window functions over (key ORDER BY ts, id), fully parallel across
    keys. One shuffle on the key; the per-key (mean, stddev) baseline
    is a broadcast join of a |keys|-row aggregate.

    Arithmetic is INTEGER-EXACT by construction: values scale to
    ``scale`` units (cents by default) and the baseline mean and the
    k/h offsets quantize to the same units ONCE, so the cumulative
    sums, the running minima and every alarm decision are bigint
    operations that any SQL engine replays bit-for-bit — no
    accumulation-order noise can reach a threshold (a float spelling
    measurably diverged from DuckDB's segment-tree window sums in the
    6th decimal).

    Returns one row per key: events seen, alarm count, the peak CUSUM
    statistic in scaled units, and the first alarm's event id.
    """
    from pyspark.sql import Window

    xq = F.round(F.col(val_col) * scale).cast("long")
    stats = events.groupBy(key_col).agg(
        F.round(F.avg(xq)).cast("long").alias("__mu__"),
        F.round(F.lit(k_sigmas) * F.stddev_pop(xq)).cast("long").alias("__k__"),
        F.round(F.lit(h_sigmas) * F.stddev_pop(xq)).cast("long").alias("__h__"),
    )
    w = (
        Window.partitionBy(key_col)
        .orderBy(ts_col, id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    y = xq - F.col("__mu__") - F.col("__k__")
    scored = (
        events.join(F.broadcast(stats), key_col)
        .withColumn("__c__", F.sum(y).over(w))
        .withColumn(
            "__s__",
            F.col("__c__") - F.least(F.lit(0).cast("long"), F.min("__c__").over(w)),
        )
        .withColumn(
            "__alarm__",
            (F.col("__h__") > 0) & (F.col("__s__") > F.col("__h__")),
        )
    )
    return scored.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("__alarm__").cast("int")).alias("n_alarms"),
        F.max("__s__").alias("peak_cusum"),
        # FIRST alarm = minimum (ts, id) among alarm rows — the min id
        # alone would mis-attribute when ids are not time-ordered
        F.min(F.when(F.col("__alarm__"), F.struct(ts_col, id_col)))[
            id_col
        ].alias("first_alarm_id"),
    )


def ewma_halflife(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    val_col: str = "value",
    id_col: str = "event_id",
    span: int = 20,
    scale: int = 100,
) -> DataFrame:
    """Per-key exponentially weighted moving average (halflife = one
    observation, i.e. decay 1/2 per step) over the time-ordered value
    stream, truncated to the ``span`` most recent observations — the
    smoother a pipeline runs over per-source telemetry before a drift
    monitor like :func:`cusum_alarms` decides on it.

    The arithmetic lesson from the CUSUM float spelling applies here
    with a twist: a general-alpha EWMA forces float powers, and float
    window sums accumulate in engine-specific order. Choosing the
    halflife form makes every weight a POWER OF TWO, so the weighted
    numerator and the weight normalizer are exact bigints:

        num_i = sum_{k=0..span-1} round(x_{i-k} * scale) * 2^(span-1-k)
        den_i = sum_{k : row i-k exists} 2^(span-1-k)
        ewma_i = round((num_i / den_i) / scale, 6)

    spelled as ``span`` pairs of lag() terms over ONE window spec —
    a single sort per key partition, all JVM codegen, one shuffle on
    the key. The truncation at ``span`` is part of the operator's
    definition (a span-20 halflife-1 window carries 2^-20 < 1e-6 of
    residual weight, below the emitted rounding), and the adjusted
    normalizer means the warm-up rows are exact weighted means of the
    history that exists, matching pandas ewm(adjust=True) semantics on
    the truncated window. The only float operations are the final two
    divisions, identical single IEEE ops on both engines.

    Rows with NULL values must be filtered upstream (a NULL inside the
    window would silently drop its term from num but keep ordering).

    Returns one row per event: key, id, exact num/den bigints, ewma.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(key_col).orderBy(ts_col, id_col)
    df = events.withColumn("__c__", F.round(F.col(val_col) * scale).cast("long"))
    # each distinct lag projected once, folds consume the shared column
    # (r15, guide §1.2 — Spark does not deduplicate identical window
    # expressions; see holt_linear): 2 call sites per offset -> 1
    lagged_df = df.select(
        key_col,
        id_col,
        *[F.lag("__c__", k).over(w).alias(f"__el{k}__") for k in range(span)],
    )
    num = F.lit(0).cast("long")
    den = F.lit(0).cast("long")
    for k in range(span):
        wgt = 1 << (span - 1 - k)
        lcol = F.col(f"__el{k}__")
        num = num + F.coalesce(lcol * F.lit(wgt), F.lit(0).cast("long"))
        den = den + F.when(lcol.isNotNull(), F.lit(wgt)).otherwise(
            F.lit(0)
        ).cast("long")
    exact = lagged_df.select(key_col, id_col, num.alias("num"), den.alias("den"))
    return exact.select(
        key_col,
        id_col,
        "num",
        "den",
        F.round(
            F.col("num").cast("double")
            / F.col("den").cast("double")
            / F.lit(float(scale)),
            6,
        ).alias("ewma"),
    )


def holt_weights(span: int) -> tuple[list[int], list[int]]:
    """Integer weight vectors for :func:`holt_linear`: the ``span``
    power-of-two EWMA weights w_k = 2^(span-1-k), and their
    self-convolution conv_j = (span - |j - (span-1)|) * 2^(2(span-1)-j)
    for j in 0..2(span-1) — the fixed kernel that double smoothing
    collapses to over a truncated window."""
    w1 = [1 << (span - 1 - k) for k in range(span)]
    w2 = [
        (span - abs(j - (span - 1))) * (1 << (2 * (span - 1) - j))
        for j in range(2 * span - 1)
    ]
    return w1, w2


def holt_terminal_exprs(scale: int = 100) -> dict[str, str]:
    """The terminal IEEE expressions shared token-for-token between the
    Spark operator and the DuckDB oracle (level/trend/forecast from the
    exact num/den bigints). Brown's one-parameter equivalence at
    halflife-1 smoothing (alpha = 1/2, so alpha/(1-alpha) = 1):
    level = 2S' - S'', trend = S' - S'', forecast = level + trend."""
    s = float(scale)
    sp = "CAST(num1 AS DOUBLE) / den1"
    spp = "CAST(num2 AS DOUBLE) / den2"
    return {
        "level": f"ROUND((2.0 * ({sp}) - {spp}) / {s}, 6)",
        "trend": f"ROUND(({sp} - {spp}) / {s}, 6)",
        "forecast_next": f"ROUND((3.0 * ({sp}) - 2.0 * ({spp})) / {s}, 6)",
    }


def holt_linear(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    val_col: str = "value",
    id_col: str = "event_id",
    span: int = 20,
    scale: int = 100,
) -> DataFrame:
    """Per-key double-exponential (Brown) smoothing with linear trend —
    the forecasting step next to :func:`ewma_halflife`'s level-only
    smoother: a drift monitor that compares each value against
    ``forecast_next`` from the PREVIOUS row sees trend-adjusted
    residuals, where plain EWMA lags every ramp.

    Exact-arithmetic spelling: S' (single smooth) is the truncated
    power-of-two EWMA — num1/den1 exactly as :func:`ewma_halflife`.
    S'' (smooth of the smooth) over a truncated window collapses to ONE
    fixed integer convolution, because EWMA(EWMA) weights are the
    self-convolution of the weight vector (:func:`holt_weights`):

        num2_i = sum_j conv_j * c_{i-j}   over rows that exist
        den2_i = sum_{j : row exists} conv_j

    so both smoothers are exact bigint folds over ONE window spec
    (2*span-1 lag pairs, all JVM codegen, one shuffle on the key). S'
    has pandas ewm(adjust=True) warm-up semantics exactly (its den1
    renormalizes over the rows present); S'' uses the CONVOLVED-KERNEL
    adjusted mean — den2 renormalizes the fixed self-convolution over
    the rows present, which during warm-up differs from a true
    EWMA-of-EWMA with adjust=True (that would re-derive the kernel per
    prefix). The two agree exactly once the 2*span-1 window is full
    (the steady state the replay test asserts); operator, oracle, and
    streaming twin all share this one spelling, so they are mutually
    bit-identical everywhere. Headroom: den2 = (2^span - 1)^2
    (~1.1e12 at span=20), so num2 <= den2 * max_cents holds inside
    int64 for cents to ~8.4e6 ($84k values at scale=100); the knob is
    span (span=16 buys 256x). Level/trend/forecast are terminal IEEE
    expressions (:func:`holt_terminal_exprs`) spelled identically in
    the oracle. Rows with NULL values must be filtered upstream.

    Returns one row per event: key, id, num1/den1/num2/den2 exact
    bigints, level, trend, forecast_next.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(key_col).orderBy(ts_col, id_col)
    df = events.withColumn("__c__", F.round(F.col(val_col) * scale).cast("long"))
    w1, w2 = holt_weights(span)
    # Each distinct lag is projected ONCE and the folds consume the
    # shared column (r15, guide §1.2 per-task work): Spark does NOT
    # deduplicate identical window expressions — the inline-lag
    # spelling's WindowExec evaluated 118 window expressions per row
    # (each 0..span-1 lag 4x: num1 term, den1 null-check, num2, den2;
    # each span..2span-2 lag 2x) where only 2*span-1 are distinct.
    # Same single window sort/shuffle, identical lag values feeding
    # identical arithmetic in identical order — proven byte-identical
    # on both engines before landing.
    n_lags = 2 * span - 1
    lagged = df.select(
        key_col,
        id_col,
        *[F.lag("__c__", j).over(w).alias(f"__hl{j}__") for j in range(n_lags)],
    )
    num1 = F.lit(0).cast("long")
    den1 = F.lit(0).cast("long")
    for k, wgt in enumerate(w1):
        lcol = F.col(f"__hl{k}__")
        num1 = num1 + F.coalesce(lcol * F.lit(wgt), F.lit(0).cast("long"))
        den1 = den1 + F.when(lcol.isNotNull(), F.lit(wgt)).otherwise(
            F.lit(0)
        ).cast("long")
    num2 = F.lit(0).cast("long")
    den2 = F.lit(0).cast("long")
    for j, wgt in enumerate(w2):
        lcol = F.col(f"__hl{j}__")
        num2 = num2 + F.coalesce(lcol * F.lit(wgt), F.lit(0).cast("long"))
        den2 = den2 + F.when(lcol.isNotNull(), F.lit(wgt)).otherwise(
            F.lit(0)
        ).cast("long")
    exact = lagged.select(
        key_col,
        id_col,
        num1.alias("num1"),
        den1.alias("den1"),
        num2.alias("num2"),
        den2.alias("den2"),
    )
    terms = holt_terminal_exprs(scale)
    return exact.select(
        key_col,
        id_col,
        "num1",
        "den1",
        "num2",
        "den2",
        *[F.expr(sql).alias(name) for name, sql in terms.items()],
    )


def holt_winters_weights(season_span: int = 8) -> list[int]:
    """Integer weights for the CAUSAL seasonal-subseries EWMA of
    :func:`holt_winters_additive`: power-of-two weights over same-slot
    lags 1..season_span (lag 0 excluded — the index must be a PRIOR
    estimate, so subtracting it can never trivially zero the series)."""
    return [1 << (season_span - k) for k in range(1, season_span + 1)]


def holt_winters_terminal_exprs(scale: int = 100) -> dict[str, str]:
    """Terminal IEEE expressions shared token-for-token between the
    Spark operator, the streaming twin's presentation step, and the
    DuckDB oracle. Inputs: exact bigints num1/den1/num2/den2 (Brown
    smoothing of the DESEASONALIZED cents) and sq (the quantized
    seasonal index, cents). level/trend read on the deseasonalized
    series; forecast adds the seasonal index back."""
    s = float(scale)
    sp = "CAST(num1 AS DOUBLE) / den1"
    spp = "CAST(num2 AS DOUBLE) / den2"
    return {
        "seasonal": f"ROUND(CAST(sq AS DOUBLE) / {s}, 6)",
        "level": f"ROUND((2.0 * ({sp}) - {spp}) / {s}, 6)",
        "trend": f"ROUND(({sp} - {spp}) / {s}, 6)",
        "forecast_next": (
            f"ROUND((3.0 * ({sp}) - 2.0 * ({spp}) + CAST(sq AS DOUBLE))"
            f" / {s}, 6)"
        ),
    }


#: SQL spelling of the quantized seasonal index — shared token-for-token
#: by the operator, the oracle generator, and the streaming twin's
#: grading contract (the stream computes the same value in integer
#: Python). First occurrence of a slot has no history: index 0.
HW_SQ_SQL = (
    "CASE WHEN s_den > 0 THEN "
    "CAST(ROUND(CAST(s_num AS DOUBLE) / s_den) AS BIGINT) ELSE 0 END"
)


def holt_winters_additive(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    val_col: str = "value",
    id_col: str = "event_id",
    span: int = 20,
    season_span: int = 8,
    scale: int = 100,
) -> DataFrame:
    """Per-key additive Holt-Winters via seasonal-subseries smoothing —
    the triple-smoothing member of the forecasting family
    (:func:`ewma_halflife` = level; :func:`holt_linear` = level+trend;
    this adds the period-24 seasonal component, the thing that
    separates forecast-residual drift from the hour-of-day cohort
    baseline the seasonal-anomaly query reads).

    Decomposition spelling (Holt-Winters 1960 additive semantics via
    causal seasonal adjustment, the same linear-filter discipline as
    :func:`holt_linear` rather than the coupled recursions — those
    aren't a fixed-kernel window):

    1. seasonal index: per (key, slot=hour-of-day) CAUSAL power-of-two
       EWMA over same-slot lags 1..season_span
       (:func:`holt_winters_weights`) — exact bigint s_num/s_den, then
       ONE deterministic quantization to integer cents
       (``sq = ROUND(s_num/s_den)``, 0 before any history). Both
       engines compute the identical IEEE division and half-away
       round, so sq is cross-engine exact.
    2. deseasonalize: ``d = cents - sq`` — exact bigint.
    3. Brown double smoothing of d: num1/den1/num2/den2 exactly as
       :func:`holt_linear` (same :func:`holt_weights` kernels), over
       one (key ORDER BY ts, id) window.
    4. terminals (:func:`holt_winters_terminal_exprs`): level/trend on
       the deseasonalized series; ``forecast_next = 3S' - 2S'' + sq``
       adds the seasonal baseline back.

    Scale shape: two window specs — (key, slot) and (key) — i.e. two
    keyed sort/shuffles of the event relation and nothing else; every
    fold is JVM codegen over exact bigints. Headroom matches
    holt_linear: ``|d| <= 2 * max_cents`` so num2 stays inside int64
    for cents to ~4e6 at span=20.

    Returns one row per event: key, id, slot, sq, the four exact
    bigints, and seasonal/level/trend/forecast_next.
    """
    from pyspark.sql import Window

    w_s = Window.partitionBy(key_col, "slot").orderBy(ts_col, id_col)
    df = events.withColumn(
        "__c__", F.round(F.col(val_col) * scale).cast("long")
    ).withColumn("slot", F.hour(ts_col).cast("int"))
    # r15 (guide §1.2, see holt_linear): each distinct lag projected
    # ONCE per window spec; the folds consume the shared columns
    season_lags = list(range(1, len(holt_winters_weights(season_span)) + 1))
    s_lagged = df.select(
        key_col, id_col, ts_col, "slot", "__c__",
        *[F.lag("__c__", k).over(w_s).alias(f"__sl{k}__") for k in season_lags],
    )
    s_num = F.lit(0).cast("long")
    s_den = F.lit(0).cast("long")
    for k, wgt in enumerate(holt_winters_weights(season_span), start=1):
        lcol = F.col(f"__sl{k}__")
        s_num = s_num + F.coalesce(lcol * F.lit(wgt), F.lit(0).cast("long"))
        s_den = s_den + F.when(lcol.isNotNull(), F.lit(wgt)).otherwise(
            F.lit(0)
        ).cast("long")
    deseas = (
        s_lagged.select(
            key_col, id_col, ts_col, "slot", "__c__",
            s_num.alias("s_num"), s_den.alias("s_den"),
        )
        .withColumn("sq", F.expr(HW_SQ_SQL))
        .withColumn("d", F.col("__c__") - F.col("sq"))
    )
    w = Window.partitionBy(key_col).orderBy(ts_col, id_col)
    w1, w2 = holt_weights(span)
    n_lags = 2 * span - 1
    d_lagged = deseas.select(
        key_col, id_col, "slot", "sq",
        *[F.lag("d", j).over(w).alias(f"__dl{j}__") for j in range(n_lags)],
    )
    num1 = F.lit(0).cast("long")
    den1 = F.lit(0).cast("long")
    for k, wgt in enumerate(w1):
        lcol = F.col(f"__dl{k}__")
        num1 = num1 + F.coalesce(lcol * F.lit(wgt), F.lit(0).cast("long"))
        den1 = den1 + F.when(lcol.isNotNull(), F.lit(wgt)).otherwise(
            F.lit(0)
        ).cast("long")
    num2 = F.lit(0).cast("long")
    den2 = F.lit(0).cast("long")
    for j, wgt in enumerate(w2):
        lcol = F.col(f"__dl{j}__")
        num2 = num2 + F.coalesce(lcol * F.lit(wgt), F.lit(0).cast("long"))
        den2 = den2 + F.when(lcol.isNotNull(), F.lit(wgt)).otherwise(
            F.lit(0)
        ).cast("long")
    exact = d_lagged.select(
        key_col, id_col, "slot", "sq",
        num1.alias("num1"), den1.alias("den1"),
        num2.alias("num2"), den2.alias("den2"),
    )
    terms = holt_winters_terminal_exprs(scale)
    return exact.select(
        key_col, id_col, "slot", "sq",
        "num1", "den1", "num2", "den2",
        *[F.expr(sql).alias(name) for name, sql in terms.items()],
    )


def croston(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    val_col: str = "value",
    id_col: str = "event_id",
    span: int = 8,
    scale: int = 100,
) -> DataFrame:
    """Croston's method for intermittent demand (Croston 1972): smooth
    the nonzero demand SIZES and the inter-arrival GAPS separately, and
    forecast the demand RATE as size / gap — the right spelling when
    most periods are empty, where plain EWMA over the calendar series
    just decays to zero between arrivals. Per-key purchase events ARE
    the nonzero occurrences: sizes are exact cents, gaps exact bigint
    epoch-micros from one lag.

    Both smoothers are the truncated power-of-two EWMA over the SAME
    (key ORDER BY ts, id) window spec — exact bigint num/den pairs like
    :func:`ewma_halflife` (the gap series starts one row later; the
    NULL first gap simply contributes no weight, the adjusted-mean
    rule). Terminal IEEE expressions only: smoothed size (dollars),
    smoothed gap (hours), and rate = size/gap per hour; NULL until a
    gap exists. One keyed shuffle, all JVM codegen."""
    from pyspark.sql import Window

    w = Window.partitionBy(key_col).orderBy(ts_col, id_col)
    df = events.withColumn(
        "__z__", F.round(F.col(val_col) * scale).cast("long")
    ).withColumn(
        # gaps in exact bigint epoch-MICROS (the repo's timestamp
        # arithmetic convention — DuckDB epoch_us twin)
        "__g__",
        (_epoch_us(ts_col) - F.lag(_epoch_us(ts_col)).over(w)).cast("long"),
    )
    # r15 (guide §1.2, see holt_linear): each distinct lag projected
    # ONCE; the two smoothers consume the shared columns
    lagged_df = df.select(
        key_col, id_col,
        *[F.lag("__z__", k).over(w).alias(f"__lz{k}__") for k in range(span)],
        *[F.lag("__g__", k).over(w).alias(f"__lg{k}__") for k in range(span)],
    )
    num_z = F.lit(0).cast("long")
    den_z = F.lit(0).cast("long")
    num_g = F.lit(0).cast("long")
    den_g = F.lit(0).cast("long")
    for k in range(span):
        wgt = 1 << (span - 1 - k)
        lz = F.col(f"__lz{k}__")
        num_z = num_z + F.coalesce(lz * F.lit(wgt), F.lit(0).cast("long"))
        den_z = den_z + F.when(lz.isNotNull(), F.lit(wgt)).otherwise(
            F.lit(0)
        ).cast("long")
        lg = F.col(f"__lg{k}__")
        num_g = num_g + F.coalesce(lg * F.lit(wgt), F.lit(0).cast("long"))
        den_g = den_g + F.when(lg.isNotNull(), F.lit(wgt)).otherwise(
            F.lit(0)
        ).cast("long")
    exact = lagged_df.select(
        key_col, id_col,
        num_z.alias("num_z"), den_z.alias("den_z"),
        num_g.alias("num_g"), den_g.alias("den_g"),
    )
    return exact.select(
        key_col, id_col, "num_z", "den_z", "num_g", "den_g",
        F.expr(
            f"ROUND(CAST(num_z AS DOUBLE) / den_z / {float(scale)!r}, 6)"
        ).alias("size_hat"),
        F.expr(
            "CASE WHEN den_g > 0 THEN"
            " ROUND(CAST(num_g AS DOUBLE) / den_g / 3.6e9, 6) END"
        ).alias("gap_hours"),
        F.expr(
            f"CASE WHEN den_g > 0 AND num_g > 0 THEN"
            f" ROUND(CAST(num_z AS DOUBLE) / den_z / {float(scale)!r}"
            f" / (CAST(num_g AS DOUBLE) / den_g / 3.6e9), 6) END"
        ).alias("rate_per_hour"),
    )


def merge_intervals(
    intervals: DataFrame,
    key_col: str = "user_id",
    start_col: str = "s",
    end_col: str = "e",
    id_col: str = "event_id",
) -> DataFrame:
    """Coalesce overlapping/touching intervals per key into maximal
    islands — the gaps-and-islands merge every warehouse needs for
    validity windows, on-call shifts, session spans, IP lease ranges
    (and the interval flavor of :func:`sessionize`, which merges POINTS
    by gap; this merges RANGES by overlap).

    Classic single-pass spelling: order intervals by (start, end, id);
    an interval starts a NEW island iff its start exceeds the running
    max of all previous ends (strictly — touching intervals merge);
    the island id is the running count of such starts. Two window
    functions over one (key ORDER BY start) sort, then one keyed
    aggregation: exactly one shuffle on the key, all integer
    comparisons, so any engine replays it bit-for-bit.

    Input columns must be integer-comparable (epoch seconds); rows
    with NULL bounds must be filtered upstream.

    Returns (key, island, start, end, n_intervals) with island numbered
    1..per key in time order.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(key_col).orderBy(start_col, end_col, id_col)
    prev_max_end = F.max(end_col).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    new_island = (
        prev_max_end.isNull() | (F.col(start_col) > prev_max_end)
    ).cast("int")
    with_island = intervals.withColumn(
        "island",
        F.sum(new_island).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return with_island.groupBy(key_col, "island").agg(
        F.min(start_col).alias("start"),
        F.max(end_col).alias("end"),
        F.count(F.lit(1)).alias("n_intervals"),
    )


# -- survival substrate ------------------------------------------------------
# The 12 survival operators below are built from these pieces: one
# data-sized groupBy for the per-time event/censor counts, suffix sums
# for the at-risk counts, the quantized Kaplan-Meier log fold, the
# hypergeometric E/V terms and the headroom guard + chi-square terminal.
# Every float expression here is the IEEE spelling the DuckDB oracles
# replay, so a change to one piece moves all of the family's rows.

#: 1e-12 quantum of the Kaplan-Meier ln, hazard and Greenwood folds
_QL = 1_000_000_000_000.0
#: 1e-9 quantum of the log-rank E/V and Cox U/I folds
_QH = 1_000_000_000.0
_SUFFIX = (Window.currentRow, Window.unboundedFollowing)
_RUN = (Window.unboundedPreceding, Window.currentRow)
_PREV = (Window.unboundedPreceding, -1)
_WHOLE = (Window.unboundedPreceding, Window.unboundedFollowing)


def _q12(x: Column) -> Column:
    """``x`` rounded once to an exact 1e-12 bigint."""
    return F.round(x * F.lit(_QL), 0).cast("long")


def _q9(x: Column) -> Column:
    """``x`` rounded once to an exact 1e-9 bigint."""
    return F.round(F.lit(_QH) * x, 0).cast("long")


def _window(order: str = "t", part: str | None = None) -> WindowSpec:
    """The family's window: distinct times in order, per ``part``. It
    spans the distinct-time relation (thousands of rows for billions of
    subjects), so one partition is fine when ``part`` is None."""
    return (Window.partitionBy(part) if part else Window).orderBy(order)


def _event_counts(
    subjects: DataFrame,
    keys: list[Column],
    observed_col: str,
    arms: dict[str, Column] | None = None,
) -> DataFrame:
    """The family's one data-sized shuffle: groupBy(``keys``) event and
    censor counts d{a} = sum(x_a * obs), c{a} = sum(x_a * (1 - obs)) per
    0/1 arm indicator x_a (one unnamed arm over all subjects when
    ``arms`` is None). Exact bigints."""
    obs = F.col(observed_col).cast("long")
    cens = F.lit(1) - obs
    aggs = []
    for a, x in (arms or {"": None}).items():
        aggs.append(F.sum(obs if x is None else x * obs).alias(f"d{a}"))
        aggs.append(F.sum(cens if x is None else x * cens).alias(f"c{a}"))
    return subjects.groupBy(*keys).agg(*aggs)


def _at_risk(
    counts: DataFrame,
    risk: dict[str, tuple[str, ...]],
    event: Column | None = None,
    w: WindowSpec | None = None,
    whole: dict[str, tuple[str, ...]] | None = None,
) -> DataFrame:
    """At-risk counts as suffix sums over the per-time counts: each
    ``risk`` name is the sum of its count columns over the rows at or
    after t (no driver-side count, one window pass); each ``whole`` name
    the same sum over every row (cohort sizes, taken before ``event``
    filters the relation down to event times)."""
    w = w or _window()
    for frame, sums in ((_SUFFIX, risk), (_WHOLE, whole or {})):
        for name, cols in sums.items():
            total = reduce(operator.add, map(F.col, cols))
            counts = counts.withColumn(name, F.sum(total).over(w.rowsBetween(*frame)))
    return counts if event is None else counts.where(event)


def _risk_set(
    subjects: DataFrame,
    duration_col: str,
    observed_col: str,
    group_col: str | None = None,
    strata_col: str | None = None,
    whole: bool = False,
) -> DataFrame:
    """The per-duration risk set at event times: (t, d, c, n_risk), or
    per arm of a 0/1 ``group_col`` (t, d1, c1, d0, c0, n1, n0) plus the
    arm sizes n1_all/n0_all under ``whole``; ``strata_col`` adds a
    leading stratum ``s`` that partitions the window."""
    keys = [F.col(duration_col).alias("t")]
    if strata_col:
        keys.insert(0, F.col(strata_col).alias("s"))
    w = _window(part="s" if strata_col else None)
    if group_col is None:
        counts = _event_counts(subjects, keys, observed_col)
        return _at_risk(counts, {"n_risk": ("d", "c")}, F.col("d") > 0, w)
    is1 = (F.col(group_col) == 1).cast("long")
    counts = _event_counts(
        subjects, keys, observed_col, {"1": is1, "0": F.lit(1) - is1}
    )
    risk = {"n1": ("d1", "c1"), "n0": ("d0", "c0")}
    sizes = {f"{n}_all": cols for n, cols in risk.items()} if whole else None
    return _at_risk(counts, risk, F.col("d1") + F.col("d0") > 0, w, sizes)


def _km_fold(
    rel: DataFrame,
    d: Column,
    n: Column,
    w: WindowSpec,
    frame: tuple[int, int] = _RUN,
    sums: tuple[str, ...] = (),
) -> tuple[DataFrame, Column]:
    """The quantized Kaplan-Meier log fold over ``frame`` of ``w``:
    __slnq sums ln(1 - d/n), each term rounded once to an exact 1e-12
    bigint (0 where d = n, so ln(0) never forms) — exact integer
    arithmetic in any fold order — and __dead is the d = n latch. The
    same window pass replaces each column named in ``sums`` (per-row
    terms the caller added) with its sum. Returns the relation and
    S = exp(__slnq / 1e12): exactly 0 once the latch is set, 1 over an
    empty (prefix) frame. S reads __slnq and __dead by name, so it is
    valid only until the next fold on the same relation overwrites
    them: a caller folding twice (competing_risks_cif) must turn the
    first S into columns of its own before the second fold."""
    wf = w.rowsBetween(*frame)
    ln_q = _q12(F.log(F.lit(1.0) - d.cast("double") / n))
    rel = rel.withColumn("__slnq", F.when(d < n, ln_q).otherwise(F.lit(0)))
    rel = rel.withColumn("__dead", F.max((d == n).cast("int")).over(wf))
    for name in ("__slnq", *sums):
        rel = rel.withColumn(name, F.sum(name).over(wf))
    surv = F.when(F.coalesce(F.col("__dead"), F.lit(0)) == 1, F.lit(0.0)).otherwise(
        F.exp(F.coalesce(F.col("__slnq"), F.lit(0)) / F.lit(_QL))
    )
    return rel, surv


def _greenwood(d: Column, n: Column) -> Column:
    """Greenwood's per-time variance term d / (n (n - d)), rounded once
    to an exact 1e-12 bigint (0 at d = n) for a :func:`_km_fold` sum.
    The raw n(n-d) long multiply wraps past ~3e9 at-risk subjects, so
    its readers guard on the running max at-risk count squared."""
    return F.when(d < n, _q12(d.cast("double") / (n * (n - d)))).otherwise(F.lit(0))


def _headroom(col: str, quantum: float | None = None) -> Column:
    """The family's visible int64 guard: true while CAST(col AS DOUBLE)
    times ``quantum`` (col itself when None) stays under 9e18. Outputs
    go NULL past it instead of wrapping."""
    x = F.col(col)
    return x.cast("double") * (x if quantum is None else F.lit(quantum)) < F.lit(9e18)


def _hypergeom(d: Column, n: Column, nj: Column, nl: Column) -> tuple[Column, Column]:
    """Arm j's event count at one time under H0 (multivariate
    hypergeometric): mean E_j = d * n_j / n and covariance factor
    V_jl = d * (n_j/n) * (n_l/n) * (n-d)/(n-1), where V_jj takes
    n_l = n - n_j. ``d`` and ``n`` are doubles."""
    return d * nj / n, d * (nj / n) * (nl / n) * ((n - d) / (n - F.lit(1.0)))


def _chi2_terminal(
    ok: Column, chi2: Column, name: str, crit: float = 3.841459
) -> tuple[Column, Column]:
    """The chi-square terminal: the statistic rounded to 6 places and
    ``reject_05`` = chi2 > ``crit``, both NULL where ``ok`` fails."""
    return (
        F.when(ok, F.round(chi2, 6)).alias(name),
        F.when(ok, chi2 > F.lit(crit)).alias("reject_05"),
    )


def survival_km(
    subjects: DataFrame,
    duration_col: str = "duration",
    observed_col: str = "observed",
) -> DataFrame:
    """Kaplan-Meier product-limit survival estimator plus the
    Nelson-Aalen cumulative hazard over (duration, observed) subject
    rows — time-to-event analytics (churn curves, time-to-conversion,
    hardware MTTF) computed as ONE aggregation + two window passes, no
    Python anywhere.

    At each distinct duration t with >= 1 observed event:
    ``n_risk`` = subjects with duration >= t, ``d`` = events at t,
    S(t) = prod_{t_i <= t} (1 - d_i / n_i)  (Kaplan & Meier 1958),
    H(t) = sum_{t_i <= t} d_i / n_i         (Nelson-Aalen).

    Numeric portability contract (the EWMA/CUSUM lesson applied to
    products): the product is folded in log space, but each per-time
    term ln(1 - d/n) is QUANTIZED to an exact 1e-12 bigint before the
    window sum, so the only cross-engine float risk is one libm ln per
    distinct event time (~1 ulp, 4 decimal orders below the quantum) —
    the running sum itself is exact integer arithmetic in any fold
    order. Same treatment for the hazard terms. If the risk set dies
    out entirely (d = n at the last event time), ln(0) never forms:
    the row and every later row emit survival 0 via a windowed flag.

    Scale: one groupBy(duration) shuffle, then a SINGLE-PARTITION
    window over *distinct durations* (cardinality = distinct time
    points, thousands even for billions of subjects — the classic
    post-aggregation small-relation window, not a data-sized sort).

    Returns (t, n_risk, n_events, n_censored, survival, cum_hazard)
    ordered by t.
    """
    d, n = F.col("d"), F.col("n_risk")
    at_risk = _risk_set(subjects, duration_col, observed_col)
    scored, surv = _km_fold(
        at_risk.withColumn("__shq", _q12(d.cast("double") / n)),
        d,
        n,
        _window(),
        sums=("__shq",),
    )
    return scored.select(
        "t",
        "n_risk",
        F.col("d").alias("n_events"),
        F.col("c").alias("n_censored"),
        F.round(surv, 6).alias("survival"),
        F.round(F.col("__shq") / F.lit(_QL), 6).alias("cum_hazard"),
    ).orderBy("t")


def survival_km_greenwood(
    subjects: DataFrame,
    duration_col: str = "duration",
    observed_col: str = "observed",
) -> DataFrame:
    """Kaplan-Meier with Greenwood confidence bands (Greenwood 1926):
    Var(S(t)) = S(t)^2 * sum_{t_i <= t} d_i / (n_i * (n_i - d_i)) —
    the uncertainty readout :func:`survival_km` omits, so a churn
    curve's divergence between corpus snapshots can be judged against
    its own sampling noise. Same quantization discipline as the point
    estimate: each Greenwood term quantizes ONCE to an exact 1e-12
    bigint before the running window sum (the d = n terminal time emits
    the conventional zero-width band via the dead flag). The n*(n-d)
    denominator is a raw long multiply that stays inside int64 only to
    ~3e9 at-risk subjects — past that the product can wrap on Spark
    (and error in DuckDB), so the band columns carry a VISIBLE headroom
    guard (ADVICE r11 #3): se/ci_lo/ci_hi go NULL when the running max
    at-risk count squared reaches 9e18 (the point estimate's log fold
    is unaffected and stays). 95% bands are the plain (linear)
    Greenwood bands, clipped to [0, 1] with GREATEST/LEAST — terminal
    IEEE only. Same plan shape: one groupBy(duration) + the
    distinct-duration window."""
    d, n = F.col("d"), F.col("n_risk")
    w = _window()
    at_risk = _risk_set(subjects, duration_col, observed_col)
    scored, surv = _km_fold(
        at_risk.withColumn("__sgwq", _greenwood(d, n)), d, n, w, sums=("__sgwq",)
    )
    # running max at-risk: the largest n(n-d) factor in the variance fold
    scored = scored.withColumn("__nmax", F.max("n_risk").over(w.rowsBetween(*_RUN)))
    headroom = _headroom("__nmax")
    # S = 0 past the dead latch makes se exactly 0 there too
    se = F.when(headroom, surv * F.sqrt(F.col("__sgwq") / F.lit(_QL)))
    # CI columns guard on `headroom` EXPLICITLY rather than letting the
    # NULL se propagate: Spark's GREATEST/LEAST skip NULL operands while
    # other engines return NULL, so propagation is non-portable
    return scored.select(
        "t",
        "n_risk",
        F.col("d").alias("n_events"),
        F.round(surv, 6).alias("survival"),
        F.round(se, 6).alias("se_greenwood"),
        F.when(
            headroom,
            F.round(F.greatest(F.lit(0.0), surv - F.lit(1.959964) * se), 6),
        ).alias("ci_lo"),
        F.when(
            headroom,
            F.round(F.least(F.lit(1.0), surv + F.lit(1.959964) * se), 6),
        ).alias("ci_hi"),
    ).orderBy("t")


def survival_na_bands(
    subjects: DataFrame,
    duration_col: str = "duration",
    observed_col: str = "observed",
) -> DataFrame:
    """Nelson-Aalen cumulative hazard with 95% confidence bands — the
    hazard-side uncertainty readout beside :func:`survival_km_greenwood`'s
    survival-side bands: Var(H(t)) = sum_{t_i <= t} d_i / n_i^2 (the
    Poisson-type estimator, Klein & Moeschberger 2003 — documented
    choice over the (n-d)d/n^3 variant). Same numeric contract as the
    KM family: hazard and variance terms quantize ONCE to exact 1e-12
    bigints before the running window sum; the n^2 denominator is a raw
    long multiply that wraps past ~3e9 at-risk subjects, so the band
    columns carry the Greenwood-style VISIBLE guard (NULL once the
    running-max at-risk count squared reaches 9e18). Linear bands,
    floored at 0 with GREATEST (hazard is unbounded above). Same plan
    shape: one groupBy(duration) + the distinct-duration window.
    Returns (t, n_risk, n_events, cum_hazard, se_na, ci_lo, ci_hi)."""
    d, n = F.col("d").cast("double"), F.col("n_risk")
    run = _window().rowsBetween(*_RUN)
    scored = (
        _risk_set(subjects, duration_col, observed_col)
        .withColumn("__hq", _q12(d / n))
        .withColumn("__vq", _q12(d / (n * n)))
        .withColumn("__shq", F.sum("__hq").over(run))
        .withColumn("__svq", F.sum("__vq").over(run))
        .withColumn("__nmax", F.max("n_risk").over(run))
    )
    headroom = _headroom("__nmax")
    haz = F.col("__shq") / F.lit(_QL)
    se = F.sqrt(F.col("__svq") / F.lit(_QL))
    return scored.select(
        "t",
        "n_risk",
        F.col("d").alias("n_events"),
        F.round(haz, 6).alias("cum_hazard"),
        F.when(headroom, F.round(se, 6)).alias("se_na"),
        F.when(
            headroom,
            F.round(F.greatest(F.lit(0.0), haz - F.lit(1.959964) * se), 6),
        ).alias("ci_lo"),
        F.when(headroom, F.round(haz + F.lit(1.959964) * se, 6)).alias("ci_hi"),
    ).orderBy("t")


def competing_risks_cif(
    subjects: DataFrame,
    duration_col: str = "duration",
    cause_col: str = "cause",
) -> DataFrame:
    """Aalen-Johansen cumulative incidence for two competing risks
    (Aalen & Johansen 1978; Kalbfleisch & Prentice 2002 ch. 8) — the
    correct answer to "what fraction will CONVERT vs CHURN by time t"
    when each subject can experience only one of the events (naive
    per-cause KM over-counts because it treats the competing event as
    censoring): CIF_k(t) = sum_{t_i <= t} S(t_{i-1}) * d_k,i / n_i,
    where S is the OVERALL (any-cause) Kaplan-Meier survival.
    ``cause_col``: 0 = censored, 1 / 2 = the competing events.

    Numeric contract: the overall KM folds exactly as
    :func:`survival_km` (1e-12-quantized log terms); S(t_{i-1}) is the
    exponential of that exact fold over the preceding rows (one
    identical IEEE exp both engines), each CIF increment quantizes ONCE
    to a 1e-12 bigint before its running sum, and by construction
    CIF_1 + CIF_2 + S = 1 up to quantization. Same plan shape as the
    KM family: one groupBy(duration) shuffle + the distinct-duration
    window. Returns (t, n_risk, d1, d2, survival, cif_1, cif_2)
    ordered by t, rows at event times of either cause.
    """
    is_c = F.col(cause_col)
    per_t = subjects.groupBy(F.col(duration_col).alias("t")).agg(
        F.sum((is_c == 1).cast("long")).alias("d1"),
        F.sum((is_c == 2).cast("long")).alias("d2"),
        F.sum((is_c == 0).cast("long")).alias("c"),
    )
    w = _window()
    d, n = F.col("d1") + F.col("d2"), F.col("n_risk")
    at_risk = _at_risk(per_t, {"n_risk": ("d1", "d2", "c")}, d > 0, w)
    # S at the PREVIOUS event time (1.0 before the first)
    scored, s_prev = _km_fold(at_risk, d, n, w, _PREV)
    for k in (1, 2):
        inc_q = _q12(s_prev * F.col(f"d{k}").cast("double") / n)
        scored = scored.withColumn(f"__s{k}", inc_q)
    # the running-frame fold (S at t) replaces the prefix one and sums
    # the CIF increments in the same window pass
    folded, surv = _km_fold(scored, d, n, w, sums=("__s1", "__s2"))
    return folded.select(
        "t",
        "n_risk",
        "d1",
        "d2",
        F.round(surv, 6).alias("survival"),
        F.round(F.col("__s1") / F.lit(_QL), 6).alias("cif_1"),
        F.round(F.col("__s2") / F.lit(_QL), 6).alias("cif_2"),
    ).orderBy("t")


def _logrank(
    subjects: DataFrame,
    group_col: str,
    duration_col: str,
    observed_col: str,
    strata_col: str | None,
) -> DataFrame:
    """The two-cohort log-rank fold and terminal that
    :func:`survival_logrank` and :func:`survival_logrank_stratified`
    share; strata only partition the risk-set window and replace the
    cohort sizes with the stratum count."""
    at_risk = _risk_set(
        subjects, duration_col, observed_col, group_col, strata_col, not strata_col
    )
    n = (F.col("n1") + F.col("n0")).cast("double")
    d = (F.col("d1") + F.col("d0")).cast("double")
    e1_t, v_t = _hypergeom(d, n, F.col("n1"), F.col("n0"))
    terms = [
        F.col("d1"),
        (F.col("d1") + F.col("d0")).alias("d"),
        _q9(e1_t).alias("e1q"),
        F.when(F.col("n1") + F.col("n0") > 1, _q9(v_t)).otherwise(F.lit(0)).alias("vq"),
    ]
    if strata_col:
        lead = ["n_strata"]
        terms.insert(0, F.col("s"))
        sizes = [F.countDistinct("s").alias("n_strata")]
    else:
        lead = ["n1_subjects", "n0_subjects"]
        terms += [F.col("n1_all"), F.col("n0_all")]
        sizes = [F.max(f"n{j}_all").alias(f"n{j}_subjects") for j in (1, 0)]
    folded = at_risk.select(*terms).groupBy().agg(
        *sizes,
        F.sum("d1").alias("o1"),
        F.sum("d").alias("o_total"),
        F.sum("e1q").alias("se1q"),
        F.sum("vq").alias("svq"),
    )
    headroom = _headroom("o_total", _QH)
    e1 = F.col("se1q") / F.lit(_QH)
    v = F.col("svq") / F.lit(_QH)
    chi2 = (F.col("o1") - e1) * (F.col("o1") - e1) / v
    return folded.select(
        *lead,
        "o1",
        F.when(headroom, F.round(e1, 6)).alias("e1"),
        F.when(headroom, F.round(v, 6)).alias("var_lr"),
        *_chi2_terminal(headroom & (F.col("svq") > 0), chi2, "chi2_lr"),
    )


def survival_logrank(
    subjects: DataFrame,
    group_col: str = "grp",
    duration_col: str = "duration",
    observed_col: str = "observed",
) -> DataFrame:
    """Two-cohort log-rank test (Mantel 1966; Peto & Peto 1972) — the
    comparison member of the survival family: :func:`survival_km` and
    :func:`survival_km_greenwood` diagnose ONE cohort; this answers the
    question every A/B with censoring actually asks (did time-to-event
    CHANGE between variants?). ``group_col`` must be 0/1.

    At each pooled distinct duration t with >= 1 event: ``n1/n0`` =
    at-risk per cohort (suffix sums over the distinct-duration
    relation), ``d`` = pooled events, ``d1`` = cohort-1 events. Under
    H0 (identical hazards) the cohort-1 events at t are hypergeometric:
    E1_t = d * n1 / n, V_t = d * (n1/n) * (n0/n) * (n - d)/(n - 1).
    chi2 = (sum d1 - sum E1)^2 / sum V_t on 1 df.

    Numeric portability contract (the Greenwood discipline): ``O1`` is
    an exact bigint; each per-time E1/V term is computed with the SAME
    IEEE expression spelling in both engines and QUANTIZED once to an
    exact 1e-9 bigint before the cross-time sum, so the fold is
    order-independent integer arithmetic; chi-square and the 3.841459
    (5%, 1 df) criterion are terminal. VISIBLE headroom guard: each
    E1 term is <= d_t in magnitude, so |sum| <= (total events) * 1e9 —
    e1/var/chi2/reject go NULL once CAST(total_events AS DOUBLE) * 1e9
    reaches 9e18 (~9e9 events) instead of wrapping.

    Scale: one groupBy(duration) shuffle, one single-partition window
    over DISTINCT durations (thousands of rows for billions of
    subjects), one global one-row aggregate. Returns one row
    (n1_subjects, n0_subjects, o1, e1, var_lr, chi2_lr, reject_05).
    """
    return _logrank(subjects, group_col, duration_col, observed_col, None)


def survival_logrank_stratified(
    subjects: DataFrame,
    strata_col: str = "stratum",
    group_col: str = "grp",
    duration_col: str = "duration",
    observed_col: str = "observed",
) -> DataFrame:
    """Stratified log-rank test (Mantel-Haenszel over strata): the
    confounder-controlled spelling of :func:`survival_logrank` — the
    hypergeometric O-E and variance terms are computed WITHIN each
    stratum (so a covariate that shifts both hazard and cohort mix
    can't fake or mask a treatment effect) and summed across strata
    into one chi-square on 1 df.

    Same numeric contract as the unstratified test: exact bigint O1,
    per-time E1/V terms quantized once to 1e-9 bigints, identical IEEE
    spelling both engines, visible ~9e9-event headroom guard, terminal
    chi-square vs 3.841459. Scale: one groupBy(stratum, duration)
    shuffle, one window over distinct durations PARTITIONED BY STRATUM
    (parallel across strata — strictly better than the unstratified
    single-partition window), one global one-row fold. Returns one row
    (n_strata, o1, e1, var_lr, chi2_lr, reject_05)."""
    return _logrank(subjects, group_col, duration_col, observed_col, strata_col)


#: 5% chi-square critical values by degrees of freedom (k-group log-rank
#: compares k arms on k-1 df; same rounding convention as the 1-df
#: 3.841459 criterion used across the stats family).
_CHI2_CRIT_05 = {1: 3.841459, 2: 5.991465, 3: 7.814728, 4: 9.487729}


def survival_logrank_k(
    subjects: DataFrame,
    k: int,
    group_col: str = "grp",
    duration_col: str = "duration",
    observed_col: str = "observed",
) -> DataFrame:
    """k-group log-rank test (k-sample Mantel-Haenszel; Peto & Peto
    1972; the statistic R's ``survdiff`` reports) — the completion of
    the comparison family: :func:`survival_logrank` (r12) answers A/B;
    real experiments run A/B/n, and this tests H0 "all k hazards equal"
    on **k-1 df**. ``group_col`` must take values 0..k-1 (group 0 is
    the reference dropped from the contrast vector).

    At each pooled distinct duration t with >= 1 event, the per-group
    event counts are multivariate hypergeometric under H0: for groups
    j, l in 1..k-1, E_j = d * n_j / n and the covariance matrix has
    V_jj = d * (n_j/n) * ((n - n_j)/n) * (n - d)/(n - 1) and
    V_jl = -d * (n_j/n) * (n_l/n) * (n - d)/(n - 1). The statistic is
    the quadratic form chi2 = z' V^{-1} z with z_j = O_j - E_j, summed
    V — inverted CLOSED-FORM (adjugate/determinant) on the one-row
    fold, so k <= 4 (m = k-1 <= 3); larger panels should pairwise-test
    with FDR control rather than a single omnibus statistic.

    Numeric portability contract (the log-rank discipline, applied
    component-wise): each O_j is an exact bigint; every per-time E_j
    and V_jl term uses the SAME IEEE expression spelling as the
    two-group test (so k=2 reduces to :func:`survival_logrank`'s chi2
    BIT-FOR-BIT — the diagonal spelling ``d * (n_j/n) * ((n-n_j)/n) *
    ((n-d)/(n-1))`` has n-n_j computed in exact bigint arithmetic,
    which for k=2 IS n_0) and is quantized once to an exact 1e-9
    bigint before the cross-time sum. VISIBLE headroom guard: every
    E/V term is <= d_t in magnitude, so all folds are bounded by
    (total events) * 1e9 — outputs go NULL once CAST(total_events AS
    DOUBLE) * 1e9 reaches 9e18 (~9e9 events) instead of wrapping.

    Scale: one groupBy(duration) shuffle, one single-partition window
    over DISTINCT durations (thousands of rows for billions of
    subjects; the k(k+1)/2 covariance columns ride the same pass), one
    global one-row fold; the adjugate arithmetic is constant-size
    driver-planned column math. Returns one row (n_groups, n_subjects,
    o_total, chi2_lr_k, df, reject_05).
    """
    if not 2 <= k <= 4:
        raise ValueError(
            f"survival_logrank_k supports 2 <= k <= 4 groups (got k={k}); "
            "for wider panels run pairwise tests with FDR control"
        )
    m = k - 1
    q = F.lit(_QH)
    gc = F.col(group_col)
    arms = {str(j): (gc == j).cast("long") for j in range(k)}
    keys = [F.col(duration_col).alias("t")]
    per_t = _event_counts(subjects, keys, observed_col, arms)
    risk = {f"n{j}": (f"d{j}", f"c{j}") for j in range(k)}
    d_all = sum(F.col(f"d{j}") for j in range(k))
    n_all = sum(F.col(f"n{j}") for j in range(k))
    # total cohort size rides the SAME single-partition window pass
    # (sum over ALL per-time rows, computed BEFORE the d>0 filter) —
    # no second aggregation of subjects, no one-row cross join
    whole = {"n_all": tuple(f"{x}{j}" for j in range(k) for x in "dc")}
    at_risk = (
        _at_risk(per_t, risk, whole=whole)
        .withColumn("d", d_all.cast("long"))
        .withColumn("nr", n_all.cast("long"))
        .where(F.col("d") > 0)
    )
    n = F.col("nr").cast("double")
    d = F.col("d").cast("double")
    terms = [F.col("d").alias("d_t"), F.col("n_all")]
    aggs = [
        F.count(F.lit(1)).alias("n_times"),
        F.sum("d_t").alias("o_total"),
        F.max("n_all").alias("n_subjects"),
    ]
    for j in range(1, k):
        nj = F.col(f"n{j}")
        terms.append(F.col(f"d{j}").alias(f"o{j}t"))
        terms.append(_q9(d * nj / n).alias(f"e{j}q"))
        aggs += [F.sum(f"o{j}t").alias(f"o{j}"), F.sum(f"e{j}q").alias(f"se{j}q")]
        for l in range(j, k):  # noqa: E741
            # diagonal: n - n_j in exact bigints — for k=2 this IS n0,
            # making the spelling identical to survival_logrank's V term
            if j == l:
                v_expr = _hypergeom(d, n, nj, F.col("nr") - nj)[1]
            else:
                v_expr = -_hypergeom(d, n, nj, F.col(f"n{l}"))[1]
            v_q = F.when(F.col("nr") > 1, _q9(v_expr)).otherwise(F.lit(0))
            terms.append(v_q.alias(f"v{j}{l}q"))
            aggs.append(F.sum(f"v{j}{l}q").alias(f"sv{j}{l}q"))
    folded = at_risk.select(*terms).groupBy().agg(*aggs)

    def z(j):
        return F.col(f"o{j}").cast("double") - F.col(f"se{j}q") / q

    def v(j, l):  # noqa: E741
        lo, hi = min(j, l), max(j, l)
        return F.col(f"sv{lo}{hi}q") / q

    if m == 1:
        det = v(1, 1)
        quad = z(1) * z(1)
    elif m == 2:
        det = v(1, 1) * v(2, 2) - v(1, 2) * v(1, 2)
        quad = (
            z(1) * z(1) * v(2, 2)
            - F.lit(2.0) * z(1) * z(2) * v(1, 2)
            + z(2) * z(2) * v(1, 1)
        )
    else:  # m == 3: symmetric 3x3 adjugate
        c11 = v(2, 2) * v(3, 3) - v(2, 3) * v(2, 3)
        c12 = v(1, 3) * v(2, 3) - v(1, 2) * v(3, 3)
        c13 = v(1, 2) * v(2, 3) - v(1, 3) * v(2, 2)
        c22 = v(1, 1) * v(3, 3) - v(1, 3) * v(1, 3)
        c23 = v(1, 3) * v(1, 2) - v(1, 1) * v(2, 3)
        c33 = v(1, 1) * v(2, 2) - v(1, 2) * v(1, 2)
        det = v(1, 1) * c11 + v(1, 2) * c12 + v(1, 3) * c13
        quad = (
            z(1) * z(1) * c11
            + z(2) * z(2) * c22
            + z(3) * z(3) * c33
            + F.lit(2.0) * z(1) * z(2) * c12
            + F.lit(2.0) * z(1) * z(3) * c13
            + F.lit(2.0) * z(2) * z(3) * c23
        )
    stat, reject = _chi2_terminal(
        _headroom("o_total", _QH) & (det > 0), quad / det, "chi2_lr_k", _CHI2_CRIT_05[m]
    )
    return folded.select(
        F.lit(k).alias("n_groups"),
        "n_subjects",
        "o_total",
        stat,
        F.lit(m).alias("df"),
        reject,
    )


def survival_logrank_weighted(
    subjects: DataFrame,
    group_col: str = "grp",
    duration_col: str = "duration",
    observed_col: str = "observed",
    rho: float = 0.0,
    gamma: float = 1.0,
) -> DataFrame:
    """Weighted log-rank family (Fleming & Harrington 1981 G(rho,gamma);
    Gehan 1965; Tarone & Ware 1977) — four tests from ONE per-time
    fold, each a row of the output: the unweighted log-rank weights
    every event time equally, so it is blind to WHEN two hazard curves
    differ; the weighted variants make early vs late differences
    visible. Z_w = sum_t w_t (d1_t - E1_t), V_w = sum_t w_t^2 V_t,
    chi2 = Z_w^2 / V_w on 1 df, with weights

    - ``logrank``: w = 1 (reduces BIT-FOR-BIT to
      :func:`survival_logrank`'s chi2 — the identity test);
    - ``gehan``: w = n_t / n_total (Gehan-Breslow-Wilcoxon,
      early-difference sensitive). The textbook w = n_t is NORMALIZED
      by the constant n_total: chi2 = Z^2/V is invariant under w -> c*w,
      and the normalized weight is <= 1, so the quantized folds keep
      the same ~9e9-event int64 headroom as the unweighted test instead
      of overflowing at n_t^2 scale — the 100-TB spelling of a
      statistic usually written for n < 10^4;
    - ``tarone_ware``: w = sqrt(n_t / n_total), between the two;
    - ``fh_{rho}_{gamma}``: w = S(t-)^rho * (1 - S(t-))^gamma with
      S(t-) the pooled left-limit Kaplan-Meier estimate (G(0,gamma)
      stresses LATE differences, G(rho,0) early ones; G(0,0) is again
      the plain log-rank — POWER(x, 0) = 1 exactly, so rho = gamma = 0
      reduces bit-for-bit).

    S(t-) uses the survival family's quantized-ln fold: per-time
    ln(1 - d/n) rounded once to an exact 1e-12 bigint, cumulative-
    summed over STRICTLY PRECEDING rows (order-independent integer
    arithmetic), exponentiated at use; a prior time with d = n latches
    S to exactly 0 (the KM dead-latch). Each weighted Z/V term is the
    weight times the SAME IEEE spelling as the unweighted test's term,
    quantized once to a 1e-9 bigint before the cross-time sum; all
    weights are <= 1, so every fold keeps the visible
    CAST(total_events AS DOUBLE) * 1e9 < 9e18 headroom guard (~9e9
    events), outputs NULL beyond it.

    Scale: one groupBy(duration) shuffle, one single-partition window
    over DISTINCT durations (the S(t-) prefix fold and the n_j suffix
    sums ride the same pass), one global one-row fold, then a 4-row
    stack — identical shape to :func:`survival_logrank` with constant
    extra width. Returns 4 rows (weight_fn, o1, z_w, var_w, chi2_w,
    reject_05) ordered by weight_fn.
    """
    q = F.lit(_QH)
    w = _window()
    n_big = F.col("n1") + F.col("n0")
    d_big = F.col("d1") + F.col("d0")
    n, d = n_big.cast("double"), d_big.cast("double")
    at_risk = _risk_set(subjects, duration_col, observed_col, group_col)
    # pooled-KM left limit: the quantized ln fold over the preceding rows
    scored, s_prev = _km_fold(at_risk, d_big, n_big, w, _PREV)
    # n_total rides the first row's suffix sums (no second subjects pass)
    n_tot = F.max(n_big).over(w.rowsBetween(*_WHOLE)).cast("double")
    weights = {
        "logrank": F.lit(1.0),
        "gehan": n / n_tot,
        "tarone_ware": F.sqrt(n / n_tot),
        f"fh_{rho:g}_{gamma:g}": F.pow(s_prev, F.lit(float(rho)))
        * F.pow(F.lit(1.0) - s_prev, F.lit(float(gamma))),
    }
    e1_term, v_term = _hypergeom(d, n, F.col("n1"), F.col("n0"))
    cols = []
    for i, wt in enumerate(weights.values()):
        cols += [
            _q9(wt * F.col("d1").cast("double")).alias(f"zo{i}q"),
            _q9(wt * e1_term).alias(f"ze{i}q"),
            F.when(n_big > 1, _q9(wt * wt * v_term))
            .otherwise(F.lit(0))
            .alias(f"v{i}q"),
        ]
    folded = scored.select(F.col("d1"), d_big.alias("d"), *cols).groupBy().agg(
        F.sum("d1").alias("o1"),
        F.sum("d").alias("o_total"),
        *[
            F.sum(c).alias(f"s{c}")
            for i in range(len(weights))
            for c in (f"zo{i}q", f"ze{i}q", f"v{i}q")
        ],
    )
    headroom = _headroom("o_total", _QH)
    rows = []
    for i, name in enumerate(weights):
        # each quantized sum divides by q BEFORE the subtraction: with
        # w = 1, szo/q is exactly o1 (q*o1 round-trips through the
        # correctly-rounded division while szo < 2^53), so z_w and chi2
        # share survival_logrank's exact expression tree — the
        # bit-for-bit reduction the identity test pins
        zw = F.col(f"szo{i}q") / q - F.col(f"sze{i}q") / q
        vw = F.col(f"sv{i}q") / q
        rows.append(
            F.struct(
                F.lit(name).alias("weight_fn"),
                F.col("o1").alias("o1"),
                F.when(headroom, F.round(zw, 6)).alias("z_w"),
                F.when(headroom, F.round(vw, 6)).alias("var_w"),
                *_chi2_terminal(
                    headroom & (F.col(f"sv{i}q") > 0), zw * zw / vw, "chi2_w"
                ),
            )
        )
    return (
        folded.select(F.explode(F.array(*rows)).alias("r"))
        .select("r.*")
        .orderBy("weight_fn")
    )


def survival_diff_at(
    subjects: DataFrame,
    tau: int,
    group_col: str = "grp",
    duration_col: str = "duration",
    observed_col: str = "observed",
) -> DataFrame:
    """Milestone survival comparison (Klein, Logan, Harhoff & Andersen
    2007): the difference of the two cohorts' Kaplan-Meier survival at
    a FIXED horizon tau, z-tested against the combined Greenwood
    standard error — the clinical-trial "landmark" endpoint, and the
    complement of the log-rank family: log-rank integrates the whole
    curve (and loses power under crossing hazards); this asks the
    business question directly ("who is still unconverted at 72h?")
    at one pre-registered time.

    Per cohort, the KM point estimate and Greenwood variance fold are
    :func:`survival_km_greenwood`'s spellings with every window
    PARTITIONED BY the cohort (parallel across groups): quantized
    1e-12 ln and Greenwood terms, dead latch, and the visible
    nmax^2 < 9e18 headroom guard (~3e9 at-risk per cohort). At tau the
    LAST event time <= tau carries each cohort's (S_g, se_g); a cohort
    with subjects but no event by tau contributes S = 1, se = 0
    exactly. z = (S1 - S0) / sqrt(se1^2 + se0^2), rejected two-sided
    at |z| > 1.959964; se_diff = 0 (both curves eventless or fully
    dead by tau) surfaces NULL via the guard rather than dividing by
    zero.

    Scale: one data-sized groupBy(grp, duration) shuffle, windows over
    distinct durations partitioned by cohort, one global one-row
    gather. Returns one row (tau, n1_subjects, n0_subjects, s1, se1,
    s0, se0, diff, se_diff, z_diff, reject_05).
    """
    keys = [F.col(group_col).alias("g"), F.col(duration_col).alias("t")]
    per_t = _event_counts(subjects, keys, observed_col)
    w = _window(part="g")
    at_risk = _at_risk(per_t, {"n_risk": ("d", "c")}, F.col("d") > 0, w)
    d, n = F.col("d"), F.col("n_risk")
    scored, surv = _km_fold(
        at_risk.withColumn("__sgwq", _greenwood(d, n)), d, n, w, sums=("__sgwq",)
    )
    scored = scored.withColumn("__nmax", F.max("n_risk").over(w.rowsBetween(*_RUN)))
    w_last = Window.partitionBy("g").orderBy(F.col("t").desc())
    at_tau = (
        scored.where(F.col("t") <= F.lit(int(tau)))
        .withColumn("__rn", F.row_number().over(w_last))
        .where(F.col("__rn") == 1)
        .select(
            "g",
            surv.alias("s"),
            (surv * F.sqrt(F.col("__sgwq") / F.lit(_QL))).alias("se"),
            _headroom("__nmax").alias("ok"),
        )
    )
    # cohort sizes come from the PRE-FILTER per-time relation (a cohort
    # may have no event by tau yet still needs its n and its S = 1 row)
    sizes_all = per_t.groupBy("g").agg(
        F.sum(F.col("d") + F.col("c")).alias("n_subj")
    )
    gathered = sizes_all.join(at_tau, "g", "left").groupBy().agg(
        *[
            F.max(F.when(F.col("g") == g, F.col("n_subj"))).alias(f"n{g}_subjects")
            for g in (1, 0)
        ],
        *[
            F.max(
                F.when(F.col("g") == g, F.coalesce(F.col(c), F.lit(dflt)))
            ).alias(f"{c}{g}r")
            for g in (1, 0)
            for c, dflt in (("s", 1.0), ("se", 0.0))
        ],
        F.min(F.coalesce(F.col("ok"), F.lit(True)).cast("int")).alias("okmin"),
    )
    se_diff = F.sqrt(
        F.col("se1r") * F.col("se1r") + F.col("se0r") * F.col("se0r")
    )
    z = (F.col("s1r") - F.col("s0r")) / se_diff
    ok = F.col("okmin") == 1
    return gathered.select(
        F.lit(int(tau)).alias("tau"),
        "n1_subjects",
        "n0_subjects",
        *[
            F.when(ok, F.round(F.col(f"{c}r"), 6)).alias(c)
            for c in ("s1", "se1", "s0", "se0")
        ],
        F.when(ok, F.round(F.col("s1r") - F.col("s0r"), 6)).alias("diff"),
        F.when(ok, F.round(se_diff, 6)).alias("se_diff"),
        F.when(ok & (se_diff > 0), F.round(z, 6)).alias("z_diff"),
        F.when(ok & (se_diff > 0), F.abs(z) > F.lit(1.959964)).alias(
            "reject_05"
        ),
    )


def _cox_risk_set(
    subjects: DataFrame, group_col: str, duration_col: str, observed_col: str
) -> DataFrame:
    """The Cox fit's distinct-duration relation at event times:
    (t, d1, d, n1, n0, n1_all, n0_all)."""
    at_risk = _risk_set(subjects, duration_col, observed_col, group_col, whole=True)
    d = (F.col("d1") + F.col("d0")).alias("d")
    return at_risk.select("t", "d1", d, "n1", "n0", "n1_all", "n0_all")


def _cox_terms(b: Column) -> tuple[Column, Column]:
    """Per-time Breslow score and information terms at log hazard ratio
    ``b``: r = n1 e^b / (n1 e^b + n0), U_t = d1 - d r, I_t = d r (1 - r)
    — also the Schoenfeld residual and its variance."""
    num = F.col("n1").cast("double") * F.exp(b)
    rr = num / (num + F.col("n0").cast("double"))
    d = F.col("d").cast("double")
    return F.col("d1").cast("double") - d * rr, d * rr * (F.lit(1.0) - rr)


def _cox_fold(ev: DataFrame, beta_df: DataFrame | None) -> DataFrame:
    """One-row (su, si, o_total, n1_subjects, n0_subjects[, b_in]) fold
    of the quantized per-time U/I terms at the scalar beta of
    ``beta_df`` (b = 0 when None)."""
    src = ev if beta_df is None else ev.crossJoin(beta_df)
    u, i = _cox_terms(F.lit(0.0) if beta_df is None else F.col("b"))
    aggs = [
        F.sum(_q9(u)).alias("su"),
        F.sum(_q9(i)).alias("si"),
        F.sum("d").alias("o_total"),
        F.max("n1_all").alias("n1_subjects"),
        F.max("n0_all").alias("n0_subjects"),
    ]
    if beta_df is not None:
        aggs.append(F.max("b").alias("b_in"))
    return src.groupBy().agg(*aggs)


def _cox_beta(ev: DataFrame, iters: int) -> DataFrame:
    """The one-row (b) relation after ``iters`` Newton-Raphson updates
    b <- b + U/I from b = 0, unrolled into the plan."""
    q = F.lit(_QH)
    step = F.when(F.col("si") > 0, (F.col("su") / q) / (F.col("si") / q))
    beta = _cox_fold(ev, None).select((F.lit(0.0) + step).alias("b"))
    for _ in range(iters - 1):
        beta = _cox_fold(ev, beta).select((F.col("b_in") + step).alias("b"))
    return beta


@owns_cuts
def cox_ph_binary(
    subjects: DataFrame,
    group_col: str = "grp",
    duration_col: str = "duration",
    observed_col: str = "observed",
    iters: int = 5,
) -> DataFrame:
    """Cox proportional-hazards fit for a single binary covariate
    (Cox 1972; Breslow 1974 tie handling) — the EFFECT-SIZE member of
    the survival comparison family: the log-rank test (r12/r13) says
    whether two hazards differ; this says BY HOW MUCH, as a hazard
    ratio e^beta with a Wald interval. For binary x the Breslow partial
    likelihood needs only the per-time risk-set counts: score
    U(b) = sum_t [d1_t - d_t * r_t(b)] and information
    I(b) = sum_t d_t * r_t(b) * (1 - r_t(b)), with
    r_t(b) = n1_t e^b / (n1_t e^b + n0_t) — so the whole fit runs on
    the DISTINCT-DURATION relation, never re-touching subjects.

    Newton-Raphson from b = 0, ``iters`` updates UNROLLED into the
    plan (b <- b + U/I; quadratic convergence puts |delta| under 1e-9
    within 5 iterations for |beta| < 3 — the pytest replay asserts the
    converged residual), then one final fold at b_final for the
    reported score/information. Numeric portability: per-time U/I
    terms are quantized once to exact 1e-9 bigints before each
    cross-time sum (order-independent), and every expression spelling
    is engine-portable; each |U| and |I| term is <= d_t, so the folds
    carry the family's visible CAST(total_events AS DOUBLE) * 1e9 <
    9e18 headroom guard (~9e9 events). A degenerate risk set (one
    cohort empty at every event time) drives I to 0 — beta and the
    Wald outputs go NULL through the si > 0 guard rather than
    dividing by zero; complete separation (monotone likelihood) is the
    caller's diagnosis, visible as |beta| growing ~linearly in iters.

    Scale: ONE data-sized groupBy(duration) shuffle; the iteration
    folds are (iters + 1) one-row aggregates of the distinct-duration
    relation, each joined to the previous scalar beta (exempt one-row
    cross joins). The distinct-duration relation ``ev`` is reliably
    checkpointed ONLY on the cluster path (checkpoint dir configured —
    ``util.cuts(reuse_only=True)``, r16): there, one cut runs the
    data-sized work exactly once and leaves each fold a one-row
    aggregate over a distinct-duration-sized RDD. In local mode ev stays lazy — AQE
    exchange reuse collapses the repeated groupBy(duration) exchange
    across the nested fold plans, and the r15 driver bench measured
    the eager localCheckpoint +25% at sf0.1 (the cut's synchronous job
    + pinned blocks cost more than the re-run suffix windows).
    Returns one row (n1_subjects, n0_subjects,
    n_events, beta, hazard_ratio, se_beta, z_wald, reject_05).
    """
    ckpt = cuts(subjects, reuse_only=True)
    ev = ckpt(_cox_risk_set(subjects, group_col, duration_col, observed_col))
    final = _cox_fold(ev, _cox_beta(ev, iters))
    q = F.lit(_QH)
    headroom = _headroom("o_total", _QH)
    ok = headroom & (F.col("si") > 0)
    b_fin = F.col("b_in")
    se = F.lit(1.0) / F.sqrt(F.col("si") / q)
    z = b_fin * F.sqrt(F.col("si") / q)
    return final.select(
        "n1_subjects",
        "n0_subjects",
        F.col("o_total").alias("n_events"),
        F.when(headroom, F.round(b_fin, 6)).alias("beta"),
        F.when(headroom, F.round(F.exp(b_fin), 6)).alias("hazard_ratio"),
        F.when(ok, F.round(se, 6)).alias("se_beta"),
        # Wald 95% interval on the LOG scale, exponentiated (the
        # standard spelling: symmetric in beta, asymmetric in HR)
        F.when(ok, F.round(F.exp(b_fin - F.lit(1.959964) * se), 6)).alias("hr_lo"),
        F.when(ok, F.round(F.exp(b_fin + F.lit(1.959964) * se), 6)).alias("hr_hi"),
        F.when(ok, F.round(z, 6)).alias("z_wald"),
        F.when(ok, F.abs(z) > F.lit(1.959964)).alias("reject_05"),
    )


def cox_schoenfeld_ph(
    subjects: DataFrame,
    group_col: str = "grp",
    duration_col: str = "duration",
    observed_col: str = "observed",
    iters: int = 5,
) -> DataFrame:
    """Schoenfeld-residual proportional-hazards check for the binary-
    covariate Cox fit (Schoenfeld 1982; Grambsch & Therneau 1994) —
    the DIAGNOSTIC companion of :func:`cox_ph_binary`: the fit reports
    a hazard ratio under the PH assumption; this tests the assumption
    itself. For binary x under Breslow ties the per-event-time
    Schoenfeld residual is s_t = d1_t - d_t * r_t(beta_hat) and the
    per-time information is v_t = d_t * r_t (1 - r_t) — exactly the
    U/I terms of the Newton fold, evaluated ONCE MORE at the converged
    beta. The Grambsch-Therneau score test for a time-varying effect
    beta(t) = beta + theta * g(t) is then

        U_theta = sum_t (g_t - gbar) s_t,  gbar = sum g v / sum v
        Var     = sum_t g_t^2 v_t - (sum g v)^2 / sum v
        chi2_ph = U_theta^2 / Var   ~ chi2(1) under PH

    with g the IDENTITY time transform, min-max normalized to [0, 1]
    over event times (chi2 is invariant under affine maps of g, so
    this equals the raw-identity statistic exactly while keeping every
    quantized term <= d_t — the same CAST(o_total AS DOUBLE) * 1e9 <
    9e18 headroom guard as the fit, ~9e9 events). Per-time terms are
    quantized once to exact 1e-9 bigints before the cross-time sums
    (order-independent, engine-portable); rounded outputs that can be
    ±tiny carry the signed-zero normalization (+ 0.0 — the r13
    graph_modularity forensic). A degenerate grid (all events at one
    time, or one cohort empty) drives Var to 0 — chi2/reject go NULL
    through the var > 0 guard.

    Scale: identical shape to the fit — ONE data-sized
    groupBy(duration) shuffle; everything downstream runs on the
    distinct-duration relation; the iteration folds are one-row
    aggregates joined by exempt one-row crosses, collapsed by AQE
    exchange reuse (cox_ph_binary's plan note applies verbatim).
    Returns one row (n_event_times, n_events, beta, u_theta,
    var_theta, chi2_ph, reject_05) where reject_05 = TRUE means the
    PH assumption is VIOLATED at the 5% level (chi2 > 3.841459).

    The Newton chain is :func:`cox_ph_binary`'s own (the shared
    ``_cox_beta``), so the beta tested here is the one the fit reports.
    """
    q = F.lit(_QH)
    ev = _cox_risk_set(subjects, group_col, duration_col, observed_col)
    # GT fold at the converged beta: min-max-normalized event time as
    # the transform, per-time terms quantized exactly like the fit's.
    whole = _window().rowsBetween(*_WHOLE)
    gt = (
        ev.withColumn("tmin", F.min("t").over(whole))
        .withColumn("tmax", F.max("t").over(whole))
        .crossJoin(_cox_beta(ev, iters))
    )
    s, v = _cox_terms(F.col("b"))
    gtr = F.when(
        F.col("tmax") > F.col("tmin"),
        (F.col("t") - F.col("tmin")).cast("double")
        / (F.col("tmax") - F.col("tmin")).cast("double"),
    ).otherwise(F.lit(0.0))
    folded = gt.groupBy().agg(
        F.sum(_q9(s)).alias("ssq"),
        F.sum(F.round(q * gtr * s, 0).cast("long")).alias("sgsq"),
        F.sum(_q9(v)).alias("svq"),
        F.sum(F.round(q * gtr * v, 0).cast("long")).alias("sgvq"),
        F.sum(F.round(q * gtr * gtr * v, 0).cast("long")).alias("sg2vq"),
        F.sum("d").alias("o_total"),
        F.count(F.lit(1)).alias("n_times"),
        F.max("b").alias("beta"),
    )
    headroom = _headroom("o_total", _QH)
    u_theta = (
        F.col("sgsq") / q
        - (F.col("sgvq") / q) * (F.col("ssq") / q) / (F.col("svq") / q)
    )
    var_theta = (
        F.col("sg2vq") / q
        - (F.col("sgvq") / q) * (F.col("sgvq") / q) / (F.col("svq") / q)
    )
    ok = headroom & (F.col("svq") > 0)
    return folded.select(
        F.col("n_times").alias("n_event_times"),
        F.col("o_total").alias("n_events"),
        F.when(headroom, F.round(F.col("beta"), 6) + F.lit(0.0)).alias("beta"),
        F.when(ok, F.round(u_theta, 6) + F.lit(0.0)).alias("u_theta"),
        F.when(ok, F.round(var_theta, 6) + F.lit(0.0)).alias("var_theta"),
        *_chi2_terminal(ok & (var_theta > 0), u_theta * u_theta / var_theta, "chi2_ph"),
    )


def life_table(
    subjects: DataFrame,
    duration_col: str = "duration",
    observed_col: str = "observed",
    width: int = 12,
) -> DataFrame:
    """Actuarial life-table estimator (Berkson & Gage 1950; the
    'interval census' member of the survival family): Kaplan-Meier
    (r9) resolves EXACT event times; production telemetry is often
    only interval-resolved (daily snapshots, batch exports), and the
    actuarial convention treats the ``width``-sized interval as the
    unit — subjects censored inside an interval count HALF an exposure
    (the standard midpoint assumption): n'_i = n_i - c_i/2, conditional
    mortality q_i = d_i / n'_i, survival S_i = prod_{j<=i} (1 - q_j).

    Numeric contract (the KM/Greenwood discipline): d_i, c_i, n_i are
    exact bigints; n'_i and q_i are single double expressions with
    identical spelling in both engines; the survival product is the
    1e-12 quantized ln(1 - q) prefix fold (order-independent integer
    summation) with the dead latch — q_i = 1 (possible only when
    c_i = 0 and d_i = n_i) pins survival to exactly 0 from that
    interval on. Intervals no subject ends in carry q = 0 and leave S
    unchanged, so they are simply absent from the output — at scale
    that keeps the relation sized by OCCUPIED intervals, not the time
    horizon.

    Scale: one data-sized groupBy(interval) shuffle, one
    single-partition window over DISTINCT intervals (duration/width
    buckets — hundreds of rows for billions of subjects). Returns one
    row per occupied interval (interval_start, n_enter, n_events,
    n_censored, effective_n, q, survival) ordered by interval_start.
    """
    if width <= 0:
        raise ValueError(f"interval width must be positive (got {width})")
    iv = F.expr(
        f"(CAST({duration_col} AS BIGINT) DIV {int(width)}) * {int(width)}"
    )
    per_i = _event_counts(subjects, [iv.alias("interval_start")], observed_col)
    w = _window("interval_start")
    at_risk = _at_risk(per_i, {"n": ("d", "c")}, w=w)
    n_eff = F.col("n").cast("double") - F.col("c").cast("double") / F.lit(2.0)
    # survival at the END of interval i includes interval i's own factor
    run, s_end = _km_fold(at_risk, F.col("d"), n_eff, w)
    return run.select(
        "interval_start",
        F.col("n").alias("n_enter"),
        F.col("d").alias("n_events"),
        F.col("c").alias("n_censored"),
        F.round(n_eff, 6).alias("effective_n"),
        F.round(F.col("d").cast("double") / n_eff, 6).alias("q"),
        F.round(s_end, 6).alias("survival"),
    ).orderBy("interval_start")


def siegel_trend(
    series: DataFrame,
    order_col: str = "bucket",
    value_col: str = "v_c",
) -> DataFrame:
    """Siegel repeated-median trend (Siegel 1982): for each point i the
    median of its slopes to every other point, then the median of those
    per-point medians — breakdown point 50%, vs Theil-Sen's ~29%: when
    more than a third but less than half of the buckets are corrupted,
    Theil-Sen's single median over ALL pairs is dragged but most
    points' OWN slope-median still sees a clean majority (the pytest
    plants exactly that regime).

    Scale shape — BETTER than plain Theil-Sen: the per-point medians
    are ranked selections PARTITIONED BY the anchor point (parallel
    across the bounded input; every anchor has exactly n-1 partner
    slopes), and only the final n-row median of medians is a global
    selection. Input boundedness (wall-clock-sized hourly rollup) and
    exactness (integer-pair slopes, deterministic (slope, partner)
    tiebreaks, selection not summation) carry over from
    :func:`theil_sen_trend`; the directed pair join is the same
    allow-listed bounded build. Returns one row (n_points, n_pairs,
    slope, intercept) — n_pairs counts UNDIRECTED pairs, matching the
    Theil-Sen schema.
    """
    x = F.col(order_col).cast("long")
    y = F.col(value_col).cast("long")
    pts = series.select(x.alias("x"), y.alias("y"))
    a = pts.alias("a")
    b = pts.alias("b")
    dirs = a.join(b, F.col("a.x") != F.col("b.x")).select(
        F.col("a.x").alias("xa"),
        F.col("b.x").alias("xb"),
        (
            (F.col("b.y") - F.col("a.y")).cast("double")
            / F.nullif(
                (F.col("b.x") - F.col("a.x")).cast("double"), F.lit(0.0)
            )
        ).alias("slope"),
    )
    w_in = Window.partitionBy("xa").orderBy("slope", "xb")
    w_cnt = Window.partitionBy("xa")
    ranked = dirs.withColumn("rn", F.row_number().over(w_in)).withColumn(
        "m", F.count(F.lit(1)).over(w_cnt)
    )
    k1 = F.expr("(m + 1) DIV 2")
    k2 = F.expr("(m + 2) DIV 2")
    per_anchor = ranked.groupBy("xa").agg(
        (
            (
                F.max(F.when(F.col("rn") == k1, F.col("slope")))
                + F.max(F.when(F.col("rn") == k2, F.col("slope")))
            )
            / F.lit(2.0)
        ).alias("ms")
    )
    w_fin = Window.orderBy("ms", "xa")
    w_all = Window.orderBy("ms", "xa").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    fin = per_anchor.withColumn("rn", F.row_number().over(w_fin)).withColumn(
        "n", F.count(F.lit(1)).over(w_all)
    )
    j1 = F.expr("(n + 1) DIV 2")
    j2 = F.expr("(n + 2) DIV 2")
    med = fin.groupBy().agg(
        F.expr("MAX(n) * (MAX(n) - 1) DIV 2").alias("n_pairs"),
        (
            (
                F.max(F.when(F.col("rn") == j1, F.col("ms")))
                + F.max(F.when(F.col("rn") == j2, F.col("ms")))
            )
            / F.lit(2.0)
        ).alias("slope"),
    )
    return _ts_intercept(pts, med)


@owns_cuts
def theil_sen_trend_bucketed(
    series: DataFrame,
    order_col: str = "bucket",
    value_col: str = "v_c",
    n_buckets: int = 1024,
) -> DataFrame:
    """:func:`theil_sen_trend` with the pair-slope median computed by
    TWO-LEVEL BUCKETED SELECTION instead of one global ROW_NUMBER — the
    scale spelling past ~10^7 pairs (a year of hourly buckets is ~38M
    pairs; ranking them in a single ordered partition is the plain
    version's only non-parallel stage). Same contract, same output,
    IDENTICAL values (pinned by pytest): the median is still the
    deterministic (slope, x_i, x_j)-ranked selection.

    Selection shape (the agg_mann_whitney_bucketed precedent applied
    to pair slopes): quantize each slope to the integer key
    FLOOR(slope * 1e6); fold per-key counts; run the shared
    :func:`stats.bucketed_cumsum` over the distinct-key relation (no
    global window); locate the one or two keys whose cumulative count
    straddles the median ranks with a broadcast of the 2-row target
    relation; then rank ONLY the pairs inside those keys (partitioned
    by key) and pick global rank = bucket base + local rank. No stage
    orders more than one quantization bucket's pairs — degenerate only
    if nearly all slopes collide inside one 1e-6-wide bucket, the same
    heavy-tie caveat every exact selection carries. The intercept
    median runs over the POINTS relation (bounded input), where the
    plain ranked selection is already the right plan.
    """
    from datafusion_gpu_spark.operators.stats import bucketed_cumsum

    cut = cuts(series)
    x = F.col(order_col).cast("long")
    y = F.col(value_col).cast("long")
    pts = series.select(x.alias("x"), y.alias("y"))
    a = pts.alias("a")
    b = pts.alias("b")
    pairs = a.join(b, F.col("a.x") < F.col("b.x")).select(
        F.col("a.x").alias("x1"),
        F.col("b.x").alias("x2"),
        (
            (F.col("b.y") - F.col("a.y")).cast("double")
            # nullif guards the ANSI divide: the downstream equi-join on
            # qs pushes an isnotnull(qs) conjunct INTO this join's
            # condition, where it can evaluate before x1 < x2; a real
            # pair's denominator is never 0, so values are unchanged
            / F.nullif(
                (F.col("b.x") - F.col("a.x")).cast("double"), F.lit(0.0)
            )
        ).alias("slope"),
    )
    keyed = pairs.withColumn(
        "qs", F.floor(F.col("slope") * F.lit(1e6)).cast("long")
    )
    # lineage cut on the DISTINCT-KEY relation (graph-iterative
    # precedent): the cumsum/target/rank branches all reference it, and
    # without the cut each branch re-prints (and can re-execute) the
    # whole bounded pair join — the cut materializes only the small
    # per-key counts and makes the pair fold run ONCE
    per_qs = cut(
        keyed.groupBy("qs").agg(F.count(F.lit(1)).alias("cnt"))
    )
    cum = bucketed_cumsum(per_qs, "qs", ("cnt",), n_buckets=n_buckets)
    tot = cum.agg(F.max("cum_cnt").alias("np"))
    targets = (
        tot.select(
            F.col("np"),
            F.explode(
                F.array_distinct(
                    F.array(
                        F.expr("(np + 1) DIV 2"), F.expr("(np + 2) DIV 2")
                    )
                )
            ).alias("k"),
        )
    )
    hit = cum.join(
        F.broadcast(targets),
        (F.col("cum_cnt") >= F.col("k"))
        & (F.col("cum_cnt") - F.col("cnt") < F.col("k")),
    ).select("qs", "k", (F.col("cum_cnt") - F.col("cnt")).alias("base"), "np")
    # partition by (qs, k): when both median ranks land in one bucket
    # the broadcast join duplicates that bucket's pairs (one copy per
    # target rank) — each copy ranks independently
    w_in = Window.partitionBy("qs", "k").orderBy("slope", "x1", "x2")
    sel = (
        keyed.join(F.broadcast(hit), "qs")
        .withColumn("__rn", F.row_number().over(w_in))
        .where(F.col("base") + F.col("__rn") == F.col("k"))
    )
    med = cut(
        sel.groupBy().agg(
            F.max("np").alias("n_pairs"),
            ((F.min("slope") + F.max("slope")) / F.lit(2.0)).alias("slope"),
        )
    )
    return _ts_intercept(pts, med)


def _ts_intercept(pts: DataFrame, med: DataFrame) -> DataFrame:
    """Shared Theil-Sen tail: the intercept median over per-point
    residuals y - slope*x at the one-row median slope, with the
    deterministic (r, x) tiebreak — used by both the plain and the
    bucketed selection front ends."""
    resid = pts.crossJoin(med).select(
        "n_pairs",
        "slope",
        "x",
        (
            F.col("y").cast("double")
            - F.col("slope") * F.col("x").cast("double")
        ).alias("r"),
    )
    wr = Window.orderBy("r", "x")
    wr_all = Window.orderBy("r", "x").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    rranked = resid.withColumn("rn", F.row_number().over(wr)).withColumn(
        "np2", F.count(F.lit(1)).over(wr_all)
    )
    j1 = F.expr("(np2 + 1) DIV 2")
    j2 = F.expr("(np2 + 2) DIV 2")
    return rranked.groupBy().agg(
        F.max("np2").alias("n_points"),
        F.max("n_pairs").alias("n_pairs"),
        F.round(F.max("slope"), 6).alias("slope"),
        F.round(
            (
                F.max(F.when(F.col("rn") == j1, F.col("r")))
                + F.max(F.when(F.col("rn") == j2, F.col("r")))
            )
            / F.lit(2.0),
            6,
        ).alias("intercept"),
    )


def theil_sen_trend(
    series: DataFrame,
    order_col: str = "bucket",
    value_col: str = "v_c",
) -> DataFrame:
    """Theil-Sen robust trend estimator (Theil 1950; Sen 1968): the
    median of all pairwise slopes (y_j - y_i)/(x_j - x_i), i < j, with
    the classic intercept median(y_i - slope * x_i) — up to ~29%
    contamination cannot move it, unlike the OLS line the anomaly
    gates fit, so it is the robust companion to events_its_segmented /
    agg_regression when telemetry carries outlier buckets.

    The input must already be a BOUNDED ordered relation — here the
    hourly rollup, whose row count grows with WALL-CLOCK TIME, not
    data volume (the SPRT/backtest argument: a year is 8,760 rows,
    ~38M pairs; the data-sized work is the one groupBy(hour) the
    caller ran). The pair space is that bounded relation self-joined
    on x_i < x_j — a nested-loop join whose BUILD is the bounded hour
    relation (allow-listed with the wall-clock argument; the pair
    space is never data x data).

    Exactness: x (bucket index) and y (cents) are exact bigints, so
    each pair slope is ONE double division of exact integers —
    identical in both engines; the median picks the FLOOR((n+1)/2)
    and FLOOR((n+2)/2) ranked slopes (ties broken by (x_i, x_j), so
    the selection is deterministic) and averages them, which for odd n
    selects the same row twice. The intercept repeats the selection
    over per-point residuals y_i - slope * x_i (slope joined back as a
    one-row scalar). No quantized folds needed: medians are selections,
    not sums, so there is nothing order-dependent to stabilize.

    Returns one row (n_points, n_pairs, slope, intercept).
    """
    x = F.col(order_col).cast("long")
    y = F.col(value_col).cast("long")
    pts = series.select(x.alias("x"), y.alias("y"))
    a = pts.alias("a")
    b = pts.alias("b")
    pairs = a.join(b, F.col("a.x") < F.col("b.x")).select(
        F.col("a.x").alias("x1"),
        F.col("b.x").alias("x2"),
        (
            (F.col("b.y") - F.col("a.y")).cast("double")
            / (F.col("b.x") - F.col("a.x")).cast("double")
        ).alias("slope"),
    )
    w = Window.orderBy("slope", "x1", "x2")
    w_all = Window.orderBy("slope", "x1", "x2").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = pairs.withColumn("rn", F.row_number().over(w)).withColumn(
        "np", F.count(F.lit(1)).over(w_all)
    )
    k1 = F.expr("(np + 1) DIV 2")
    k2 = F.expr("(np + 2) DIV 2")
    med = ranked.groupBy().agg(
        F.max("np").alias("n_pairs"),
        (
            (
                F.max(F.when(F.col("rn") == k1, F.col("slope")))
                + F.max(F.when(F.col("rn") == k2, F.col("slope")))
            )
            / F.lit(2.0)
        ).alias("slope"),
    )
    return _ts_intercept(pts, med)


def autocorr(
    series: DataFrame,
    key_col: str = "event_type",
    order_col: str = "bucket",
    value_col: str = "v_c",
    max_lag: int = 3,
) -> DataFrame:
    """Per-key lag-1..max_lag autocorrelation of an integer-valued
    ordered series — the seasonality / persistence diagnostic run over
    downsampled telemetry before any forecasting model is chosen.

    The value column must be an exact integer (e.g. cents); every
    moment (n, Sx, Sy, Sxx, Syy, Sxy) is then an exact BIGINT sum, and
    Pearson r_k is a fixed six-operand float expression over exactly
    converted integers — identical on any engine, in any fold order,
    with no quantization needed at all. One key-partition window sort
    produces all lags via lag(); one (key, lag) aggregation follows.

    Pairs are formed over CONSECUTIVE OBSERVED buckets in order_col
    order (gaps are not filled — fill upstream with gap_fill if the
    calendar matters). Keys with constant series (zero variance) emit
    NULL rather than 0/0.

    Returns (key, lag_k, n_pairs, r) rounded to 6 dp.
    """
    w = Window.partitionBy(key_col).orderBy(order_col)
    lagged = series.select(
        F.col(key_col).alias("key"),
        F.col(value_col).alias("y"),
        *[
            F.lag(value_col, k).over(w).alias(f"x{k}")
            for k in range(1, max_lag + 1)
        ],
    )
    # one explode instead of a max_lag-way unionAll: the union spelling
    # recomputes the window sort per branch (audited: 7 shuffles vs 3),
    # tripling the upstream scan at scale for identical semantics
    pairs = (
        lagged.select(
            "key",
            "y",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(k).alias("lag_k"),
                            F.col(f"x{k}").alias("x"),
                        )
                        for k in range(1, max_lag + 1)
                    ]
                )
            ).alias("p"),
        )
        .select("key", F.col("p.lag_k").alias("lag_k"), F.col("p.x").alias("x"), "y")
        .where(F.col("x").isNotNull())
    )
    moms = pairs.groupBy("key", "lag_k").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n = F.col("n_pairs").cast("double")
    cov = n * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy").cast("double")
    vx = n * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx").cast("double")
    vy = n * F.col("syy").cast("double") - F.col("sy").cast("double") * F.col("sy").cast("double")
    r = F.when(
        (vx > 0) & (vy > 0), F.round(cov / F.sqrt(vx * vy), 6)
    )
    return moms.select(
        F.col("key").alias(key_col), "lag_k", "n_pairs", r.alias("r")
    )


def asof_join_nearest(
    left: DataFrame,
    right: DataFrame,
    on: str,
    ts: str = "ts",
    left_id: str = "event_id",
    right_id: str = "event_id",
    tolerance_us: int = 30 * 60 * 1_000_000,
) -> DataFrame:
    """Nearest-neighbor as-of join: for each left row, the right row
    with equal key whose timestamp is CLOSEST (either direction) within
    ``tolerance_us``, ties preferring the prior side — the
    sensor-fusion / quote-matching variant of :func:`asof_join_prior`
    (pandas merge_asof direction='nearest').

    Spark-first spelling, still a single shuffle on the join key: union
    both sides tagged and make TWO ordered window passes over the same
    key partitioning —

    - prior = last right at (t, rid) <= the left row (rights sort
      before lefts at equal t, so an equal-timestamp right counts);
    - next = first right at (t, rid) >= the left row (rights sort
      after lefts in this pass's ordering).

    The latest prior and earliest next are by construction the nearest
    candidates on each side, so one integer comparison of deltas picks
    the winner (tie -> prior). Deterministic tie-breaks all the way
    down: among equal-t rights, prior picks the max right id, next the
    min. Both window specs share the partitioning, so Catalyst plans
    ONE exchange and two sorts.

    Returns (on, left_id, matched_right_id, delta_us) with NULLs where
    nothing lands in tolerance; delta_us is signed (right - left).
    """
    l_tag = left.select(
        F.col(on).alias("k"),
        _epoch_us(ts).alias("t"),
        F.col(left_id).alias("lid"),
        F.lit(None).cast("long").alias("rid"),
        F.lit(1).alias("is_left"),
    )
    r_tag = right.select(
        F.col(on).alias("k"),
        _epoch_us(ts).alias("t"),
        F.lit(None).cast("long").alias("lid"),
        F.col(right_id).alias("rid"),
        F.lit(0).alias("is_left"),
    )
    merged = l_tag.unionByName(r_tag)
    # pass 1: rights before lefts at equal t -> prior includes ties
    w_prior = (
        Window.partitionBy("k")
        .orderBy("t", "is_left", "rid")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # pass 2: lefts before rights at equal t -> next excludes nothing
    # (equal-t rights already won as prior with delta 0)
    w_next = (
        Window.partitionBy("k")
        .orderBy("t", F.desc("is_left"), "rid")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    r_struct = F.when(
        F.col("is_left") == 0, F.struct(F.col("t").alias("rt"), F.col("rid").alias("rrid"))
    )
    cand = merged.withColumn(
        "prior", F.last(r_struct, ignorenulls=True).over(w_prior)
    ).withColumn("nxt", F.first(r_struct, ignorenulls=True).over(w_next))
    lefts = cand.where(F.col("is_left") == 1)
    d_prior = F.col("t") - F.col("prior.rt")  # >= 0
    d_next = F.col("nxt.rt") - F.col("t")  # >= 0
    prior_ok = F.col("prior").isNotNull() & (d_prior <= tolerance_us)
    next_ok = F.col("nxt").isNotNull() & (d_next <= tolerance_us)
    take_prior = prior_ok & (~next_ok | (d_prior <= d_next))
    matched = F.when(take_prior, F.col("prior.rrid")).otherwise(
        F.when(next_ok, F.col("nxt.rrid"))
    )
    delta = F.when(take_prior, -d_prior).otherwise(F.when(next_ok, d_next))
    return lefts.select(
        F.col("k").alias(on),
        F.col("lid").alias(left_id),
        matched.alias("matched_right_id"),
        delta.alias("delta_us"),
    )


def cross_correlation(
    series: DataFrame,
    order_col: str = "bucket",
    x_col: str = "x",
    y_col: str = "y",
    max_lag: int = 3,
) -> DataFrame:
    """Lagged cross-correlation between two integer-valued series that
    share a time bucket — the lead/lag diagnostic (does series x lead
    series y?) run before any causal read of paired telemetry, and the
    two-series sibling of :func:`autocorr` (same exact-moment contract:
    every fold is a bigint sum, Pearson r is one fixed float expression
    over exactly-converted integers, zero-variance pairs emit NULL).

    ``lag_k`` ranges -max_lag..+max_lag: positive k correlates x
    shifted k buckets back against current y (x LEADS y by k), negative
    k the mirror, 0 the plain contemporaneous correlation. Lags are
    POSITIONAL over the observed joined buckets in ``order_col`` order
    (the autocorr convention — gap_fill upstream if the calendar
    matters).

    Scale shape: ONE single-series window sort produces every shifted
    column via lag() (the relation is a downsampled time grid — bounded
    by the bucket calendar, not the event count; a per-key deployment
    adds partitionBy), one explode to (lag, x, y) pairs, one (lag)
    aggregation. Identical plan family to autocorr — 3 shuffles.
    """
    w = Window.orderBy(order_col)
    cols = [F.col(x_col).alias("x0"), F.col(y_col).alias("y0")]
    for k in range(1, max_lag + 1):
        cols.append(F.lag(x_col, k).over(w).alias(f"xl{k}"))
        cols.append(F.lag(y_col, k).over(w).alias(f"yl{k}"))
    lagged = series.select(*cols)
    branches = [
        F.struct(
            F.lit(0).alias("lag_k"), F.col("x0").alias("x"), F.col("y0").alias("y")
        )
    ]
    for k in range(1, max_lag + 1):
        branches.append(
            F.struct(
                F.lit(k).alias("lag_k"),
                F.col(f"xl{k}").alias("x"),
                F.col("y0").alias("y"),
            )
        )
        branches.append(
            F.struct(
                F.lit(-k).alias("lag_k"),
                F.col("x0").alias("x"),
                F.col(f"yl{k}").alias("y"),
            )
        )
    pairs = (
        lagged.select(F.explode(F.array(*branches)).alias("p"))
        .select(
            F.col("p.lag_k").alias("lag_k"),
            F.col("p.x").alias("x"),
            F.col("p.y").alias("y"),
        )
        .where(F.col("x").isNotNull() & F.col("y").isNotNull())
    )
    moms = pairs.groupBy("lag_k").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    n = F.col("n_pairs").cast("double")
    cov = n * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col(
        "sy"
    ).cast("double")
    vx = n * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col(
        "sx"
    ).cast("double")
    vy = n * F.col("syy").cast("double") - F.col("sy").cast("double") * F.col(
        "sy"
    ).cast("double")
    return moms.select(
        "lag_k",
        "n_pairs",
        F.when((vx > 0) & (vy > 0), F.round(cov / F.sqrt(vx * vy), 6)).alias("r"),
    )
