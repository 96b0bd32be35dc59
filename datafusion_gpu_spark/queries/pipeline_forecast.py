"""Ranking curves + the forecasting / seasonal time-series /
survival-comparison family (rounds 10-13).

Gain/lift and precision@k ranking gates, Holt double smoothing,
Holt-Winters additive, Croston intermittent demand, Theil U2 skill,
Donchian channels (+ streaming twins), KS-uniform PIT gate, ANN recall
contracts (LSH/PQ), linear-interpolation gap fill, interrupted time
series, token HHI, TOST equivalence, Greenwood survival bands.

Mechanically moved from queries/pipeline.py (round-12 split, VERDICT
r11 ask #6): zero query renames, zero spelling changes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datafusion_gpu_spark.operators import events, similarity
from datafusion_gpu_spark.queries import load
from datafusion_gpu_spark.queries.pipeline_common import (
    _CENTS_AB,
    _HOURLY_PURCHASE,
    _KM_RUN,
    _LIFE,
    _NORM,
    _PER_T,
    _PER_T2,
    _cox_newton,
    _docs,
    _purchase_subjects,
    _subj,
    _with,
)

QUERIES: dict = {}
ORACLES: dict = {}

# ---------------------------------------------------------------------------
# Round 10 — ranking-curve eval gates (cumulative gain / lift at deciles,
# precision at top-k) + Holt double-exponential smoothing. The ranking
# curves are what a filter-model owner reads NEXT TO agg_auc_exact before
# shipping: AUC says "the score ranks positives above negatives overall";
# gain/lift says "the top decile captures X% of positives, Y× random";
# precision@k says "of the k docs the filter would actually keep, how
# many are true positives". All three reuse the Mann-Whitney/AUC rank
# machinery: a distinct-score relation, ONE cumulative (runtime-routed
# through stats.cumsum_auto — the bucketed spelling from day one), exact
# bigint interpolation inside tied-score blocks (the Lorenz pattern, but
# ordered by score DESCENDING via the negated-key trick), terminal
# divisions only.
# ---------------------------------------------------------------------------

# Distinct-score relation, ordered for descending-score cumulatives:
# d = -cents so ascending d == descending score; dp = positives at the
# score, tc = rows at the score.
_RANKCURVE_VALUES = """
SELECT CAST(-c AS BIGINT) AS d,
       CAST(SUM(pos) AS BIGINT) AS dp,
       CAST(COUNT(*) AS BIGINT) AS tc
FROM (
  SELECT CAST(ROUND(value * 100, 0) AS BIGINT) AS c,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
  FROM events
  WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL
) GROUP BY c
"""

# The single-window cumulative spelling (oracle + contract): exclusive
# cumulative rows (cu) and positives (cp) above each score block.
_RANKCURVE_CUM_SQL = """
SELECT d, dp, tc,
       CAST(COALESCE(SUM(tc) OVER (ORDER BY d
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS BIGINT) AS cu,
       CAST(COALESCE(SUM(dp) OVER (ORDER BY d
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS BIGINT) AS cp
FROM v
"""

# Gain/lift at each population decile. Interpolation inside a tied-score
# block distributes the block's dp positives uniformly over its tc rows
# (the standard convention): pos(t) = cp + (t - cu) * dp / tc, kept
# exact as the bigint numerator cp*tc + (t-cu)*dp over denominator
# tc * np (ONE terminal division per output column). Headroom: the
# numerator is bounded by np*tc + tc*dp <= 2*N*tc — past 2^63 only if a
# single tied-score block times the corpus both approach ~2e9, i.e. an
# all-tied 2e9-row corpus; real score columns keep tc << N.
_GAIN_LIFT_TAIL = """
WITH n AS (SELECT CAST(SUM(tc) AS BIGINT) AS nr, CAST(SUM(dp) AS BIGINT) AS np
      FROM {cum}),
k AS (
  SELECT 1 AS dec UNION ALL SELECT 2 UNION ALL SELECT 3 UNION ALL SELECT 4
  UNION ALL SELECT 5 UNION ALL SELECT 6 UNION ALL SELECT 7
  UNION ALL SELECT 8 UNION ALL SELECT 9 UNION ALL SELECT 10
),
tgt AS (
  SELECT dec,
         CAST((dec * nr + 9 - (dec * nr + 9) % 10) / 10 AS BIGINT) AS t,
         np
  FROM k CROSS JOIN n
),
pick AS (
  SELECT tgt.dec, tgt.t, tgt.np,
         CAST(MIN_BY(c.cu, c.d) AS BIGINT) AS cu,
         CAST(MIN_BY(c.cp, c.d) AS BIGINT) AS cp,
         CAST(MIN_BY(c.dp, c.d) AS BIGINT) AS dp,
         CAST(MIN_BY(c.tc, c.d) AS BIGINT) AS tc
  FROM tgt JOIN {cum} c ON c.cu + c.tc >= tgt.t
  GROUP BY tgt.dec, tgt.t, tgt.np
)
SELECT CAST(dec AS BIGINT) AS decile, t AS n_rows_cum,
       cp * tc + (t - cu) * dp AS pos_num,
       CASE WHEN np > 0 THEN
         ROUND(CAST(cp * tc + (t - cu) * dp AS DOUBLE)
               / (CAST(tc AS DOUBLE) * np), 6)
       END AS gain,
       CASE WHEN np > 0 THEN
         ROUND(CAST(cp * tc + (t - cu) * dp AS DOUBLE)
               / (CAST(tc AS DOUBLE) * np) * 10.0 / dec, 6)
       END AS lift
FROM pick
"""

# Precision among the top-k scored rows, k in {10, 100, 1000, 10000}
# capped at the population: prec(k) = pos(t)/t with the same exact
# interpolation numerator over denominator tc * t.
_PREC_AT_K_TAIL = """
WITH n AS (SELECT CAST(SUM(tc) AS BIGINT) AS nr, CAST(SUM(dp) AS BIGINT) AS np
      FROM {cum}),
ks AS (
  SELECT 10 AS k UNION ALL SELECT 100 UNION ALL SELECT 1000
  UNION ALL SELECT 10000
),
tgt AS (
  SELECT k, LEAST(CAST(k AS BIGINT), nr) AS t, np FROM ks CROSS JOIN n
),
pick AS (
  SELECT tgt.k, tgt.t, tgt.np,
         CAST(MIN_BY(c.cu, c.d) AS BIGINT) AS cu,
         CAST(MIN_BY(c.cp, c.d) AS BIGINT) AS cp,
         CAST(MIN_BY(c.dp, c.d) AS BIGINT) AS dp,
         CAST(MIN_BY(c.tc, c.d) AS BIGINT) AS tc
  FROM tgt JOIN {cum} c ON c.cu + c.tc >= tgt.t
  GROUP BY tgt.k, tgt.t, tgt.np
)
SELECT CAST(k AS BIGINT) AS top_k, t AS n_eff,
       cp * tc + (t - cu) * dp AS pos_num,
       CASE WHEN t > 0 THEN
         ROUND(CAST(cp * tc + (t - cu) * dp AS DOUBLE)
               / (CAST(tc AS DOUBLE) * t), 6)
       END AS p_at_k
FROM pick
"""

# The tails are themselves WITH chains; splice them after the shared
# values + single-window-cumulative CTEs for the oracle spellings.
_GAIN_LIFT_SINGLE = (
    "WITH v AS (" + _RANKCURVE_VALUES + "),\ncum AS (" + _RANKCURVE_CUM_SQL
    + "),\n" + _GAIN_LIFT_TAIL.replace("WITH ", "", 1).format(cum="cum")
)
_PREC_AT_K_SINGLE = (
    "WITH v AS (" + _RANKCURVE_VALUES + "),\ncum AS (" + _RANKCURVE_CUM_SQL
    + "),\n" + _PREC_AT_K_TAIL.replace("WITH ", "", 1).format(cum="cum")
)


def _rankcurve_cum(spark: SparkSession) -> None:
    """Materialize the descending-score cumulative relation as the
    __rankcurve_cum temp view via stats.cumsum_auto (runtime-routed:
    single window under the threshold, two-level bucketed above)."""
    from datafusion_gpu_spark.operators.stats import cumsum_auto

    vals = spark.sql(_RANKCURVE_VALUES)
    cum = cumsum_auto(vals, "d", ("tc", "dp")).select(
        "d",
        "dp",
        "tc",
        (F.col("cum_tc") - F.col("tc")).alias("cu"),
        (F.col("cum_dp") - F.col("dp")).alias("cp"),
    )
    cum.createOrReplaceTempView("__rankcurve_cum")


def _agg_gain_lift_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative gain + lift at each population decile for the
    value-scores-purchases classifier (agg_auc_exact's setup read as a
    targeting curve): gain = share of all positives captured by the
    top 10k% of rows by score, lift = gain over the random baseline
    k/10. Distinct-score relation + ONE runtime-routed cumulative
    (stats.cumsum_auto — bucketed past the threshold) + a 10-row
    broadcast decile join with exact bigint tied-block interpolation
    (the Lorenz machinery ordered by negated score). Graded by the
    single-window SQL oracle, so a green row is the parity proof."""
    load(spark, sf_dir)
    _rankcurve_cum(spark)
    return spark.sql(_GAIN_LIFT_TAIL.format(cum="__rankcurve_cum"))


def _agg_precision_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision among the top-k scored rows (k = 10/100/1000/10000,
    capped at the population) — the acceptance gate for 'keep the k
    best-scored documents': of what the filter keeps, how much is
    actually positive. Same machinery as agg_gain_lift_curve with
    absolute-k targets. Graded by the single-window SQL oracle."""
    load(spark, sf_dir)
    _rankcurve_cum(spark)
    return spark.sql(_PREC_AT_K_TAIL.format(cum="__rankcurve_cum"))


QUERIES["agg_gain_lift_curve"] = _agg_gain_lift_curve
QUERIES["agg_precision_at_k"] = _agg_precision_at_k
ORACLES["agg_gain_lift_curve"] = _GAIN_LIFT_SINGLE
ORACLES["agg_precision_at_k"] = _PREC_AT_K_SINGLE


# Holt double-exponential smoothing (events.holt_linear): level + trend
# + one-step forecast per purchase event, exact bigint num/den for BOTH
# smoothers (S' = the 20-lag power-of-two EWMA; S'' = its self-convolved
# 39-lag kernel — see operators/events.py), terminal IEEE expressions
# shared token-for-token with this generated oracle.
def _holt_oracle(span: int = 20, scale: int = 100) -> str:
    from datafusion_gpu_spark.operators.events import (
        holt_terminal_exprs,
        holt_weights,
    )

    w1, w2 = holt_weights(span)
    num1 = " + ".join(
        f"COALESCE(lag(c, {k}) OVER w * {wgt}, 0)" for k, wgt in enumerate(w1)
    )
    den1 = " + ".join(
        f"(CASE WHEN lag(c, {k}) OVER w IS NOT NULL THEN {wgt} ELSE 0 END)"
        for k, wgt in enumerate(w1)
    )
    num2 = " + ".join(
        f"COALESCE(lag(c, {j}) OVER w * {wgt}, 0)" for j, wgt in enumerate(w2)
    )
    den2 = " + ".join(
        f"(CASE WHEN lag(c, {j}) OVER w IS NOT NULL THEN {wgt} ELSE 0 END)"
        for j, wgt in enumerate(w2)
    )
    terms = holt_terminal_exprs(scale)
    return f"""
WITH p AS (
  SELECT user_id, event_id, ts,
         CAST(ROUND(value * {scale}) AS BIGINT) AS c
  FROM events
  WHERE event_type = 'purchase' AND value IS NOT NULL
),
l AS (
  SELECT user_id, event_id,
         {num1} AS num1,
         CAST({den1} AS BIGINT) AS den1,
         {num2} AS num2,
         CAST({den2} AS BIGINT) AS den2
  FROM p WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, event_id, num1, den1, num2, den2,
       {terms["level"]} AS level,
       {terms["trend"]} AS trend,
       {terms["forecast_next"]} AS forecast_next
FROM l
"""


def _events_holt_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user Holt (Brown double-exponential) smoothing of the
    purchase value stream — level, trend, and one-step forecast per
    event (events.holt_linear): the forecasting member of the
    monitoring family (EWMA smooths level only and lags every ramp;
    the seasonal profile needs whole periods; this extrapolates).
    Both smoothers are exact bigint folds over ONE window spec — a
    single per-user sort, all JVM codegen; the 39-term S'' kernel is
    the self-convolution that double smoothing collapses to on a
    truncated window. See _holt_oracle for the shared spelling."""
    load(spark, sf_dir)
    purchases = spark.table("events").where(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    )
    return events.holt_linear(purchases, span=20, scale=100)


def _streaming_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of events_holt_smoothing (streaming.stream_holt):
    per-user bounded state (last 2*span-1 cents), integer-only Python
    automaton, presentation expressions in Spark after the sink —
    graded by the BATCH oracle (18th stream==batch twin)."""
    load(spark, sf_dir)
    from datafusion_gpu_spark import streaming

    return streaming.stream_holt(spark, sf_dir)


QUERIES["events_holt_smoothing"] = _events_holt_smoothing
QUERIES["streaming_holt"] = _streaming_holt
ORACLES["events_holt_smoothing"] = _holt_oracle()
ORACLES["streaming_holt"] = _holt_oracle()


# Holt-Winters additive (events.holt_winters_additive): the seasonal
# (triple) member of the forecasting family. Causal per-(user, hour-of-day)
# power-of-two EWMA -> ONE deterministic quantization to integer cents
# (sq) -> exact bigint deseasonalized series d = c - sq -> Brown double
# smoothing of d with the SAME holt_weights kernels -> terminal IEEE
# expressions shared token-for-token (forecast adds sq back). Two window
# specs = two keyed shuffles of the purchase relation, everything else
# codegen over exact bigints.
def _hw_oracle(span: int = 20, season_span: int = 8, scale: int = 100) -> str:
    from datafusion_gpu_spark.operators.events import (
        HW_SQ_SQL,
        holt_weights,
        holt_winters_terminal_exprs,
        holt_winters_weights,
    )

    sw = holt_winters_weights(season_span)
    s_num = " + ".join(
        f"COALESCE(lag(c, {k}) OVER ws * {wgt}, 0)"
        for k, wgt in enumerate(sw, start=1)
    )
    s_den = " + ".join(
        f"(CASE WHEN lag(c, {k}) OVER ws IS NOT NULL THEN {wgt} ELSE 0 END)"
        for k, wgt in enumerate(sw, start=1)
    )
    w1, w2 = holt_weights(span)
    num1 = " + ".join(
        f"COALESCE(lag(d, {k}) OVER w * {wgt}, 0)" for k, wgt in enumerate(w1)
    )
    den1 = " + ".join(
        f"(CASE WHEN lag(d, {k}) OVER w IS NOT NULL THEN {wgt} ELSE 0 END)"
        for k, wgt in enumerate(w1)
    )
    num2 = " + ".join(
        f"COALESCE(lag(d, {j}) OVER w * {wgt}, 0)" for j, wgt in enumerate(w2)
    )
    den2 = " + ".join(
        f"(CASE WHEN lag(d, {j}) OVER w IS NOT NULL THEN {wgt} ELSE 0 END)"
        for j, wgt in enumerate(w2)
    )
    terms = holt_winters_terminal_exprs(scale)
    return f"""
WITH p AS (
  SELECT user_id, event_id, ts, CAST(hour(ts) AS INTEGER) AS slot,
         CAST(ROUND(value * {scale}) AS BIGINT) AS c
  FROM events
  WHERE event_type = 'purchase' AND value IS NOT NULL
),
s AS (
  SELECT user_id, event_id, ts, slot, c,
         {s_num} AS s_num,
         CAST({s_den} AS BIGINT) AS s_den
  FROM p WINDOW ws AS (PARTITION BY user_id, slot ORDER BY ts, event_id)
),
q AS (
  SELECT user_id, event_id, ts, slot, c,
         {HW_SQ_SQL} AS sq
  FROM s
),
dd AS (SELECT *, c - sq AS d FROM q),
l AS (
  SELECT user_id, event_id, slot, sq,
         {num1} AS num1,
         CAST({den1} AS BIGINT) AS den1,
         {num2} AS num2,
         CAST({den2} AS BIGINT) AS den2
  FROM dd WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, event_id, slot, sq, num1, den1, num2, den2,
       {terms["seasonal"]} AS seasonal,
       {terms["level"]} AS level,
       {terms["trend"]} AS trend,
       {terms["forecast_next"]} AS forecast_next
FROM l
"""


def _events_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user additive Holt-Winters over the purchase value stream
    (events.holt_winters_additive): seasonal index (hour-of-day,
    causal subseries EWMA quantized to cents), level, trend, and
    seasonal-adjusted one-step forecast per event — the triple-
    smoothing completion of the forecasting family (EWMA = level;
    Holt = level+trend; this separates forecast-residual drift from
    the hour-of-day cohort baseline). Exact bigint folds end-to-end
    with ONE deterministic mid-plan quantization; see _hw_oracle."""
    load(spark, sf_dir)
    purchases = spark.table("events").where(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    )
    return events.holt_winters_additive(purchases, span=20, season_span=8, scale=100)


def _streaming_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of events_holt_winters (streaming.stream_holt_winters):
    per-user bounded state (per-slot seasonal history, capped at
    season_span entries per slot, plus the last 2*span-1 deseasonalized
    cents), integer-only Python automaton with the SAME deterministic
    sq quantization, presentation expressions in Spark after the sink —
    graded by the BATCH oracle (20th stream==batch twin)."""
    load(spark, sf_dir)
    from datafusion_gpu_spark import streaming

    return streaming.stream_holt_winters(spark, sf_dir)


QUERIES["events_holt_winters"] = _events_holt_winters
QUERIES["streaming_holt_winters"] = _streaming_holt_winters
ORACLES["events_holt_winters"] = _hw_oracle()
ORACLES["streaming_holt_winters"] = _hw_oracle()


# Theil's U2 forecast-accuracy ratio (Theil 1966): RMSE of the Holt
# one-step forecast over RMSE of the naive (last-value) forecast, per
# the pooled purchase stream — the accuracy gate that closes the
# forecasting family loop (U2 < 1 means the smoother beats naive; a U2
# drifting toward 1 says the series turned random-walk and the forecast
# monitor is adding nothing). The Holt kernel sums are the shared
# _holt_oracle spelling; the forecast quantizes ONCE to cents (both
# engines derive identical doubles from the exact bigints), residuals
# against the PREVIOUS row's forecast and value are exact bigints, and
# sqrt/divide are terminal. One SQL string runs on both engines.
def _theil_u2_sql(span: int = 20, scale: int = 100) -> str:
    from datafusion_gpu_spark.operators.events import (
        holt_terminal_exprs,
        holt_weights,
    )

    w1, w2 = holt_weights(span)
    num1 = " + ".join(
        f"COALESCE(lag(c, {k}) OVER w * {wgt}, 0)" for k, wgt in enumerate(w1)
    )
    den1 = " + ".join(
        f"(CASE WHEN lag(c, {k}) OVER w IS NOT NULL THEN {wgt} ELSE 0 END)"
        for k, wgt in enumerate(w1)
    )
    num2 = " + ".join(
        f"COALESCE(lag(c, {j}) OVER w * {wgt}, 0)" for j, wgt in enumerate(w2)
    )
    den2 = " + ".join(
        f"(CASE WHEN lag(c, {j}) OVER w IS NOT NULL THEN {wgt} ELSE 0 END)"
        for j, wgt in enumerate(w2)
    )
    fcast = holt_terminal_exprs(scale)["forecast_next"]
    return f"""
WITH p AS (
  SELECT user_id, event_id, ts,
         CAST(ROUND(value * {scale}) AS BIGINT) AS c
  FROM events
  WHERE event_type = 'purchase' AND value IS NOT NULL
),
l AS (
  SELECT user_id, event_id, ts, c,
         {num1} AS num1,
         CAST({den1} AS BIGINT) AS den1,
         {num2} AS num2,
         CAST({den2} AS BIGINT) AS den2
  FROM p WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
f AS (
  SELECT user_id, event_id, ts, c,
         CAST(ROUND(({fcast}) * {scale}, 0) AS BIGINT) AS fq
  FROM l
),
d AS (
  SELECT c,
         LAG(fq) OVER w AS pf,
         LAG(c) OVER w AS pc
  FROM f WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM((c - pf) * (c - pf)) AS BIGINT) AS ssf,
         CAST(SUM((c - pc) * (c - pc)) AS BIGINT) AS ssn
  FROM d WHERE pf IS NOT NULL AND pc IS NOT NULL
)
SELECT n, ssf, ssn,
       CASE WHEN ssn > 0 THEN
         ROUND(SQRT(CAST(ssf AS DOUBLE) / ssn), 6)
       END AS theil_u2
FROM s
"""


def _events_theil_u2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil's U2: Holt one-step forecast RMSE over naive last-value
    RMSE for per-user purchase series — exact bigint residual folds off
    the shared Holt kernel, terminal sqrt ratio. See _theil_u2_sql."""
    load(spark, sf_dir)
    return spark.sql(_theil_u2_sql())


QUERIES["events_theil_u2"] = _events_theil_u2
ORACLES["events_theil_u2"] = _theil_u2_sql()


# Croston's intermittent-demand forecast (Croston 1972): the sparse-
# series member of the forecasting family — EWMA over the calendar
# series decays to zero between arrivals, so demand SIZES and
# inter-arrival GAPS smooth separately and the rate forecast is their
# ratio. Exact bigint num/den folds for both smoothers over ONE window
# spec (sizes = cents, gaps = epoch-micros); terminal IEEE ratios only.
def _croston_oracle(span: int = 8, scale: int = 100) -> str:
    folds_z_num = " + ".join(
        f"COALESCE(lag(z, {k}) OVER w * {1 << (span - 1 - k)}, 0)"
        for k in range(span)
    )
    folds_z_den = " + ".join(
        f"(CASE WHEN lag(z, {k}) OVER w IS NOT NULL"
        f" THEN {1 << (span - 1 - k)} ELSE 0 END)"
        for k in range(span)
    )
    folds_g_num = " + ".join(
        f"COALESCE(lag(g, {k}) OVER w * {1 << (span - 1 - k)}, 0)"
        for k in range(span)
    )
    folds_g_den = " + ".join(
        f"(CASE WHEN lag(g, {k}) OVER w IS NOT NULL"
        f" THEN {1 << (span - 1 - k)} ELSE 0 END)"
        for k in range(span)
    )
    return f"""
WITH p AS (
  SELECT user_id, event_id, ts,
         CAST(ROUND(value * {scale}) AS BIGINT) AS z,
         CAST(epoch_us(ts) - lag(epoch_us(ts)) OVER w AS BIGINT) AS g
  FROM events
  WHERE event_type = 'purchase' AND value IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
l AS (
  SELECT user_id, event_id,
         {folds_z_num} AS num_z,
         CAST({folds_z_den} AS BIGINT) AS den_z,
         {folds_g_num} AS num_g,
         CAST({folds_g_den} AS BIGINT) AS den_g
  FROM p WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, event_id, num_z, den_z, num_g, den_g,
       ROUND(CAST(num_z AS DOUBLE) / den_z / {float(scale)!r}, 6) AS size_hat,
       CASE WHEN den_g > 0 THEN
         ROUND(CAST(num_g AS DOUBLE) / den_g / 3.6e9, 6) END AS gap_hours,
       CASE WHEN den_g > 0 AND num_g > 0 THEN
         ROUND(CAST(num_z AS DOUBLE) / den_z / {float(scale)!r}
               / (CAST(num_g AS DOUBLE) / den_g / 3.6e9), 6) END
         AS rate_per_hour
FROM l
"""


def _events_croston(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Croston intermittent-demand forecast per user (events.croston):
    separately smoothed purchase sizes and inter-arrival gaps, rate =
    size/gap per hour. One keyed shuffle. See _croston_oracle."""
    load(spark, sf_dir)
    purchases = spark.table("events").where(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    )
    return events.croston(purchases, span=8, scale=100)


QUERIES["events_croston"] = _events_croston
ORACLES["events_croston"] = _croston_oracle()


def _streaming_croston(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of events_croston (streaming.stream_croston):
    per-user state is the last span sizes + the last span gaps (None
    placeholder for the first row's missing gap, exactly the batch
    column's NULL) + the previous event's epoch-micros — integer-only
    automaton, presentation expressions after the sink; graded by the
    BATCH oracle (22nd stream==batch twin)."""
    load(spark, sf_dir)
    from datafusion_gpu_spark import streaming

    return streaming.stream_croston(spark, sf_dir)


QUERIES["streaming_croston"] = _streaming_croston
ORACLES["streaming_croston"] = _croston_oracle()


# One-sample KS against uniform on the observed score span — the PIT
# uniformity gate (a calibrated probabilistic score is uniform after
# min-max normalization; clumping registers here at full resolution,
# before the 10-bin reliability curve can see it). Exact integer
# numerator off the distinct-value cumulative; see stats.ks_uniform.
_KS_UNIFORM = """
WITH t AS (
  SELECT CAST(ROUND(value * 100, 0) AS BIGINT) AS c
  FROM events
  WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL
),
pv AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS tc FROM t GROUP BY c),
cum AS (
  SELECT c, tc, CAST(SUM(tc) OVER (ORDER BY c) AS BIGINT) AS cc
  FROM pv
),
nn AS (
  SELECT CAST(SUM(tc) AS BIGINT) AS n, CAST(MIN(c) AS BIGINT) AS lo,
         CAST(MAX(c) AS BIGINT) AS hi
  FROM pv
),
mx AS (
  SELECT CAST(MAX(GREATEST(
           ABS(cc * (hi - lo) - n * (c - lo)),
           ABS((cc - tc) * (hi - lo) - n * (c - lo))
         )) AS BIGINT) AS m
  FROM cum CROSS JOIN nn WHERE hi > lo
)
SELECT n, lo, hi,
       CASE WHEN CAST(n AS DOUBLE) * (hi - lo) < 9e18 THEN m END AS d_num,
       CASE WHEN n > 0 AND hi > lo
                 AND CAST(n AS DOUBLE) * (hi - lo) < 9e18 THEN
         ROUND(CAST(m AS DOUBLE) / (CAST(n AS DOUBLE) * (hi - lo)), 6)
       END AS d_stat,
       CASE WHEN n > 0 AND hi > lo
                 AND CAST(n AS DOUBLE) * (hi - lo) < 9e18 THEN
         (CAST(m AS DOUBLE) * m
            > 1.844164 * n * (CAST(hi - lo AS DOUBLE) * (hi - lo)))
       END AS reject_05
FROM mx CROSS JOIN nn
"""


def _agg_ks_uniform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sample KS uniformity of the pooled min-max-normalized score
    (operators/stats.ks_uniform, cumsum_auto-routed). See _KS_UNIFORM."""
    from datafusion_gpu_spark.operators import stats

    load(spark, sf_dir)
    ev = spark.table("events").where(
        F.col("event_type").isin("click", "purchase")
    ).select(F.round(F.col("value") * 100, 0).cast("long").alias("cents"))
    return stats.ks_uniform(ev, "cents")


QUERIES["agg_ks_uniform"] = _agg_ks_uniform
ORACLES["agg_ks_uniform"] = _KS_UNIFORM


# Donchian channel (Donchian, 1960s trend-following): rolling 20-event
# high/low band per user with the close's position inside the band —
# the range-based volatility channel next to window_bollinger (stdev
# band) and window_atr (true-range band). All exact cents; the position
# ratio is the single terminal division. Pure shared SQL, one keyed
# window sort.
_DONCHIAN = """
WITH p AS (
  SELECT user_id, event_id, ts,
         CAST(ROUND(value * 100, 0) AS BIGINT) AS c
  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
),
w AS (
  SELECT user_id, event_id, c,
         CAST(MAX(c) OVER win AS BIGINT) AS hi20,
         CAST(MIN(c) OVER win AS BIGINT) AS lo20,
         CAST(COUNT(*) OVER win AS BIGINT) AS n_win
  FROM p
  WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
)
SELECT user_id, event_id, c, hi20, lo20, n_win,
       hi20 - lo20 AS width,
       CASE WHEN hi20 > lo20 THEN
         ROUND(CAST(c - lo20 AS DOUBLE) / (hi20 - lo20), 6)
       END AS pos_in_channel
FROM w
"""


def _window_donchian(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 20-event Donchian high/low channel per user — exact-cent
    rolling extremes, one keyed window sort. See _DONCHIAN."""
    load(spark, sf_dir)
    return spark.sql(_DONCHIAN)


QUERIES["window_donchian"] = _window_donchian
ORACLES["window_donchian"] = _DONCHIAN


def _ann_recall_contract(spark: SparkSession, seed: int, index_fn) -> DataFrame:
    """Shared harness for the planted ANN recall contracts (the
    k-means-IVF grading pattern): seeded 8-cluster corpus (0.15-noise
    separation), ``index_fn(corpus, queries)`` builds the approximate
    top-5, and per query the contract emits exactly-k results, cosine
    monotonically descending, and recall vs the exact top-k >= 0.8
    (bar at >= 4 of 5 hits). One helper so every path grades the SAME
    invariant; the oracle is the planted expectation as VALUES."""
    import numpy as np

    dim = 16
    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(8, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    vecs = [centers[c] + 0.15 * rng.normal(size=(40, dim)) for c in range(8)]
    all_vecs = np.concatenate(vecs)
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(all_vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.where(F.col("vec_id").isin([0, 85, 290]))
    approx = index_fn(df, q)
    exact = similarity.cosine_topk_vectorized(df, q, k=5)
    hits = (
        approx.join(exact.select("query_id", "vec_id"), ["query_id", "vec_id"])
        .groupBy("query_id")
        .agg(F.count("*").alias("hits"))
    )
    w = Window.partitionBy("query_id").orderBy("rank")
    flagged = approx.withColumn("prev_cos", F.lag("cosine").over(w))
    per_q = flagged.groupBy("query_id").agg(
        F.count("*").alias("n_results"),
        F.min(
            (F.col("prev_cos").isNull() | (F.col("cosine") <= F.col("prev_cos")))
            .cast("int")
        ).cast("boolean").alias("cosine_desc"),
    )
    return per_q.join(hits, "query_id", "left").select(
        "query_id",
        "n_results",
        "cosine_desc",
        (F.coalesce(F.col("hits"), F.lit(0)) >= 4).alias("recall_ok"),
    )


def _sim_topk_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH recall contract (_ann_recall_contract, seed 31): signed-
    random-projection LSH at 5 planes x 8 tables — measured 5/5 exact
    top-k recovered on every query (6x4 measured 3-5 of 5, so the bar
    sits two misses below the operating point). Completes the
    per-ANN-path recall evidence: brute force IS the oracle, IVF has
    the k-means recall contract (pass-r4), LSH carries this one."""
    return _ann_recall_contract(
        spark,
        31,
        lambda df, q: similarity.lsh_ann_topk(
            df, q, k=5, planes=5, num_tables=8, dim=16
        ),
    )


_LSH_RECALL_ORACLE = """
SELECT CAST(query_id AS BIGINT) AS query_id,
       CAST(n_results AS BIGINT) AS n_results,
       cosine_desc, recall_ok
FROM (VALUES (0, 5, true, true),
             (85, 5, true, true),
             (290, 5, true, true))
  AS t(query_id, n_results, cosine_desc, recall_ok)
"""

QUERIES["sim_topk_lsh_recall"] = _sim_topk_lsh_recall
ORACLES["sim_topk_lsh_recall"] = _LSH_RECALL_ORACLE


def _sim_topk_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ recall contract (_ann_recall_contract, seed 37): 8x16 product
    quantization with 32x oversampled ADC pruning before the exact
    rerank — measured 5/5 exact-top-k recovery on every query
    (oversample 8 measured 3-5, so the bar sits one miss below the
    operating point). With this, EVERY ANN path carries recall
    evidence: brute force is the oracle, IVF the k-means contract, LSH
    and PQ these planted contracts."""
    return _ann_recall_contract(
        spark,
        37,
        lambda df, q: similarity.pq_topk(df, q, k=5, m=8, ksub=16, oversample=32),
    )


QUERIES["sim_topk_pq_recall"] = _sim_topk_pq_recall
ORACLES["sim_topk_pq_recall"] = _LSH_RECALL_ORACLE


def _events_gap_fill_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-interpolation gap fill of the per-user hourly grid
    (events.gap_fill_linear) — the resampling fill a numeric feature
    store wants where LOCF (events_gap_fill) introduces staircase
    bias; trailing gaps fall back to LOCF. Exact bigint time ratios,
    one more per-user window than LOCF."""
    load(spark, sf_dir)
    ev = spark.table("events").where(F.col("value").isNotNull())
    return events.gap_fill_linear(ev, "hour")


ORACLES["events_gap_fill_linear"] = """
WITH ranked AS (
  SELECT user_id, date_trunc('hour', ts) AS bucket, value,
         ROW_NUMBER() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events WHERE value IS NOT NULL
),
observed AS (
  SELECT user_id, bucket, COUNT(*) AS n_obs,
         MAX(CASE WHEN rn = 1 THEN value END) AS obs_value
  FROM ranked GROUP BY 1, 2
),
spans AS (SELECT user_id, MIN(bucket) AS mn, MAX(bucket) AS mx
          FROM observed GROUP BY 1),
grid AS (
  SELECT user_id, unnest(generate_series(mn, mx, INTERVAL '1 hour')) AS bucket
  FROM spans
),
j AS (
  SELECT g.user_id, g.bucket,
         COALESCE(o.n_obs, 0) AS n_obs,
         (o.obs_value IS NOT NULL) AS is_observed,
         o.obs_value
  FROM grid g LEFT JOIN observed o
    ON g.user_id = o.user_id AND g.bucket = o.bucket
),
w AS (
  SELECT user_id, bucket, n_obs, is_observed, obs_value,
         last_value(obs_value IGNORE NULLS) OVER wp AS pv,
         last_value(CASE WHEN obs_value IS NOT NULL THEN bucket END
                    IGNORE NULLS) OVER wp AS pt,
         first_value(obs_value IGNORE NULLS) OVER wf AS nv,
         first_value(CASE WHEN obs_value IS NOT NULL THEN bucket END
                     IGNORE NULLS) OVER wf AS nt
  FROM j
  WINDOW wp AS (PARTITION BY user_id ORDER BY bucket
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wf AS (PARTITION BY user_id ORDER BY bucket
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
),
iv AS (
  SELECT user_id, bucket, n_obs, is_observed,
         CASE
           WHEN is_observed THEN obs_value
           WHEN nv IS NULL THEN pv
           ELSE pv + (nv - pv)
                * (CAST(epoch_us(bucket) - epoch_us(pt) AS DOUBLE)
                   / (epoch_us(nt) - epoch_us(pt)))
         END AS v
  FROM w
)
SELECT user_id, bucket, n_obs, is_observed,
       CAST(ROUND(v * 1e6, 0) AS BIGINT) / 1e6 AS value_interp
FROM iv
"""
QUERIES["events_gap_fill_linear"] = _events_gap_fill_linear


# Interrupted time series / segmented regression (the causal-inference
# workhorse next to events_did: DiD needs a control group, ITS needs
# only the pre-period trend): split the hourly purchase series at its
# midpoint and fit OLS per segment from EXACT integer moment folds
# (n, sum t, sum t^2, sum y, sum t*y — t is the ROW_NUMBER hour index,
# bounded by calendar time like the runs-test/Page-Hinkley windows);
# slopes/intercepts/level-at-cutpoint contrasts are terminal doubles in
# the established (n*sty - st*sy) / (n*stt - st*st) shape. One shared
# SQL string runs on both engines.
_ITS_SEGMENTED = """
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS bucket,
         CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS y
  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
  GROUP BY 1
),
ix AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY bucket) - 1 AS BIGINT) AS t, y
  FROM hourly
),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS nr FROM ix),
seg AS (
  SELECT t, y, CASE WHEN 2 * t < nr THEN 0 ELSE 1 END AS s
  FROM ix CROSS JOIN nn
),
m AS (
  SELECT s, CAST(COUNT(*) AS BIGINT) AS n, CAST(MIN(t) AS BIGINT) AS tmin,
         CAST(SUM(t) AS BIGINT) AS st, CAST(SUM(t * t) AS BIGINT) AS stt,
         CAST(SUM(y) AS BIGINT) AS sy, CAST(SUM(t * y) AS BIGINT) AS sty
  FROM seg GROUP BY s
),
f AS (
  SELECT s, n, tmin, st, sy,
         (CAST(n AS DOUBLE) * sty - CAST(st AS DOUBLE) * sy)
           / (CAST(n AS DOUBLE) * stt - CAST(st AS DOUBLE) * st) AS slope
  FROM m
  WHERE n > 1 AND CAST(n AS DOUBLE) * stt > CAST(st AS DOUBLE) * st
),
g AS (
  SELECT s, n, tmin, slope,
         (CAST(sy AS DOUBLE) - slope * st) / n AS icept
  FROM f
),
w AS (
  SELECT MAX(CASE WHEN s = 0 THEN n END) AS n_pre,
         MAX(CASE WHEN s = 1 THEN n END) AS n_post,
         MAX(CASE WHEN s = 1 THEN tmin END) AS t0,
         MAX(CASE WHEN s = 0 THEN slope END) AS b_pre,
         MAX(CASE WHEN s = 1 THEN slope END) AS b_post,
         MAX(CASE WHEN s = 0 THEN icept END) AS a_pre,
         MAX(CASE WHEN s = 1 THEN icept END) AS a_post
  FROM g
)
SELECT n_pre, n_post, t0,
       ROUND(b_pre / 100, 6) AS slope_pre,
       ROUND(b_post / 100, 6) AS slope_post,
       ROUND((b_post - b_pre) / 100, 6) AS slope_change,
       ROUND(((a_post + b_post * t0) - (a_pre + b_pre * t0)) / 100, 6)
         AS level_change_at_t0
FROM w
"""


def _events_its_segmented(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interrupted-time-series segmented regression of the hourly
    purchase series around its midpoint — per-segment exact moment
    folds, terminal OLS closed forms, slope and level-at-cutpoint
    contrasts. See _ITS_SEGMENTED."""
    load(spark, sf_dir)
    return spark.sql(_ITS_SEGMENTED)


QUERIES["events_its_segmented"] = _events_its_segmented
ORACLES["events_its_segmented"] = _ITS_SEGMENTED


def _streaming_donchian(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of window_donchian (streaming.stream_donchian):
    per-user state is the last 20 cents — rolling extremes are a pure
    sliding fold — with the position expression applied after the sink;
    graded by the BATCH oracle (23rd stream==batch twin)."""
    load(spark, sf_dir)
    from datafusion_gpu_spark import streaming

    return streaming.stream_donchian(spark, sf_dir)


QUERIES["streaming_donchian"] = _streaming_donchian
ORACLES["streaming_donchian"] = _DONCHIAN


# Token-frequency Herfindahl concentration: HHI = sum cnt^2 / N^2 and
# its reciprocal, the EFFECTIVE vocabulary (how many equally-likely
# types the stream behaves like) — the head-heaviness readout that
# pairs with text_missing_mass (tail coverage) and text_zipf_fit
# (slope): one exact bigint fold over the shared tokenization, two
# terminal divisions. A corpus whose effective vocab collapses between
# snapshots is template-flooded even when raw vocab still grows.
# VISIBLE headroom guard (the chi2/CvM/MRR discipline): sum(cnt^2) <=
# n_tokens * max(cnt), so once that double-computed bound nears 2^63
# the concentration columns go NULL instead of reading a wrapped fold.
_TOKEN_HHI = f"""
WITH toks AS (
  SELECT unnest(string_split({_NORM}, ' ')) AS token FROM documents
),
c AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM toks WHERE token <> '' GROUP BY token
),
s AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS n_tokens,
         CAST(COUNT(*) AS BIGINT) AS vocab,
         CAST(MAX(cnt) AS BIGINT) AS max_cnt,
         CAST(SUM(cnt * cnt) AS BIGINT) AS s2
  FROM c
)
SELECT n_tokens, vocab, max_cnt,
       CASE WHEN CAST(n_tokens AS DOUBLE) * max_cnt < 9e18 THEN s2 END
         AS hhi_num,
       CASE WHEN CAST(n_tokens AS DOUBLE) * max_cnt < 9e18 THEN
         ROUND(CAST(s2 AS DOUBLE) / (CAST(n_tokens AS DOUBLE) * n_tokens), 9)
       END AS hhi,
       CASE WHEN CAST(n_tokens AS DOUBLE) * max_cnt < 9e18 THEN
         ROUND(CAST(n_tokens AS DOUBLE) * n_tokens / s2, 4)
       END AS effective_vocab
FROM s
"""


def _text_token_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl token concentration + effective vocabulary over the
    documents token stream — Spark side tokenizes with the shared
    trim/collapse normalization. See _TOKEN_HHI."""
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        F.explode(
            F.split(
                F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " "),
                " ",
            )
        ).alias("token")
    ).where(F.col("token") != "")
    counts = toks.groupBy("token").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    return counts.agg(
        F.sum("cnt").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("vocab"),
        F.max("cnt").cast("long").alias("max_cnt"),
        F.sum(F.col("cnt") * F.col("cnt")).cast("long").alias("s2"),
    ).select(
        "n_tokens",
        "vocab",
        "max_cnt",
        F.expr(
            "CASE WHEN CAST(n_tokens AS DOUBLE) * max_cnt < 9e18 THEN s2 END"
        ).alias("hhi_num"),
        F.expr(
            "CASE WHEN CAST(n_tokens AS DOUBLE) * max_cnt < 9e18 THEN "
            "ROUND(CAST(s2 AS DOUBLE) / (CAST(n_tokens AS DOUBLE) * n_tokens), 9)"
            " END"
        ).alias("hhi"),
        F.expr(
            "CASE WHEN CAST(n_tokens AS DOUBLE) * max_cnt < 9e18 THEN "
            "ROUND(CAST(n_tokens AS DOUBLE) * n_tokens / s2, 4) END"
        ).alias("effective_vocab"),
    )


QUERIES["text_token_hhi"] = _text_token_hhi
ORACLES["text_token_hhi"] = _TOKEN_HHI


# TOST equivalence (Schuirmann 1987): the gate that PROVES two
# distributions' means are the same to within a margin — the inverse of
# events_ab_test, and what a refactor/no-change deploy check actually
# needs (failing to reject H0 of difference is not evidence of
# equivalence). Two one-sided large-sample z tests at delta = $0.50 on
# the Welch standard error; exact bigint moment folds, terminal IEEE
# only, NULL when a group is degenerate.
_TOST = _with(_CENTS_AB, """
g AS (
  SELECT grp, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(c) AS BIGINT) AS s1,
         CAST(SUM(c * c) AS BIGINT) AS s2
  FROM t GROUP BY grp
),
w AS (
  SELECT CAST(MAX(CASE WHEN grp = 'click' THEN n END) AS BIGINT) AS n_a,
         CAST(MAX(CASE WHEN grp = 'click' THEN s1 END) AS BIGINT) AS s1a,
         CAST(MAX(CASE WHEN grp = 'click' THEN s2 END) AS BIGINT) AS s2a,
         CAST(MAX(CASE WHEN grp = 'purchase' THEN n END) AS BIGINT) AS n_b,
         CAST(MAX(CASE WHEN grp = 'purchase' THEN s1 END) AS BIGINT) AS s1b,
         CAST(MAX(CASE WHEN grp = 'purchase' THEN s2 END) AS BIGINT) AS s2b
  FROM g
),
v AS (
  SELECT n_a, n_b,
         (CAST(s1a AS DOUBLE) / n_a - CAST(s1b AS DOUBLE) / n_b) AS mdiff,
         SQRT((CAST(s2a AS DOUBLE) - CAST(s1a AS DOUBLE) * s1a / n_a)
                / (n_a - 1) / n_a
              + (CAST(s2b AS DOUBLE) - CAST(s1b AS DOUBLE) * s1b / n_b)
                / (n_b - 1) / n_b) AS se
  FROM w WHERE n_a > 1 AND n_b > 1
)
SELECT n_a, n_b,
       ROUND(mdiff / 100, 4) AS mean_diff,
       ROUND(se / 100, 6) AS se,
       CAST(0.5 AS DOUBLE) AS delta,
       CASE WHEN se > 0 THEN ROUND((mdiff + 50.0) / se, 6) END AS t_lower,
       CASE WHEN se > 0 THEN ROUND((50.0 - mdiff) / se, 6) END AS t_upper,
       CASE WHEN se > 0 THEN
         ((mdiff + 50.0) / se > 1.644854 AND (50.0 - mdiff) / se > 1.644854)
       END AS equivalent_05
FROM v
""")


def _agg_tost_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOST mean-equivalence of click vs purchase values at a $0.50
    margin — two one-sided z tests on the Welch standard error from
    exact moment folds. See _TOST."""
    load(spark, sf_dir)
    return spark.sql(_TOST)


QUERIES["agg_tost_equivalence"] = _agg_tost_equivalence
ORACLES["agg_tost_equivalence"] = _TOST


def _events_survival_greenwood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier time-to-first-purchase with Greenwood 95% bands
    (events.survival_km_greenwood): the uncertainty readout the point
    curve omits — same subjects, same 1e-12 quantized log fold, one
    more quantized running sum for the variance factor. See the
    operator docstring for the numeric contract."""
    subjects = _purchase_subjects(spark, sf_dir)
    return events.survival_km_greenwood(subjects, "duration", "observed")


ORACLES["events_survival_greenwood"] = _with(_LIFE, _subj(), _PER_T, """
risk AS (
  SELECT t, d,
         CAST(SUM(d + c) OVER (ORDER BY t ROWS BETWEEN CURRENT ROW
                               AND UNBOUNDED FOLLOWING) AS BIGINT) AS n_risk
  FROM per_t
),
ev AS (
  SELECT t, n_risk, d,
         CASE WHEN d < n_risk
              THEN CAST(ROUND(LN(1 - CAST(d AS DOUBLE) / n_risk) * 1e12, 0)
                        AS BIGINT)
              ELSE 0 END AS lnq,
         CASE WHEN d < n_risk
              THEN CAST(ROUND(CAST(d AS DOUBLE)
                              / (n_risk * (n_risk - d)) * 1e12, 0)
                        AS BIGINT)
              ELSE 0 END AS gwq
  FROM risk WHERE d > 0
),
run AS (
  SELECT t, n_risk, d,
         CAST(SUM(lnq) OVER w AS BIGINT) AS slnq,
         CAST(SUM(gwq) OVER w AS BIGINT) AS sgwq,
         MAX(CASE WHEN d = n_risk THEN 1 ELSE 0 END) OVER w AS dead,
         CAST(MAX(n_risk) OVER w AS BIGINT) AS nmax
  FROM ev
  WINDOW w AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
fin AS (
  SELECT t, n_risk, d,
         CAST(nmax AS DOUBLE) * nmax < 9e18 AS headroom,
         CASE WHEN dead = 1 THEN CAST(0 AS DOUBLE)
              ELSE EXP(slnq / 1e12) END AS sv,
         CASE WHEN CAST(nmax AS DOUBLE) * nmax >= 9e18 THEN NULL
              WHEN dead = 1 THEN CAST(0 AS DOUBLE)
              ELSE EXP(slnq / 1e12) * SQRT(sgwq / 1e12) END AS sev
  FROM run
)
SELECT t, n_risk, d AS n_events,
       ROUND(sv, 6) AS survival,
       ROUND(sev, 6) AS se_greenwood,
       CASE WHEN headroom THEN
         ROUND(GREATEST(CAST(0 AS DOUBLE), sv - 1.959964 * sev), 6)
       END AS ci_lo,
       CASE WHEN headroom THEN
         ROUND(LEAST(CAST(1 AS DOUBLE), sv + 1.959964 * sev), 6)
       END AS ci_hi
FROM fin
""")
QUERIES["events_survival_greenwood"] = _events_survival_greenwood




# ---------------------------------------------------------------------------
# Round 12 — two-cohort log-rank test (VERDICT r11 ask #2): the survival
# family's comparison member. KM curve (r9) + Greenwood bands (r11)
# diagnose ONE cohort; the log-rank chi-square answers whether
# time-to-first-purchase DIFFERS between cohorts (here: the user_id-parity
# split — deterministic, balanced, and exactly the spelling an A/B bucket
# hash would use). Same machinery as the KM gates: one groupBy(duration)
# shuffle, suffix sums over the distinct-duration relation, per-time
# hypergeometric O-E / variance terms quantized ONCE to exact 1e-9
# bigints before the cross-time fold (operators/events.survival_logrank
# has the numeric contract and the visible ~9e9-event headroom guard).
# ---------------------------------------------------------------------------
def _events_logrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank test of time-to-first-purchase between the user_id
    parity cohorts (events.survival_logrank): exact bigint O1, 1e-9
    quantized E1/V folds, terminal chi-square vs 3.841459 (5%, 1 df)."""
    subjects = _purchase_subjects(spark, sf_dir, grp=F.col("user_id") % 2)
    return events.survival_logrank(subjects, "grp", "duration", "observed")


ORACLES["events_logrank"] = _with(_LIFE, _subj("user_id % 2"), _PER_T2, """
risk AS (
  SELECT t, d1, d0,
         CAST(SUM(d1 + c1) OVER ws AS BIGINT) AS n1,
         CAST(SUM(d0 + c0) OVER ws AS BIGINT) AS n0,
         CAST(SUM(d1 + c1) OVER wa AS BIGINT) AS n1_all,
         CAST(SUM(d0 + c0) OVER wa AS BIGINT) AS n0_all
  FROM per_t
  WINDOW ws AS (ORDER BY t ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING),
         wa AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                AND UNBOUNDED FOLLOWING)
),
terms AS (
  SELECT d1, d1 + d0 AS d, n1_all, n0_all,
         CAST(ROUND(1e9 * (CAST(d1 + d0 AS DOUBLE) * n1
                           / CAST(n1 + n0 AS DOUBLE)), 0) AS BIGINT) AS e1q,
         CASE WHEN n1 + n0 > 1 THEN
           CAST(ROUND(1e9 * (CAST(d1 + d0 AS DOUBLE)
                * (n1 / CAST(n1 + n0 AS DOUBLE))
                * (n0 / CAST(n1 + n0 AS DOUBLE))
                * ((CAST(n1 + n0 AS DOUBLE) - CAST(d1 + d0 AS DOUBLE))
                   / (CAST(n1 + n0 AS DOUBLE) - 1.0))), 0) AS BIGINT)
         ELSE 0 END AS vq
  FROM risk WHERE d1 + d0 > 0
),
folded AS (
  SELECT CAST(MAX(n1_all) AS BIGINT) AS n1_subjects,
         CAST(MAX(n0_all) AS BIGINT) AS n0_subjects,
         CAST(SUM(d1) AS BIGINT) AS o1,
         CAST(SUM(d) AS BIGINT) AS o_total,
         CAST(SUM(e1q) AS BIGINT) AS se1q,
         CAST(SUM(vq) AS BIGINT) AS svq
  FROM terms
)
SELECT n1_subjects, n0_subjects, o1,
       CASE WHEN CAST(o_total AS DOUBLE) * 1e9 < 9e18
            THEN ROUND(se1q / 1e9, 6) END AS e1,
       CASE WHEN CAST(o_total AS DOUBLE) * 1e9 < 9e18
            THEN ROUND(svq / 1e9, 6) END AS var_lr,
       CASE WHEN CAST(o_total AS DOUBLE) * 1e9 < 9e18 AND svq > 0
            THEN ROUND((o1 - se1q / 1e9) * (o1 - se1q / 1e9)
                       / (svq / 1e9), 6) END AS chi2_lr,
       CASE WHEN CAST(o_total AS DOUBLE) * 1e9 < 9e18 AND svq > 0
            THEN (o1 - se1q / 1e9) * (o1 - se1q / 1e9) / (svq / 1e9)
                 > 3.841459 END AS reject_05
FROM folded
""")
QUERIES["events_logrank"] = _events_logrank


# ---------------------------------------------------------------------------
# Round 12 — rolling-origin forecast backtest (VERDICT r11 ask #3): the
# forecasting family is complete (naive/EWMA/Holt/HW/Croston) and has a
# skill gate (Theil U2), but nothing said WHICH forecaster to trust per
# key. This gate replays K expanding-origin folds per user — fold k
# evaluates the one-step-ahead errors over the k-th block of the series,
# every forecast causal (windows end strictly before the target row), so
# each block IS an expanding-origin out-of-sample test — and scores
# naive (last value), Holt (Brown double smoothing on cents) and
# additive Holt-Winters (Brown on the deseasonalized cents + the
# causal hour-of-day index of the TARGET row) with per-fold RMSE,
# emitting the per-user winner. Spelling discipline: the fold id is one
# more window expression (rank arithmetic — no per-fold Python loop, no
# data re-reads), the Brown/seasonal kernels are the exact bigint folds
# shared with the Holt/HW gates, forecasts quantize ONCE to integer
# cents, per-fold RMSE quantizes ONCE to a 1e-6 bigint so the cross-fold
# mean is exact integer arithmetic, and the winner CASE compares exact
# bigint sums (ties prefer holt, then hw — fixed, documented). VISIBLE
# headroom guard: per-fold squared-error sums wrap once
# n * max_err^2 >= 9e18, so rq_*/rmse_*/winner go NULL there instead;
# guard semantics are ALL-OR-NOTHING per user — one guarded fold NULLs
# the user's rmse/winner outright, because a SUM-skips-NULL mean over
# the surviving folds would silently divide by the full fold count and
# report a biased number instead of an honest NULL.
def _backtest_sql(
    span: int = 20, season_span: int = 8, scale: int = 100, k_folds: int = 4
) -> str:
    from datafusion_gpu_spark.operators.events import (
        HW_SQ_SQL,
        holt_weights,
        holt_winters_weights,
    )

    sw = holt_winters_weights(season_span)
    # r15 (guide §1.2 per-task work): each distinct lag is projected
    # ONCE in a pre-CTE and the fold sums consume the shared columns —
    # Spark does not deduplicate identical window expressions, so the
    # inline spelling's WindowExec evaluated ~236 lag expressions per
    # row in CTE `l` (each c/d lag 4x or 2x) where only 78 are
    # distinct, and 16 in `s` where 8 are distinct. Same window
    # specs/shuffles, identical lag values through identical
    # arithmetic — proven byte-identical on BOTH engines (the oracle
    # shares this string) before landing.
    s_lagcols = ",\n         ".join(
        f"lag(c, {k}) OVER ws AS sl{k}" for k in range(1, len(sw) + 1)
    )
    s_num = " + ".join(
        f"COALESCE(sl{k} * {wgt}, 0)" for k, wgt in enumerate(sw, start=1)
    )
    s_den = " + ".join(
        f"(CASE WHEN sl{k} IS NOT NULL THEN {wgt} ELSE 0 END)"
        for k, wgt in enumerate(sw, start=1)
    )
    w1, w2 = holt_weights(span)
    n_lags = 2 * span - 1
    lagcols = ",\n         ".join(
        [f"lag(c, {k}) OVER w AS lc{k}" for k in range(n_lags)]
        + [f"lag(d, {k}) OVER w AS ld{k}" for k in range(n_lags)]
    )

    def fold(pfx: str, wgts: list[int], start: int = 0) -> tuple[str, str]:
        num = " + ".join(
            f"COALESCE({pfx}{k} * {wgt}, 0)"
            for k, wgt in enumerate(wgts, start=start)
        )
        den = " + ".join(
            f"(CASE WHEN {pfx}{k} IS NOT NULL"
            f" THEN {wgt} ELSE 0 END)"
            for k, wgt in enumerate(wgts, start=start)
        )
        return num, den

    cnum1, cden1 = fold("lc", w1)
    cnum2, cden2 = fold("lc", w2)
    dnum1, dden1 = fold("ld", w1)
    dnum2, dden2 = fold("ld", w2)
    kp1 = k_folds + 1
    return f"""
WITH p AS (
  SELECT user_id, event_id, ts, CAST(hour(ts) AS INTEGER) AS slot,
         CAST(ROUND(value * {scale}) AS BIGINT) AS c
  FROM events
  WHERE event_type = 'purchase' AND value IS NOT NULL
),
sl AS (
  SELECT user_id, event_id, ts, slot, c,
         {s_lagcols}
  FROM p WINDOW ws AS (PARTITION BY user_id, slot ORDER BY ts, event_id)
),
s AS (
  SELECT user_id, event_id, ts, slot, c,
         {s_num} AS s_num,
         CAST({s_den} AS BIGINT) AS s_den
  FROM sl
),
q AS (
  SELECT user_id, event_id, ts, slot, c,
         {HW_SQ_SQL} AS sq
  FROM s
),
dd AS (SELECT *, c - sq AS d FROM q),
lg AS (
  SELECT user_id, event_id, ts, c, sq,
         {lagcols},
         CAST(ROW_NUMBER() OVER w AS BIGINT) AS rn,
         CAST(COUNT(*) OVER wu AS BIGINT) AS n_u
  FROM dd
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
         wu AS (PARTITION BY user_id)
),
l AS (
  SELECT user_id, event_id, ts, c, sq, rn, n_u, lc1,
         {cnum1} AS cnum1, CAST({cden1} AS BIGINT) AS cden1,
         {cnum2} AS cnum2, CAST({cden2} AS BIGINT) AS cden2,
         {dnum1} AS dnum1, CAST({dden1} AS BIGINT) AS dden1,
         {dnum2} AS dnum2, CAST({dden2} AS BIGINT) AS dden2
  FROM lg
),
f AS (
  SELECT user_id, event_id, ts, c, sq, rn, n_u, lc1,
         CAST(ROUND(3.0 * (CAST(cnum1 AS DOUBLE) / cden1)
                    - 2.0 * (CAST(cnum2 AS DOUBLE) / cden2), 0)
              AS BIGINT) AS hfq,
         CAST(ROUND(3.0 * (CAST(dnum1 AS DOUBLE) / dden1)
                    - 2.0 * (CAST(dnum2 AS DOUBLE) / dden2), 0)
              AS BIGINT) AS wdq
  FROM l
),
e AS (
  SELECT user_id, c, sq,
         CAST(FLOOR(CAST((rn - 1) * {kp1} AS DOUBLE) / n_u) AS BIGINT)
           AS fold,
         lc1 AS pc,
         LAG(hfq) OVER w AS pf,
         LAG(wdq) OVER w AS pw
  FROM f WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sc AS (
  SELECT user_id, fold,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM((c - pc) * (c - pc)) AS BIGINT) AS ssn,
         CAST(SUM((c - pf) * (c - pf)) AS BIGINT) AS ssh,
         CAST(SUM((c - (pw + sq)) * (c - (pw + sq))) AS BIGINT) AS ssw,
         CAST(MAX(GREATEST(ABS(c - pc), ABS(c - pf),
                           ABS(c - (pw + sq)))) AS BIGINT) AS mx
  FROM e
  WHERE pc IS NOT NULL AND pf IS NOT NULL AND pw IS NOT NULL AND fold >= 1
  GROUP BY user_id, fold
),
r AS (
  SELECT user_id, fold, n,
         CASE WHEN CAST(n AS DOUBLE) * mx * mx < 9e18 THEN
           CAST(ROUND(1e6 * SQRT(CAST(ssn AS DOUBLE) / n), 0) AS BIGINT)
         END AS rq_n,
         CASE WHEN CAST(n AS DOUBLE) * mx * mx < 9e18 THEN
           CAST(ROUND(1e6 * SQRT(CAST(ssh AS DOUBLE) / n), 0) AS BIGINT)
         END AS rq_h,
         CASE WHEN CAST(n AS DOUBLE) * mx * mx < 9e18 THEN
           CAST(ROUND(1e6 * SQRT(CAST(ssw AS DOUBLE) / n), 0) AS BIGINT)
         END AS rq_w
  FROM sc
)
SELECT user_id,
       CAST(SUM(n) AS BIGINT) AS n_scored,
       CAST(COUNT(*) AS BIGINT) AS n_folds,
       CASE WHEN SUM(CASE WHEN rq_n IS NULL THEN 1 ELSE 0 END) = 0 THEN
         ROUND(CAST(SUM(rq_n) AS DOUBLE) / COUNT(*) / 1e6
               / {float(scale)!r}, 6)
       END AS rmse_naive,
       CASE WHEN SUM(CASE WHEN rq_n IS NULL THEN 1 ELSE 0 END) = 0 THEN
         ROUND(CAST(SUM(rq_h) AS DOUBLE) / COUNT(*) / 1e6
               / {float(scale)!r}, 6)
       END AS rmse_holt,
       CASE WHEN SUM(CASE WHEN rq_n IS NULL THEN 1 ELSE 0 END) = 0 THEN
         ROUND(CAST(SUM(rq_w) AS DOUBLE) / COUNT(*) / 1e6
               / {float(scale)!r}, 6)
       END AS rmse_hw,
       CASE WHEN SUM(CASE WHEN rq_n IS NULL THEN 1 ELSE 0 END) > 0
              THEN NULL
            WHEN SUM(rq_h) <= SUM(rq_w) AND SUM(rq_h) <= SUM(rq_n)
              THEN 'holt'
            WHEN SUM(rq_w) <= SUM(rq_n) THEN 'hw'
            ELSE 'naive' END AS winner
FROM r
GROUP BY user_id
"""


def _events_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin (expanding-window) backtest of the forecasting
    family per user: K = 4 evaluation blocks, causal one-step naive /
    Holt / Holt-Winters forecasts, exact per-fold RMSE folds, per-user
    winner. See _backtest_sql."""
    load(spark, sf_dir)
    return spark.sql(_backtest_sql())


QUERIES["events_forecast_backtest"] = _events_forecast_backtest
ORACLES["events_forecast_backtest"] = _backtest_sql()


def _events_logrank_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified log-rank (events.survival_logrank_stratified):
    time-to-first-purchase between the user_id-parity cohorts,
    CONTROLLING for the user_id % 3 stratum (the bucket-hash spelling
    of a segment confounder) — per-stratum hypergeometric O-E/variance
    folds summed into one 1-df chi-square. The distinct-duration window
    is partitioned by stratum, so unlike the pooled test it
    parallelizes across strata."""
    subjects = _purchase_subjects(
        spark, sf_dir, stratum=F.col("user_id") % 3, grp=F.col("user_id") % 2
    )
    return events.survival_logrank_stratified(
        subjects, "stratum", "grp", "duration", "observed"
    )


ORACLES["events_logrank_stratified"] = _with(_LIFE, """
subj AS (
  SELECT user_id % 3 AS s,
         user_id % 2 AS grp,
         (COALESCE(fp, last) - start) // 3600000000 AS t,
         CASE WHEN fp IS NULL THEN 0 ELSE 1 END AS obs
  FROM life
),
per_t AS (
  SELECT s, t,
         CAST(SUM(CASE WHEN grp = 1 THEN obs ELSE 0 END) AS BIGINT) AS d1,
         CAST(SUM(CASE WHEN grp = 1 THEN 1 - obs ELSE 0 END) AS BIGINT) AS c1,
         CAST(SUM(CASE WHEN grp = 0 THEN obs ELSE 0 END) AS BIGINT) AS d0,
         CAST(SUM(CASE WHEN grp = 0 THEN 1 - obs ELSE 0 END) AS BIGINT) AS c0
  FROM subj GROUP BY s, t
),
risk AS (
  SELECT s, t, d1, d0,
         CAST(SUM(d1 + c1) OVER ws AS BIGINT) AS n1,
         CAST(SUM(d0 + c0) OVER ws AS BIGINT) AS n0
  FROM per_t
  WINDOW ws AS (PARTITION BY s ORDER BY t ROWS BETWEEN CURRENT ROW
                AND UNBOUNDED FOLLOWING)
),
terms AS (
  SELECT s, d1, d1 + d0 AS d,
         CAST(ROUND(1e9 * (CAST(d1 + d0 AS DOUBLE) * n1
                           / CAST(n1 + n0 AS DOUBLE)), 0) AS BIGINT) AS e1q,
         CASE WHEN n1 + n0 > 1 THEN
           CAST(ROUND(1e9 * (CAST(d1 + d0 AS DOUBLE)
                * (n1 / CAST(n1 + n0 AS DOUBLE))
                * (n0 / CAST(n1 + n0 AS DOUBLE))
                * ((CAST(n1 + n0 AS DOUBLE) - CAST(d1 + d0 AS DOUBLE))
                   / (CAST(n1 + n0 AS DOUBLE) - 1.0))), 0) AS BIGINT)
         ELSE 0 END AS vq
  FROM risk WHERE d1 + d0 > 0
),
folded AS (
  SELECT CAST(COUNT(DISTINCT s) AS BIGINT) AS n_strata,
         CAST(SUM(d1) AS BIGINT) AS o1,
         CAST(SUM(d) AS BIGINT) AS o_total,
         CAST(SUM(e1q) AS BIGINT) AS se1q,
         CAST(SUM(vq) AS BIGINT) AS svq
  FROM terms
)
SELECT n_strata, o1,
       CASE WHEN CAST(o_total AS DOUBLE) * 1e9 < 9e18
            THEN ROUND(se1q / 1e9, 6) END AS e1,
       CASE WHEN CAST(o_total AS DOUBLE) * 1e9 < 9e18
            THEN ROUND(svq / 1e9, 6) END AS var_lr,
       CASE WHEN CAST(o_total AS DOUBLE) * 1e9 < 9e18 AND svq > 0
            THEN ROUND((o1 - se1q / 1e9) * (o1 - se1q / 1e9)
                       / (svq / 1e9), 6) END AS chi2_lr,
       CASE WHEN CAST(o_total AS DOUBLE) * 1e9 < 9e18 AND svq > 0
            THEN (o1 - se1q / 1e9) * (o1 - se1q / 1e9) / (svq / 1e9)
                 > 3.841459 END AS reject_05
FROM folded
""")
QUERIES["events_logrank_stratified"] = _events_logrank_stratified


def _events_survival_na_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson-Aalen cumulative hazard with 95% bands
    (events.survival_na_bands) — the hazard-side uncertainty beside the
    Greenwood survival bands, same subjects, same 1e-12 quantized
    folds, same visible ~3e9-at-risk guard."""
    subjects = _purchase_subjects(spark, sf_dir)
    return events.survival_na_bands(subjects, "duration", "observed")


ORACLES["events_survival_na_bands"] = _with(_LIFE, _subj(), _PER_T, """
risk AS (
  SELECT t, d,
         CAST(SUM(d + c) OVER (ORDER BY t ROWS BETWEEN CURRENT ROW
                               AND UNBOUNDED FOLLOWING) AS BIGINT) AS n_risk
  FROM per_t
),
ev AS (
  SELECT t, n_risk, d,
         CAST(ROUND(CAST(d AS DOUBLE) / n_risk * 1e12, 0) AS BIGINT) AS hq,
         CAST(ROUND(CAST(d AS DOUBLE) / (n_risk * n_risk) * 1e12, 0)
              AS BIGINT) AS vq
  FROM risk WHERE d > 0
),
run AS (
  SELECT t, n_risk, d,
         CAST(SUM(hq) OVER w AS BIGINT) AS shq,
         CAST(SUM(vq) OVER w AS BIGINT) AS svq,
         CAST(MAX(n_risk) OVER w AS BIGINT) AS nmax
  FROM ev
  WINDOW w AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT t, n_risk, d AS n_events,
       ROUND(shq / 1e12, 6) AS cum_hazard,
       CASE WHEN CAST(nmax AS DOUBLE) * nmax < 9e18
            THEN ROUND(SQRT(svq / 1e12), 6) END AS se_na,
       CASE WHEN CAST(nmax AS DOUBLE) * nmax < 9e18
            THEN ROUND(GREATEST(CAST(0 AS DOUBLE),
                 shq / 1e12 - 1.959964 * SQRT(svq / 1e12)), 6) END AS ci_lo,
       CASE WHEN CAST(nmax AS DOUBLE) * nmax < 9e18
            THEN ROUND(shq / 1e12 + 1.959964 * SQRT(svq / 1e12), 6)
       END AS ci_hi
FROM run
""")
QUERIES["events_survival_na_bands"] = _events_survival_na_bands


# MATTR lexical diversity (Covington & McFall 2010): the length-free
# replacement for raw TTR in curation scoring — TTR falls mechanically
# with document length, MATTR averages the TTR of every 50-token
# sliding window. EXACT distributed spelling (operators/text.mattr):
# per-window distinct counts via interval stabbing (+1 at each
# occurrence, -1 where it stops being its token's last-in-window), one
# prefix sum over sparse delta positions, run-length weights close the
# gaps, one terminal division. The oracle replays the identical algebra
# on DuckDB's zipped unnest/generate_subscripts.
def _text_mattr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATTR (window 50) + TTR per document with >= 50 tokens, on the
    shared normalized tokenization. See operators/text.mattr."""
    from datafusion_gpu_spark.operators import text

    return text.mattr(_docs(spark, sf_dir), window=50)


ORACLES["text_mattr"] = f"""
WITH toks0 AS (
  SELECT doc_id,
         unnest(string_split({_NORM}, ' ')) AS token,
         generate_subscripts(string_split({_NORM}, ' '), 1) AS rawpos
  FROM documents
),
toks AS (
  SELECT doc_id, token,
         CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY rawpos) - 1
              AS BIGINT) AS p,
         CAST(COUNT(*) OVER (PARTITION BY doc_id) AS BIGINT) AS n
  FROM toks0 WHERE token <> ''
),
pos AS (
  SELECT doc_id, token, p, n,
         LAG(p) OVER wt AS prev,
         LEAD(p) OVER wt AS nxt
  FROM toks
  WINDOW wt AS (PARTITION BY doc_id, token ORDER BY p)
),
pos50 AS (SELECT * FROM pos WHERE n >= 50),
deltas AS (
  SELECT doc_id, n, p AS i, 1 AS delta,
         CASE WHEN prev IS NULL THEN 1 ELSE 0 END AS is_first
  FROM pos50
  UNION ALL
  SELECT doc_id, n,
         LEAST(COALESCE(nxt, 4611686018427387904), p + 50) AS i,
         -1 AS delta, 0 AS is_first
  FROM pos50
  WHERE LEAST(COALESCE(nxt, 4611686018427387904), p + 50) <= n - 1
),
run AS (
  SELECT doc_id, n, i,
         CAST(SUM(delta) AS BIGINT) AS d,
         CAST(SUM(is_first) AS BIGINT) AS nf
  FROM deltas GROUP BY doc_id, n, i
),
pref AS (
  SELECT doc_id, n, i, nf,
         CAST(SUM(d) OVER (PARTITION BY doc_id ORDER BY i
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS v,
         LEAD(i) OVER (PARTITION BY doc_id ORDER BY i) AS next_i
  FROM run
),
weighted AS (
  SELECT doc_id, n, nf, v,
         GREATEST(CAST(0 AS BIGINT),
                  LEAST(COALESCE(next_i, n) - 1, n - 1)
                  - GREATEST(i, 49) + 1) AS w
  FROM pref
),
per_doc AS (
  SELECT doc_id, n,
         CAST(SUM(v * w) AS BIGINT) AS num,
         CAST(SUM(nf) AS BIGINT) AS vocab
  FROM weighted GROUP BY doc_id, n
)
SELECT doc_id, n AS n_tokens, vocab,
       ROUND(vocab / CAST(n AS DOUBLE), 6) AS ttr,
       ROUND(num / (CAST(n - 50 + 1 AS DOUBLE) * 50), 6) AS mattr
FROM per_doc
"""
QUERIES["text_mattr"] = _text_mattr


def _events_survival_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median survival time with the Brookmeyer-Crowley (1982) 95%
    interval — THE scalar a survival curve is reported as: the first
    event time where S(t) <= 0.5, bracketed by the t-range whose
    Greenwood band still contains 0.5 (lower = first t with
    ci_lo <= 0.5; upper = first t with ci_hi < 0.5, NULL while the
    band never falls below half). One terminal aggregate over the
    events_survival_greenwood relation — NULL-skipping MINs, no new
    machinery."""
    gw = _events_survival_greenwood(spark, sf_dir)
    return gw.agg(
        F.max("n_risk").alias("n_risk_max"),
        F.min(F.when(F.col("survival") <= 0.5, F.col("t"))).alias("median_t"),
        F.min(F.when(F.col("ci_lo") <= 0.5, F.col("t"))).alias("ci_lo_t"),
        F.min(F.when(F.col("ci_hi") < 0.5, F.col("t"))).alias("ci_hi_t"),
    )


ORACLES["events_survival_median"] = (
    "SELECT CAST(MAX(n_risk) AS BIGINT) AS n_risk_max,\n"
    "       MIN(CASE WHEN survival <= 0.5 THEN t END) AS median_t,\n"
    "       MIN(CASE WHEN ci_lo <= 0.5 THEN t END) AS ci_lo_t,\n"
    "       MIN(CASE WHEN ci_hi < 0.5 THEN t END) AS ci_hi_t\n"
    "FROM (" + ORACLES["events_survival_greenwood"] + ") AS gw"
)
QUERIES["events_survival_median"] = _events_survival_median


def _events_competing_risks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aalen-Johansen cumulative incidence of first-purchase (cause 1)
    vs first-error (cause 2) — per user, whichever comes first wins
    (tie -> purchase, documented), neither -> censored at the last
    event. The correct conversion-vs-failure decomposition (naive
    per-cause KM over-counts); see events.competing_risks_cif for the
    numeric contract. NULL-avoiding CASE picks the event time (LEAST
    over nullables is non-portable — the Greenwood lesson)."""
    load(spark, sf_dir)
    ep = F.unix_micros(F.col("ts").cast("timestamp"))
    life = (
        spark.table("events")
        .select(
            "user_id",
            ep.alias("us"),
            F.when(F.col("event_type") == "purchase", ep).alias("pus"),
            F.when(F.col("event_type") == "error", ep).alias("eus"),
        )
        .groupBy("user_id")
        .agg(
            F.min("us").alias("start"),
            F.min("pus").alias("fp"),
            F.min("eus").alias("fe"),
            F.max("us").alias("last"),
        )
    )
    cause = (
        F.when(
            F.col("fp").isNotNull()
            & (F.col("fe").isNull() | (F.col("fp") <= F.col("fe"))),
            F.lit(1),
        )
        .when(F.col("fe").isNotNull(), F.lit(2))
        .otherwise(F.lit(0))
    )
    subjects = life.select(
        F.expr(
            "(CASE WHEN fp IS NOT NULL AND (fe IS NULL OR fp <= fe) THEN fp "
            "WHEN fe IS NOT NULL THEN fe ELSE last END - start) "
            "DIV 3600000000"
        ).alias("duration"),
        cause.alias("cause"),
    )
    return events.competing_risks_cif(subjects, "duration", "cause")


ORACLES["events_competing_risks"] = """
WITH life AS (
  SELECT user_id,
         MIN(epoch_us(ts)) AS start,
         MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS fp,
         MIN(CASE WHEN event_type = 'error' THEN epoch_us(ts) END) AS fe,
         MAX(epoch_us(ts)) AS last
  FROM events GROUP BY user_id
),
subj AS (
  SELECT ((CASE WHEN fp IS NOT NULL AND (fe IS NULL OR fp <= fe) THEN fp
                WHEN fe IS NOT NULL THEN fe ELSE last END) - start)
           // 3600000000 AS t,
         CASE WHEN fp IS NOT NULL AND (fe IS NULL OR fp <= fe) THEN 1
              WHEN fe IS NOT NULL THEN 2 ELSE 0 END AS cause
  FROM life
),
per_t AS (
  SELECT t,
         CAST(SUM(CASE WHEN cause = 1 THEN 1 ELSE 0 END) AS BIGINT) AS d1,
         CAST(SUM(CASE WHEN cause = 2 THEN 1 ELSE 0 END) AS BIGINT) AS d2,
         CAST(SUM(CASE WHEN cause = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c
  FROM subj GROUP BY t
),
risk AS (
  SELECT t, d1, d2,
         CAST(SUM(d1 + d2 + c) OVER (ORDER BY t ROWS BETWEEN CURRENT ROW
                                     AND UNBOUNDED FOLLOWING)
              AS BIGINT) AS n_risk
  FROM per_t
),
ev AS (
  SELECT t, n_risk, d1, d2,
         CASE WHEN d1 + d2 < n_risk
              THEN CAST(ROUND(LN(1 - CAST(d1 + d2 AS DOUBLE) / n_risk)
                              * 1e12, 0) AS BIGINT)
              ELSE 0 END AS lnq
  FROM risk WHERE d1 + d2 > 0
),
prevs AS (
  SELECT t, n_risk, d1, d2, lnq,
         COALESCE(CAST(SUM(lnq) OVER wp AS BIGINT), 0) AS slnq_prev,
         COALESCE(MAX(CASE WHEN d1 + d2 = n_risk THEN 1 ELSE 0 END)
                  OVER wp, 0) AS dead_prev
  FROM ev
  WINDOW wp AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                AND 1 PRECEDING)
),
inc AS (
  SELECT t, n_risk, d1, d2, lnq,
         CASE WHEN dead_prev = 1 THEN CAST(0 AS DOUBLE)
              ELSE EXP(slnq_prev / 1e12) END AS s_prev
  FROM prevs
),
run AS (
  SELECT t, n_risk, d1, d2,
         CAST(SUM(CAST(ROUND(s_prev * d1 / n_risk * 1e12, 0) AS BIGINT))
              OVER w AS BIGINT) AS s1q,
         CAST(SUM(CAST(ROUND(s_prev * d2 / n_risk * 1e12, 0) AS BIGINT))
              OVER w AS BIGINT) AS s2q,
         CAST(SUM(lnq) OVER w AS BIGINT) AS slnq,
         MAX(CASE WHEN d1 + d2 = n_risk THEN 1 ELSE 0 END) OVER w AS dead
  FROM inc
  WINDOW w AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT t, n_risk, d1, d2,
       CASE WHEN dead = 1 THEN 0.0
            ELSE ROUND(EXP(slnq / 1e12), 6) END AS survival,
       ROUND(s1q / 1e12, 6) AS cif_1,
       ROUND(s2q / 1e12, 6) AS cif_2
FROM run
"""
QUERIES["events_competing_risks"] = _events_competing_risks


def _events_survival_rmst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Restricted mean survival time at tau = 72 hours (Royston &
    Parmar 2013 for the modern usage; the estimator is the area under
    the KM step curve): RMST(tau) = integral_0^tau S(t) dt — the
    average un-converted hours within the first three days, the
    readout that stays defined when the curve never reaches 0.5 and
    the recommended A/B effect measure under non-proportional hazards.
    Step-exact: 1.0 * min(t_1, tau) before the first event, then
    S(t_i) * (min(t_{i+1}, tau) - t_i) per KM row with t_i < tau
    (LEAD with a tau default). Interval widths are exact integer
    hours; S values are the already-portable rounded KM doubles; the
    products sum over the distinct-duration relation (deterministic —
    both engines fold the identical handful of doubles in t-order via
    the same windowed cumulative)."""
    return _rmst_from_km(_events_survival_km_relation(spark, sf_dir), tau=72)


def _rmst_from_km(km: DataFrame, tau: int) -> DataFrame:
    """Area under the KM step curve truncated at tau, from a
    (t, survival, d1d) relation — the terminal aggregate shared by the
    gate and its unit test."""
    from pyspark.sql import Window

    w = Window.orderBy("t")
    stepped = km.withColumn("t_next", F.coalesce(F.lead("t").over(w), F.lit(tau)))
    seg = F.when(
        F.col("t") < tau,
        F.col("survival")
        * (F.least(F.col("t_next"), F.lit(tau)) - F.col("t")).cast("double"),
    ).otherwise(F.lit(0.0))
    run = stepped.withColumn(
        "__seg",
        seg,
    ).withColumn(
        "__rsum",
        F.sum("__seg").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    first_t = F.min("t")
    return run.groupBy().agg(
        F.lit(tau).alias("tau"),
        F.sum((F.col("d1d") > 0).cast("long")).alias("n_event_times"),
        F.round(
            F.least(first_t.cast("double"), F.lit(float(tau)))
            + F.max("__rsum"),
            6,
        ).alias("rmst"),
    )


def _events_survival_km_relation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared time-to-first-purchase KM relation (t, survival, ...)
    used by the median/RMST scalar gates — survival_km over the same
    subjects as the greenwood gate, with d1d aliasing n_events for the
    scalar aggregates."""
    subjects = _purchase_subjects(spark, sf_dir)
    return events.survival_km(subjects, "duration", "observed").select(
        "t", "survival", F.col("n_events").alias("d1d")
    )


ORACLES["events_survival_rmst"] = _with(
    "km AS ("
    + _with(_LIFE, _subj(), _PER_T, _KM_RUN, """
SELECT t, n_risk, d AS n_events, c AS n_censored,
       CASE WHEN dead = 1 THEN CAST(0 AS DOUBLE)
            ELSE ROUND(EXP(slnq / 1e12), 6) END AS survival,
       ROUND(shq / 1e12, 6) AS cum_hazard
FROM run""")
    + ")",
    """
stepped AS (
  SELECT t, survival, n_events,
         COALESCE(LEAD(t) OVER (ORDER BY t), 72) AS t_next
  FROM km
),
segs AS (
  SELECT t, n_events,
         CASE WHEN t < 72
              THEN survival * CAST(LEAST(t_next, 72) - t AS DOUBLE)
              ELSE 0.0 END AS seg
  FROM stepped
),
run AS (
  SELECT t, n_events, seg,
         SUM(seg) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS rsum
  FROM segs
)
SELECT CAST(72 AS INT) AS tau,
       CAST(SUM(CASE WHEN n_events > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_event_times,
       ROUND(LEAST(CAST(MIN(t) AS DOUBLE), 72.0) + MAX(rsum), 6) AS rmst
FROM run
""")
# the km CTE chain above is the events_survival_km oracle verbatim
# (nested WITH — DuckDB-side only; the greenwood/na oracles set the
# duplication precedent, and test_rmst_oracle_chain_in_sync pins it)
QUERIES["events_survival_rmst"] = _events_survival_rmst


# ---------------------------------------------------------------------------
# Round 13 — k-group log-rank (VERDICT r12 ask #3): the two-cohort test
# (r12) answers A/B; real experiments run A/B/n. Three arms from the
# user_id mod-3 split, chi-square on 2 df via the closed-form 2x2
# inversion of the summed multivariate-hypergeometric covariance
# (operators/events.survival_logrank_k has the numeric contract; the
# k=2 path reduces BIT-FOR-BIT to events_logrank — pinned by pytest).
# ---------------------------------------------------------------------------
def _events_logrank_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-arm log-rank test of time-to-first-purchase between the
    user_id mod-3 cohorts (events.survival_logrank_k): exact bigint
    O_j, 1e-9 quantized E/V folds, closed-form quadratic-form chi2 on
    2 df vs 5.991465."""
    subjects = _purchase_subjects(spark, sf_dir, grp=F.col("user_id") % 3)
    return events.survival_logrank_k(subjects, 3, "grp", "duration", "observed")


ORACLES["events_logrank_k"] = _with(_LIFE, """
subj AS (
  SELECT user_id % 3 AS grp,
         (COALESCE(fp, last) - start) // 3600000000 AS t,
         CASE WHEN fp IS NULL THEN 0 ELSE 1 END AS obs
  FROM life
),
per_t AS (
  SELECT t,
         CAST(SUM(CASE WHEN grp = 0 THEN obs ELSE 0 END) AS BIGINT) AS d0,
         CAST(SUM(CASE WHEN grp = 0 THEN 1 - obs ELSE 0 END) AS BIGINT) AS c0,
         CAST(SUM(CASE WHEN grp = 1 THEN obs ELSE 0 END) AS BIGINT) AS d1,
         CAST(SUM(CASE WHEN grp = 1 THEN 1 - obs ELSE 0 END) AS BIGINT) AS c1,
         CAST(SUM(CASE WHEN grp = 2 THEN obs ELSE 0 END) AS BIGINT) AS d2,
         CAST(SUM(CASE WHEN grp = 2 THEN 1 - obs ELSE 0 END) AS BIGINT) AS c2
  FROM subj GROUP BY t
),
risk AS (
  SELECT t, d0, d1, d2,
         CAST(SUM(d0 + c0) OVER ws AS BIGINT) AS n0,
         CAST(SUM(d1 + c1) OVER ws AS BIGINT) AS n1,
         CAST(SUM(d2 + c2) OVER ws AS BIGINT) AS n2,
         CAST(SUM(d0 + c0 + d1 + c1 + d2 + c2) OVER wa AS BIGINT) AS n_all
  FROM per_t
  WINDOW ws AS (ORDER BY t ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING),
         wa AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                AND UNBOUNDED FOLLOWING)
),
ev AS (
  SELECT t, d1 AS o1t, d2 AS o2t,
         CAST(d0 + d1 + d2 AS BIGINT) AS d,
         CAST(n0 + n1 + n2 AS BIGINT) AS nr,
         n1, n2, n_all
  FROM risk WHERE d0 + d1 + d2 > 0
),
terms AS (
  SELECT d AS d_t, o1t, o2t, n_all,
         CAST(ROUND(1e9 * (CAST(d AS DOUBLE) * n1
                           / CAST(nr AS DOUBLE)), 0) AS BIGINT) AS e1q,
         CAST(ROUND(1e9 * (CAST(d AS DOUBLE) * n2
                           / CAST(nr AS DOUBLE)), 0) AS BIGINT) AS e2q,
         CASE WHEN nr > 1 THEN
           CAST(ROUND(1e9 * (CAST(d AS DOUBLE)
                * (n1 / CAST(nr AS DOUBLE))
                * ((nr - n1) / CAST(nr AS DOUBLE))
                * ((CAST(nr AS DOUBLE) - CAST(d AS DOUBLE))
                   / (CAST(nr AS DOUBLE) - 1.0))), 0) AS BIGINT)
         ELSE 0 END AS v11q,
         CASE WHEN nr > 1 THEN
           CAST(ROUND(1e9 * (-(CAST(d AS DOUBLE)
                * (n1 / CAST(nr AS DOUBLE))
                * (n2 / CAST(nr AS DOUBLE))
                * ((CAST(nr AS DOUBLE) - CAST(d AS DOUBLE))
                   / (CAST(nr AS DOUBLE) - 1.0)))), 0) AS BIGINT)
         ELSE 0 END AS v12q,
         CASE WHEN nr > 1 THEN
           CAST(ROUND(1e9 * (CAST(d AS DOUBLE)
                * (n2 / CAST(nr AS DOUBLE))
                * ((nr - n2) / CAST(nr AS DOUBLE))
                * ((CAST(nr AS DOUBLE) - CAST(d AS DOUBLE))
                   / (CAST(nr AS DOUBLE) - 1.0))), 0) AS BIGINT)
         ELSE 0 END AS v22q
  FROM ev
),
folded AS (
  SELECT CAST(SUM(d_t) AS BIGINT) AS o_total,
         CAST(MAX(n_all) AS BIGINT) AS n_subjects,
         CAST(SUM(o1t) AS BIGINT) AS o1,
         CAST(SUM(o2t) AS BIGINT) AS o2,
         CAST(SUM(e1q) AS BIGINT) AS se1q,
         CAST(SUM(e2q) AS BIGINT) AS se2q,
         CAST(SUM(v11q) AS BIGINT) AS sv11q,
         CAST(SUM(v12q) AS BIGINT) AS sv12q,
         CAST(SUM(v22q) AS BIGINT) AS sv22q
  FROM terms
),
quadform AS (
  SELECT o_total, n_subjects,
         (CAST(o1 AS DOUBLE) - se1q / 1e9) AS z1,
         (CAST(o2 AS DOUBLE) - se2q / 1e9) AS z2,
         sv11q / 1e9 AS v11, sv12q / 1e9 AS v12, sv22q / 1e9 AS v22
  FROM folded
)
SELECT CAST(3 AS INT) AS n_groups, n_subjects, o_total,
       CASE WHEN CAST(o_total AS DOUBLE) * 1e9 < 9e18
                 AND v11 * v22 - v12 * v12 > 0
            THEN ROUND((z1 * z1 * v22 - 2.0 * z1 * z2 * v12
                        + z2 * z2 * v11)
                       / (v11 * v22 - v12 * v12), 6) END AS chi2_lr_k,
       CAST(2 AS INT) AS df,
       CASE WHEN CAST(o_total AS DOUBLE) * 1e9 < 9e18
                 AND v11 * v22 - v12 * v12 > 0
            THEN (z1 * z1 * v22 - 2.0 * z1 * z2 * v12 + z2 * z2 * v11)
                 / (v11 * v22 - v12 * v12) > 5.991465 END AS reject_05
FROM quadform
""")
QUERIES["events_logrank_k"] = _events_logrank_k


# ---------------------------------------------------------------------------
# Round 13 — weighted log-rank family (VERDICT r12 ask #5): four tests
# from ONE distinct-duration fold — unweighted log-rank, Gehan-Breslow-
# Wilcoxon (early-sensitive, weight normalized to n_t/n_total so the
# quantized folds keep int64 headroom at any scale), Tarone-Ware, and
# Fleming-Harrington G(0,1) (late-sensitive, pooled-KM left limit via
# the 1e-12 quantized-ln prefix fold). G(0,0) reduces bit-for-bit to
# events_logrank — pinned by pytest (operators/events.
# survival_logrank_weighted has the numeric contract).
# ---------------------------------------------------------------------------
def _events_logrank_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted log-rank family over the user_id-parity cohorts
    (events.survival_logrank_weighted, rho=0 gamma=1): 4 rows
    (logrank / gehan / tarone_ware / fh_0_1), each Z_w^2/V_w on 1 df
    vs 3.841459."""
    subjects = _purchase_subjects(spark, sf_dir, grp=F.col("user_id") % 2)
    return events.survival_logrank_weighted(
        subjects, "grp", "duration", "observed", rho=0.0, gamma=1.0
    )


ORACLES["events_logrank_weighted"] = _with(_LIFE, _subj("user_id % 2"), _PER_T2, """
risk AS (
  SELECT t, d1, d0,
         CAST(SUM(d1 + c1) OVER ws AS BIGINT) AS n1,
         CAST(SUM(d0 + c0) OVER ws AS BIGINT) AS n0
  FROM per_t
  WINDOW ws AS (ORDER BY t ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
),
ev AS (
  SELECT t, d1, CAST(d1 + d0 AS BIGINT) AS d,
         n1, n0, CAST(n1 + n0 AS BIGINT) AS nr
  FROM risk WHERE d1 + d0 > 0
),
km AS (
  SELECT t, d1, d, n1, n0, nr,
         CASE WHEN d < nr THEN
           CAST(ROUND(1e12 * LN(1.0 - CAST(d AS DOUBLE)
                                / CAST(nr AS DOUBLE)), 0) AS BIGINT)
         ELSE 0 END AS lnq,
         CASE WHEN d = nr THEN 1 ELSE 0 END AS dead
  FROM ev
),
run AS (
  SELECT t, d1, d, n1, n0, nr,
         SUM(lnq) OVER wp AS slnq_prev,
         MAX(dead) OVER wp AS dead_prev,
         CAST(MAX(nr) OVER wa AS DOUBLE) AS n_tot
  FROM km
  WINDOW wp AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                AND 1 PRECEDING),
         wa AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                AND UNBOUNDED FOLLOWING)
),
wtd AS (
  SELECT t, d1, d, n1, n0, nr,
         1.0 AS w_lr,
         CAST(nr AS DOUBLE) / n_tot AS w_ge,
         SQRT(CAST(nr AS DOUBLE) / n_tot) AS w_tw,
         POWER(CASE WHEN COALESCE(dead_prev, 0) = 1 THEN 0.0
                    ELSE EXP(COALESCE(slnq_prev, 0) / 1e12) END, 0.0)
         * POWER(1.0 - CASE WHEN COALESCE(dead_prev, 0) = 1 THEN 0.0
                            ELSE EXP(COALESCE(slnq_prev, 0) / 1e12) END,
                 1.0) AS w_fh
  FROM run
),
terms AS (
  SELECT d1, d,
         CAST(ROUND(1e9 * (w_lr * CAST(d1 AS DOUBLE)), 0) AS BIGINT) AS zo0q,
         CAST(ROUND(1e9 * (w_ge * CAST(d1 AS DOUBLE)), 0) AS BIGINT) AS zo1q,
         CAST(ROUND(1e9 * (w_tw * CAST(d1 AS DOUBLE)), 0) AS BIGINT) AS zo2q,
         CAST(ROUND(1e9 * (w_fh * CAST(d1 AS DOUBLE)), 0) AS BIGINT) AS zo3q,
         CAST(ROUND(1e9 * (w_lr * (CAST(d AS DOUBLE) * n1
              / CAST(nr AS DOUBLE))), 0) AS BIGINT) AS ze0q,
         CAST(ROUND(1e9 * (w_ge * (CAST(d AS DOUBLE) * n1
              / CAST(nr AS DOUBLE))), 0) AS BIGINT) AS ze1q,
         CAST(ROUND(1e9 * (w_tw * (CAST(d AS DOUBLE) * n1
              / CAST(nr AS DOUBLE))), 0) AS BIGINT) AS ze2q,
         CAST(ROUND(1e9 * (w_fh * (CAST(d AS DOUBLE) * n1
              / CAST(nr AS DOUBLE))), 0) AS BIGINT) AS ze3q,
         CASE WHEN nr > 1 THEN CAST(ROUND(1e9 * (w_lr * w_lr
              * (CAST(d AS DOUBLE) * (n1 / CAST(nr AS DOUBLE))
                 * (n0 / CAST(nr AS DOUBLE))
                 * ((CAST(nr AS DOUBLE) - CAST(d AS DOUBLE))
                    / (CAST(nr AS DOUBLE) - 1.0)))), 0) AS BIGINT)
         ELSE 0 END AS v0q,
         CASE WHEN nr > 1 THEN CAST(ROUND(1e9 * (w_ge * w_ge
              * (CAST(d AS DOUBLE) * (n1 / CAST(nr AS DOUBLE))
                 * (n0 / CAST(nr AS DOUBLE))
                 * ((CAST(nr AS DOUBLE) - CAST(d AS DOUBLE))
                    / (CAST(nr AS DOUBLE) - 1.0)))), 0) AS BIGINT)
         ELSE 0 END AS v1q,
         CASE WHEN nr > 1 THEN CAST(ROUND(1e9 * (w_tw * w_tw
              * (CAST(d AS DOUBLE) * (n1 / CAST(nr AS DOUBLE))
                 * (n0 / CAST(nr AS DOUBLE))
                 * ((CAST(nr AS DOUBLE) - CAST(d AS DOUBLE))
                    / (CAST(nr AS DOUBLE) - 1.0)))), 0) AS BIGINT)
         ELSE 0 END AS v2q,
         CASE WHEN nr > 1 THEN CAST(ROUND(1e9 * (w_fh * w_fh
              * (CAST(d AS DOUBLE) * (n1 / CAST(nr AS DOUBLE))
                 * (n0 / CAST(nr AS DOUBLE))
                 * ((CAST(nr AS DOUBLE) - CAST(d AS DOUBLE))
                    / (CAST(nr AS DOUBLE) - 1.0)))), 0) AS BIGINT)
         ELSE 0 END AS v3q
  FROM wtd
),
folded AS (
  SELECT CAST(SUM(d1) AS BIGINT) AS o1,
         CAST(SUM(d) AS BIGINT) AS o_total,
         CAST(SUM(zo0q) AS BIGINT) AS szo0q,
         CAST(SUM(zo1q) AS BIGINT) AS szo1q,
         CAST(SUM(zo2q) AS BIGINT) AS szo2q,
         CAST(SUM(zo3q) AS BIGINT) AS szo3q,
         CAST(SUM(ze0q) AS BIGINT) AS sze0q,
         CAST(SUM(ze1q) AS BIGINT) AS sze1q,
         CAST(SUM(ze2q) AS BIGINT) AS sze2q,
         CAST(SUM(ze3q) AS BIGINT) AS sze3q,
         CAST(SUM(v0q) AS BIGINT) AS sv0q,
         CAST(SUM(v1q) AS BIGINT) AS sv1q,
         CAST(SUM(v2q) AS BIGINT) AS sv2q,
         CAST(SUM(v3q) AS BIGINT) AS sv3q
  FROM terms
),
rows AS (
  SELECT 'logrank' AS weight_fn, o1, o_total,
         szo0q AS szoq, sze0q AS szeq, sv0q AS svq FROM folded
  UNION ALL
  SELECT 'gehan', o1, o_total, szo1q, sze1q, sv1q FROM folded
  UNION ALL
  SELECT 'tarone_ware', o1, o_total, szo2q, sze2q, sv2q FROM folded
  UNION ALL
  SELECT 'fh_0_1', o1, o_total, szo3q, sze3q, sv3q FROM folded
)
SELECT weight_fn, o1,
       CASE WHEN CAST(o_total AS DOUBLE) * 1e9 < 9e18
            THEN ROUND(szoq / 1e9 - szeq / 1e9, 6) END AS z_w,
       CASE WHEN CAST(o_total AS DOUBLE) * 1e9 < 9e18
            THEN ROUND(svq / 1e9, 6) END AS var_w,
       CASE WHEN CAST(o_total AS DOUBLE) * 1e9 < 9e18 AND svq > 0
            THEN ROUND((szoq / 1e9 - szeq / 1e9)
                       * (szoq / 1e9 - szeq / 1e9) / (svq / 1e9), 6)
       END AS chi2_w,
       CASE WHEN CAST(o_total AS DOUBLE) * 1e9 < 9e18 AND svq > 0
            THEN (szoq / 1e9 - szeq / 1e9) * (szoq / 1e9 - szeq / 1e9)
                 / (svq / 1e9) > 3.841459 END AS reject_05
FROM rows ORDER BY weight_fn
""")
QUERIES["events_logrank_weighted"] = _events_logrank_weighted


# ---------------------------------------------------------------------------
# Round 13 — Cox proportional hazards (binary covariate, Breslow ties):
# the effect-size member of the survival family. The log-rank gates say
# WHETHER time-to-first-purchase differs between the parity cohorts;
# this reports the hazard ratio e^beta with a Wald interval. Five
# Newton updates + one reporting fold, ALL on the distinct-duration
# relation (operators/events.cox_ph_binary has the numeric contract);
# the oracle unrolls the identical iteration as CTE stages.
# ---------------------------------------------------------------------------
def _events_cox_ph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cox PH fit of cohort (user_id parity) on time-to-first-purchase
    (events.cox_ph_binary, 5 Newton iterations): beta, hazard ratio,
    Wald z vs 1.959964."""
    subjects = _purchase_subjects(spark, sf_dir, grp=F.col("user_id") % 2)
    return events.cox_ph_binary(subjects, "grp", "duration", "observed", iters=5)


ORACLES["events_cox_ph"] = _with(
    _LIFE,
    _subj("user_id % 2"),
    _PER_T2,
    """ev AS (
  SELECT t, d1, CAST(d1 + d0 AS BIGINT) AS d, n1, n0, n1_all, n0_all
  FROM (
    SELECT t, d1, d0,
           CAST(SUM(d1 + c1) OVER ws AS BIGINT) AS n1,
           CAST(SUM(d0 + c0) OVER ws AS BIGINT) AS n0,
           CAST(SUM(d1 + c1) OVER wa AS BIGINT) AS n1_all,
           CAST(SUM(d0 + c0) OVER wa AS BIGINT) AS n0_all
    FROM per_t
    WINDOW ws AS (ORDER BY t ROWS BETWEEN CURRENT ROW
                  AND UNBOUNDED FOLLOWING),
           wa AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                  AND UNBOUNDED FOLLOWING)
  ) r WHERE d1 + d0 > 0
),
b0 AS (SELECT CAST(0.0 AS DOUBLE) AS b)""",
    *map(_cox_newton, range(1, 6)),
    """
fin AS (
  SELECT CAST(SUM(CAST(ROUND(1e9 * (CAST(d1 AS DOUBLE)
              - CAST(d AS DOUBLE) * rr), 0) AS BIGINT)) AS BIGINT) AS su,
         CAST(SUM(CAST(ROUND(1e9 * (CAST(d AS DOUBLE) * rr * (1.0 - rr)),
              0) AS BIGINT)) AS BIGINT) AS si,
         CAST(SUM(d) AS BIGINT) AS o_total,
         CAST(MAX(n1_all) AS BIGINT) AS n1_subjects,
         CAST(MAX(n0_all) AS BIGINT) AS n0_subjects,
         MAX(b) AS b_in
  FROM (SELECT d1, d, n1_all, n0_all, b,
               (CAST(n1 AS DOUBLE) * EXP(b))
                 / (CAST(n1 AS DOUBLE) * EXP(b)
                    + CAST(n0 AS DOUBLE)) AS rr
        FROM ev CROSS JOIN b5) s
)
SELECT n1_subjects, n0_subjects, o_total AS n_events,
       CASE WHEN CAST(o_total AS DOUBLE) * 1e9 < 9e18
            THEN ROUND(b_in, 6) END AS beta,
       CASE WHEN CAST(o_total AS DOUBLE) * 1e9 < 9e18
            THEN ROUND(EXP(b_in), 6) END AS hazard_ratio,
       CASE WHEN CAST(o_total AS DOUBLE) * 1e9 < 9e18 AND si > 0
            THEN ROUND(1.0 / SQRT(si / 1e9), 6) END AS se_beta,
       CASE WHEN CAST(o_total AS DOUBLE) * 1e9 < 9e18 AND si > 0
            THEN ROUND(EXP(b_in - 1.959964 * (1.0 / SQRT(si / 1e9))), 6)
       END AS hr_lo,
       CASE WHEN CAST(o_total AS DOUBLE) * 1e9 < 9e18 AND si > 0
            THEN ROUND(EXP(b_in + 1.959964 * (1.0 / SQRT(si / 1e9))), 6)
       END AS hr_hi,
       CASE WHEN CAST(o_total AS DOUBLE) * 1e9 < 9e18 AND si > 0
            THEN ROUND(b_in * SQRT(si / 1e9), 6) END AS z_wald,
       CASE WHEN CAST(o_total AS DOUBLE) * 1e9 < 9e18 AND si > 0
            THEN ABS(b_in * SQRT(si / 1e9)) > 1.959964 END AS reject_05
FROM fin
""")
QUERIES["events_cox_ph"] = _events_cox_ph


# ---------------------------------------------------------------------------
# Round 14 — Schoenfeld-residual PH check (Schoenfeld 1982; Grambsch &
# Therneau 1994): the diagnostic that validates events_cox_ph's
# proportional-hazards assumption. Same subjects relation and Newton
# chain; the Grambsch-Therneau score test for a time-varying effect
# runs as ONE extra fold of the distinct-duration relation at the
# converged beta (operators/events.cox_schoenfeld_ph has the numeric
# contract). The oracle reuses the cox oracle's unrolled chain via a
# marker splice (the graph_modularity precedent, assert-pinned below)
# and replaces only the terminal fold.
# ---------------------------------------------------------------------------
def _events_schoenfeld_ph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grambsch-Therneau PH check of the cohort Cox fit on
    time-to-first-purchase (events.cox_schoenfeld_ph, 5 Newton
    iterations): chi2_ph vs 3.841459; reject_05 = PH violated."""
    subjects = _purchase_subjects(spark, sf_dir, grp=F.col("user_id") % 2)
    return events.cox_schoenfeld_ph(
        subjects, "grp", "duration", "observed", iters=5
    )


_COX_TAIL_MARKER = "fin AS ("
assert ORACLES["events_cox_ph"].count(_COX_TAIL_MARKER) == 1, (
    "cox oracle terminal fold drifted; fix _COX_TAIL_MARKER"
)
ORACLES["events_schoenfeld_ph"] = (
    ORACLES["events_cox_ph"].split(_COX_TAIL_MARKER)[0]
    + """gt AS (
  SELECT t, d1, d, b,
         (CAST(n1 AS DOUBLE) * EXP(b))
           / (CAST(n1 AS DOUBLE) * EXP(b) + CAST(n0 AS DOUBLE)) AS rr,
         MIN(t) OVER () AS tmin,
         MAX(t) OVER () AS tmax
  FROM ev CROSS JOIN b5
),
terms AS (
  SELECT d, b,
         CASE WHEN tmax > tmin
              THEN CAST(t - tmin AS DOUBLE) / CAST(tmax - tmin AS DOUBLE)
              ELSE 0.0 END AS gtr,
         CAST(d1 AS DOUBLE) - CAST(d AS DOUBLE) * rr AS s,
         CAST(d AS DOUBLE) * rr * (1.0 - rr) AS v
  FROM gt
),
folded AS (
  SELECT CAST(SUM(CAST(ROUND(1e9 * s, 0) AS BIGINT)) AS BIGINT) AS ssq,
         CAST(SUM(CAST(ROUND(1e9 * gtr * s, 0) AS BIGINT)) AS BIGINT)
           AS sgsq,
         CAST(SUM(CAST(ROUND(1e9 * v, 0) AS BIGINT)) AS BIGINT) AS svq,
         CAST(SUM(CAST(ROUND(1e9 * gtr * v, 0) AS BIGINT)) AS BIGINT)
           AS sgvq,
         CAST(SUM(CAST(ROUND(1e9 * gtr * gtr * v, 0) AS BIGINT)) AS BIGINT)
           AS sg2vq,
         CAST(SUM(d) AS BIGINT) AS o_total,
         CAST(COUNT(*) AS BIGINT) AS n_times,
         MAX(b) AS beta
  FROM terms
)
SELECT n_times AS n_event_times, o_total AS n_events,
       CASE WHEN CAST(o_total AS DOUBLE) * 1e9 < 9e18
            THEN ROUND(beta, 6) + 0.0 END AS beta,
       CASE WHEN CAST(o_total AS DOUBLE) * 1e9 < 9e18 AND svq > 0
            THEN ROUND(sgsq / 1e9
                 - (sgvq / 1e9) * (ssq / 1e9) / (svq / 1e9), 6) + 0.0
       END AS u_theta,
       CASE WHEN CAST(o_total AS DOUBLE) * 1e9 < 9e18 AND svq > 0
            THEN ROUND(sg2vq / 1e9
                 - (sgvq / 1e9) * (sgvq / 1e9) / (svq / 1e9), 6) + 0.0
       END AS var_theta,
       CASE WHEN CAST(o_total AS DOUBLE) * 1e9 < 9e18 AND svq > 0
             AND sg2vq / 1e9 - (sgvq / 1e9) * (sgvq / 1e9) / (svq / 1e9) > 0
            THEN ROUND((sgsq / 1e9
                        - (sgvq / 1e9) * (ssq / 1e9) / (svq / 1e9))
                 * (sgsq / 1e9 - (sgvq / 1e9) * (ssq / 1e9) / (svq / 1e9))
                 / (sg2vq / 1e9 - (sgvq / 1e9) * (sgvq / 1e9) / (svq / 1e9)),
                 6) END AS chi2_ph,
       CASE WHEN CAST(o_total AS DOUBLE) * 1e9 < 9e18 AND svq > 0
             AND sg2vq / 1e9 - (sgvq / 1e9) * (sgvq / 1e9) / (svq / 1e9) > 0
            THEN (sgsq / 1e9 - (sgvq / 1e9) * (ssq / 1e9) / (svq / 1e9))
                 * (sgsq / 1e9 - (sgvq / 1e9) * (ssq / 1e9) / (svq / 1e9))
                 / (sg2vq / 1e9 - (sgvq / 1e9) * (sgvq / 1e9) / (svq / 1e9))
                 > 3.841459 END AS reject_05
FROM folded
"""
)
QUERIES["events_schoenfeld_ph"] = _events_schoenfeld_ph


# ---------------------------------------------------------------------------
# Round 13 — Theil-Sen robust trend (Theil 1950; Sen 1968): median of
# all pairwise slopes over the hourly purchase-revenue series — the
# robust companion to the OLS-based anomaly/ITS gates (a contaminated
# bucket cannot move it). Pair space = the wall-clock-bounded hourly
# relation self-joined on x1 < x2 (the SPRT/backtest boundedness
# argument; allow-listed BNLJ — never data x data). Slopes are single
# double divisions of exact bigints; the median is a deterministic
# ranked SELECTION (no order-dependent folds to quantize).
# ---------------------------------------------------------------------------
def _events_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen slope/intercept of hourly purchase revenue (cents)
    vs the hour index (events.theil_sen_trend)."""
    load(spark, sf_dir)
    hourly = (
        spark.table("events")
        .where(F.col("event_type") == "purchase")
        .select(
            F.expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 3600000000").alias(
                "bucket"
            ),
            F.round(F.col("value") * 100, 0).cast("long").alias("c"),
        )
        .groupBy("bucket")
        .agg(F.sum("c").alias("v_c"))
    )
    return events.theil_sen_trend(hourly, "bucket", "v_c")


ORACLES["events_theil_sen"] = _with(_HOURLY_PURCHASE, """
pairs AS (
  SELECT a.x AS x1, b.x AS x2,
         CAST(b.y - a.y AS DOUBLE) / CAST(b.x - a.x AS DOUBLE) AS slope
  FROM hourly a JOIN hourly b ON a.x < b.x
),
ranked AS (
  SELECT slope, x1, x2,
         ROW_NUMBER() OVER (ORDER BY slope, x1, x2) AS rn,
         CAST(COUNT(*) OVER () AS BIGINT) AS np
  FROM pairs
),
med AS (
  SELECT CAST(MAX(np) AS BIGINT) AS n_pairs,
         (MAX(CASE WHEN rn = (np + 1) // 2 THEN slope END)
          + MAX(CASE WHEN rn = (np + 2) // 2 THEN slope END)) / 2.0 AS slope
  FROM ranked
),
resid AS (
  SELECT n_pairs, slope, x,
         CAST(y AS DOUBLE) - slope * CAST(x AS DOUBLE) AS r
  FROM hourly CROSS JOIN med
),
rranked AS (
  SELECT n_pairs, slope, r, x,
         ROW_NUMBER() OVER (ORDER BY r, x) AS rn,
         CAST(COUNT(*) OVER () AS BIGINT) AS np2
  FROM resid
)
SELECT CAST(MAX(np2) AS BIGINT) AS n_points,
       CAST(MAX(n_pairs) AS BIGINT) AS n_pairs,
       ROUND(MAX(slope), 6) AS slope,
       ROUND((MAX(CASE WHEN rn = (np2 + 1) // 2 THEN r END)
              + MAX(CASE WHEN rn = (np2 + 2) // 2 THEN r END)) / 2.0, 6)
         AS intercept
FROM rranked
""")
QUERIES["events_theil_sen"] = _events_theil_sen


# ---------------------------------------------------------------------------
# Round 13 — actuarial life table (Berkson & Gage 1950): the
# interval-census member of the survival family. KM (r9) resolves
# exact hours; this rolls time-to-first-purchase into 12-hour
# actuarial intervals with the half-censoring exposure convention
# n' = n - c/2 (operators/events.life_table has the numeric contract:
# exact bigint counts, 1e-12 quantized-ln survival fold, dead latch).
# ---------------------------------------------------------------------------
def _events_life_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """12-hour actuarial life table of time-to-first-purchase
    (events.life_table): per-interval n/d/c, effective exposure,
    conditional mortality q, end-of-interval survival."""
    subjects = _purchase_subjects(spark, sf_dir)
    return events.life_table(subjects, "duration", "observed", width=12)


ORACLES["events_life_table"] = _with(_LIFE, _subj(), """
per_i AS (
  SELECT (CAST(t AS BIGINT) // 12) * 12 AS interval_start,
         CAST(SUM(obs) AS BIGINT) AS d,
         CAST(SUM(1 - obs) AS BIGINT) AS c
  FROM subj GROUP BY 1
),
risk AS (
  SELECT interval_start, d, c,
         CAST(SUM(d + c) OVER ws AS BIGINT) AS n
  FROM per_i
  WINDOW ws AS (ORDER BY interval_start ROWS BETWEEN CURRENT ROW
                AND UNBOUNDED FOLLOWING)
),
km AS (
  SELECT interval_start, d, c, n,
         CAST(n AS DOUBLE) - CAST(c AS DOUBLE) / 2.0 AS n_eff,
         CASE WHEN CAST(d AS DOUBLE)
                   < CAST(n AS DOUBLE) - CAST(c AS DOUBLE) / 2.0
              THEN CAST(ROUND(1e12 * LN(1.0 - CAST(d AS DOUBLE)
                   / (CAST(n AS DOUBLE) - CAST(c AS DOUBLE) / 2.0)), 0)
                   AS BIGINT)
         ELSE 0 END AS lnq,
         CASE WHEN CAST(d AS DOUBLE)
                   = CAST(n AS DOUBLE) - CAST(c AS DOUBLE) / 2.0
              THEN 1 ELSE 0 END AS dead
  FROM risk
),
run AS (
  SELECT interval_start, d, c, n, n_eff, lnq, dead,
         SUM(lnq) OVER wp AS slnq,
         MAX(dead) OVER wp AS dead_prev
  FROM km
  WINDOW wp AS (ORDER BY interval_start ROWS BETWEEN UNBOUNDED PRECEDING
                AND 1 PRECEDING)
)
SELECT interval_start, n AS n_enter, d AS n_events, c AS n_censored,
       ROUND(n_eff, 6) AS effective_n,
       ROUND(CAST(d AS DOUBLE) / n_eff, 6) AS q,
       ROUND(CASE WHEN COALESCE(dead_prev, 0) = 1 OR dead = 1
                  THEN 0.0
                  ELSE EXP((COALESCE(slnq, 0) + lnq) / 1e12) END, 6)
         AS survival
FROM run ORDER BY interval_start
""")
QUERIES["events_life_table"] = _events_life_table


# ---------------------------------------------------------------------------
# Round 13 — milestone survival comparison at tau = 72h (Klein, Logan,
# Harhoff & Andersen 2007): the landmark complement to the log-rank
# family — the difference of the parity cohorts' KM survival at the
# pre-registered 72h horizon, z-tested against the combined Greenwood
# SE (operators/events.survival_diff_at has the numeric contract; all
# windows partition by cohort and parallelize).
# ---------------------------------------------------------------------------
def _events_survival_diff_72h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KM survival difference between the user_id-parity cohorts at
    tau = 72h with Greenwood-combined z (events.survival_diff_at)."""
    subjects = _purchase_subjects(spark, sf_dir, grp=F.col("user_id") % 2)
    return events.survival_diff_at(subjects, 72, "grp", "duration", "observed")


ORACLES["events_survival_diff_72h"] = _with(_LIFE, """
subj AS (
  SELECT user_id % 2 AS g,
         (COALESCE(fp, last) - start) // 3600000000 AS t,
         CASE WHEN fp IS NULL THEN 0 ELSE 1 END AS obs
  FROM life
),
per_t AS (
  SELECT g, t,
         CAST(SUM(obs) AS BIGINT) AS d,
         CAST(SUM(1 - obs) AS BIGINT) AS c
  FROM subj GROUP BY g, t
),
risk AS (
  SELECT g, t, d, c,
         CAST(SUM(d + c) OVER ws AS BIGINT) AS n_risk
  FROM per_t
  WINDOW ws AS (PARTITION BY g ORDER BY t ROWS BETWEEN CURRENT ROW
                AND UNBOUNDED FOLLOWING)
),
ev AS (SELECT g, t, d, n_risk FROM risk WHERE d > 0),
km AS (
  SELECT g, t, d, n_risk,
         CASE WHEN d < n_risk THEN
           CAST(ROUND(LN(1.0 - CAST(d AS DOUBLE) / n_risk) * 1e12, 0)
                AS BIGINT)
         ELSE 0 END AS lnq,
         CASE WHEN d < n_risk THEN
           CAST(ROUND(CAST(d AS DOUBLE) / (n_risk * (n_risk - d)) * 1e12,
                0) AS BIGINT)
         ELSE 0 END AS gwq
  FROM ev
),
run AS (
  SELECT g, t, d, n_risk, lnq, gwq,
         MAX(CASE WHEN d = n_risk THEN 1 ELSE 0 END) OVER wr AS dead,
         SUM(lnq) OVER wr AS slnq,
         SUM(gwq) OVER wr AS sgwq,
         CAST(MAX(n_risk) OVER wr AS BIGINT) AS nmax
  FROM km
  WINDOW wr AS (PARTITION BY g ORDER BY t ROWS BETWEEN UNBOUNDED
                PRECEDING AND CURRENT ROW)
),
at_tau AS (
  SELECT g,
         CASE WHEN dead = 1 THEN 0.0 ELSE EXP(slnq / 1e12) END AS s,
         CASE WHEN dead = 1 THEN 0.0
              ELSE EXP(slnq / 1e12) * SQRT(sgwq / 1e12) END AS se,
         CAST(nmax AS DOUBLE) * nmax < 9e18 AS ok,
         ROW_NUMBER() OVER (PARTITION BY g ORDER BY t DESC) AS rn
  FROM run WHERE t <= 72
),
sizes AS (
  SELECT g, CAST(SUM(d + c) AS BIGINT) AS n_subj FROM per_t GROUP BY g
),
gathered AS (
  SELECT MAX(CASE WHEN s.g = 1 THEN n_subj END) AS n1_subjects,
         MAX(CASE WHEN s.g = 0 THEN n_subj END) AS n0_subjects,
         MAX(CASE WHEN s.g = 1 THEN COALESCE(a.s, 1.0) END) AS s1r,
         MAX(CASE WHEN s.g = 1 THEN COALESCE(a.se, 0.0) END) AS se1r,
         MAX(CASE WHEN s.g = 0 THEN COALESCE(a.s, 1.0) END) AS s0r,
         MAX(CASE WHEN s.g = 0 THEN COALESCE(a.se, 0.0) END) AS se0r,
         MIN(CASE WHEN COALESCE(a.ok, TRUE) THEN 1 ELSE 0 END) AS okmin
  FROM sizes s LEFT JOIN (SELECT * FROM at_tau WHERE rn = 1) a
    ON s.g = a.g
)
SELECT CAST(72 AS INT) AS tau, n1_subjects, n0_subjects,
       CASE WHEN okmin = 1 THEN ROUND(s1r, 6) END AS s1,
       CASE WHEN okmin = 1 THEN ROUND(se1r, 6) END AS se1,
       CASE WHEN okmin = 1 THEN ROUND(s0r, 6) END AS s0,
       CASE WHEN okmin = 1 THEN ROUND(se0r, 6) END AS se0,
       CASE WHEN okmin = 1 THEN ROUND(s1r - s0r, 6) END AS diff,
       CASE WHEN okmin = 1
            THEN ROUND(SQRT(se1r * se1r + se0r * se0r), 6) END AS se_diff,
       CASE WHEN okmin = 1 AND SQRT(se1r * se1r + se0r * se0r) > 0
            THEN ROUND((s1r - s0r)
                       / SQRT(se1r * se1r + se0r * se0r), 6) END AS z_diff,
       CASE WHEN okmin = 1 AND SQRT(se1r * se1r + se0r * se0r) > 0
            THEN ABS((s1r - s0r) / SQRT(se1r * se1r + se0r * se0r))
                 > 1.959964 END AS reject_05
FROM gathered
""")
QUERIES["events_survival_diff_72h"] = _events_survival_diff_72h


# ---------------------------------------------------------------------------
# Round 13 — Theil-Sen, bucketed selection (the scale spelling): the
# plain gate's only non-parallel stage is the global ROW_NUMBER over
# all pairs (~38M for a year of hours); this variant routes the median
# through stats.bucketed_cumsum over the quantized-slope key relation
# and ranks only the straddling bucket's pairs
# (events.theil_sen_trend_bucketed — value-identical by construction,
# pinned by pytest; the DuckDB oracle is therefore the SAME selection
# spelled with the global rank, the agg_mann_whitney_bucketed
# precedent).
# ---------------------------------------------------------------------------
def _events_theil_sen_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen slope/intercept of hourly purchase revenue via
    two-level bucketed median selection
    (events.theil_sen_trend_bucketed)."""
    load(spark, sf_dir)
    hourly = (
        spark.table("events")
        .where(F.col("event_type") == "purchase")
        .select(
            F.expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 3600000000").alias(
                "bucket"
            ),
            F.round(F.col("value") * 100, 0).cast("long").alias("c"),
        )
        .groupBy("bucket")
        .agg(F.sum("c").alias("v_c"))
    )
    return events.theil_sen_trend_bucketed(hourly, "bucket", "v_c")


# value-identical to the plain selection: same oracle text
ORACLES["events_theil_sen_bucketed"] = ORACLES["events_theil_sen"]
QUERIES["events_theil_sen_bucketed"] = _events_theil_sen_bucketed


# ---------------------------------------------------------------------------
# Round 13 — Siegel repeated-median trend (Siegel 1982): breakdown 50%
# vs Theil-Sen's ~29% — per-anchor slope medians (PARTITIONED BY the
# anchor: parallel, each anchor has exactly n-1 partners) then the
# median of medians over the n-row relation
# (operators/events.siegel_trend; the pytest plants the regime where
# Theil-Sen is dragged and Siegel holds exactly).
# ---------------------------------------------------------------------------
def _events_siegel_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Siegel repeated-median slope/intercept of hourly purchase
    revenue (events.siegel_trend)."""
    load(spark, sf_dir)
    hourly = (
        spark.table("events")
        .where(F.col("event_type") == "purchase")
        .select(
            F.expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 3600000000").alias(
                "bucket"
            ),
            F.round(F.col("value") * 100, 0).cast("long").alias("c"),
        )
        .groupBy("bucket")
        .agg(F.sum("c").alias("v_c"))
    )
    return events.siegel_trend(hourly, "bucket", "v_c")


ORACLES["events_siegel_trend"] = _with(_HOURLY_PURCHASE, """
dirs AS (
  SELECT a.x AS xa, b.x AS xb,
         CAST(b.y - a.y AS DOUBLE) / CAST(b.x - a.x AS DOUBLE) AS slope
  FROM hourly a JOIN hourly b ON a.x <> b.x
),
ranked AS (
  SELECT xa, xb, slope,
         ROW_NUMBER() OVER (PARTITION BY xa ORDER BY slope, xb) AS rn,
         CAST(COUNT(*) OVER (PARTITION BY xa) AS BIGINT) AS m
  FROM dirs
),
per_anchor AS (
  SELECT xa,
         (MAX(CASE WHEN rn = (m + 1) // 2 THEN slope END)
          + MAX(CASE WHEN rn = (m + 2) // 2 THEN slope END)) / 2.0 AS ms
  FROM ranked GROUP BY xa
),
fin AS (
  SELECT xa, ms,
         ROW_NUMBER() OVER (ORDER BY ms, xa) AS rn,
         CAST(COUNT(*) OVER () AS BIGINT) AS n
  FROM per_anchor
),
med AS (
  SELECT CAST(MAX(n) * (MAX(n) - 1) // 2 AS BIGINT) AS n_pairs,
         (MAX(CASE WHEN rn = (n + 1) // 2 THEN ms END)
          + MAX(CASE WHEN rn = (n + 2) // 2 THEN ms END)) / 2.0 AS slope
  FROM fin
),
resid AS (
  SELECT n_pairs, slope, x,
         CAST(y AS DOUBLE) - slope * CAST(x AS DOUBLE) AS r
  FROM hourly CROSS JOIN med
),
rranked AS (
  SELECT n_pairs, slope, r, x,
         ROW_NUMBER() OVER (ORDER BY r, x) AS rn,
         CAST(COUNT(*) OVER () AS BIGINT) AS np2
  FROM resid
)
SELECT CAST(MAX(np2) AS BIGINT) AS n_points,
       CAST(MAX(n_pairs) AS BIGINT) AS n_pairs,
       ROUND(MAX(slope), 6) AS slope,
       ROUND((MAX(CASE WHEN rn = (np2 + 1) // 2 THEN r END)
              + MAX(CASE WHEN rn = (np2 + 2) // 2 THEN r END)) / 2.0, 6)
         AS intercept
FROM rranked
""")
QUERIES["events_siegel_trend"] = _events_siegel_trend


# ---------------------------------------------------------------------------
# Round 13 — Hurst exponent by rescaled-range analysis (Hurst 1951;
# Mandelbrot & Wallis 1969): the LONG-MEMORY diagnostic the
# autocorr/PACF gates can't express — ACF sees fixed lags, R/S sees
# whether fluctuations GROW like n^H across scales (H ~ 0.5 random
# walk increments, H -> 1 persistent/trending, H -> 0 mean-reverting),
# which decides whether the Holt/HW forecast horizon is even
# meaningful. Per block of K in {16, 64, 256} consecutive observed
# hours: the cumulative-deviation range R over the block's own mean,
# divided by the block's population sd S; H = the log-log slope of the
# across-block mean R/S vs K — with three centered sizes that is the
# closed form (ln m(256) - ln m(16)) / (ln 256 - ln 16).
#
# Exactness: v is cents; K*D_i = K*P_i - i*SumV is EXACT int64 (the
# block-scaled cumulative deviation), so R*K is an exact integer
# max-min; S is one terminal double expression; each block's R/S
# quantizes once to a 1e-9 bigint before the across-block mean
# (order-independent). Zero-variance blocks are excluded (their R/S
# is 0/0); full blocks only. Scale: the hourly relation is wall-clock
# bounded; all block windows PARTITION BY (K, block) — parallel; only
# the initial ROW_NUMBER over observed hours is single-partition.
# ---------------------------------------------------------------------------
_HURST = """
WITH hourly AS (
  SELECT epoch_us(ts) // 3600000000 AS bucket,
         CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS v
  FROM events WHERE event_type = 'purchase' GROUP BY 1
),
seq AS (
  SELECT v, ROW_NUMBER() OVER (ORDER BY bucket) AS rn FROM hourly
),
blk AS (
  SELECT s.k, (rn - 1) // s.k AS b, rn, v
  FROM seq CROSS JOIN (VALUES (16), (64), (256)) s(k)
),
w AS (
  SELECT k, b, v, rn,
         SUM(v) OVER (PARTITION BY k, b ORDER BY rn
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS p,
         ROW_NUMBER() OVER (PARTITION BY k, b ORDER BY rn) AS i,
         CAST(COUNT(*) OVER (PARTITION BY k, b) AS BIGINT) AS cnt,
         CAST(SUM(v) OVER (PARTITION BY k, b) AS BIGINT) AS sv,
         CAST(SUM(v * v) OVER (PARTITION BY k, b) AS BIGINT) AS svv
  FROM blk
),
dev AS (
  SELECT k, b, sv, svv,
         CAST(k AS BIGINT) * p - CAST(i AS BIGINT) * sv AS kd
  FROM w WHERE cnt = k
),
per_blk AS (
  SELECT k, b,
         CAST(MAX(kd) - MIN(kd) AS BIGINT) AS rk,
         CAST(MAX(sv) AS BIGINT) AS sv,
         CAST(MAX(svv) AS BIGINT) AS svv
  FROM dev GROUP BY k, b
),
rs AS (
  SELECT k,
         (CAST(rk AS DOUBLE) / k)
           / SQRT(CAST(svv AS DOUBLE) / k
                  - (CAST(sv AS DOUBLE) / k) * (CAST(sv AS DOUBLE) / k))
           AS rsv
  FROM per_blk
  WHERE CAST(svv AS DOUBLE) / k
        - (CAST(sv AS DOUBLE) / k) * (CAST(sv AS DOUBLE) / k) > 0
),
rsq AS (
  SELECT k, CAST(COUNT(*) AS BIGINT) AS n_blocks,
         CAST(SUM(CAST(ROUND(1e9 * rsv, 0) AS BIGINT)) AS BIGINT) AS srsq
  FROM rs GROUP BY k
),
hp AS (
  SELECT (LN(MAX(CASE WHEN k = 256
                      THEN srsq / 1e9 / n_blocks END))
          - LN(MAX(CASE WHEN k = 16
                        THEN srsq / 1e9 / n_blocks END)))
         / (LN(256e0) - LN(16e0)) AS h
  FROM rsq
)
SELECT k AS block_size, n_blocks,
       ROUND(srsq / 1e9 / n_blocks, 6) AS mean_rs,
       ROUND(h, 6) AS hurst
FROM rsq CROSS JOIN hp ORDER BY block_size
"""

#: Spark twin — identical except the epoch spelling and DIV.
_HURST_SPARK = _HURST.replace(
    "epoch_us(ts) // 3600000000",
    "unix_micros(CAST(ts AS TIMESTAMP)) DIV 3600000000",
).replace("(rn - 1) // s.k", "(rn - 1) DIV s.k")


def _events_hurst_rs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rescaled-range Hurst exponent of hourly purchase revenue at
    block sizes 16/64/256. See _HURST."""
    load(spark, sf_dir)
    return spark.sql(_HURST_SPARK)


QUERIES["events_hurst_rs"] = _events_hurst_rs
ORACLES["events_hurst_rs"] = _HURST
