"""Agreement / retrieval-rank metrics, uncertainty, and the remaining
time-series + curation gates (rounds 10-11).

MCC, Cohen kappa, Cramer V, NDCG@k, MRR, Theil index, Brier score,
power analysis, g/h-means, burstiness, dup-rate by source, Tukey
fences, max drawdown (+ twin), bootstrap CI, class balance, PACF,
median CI, runs test, seasonality strength, split-conformal interval,
ATR, mix-KL.

Mechanically moved from queries/pipeline.py (round-12 split, VERDICT
r11 ask #6): zero query renames, zero spelling changes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datafusion_gpu_spark.queries import load
from datafusion_gpu_spark.queries.pipeline_common import (
    _CENTS_POS,
    _CENTS_PURCHASE,
    _CHI2_CELLS,
    _CONFUSION_5000,
    _LAG_MOMENTS,
    _LAG_R,
    _LAGGED,
    _ORDER_CELLS,
    _with,
)

QUERIES: dict = {}
ORACLES: dict = {}

# ---------------------------------------------------------------------------
# Round 10 (continued) — agreement / effect-size / retrieval-rank gates
# and the Theil inequality index. Same contracts as the rest of the
# eval family: exact bigint folds, quantized-log tricks where a
# transcendental enters mid-fold, terminal IEEE expressions only.
# ---------------------------------------------------------------------------

# Matthews correlation coefficient at the $50 operating point — the
# single-number confusion summary that stays honest under class
# imbalance (F1 ignores tn entirely; accuracy saturates). Counts are
# the _PR_AT_T fold; MCC's four marginal products run in DOUBLE from
# exact integer operands (n^4 territory — far past bigint, harmless in
# double: each marginal is exact below 2^53 and the terminal relative
# error is ~1e-16).
_MCC = _with(_CENTS_POS, _CONFUSION_5000, """
SELECT tp, fp, fn, tn,
       CASE WHEN (tp + fp) > 0 AND (tp + fn) > 0
             AND (tn + fp) > 0 AND (tn + fn) > 0 THEN
         ROUND((CAST(tp AS DOUBLE) * tn - CAST(fp AS DOUBLE) * fn)
               / SQRT(CAST(tp + fp AS DOUBLE) * (tp + fn)
                      * (tn + fp) * (tn + fn)), 6)
       END AS mcc
FROM m
""")

# Cohen's kappa on the same 2x2 (threshold rater vs. ground truth):
# chance-corrected agreement — the gate for "is the cheap heuristic
# labeler actually agreeing with the expensive labels beyond chance".
# po/pe are terminal doubles from exact counts; kappa spelled as ONE
# division of integer-exact numerators: kappa = (po - pe) / (1 - pe)
# = 2*(tp*tn - fp*fn) / ((tp+fp)*(fp+tn) + (tp+fn)*(fn+tn)) — the
# closed 2x2 form, exact bigint numerator/denominator up to ~2e9 rows.
_COHEN_KAPPA = _with(_CENTS_POS, _CONFUSION_5000, """
SELECT tp, fp, fn, tn,
       CASE WHEN (tp + fp) * (fp + tn) + (tp + fn) * (fn + tn) > 0 THEN
         ROUND(CAST(2 * (tp * tn - fp * fn) AS DOUBLE)
               / (CAST(tp + fp AS DOUBLE) * (fp + tn)
                  + CAST(tp + fn AS DOUBLE) * (fn + tn)), 6)
       END AS kappa
FROM m
""")


# Cramér's V effect size for the priority x status contingency — the
# "is it LARGE" companion to agg_chi2_independence's "is it THERE"
# (chi2 grows linearly in N at fixed association; V is N-free in
# [0, 1]). Same CTE fold and the same visible quantization-headroom
# guard as _CHI2_INDEP; GREATEST clamps the identity's tiny negative
# quantization residual before the SQRT.
_CRAMERS_V = _with(_ORDER_CELLS, _CHI2_CELLS, """
SELECT n_cells, LEAST(kr - 1, kc - 1) AS k_min,
       CASE WHEN kr > 1 AND kc > 1
             AND CAST(nt AS DOUBLE) * n_cells * 5e-13 < 5e-5 THEN
         ROUND(SQRT(GREATEST(CAST(nt AS DOUBLE)
                             * (CAST(sq AS DOUBLE) / 1e12 - 1), 0.0)
                    / (CAST(nt AS DOUBLE) * LEAST(kr - 1, kc - 1))), 6)
       END AS cramers_v
FROM s CROSS JOIN tot CROSS JOIN d
""")

# NDCG at k=100 for value-ranks-purchases (binary relevance): the
# position-discounted retrieval gate next to precision@k's undiscounted
# one. Top-k by (score DESC, event_id) is a TakeOrdered — no global
# sort; ranks come from ONE window over the k-row relation. Each
# 1/log2(i+1) discount is quantized to a 1e-12 bigint so both DCG sums
# are exact integer folds (k * 1e12 << 2^63 for any feasible k); IDCG
# sums the same discounts over the first min(k, n_pos) ranks.
_NDCG = """
WITH t AS (
  SELECT event_id, CAST(ROUND(value * 100, 0) AS BIGINT) AS c,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS rel
  FROM events
  WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL
),
p AS (SELECT CAST(SUM(rel) AS BIGINT) AS np FROM t),
topk AS (
  SELECT rel, c, event_id FROM t ORDER BY c DESC, event_id LIMIT 100
),
ranked AS (
  SELECT rel,
         ROW_NUMBER() OVER (ORDER BY c DESC, event_id) AS rnk,
         CAST(ROUND(1e12 / LOG2(ROW_NUMBER() OVER (ORDER BY c DESC, event_id)
                                + 1), 0) AS BIGINT) AS disc_q
  FROM topk
),
s AS (
  SELECT CAST(SUM(rel * disc_q) AS BIGINT) AS dcg_q,
         CAST(COUNT(*) AS BIGINT) AS k_eff
  FROM ranked
),
i AS (
  SELECT CAST(SUM(disc_q) AS BIGINT) AS idcg_q
  FROM ranked CROSS JOIN p WHERE rnk <= np
)
SELECT k_eff, np AS n_pos,
       CASE WHEN idcg_q > 0 THEN
         ROUND(CAST(dcg_q AS DOUBLE) / idcg_q, 6)
       END AS ndcg_at_k
FROM s CROSS JOIN i CROSS JOIN p
"""

# Mean reciprocal rank: per user, rank their events by (score DESC,
# event_id) and take 1/rank of the first purchase — the "how fast does
# the ranker surface something relevant per query" gate, with users
# standing in for queries. Per-user windows partition cleanly (bounded
# by events-per-user); reciprocal ranks quantize to 1e-12 bigints so
# the cross-user fold is exact (headroom: 1e12 per user — 9.2e6 users
# before int64; the quantum is the knob); users with no positive
# contribute 0 (the standard convention) but are counted. Like the
# chi2/Mood/Cramér's-V guards, the headroom limit is VISIBLE: past
# 9e6 users the query emits NULL mrr (with n_users/n_hit intact)
# instead of silently wrapping — shrink the quantum to trade precision
# for population.
_MRR = """
WITH t AS (
  SELECT user_id, event_id, CAST(ROUND(value * 100, 0) AS BIGINT) AS c,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS rel
  FROM events
  WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL
),
r AS (
  SELECT user_id, rel,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY c DESC, event_id) AS rnk
  FROM t
),
fr AS (
  SELECT user_id,
         CAST(MIN(CASE WHEN rel = 1 THEN rnk END) AS BIGINT) AS first_pos
  FROM r GROUP BY user_id
),
q AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
         CAST(COUNT(first_pos) AS BIGINT) AS n_hit,
         CAST(SUM(CASE WHEN first_pos IS NOT NULL
                  THEN CAST(ROUND(1e12 / first_pos, 0) AS BIGINT)
                  ELSE 0 END) AS BIGINT) AS rr_q
  FROM fr
)
SELECT n_users, n_hit,
       CASE WHEN n_users > 0 AND n_users < 9000000 THEN
         ROUND(rr_q / 1e12 / n_users, 6)
       END AS mrr
FROM q
"""

# Theil T inequality index of per-user purchase spend — the
# log-additive member of the inequality family (agg_gini gives the
# area gap; events_lorenz_curve the full curve; Theil is the one that
# DECOMPOSES between+within groups and is what a mixture-balance
# monitor tracks). T = (1/N) sum_i (s_i/mu) ln(s_i/mu) over the
# distinct-spend relation: each value's term quantizes to a 1e9 bigint
# before the c-weighted fold (sum bounded by 1e9 * N * ln N — int64-safe
# to N ~ 1e9 users; the quantum is the knob), normalized view
# theil_norm = T / ln N in [0, 1] as terminal doubles.
_THEIL = """
WITH spend AS (
  SELECT user_id,
         CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS s
  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
  GROUP BY user_id
),
v AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS c FROM spend WHERE s > 0
      GROUP BY s),
n AS (SELECT CAST(SUM(c) AS BIGINT) AS nu, CAST(SUM(s * c) AS BIGINT) AS ts
      FROM v),
q AS (
  SELECT CAST(SUM(c * CAST(ROUND(CAST(s AS DOUBLE) * nu / ts
                                 * LN(CAST(s AS DOUBLE) * nu / ts)
                                 * 1e9, 0) AS BIGINT)) AS BIGINT) AS tq
  FROM v CROSS JOIN n
)
SELECT nu AS n_users,
       CASE WHEN nu > 0 THEN ROUND(tq / 1e9 / nu, 6) END AS theil_t,
       CASE WHEN nu > 1 THEN
         ROUND(tq / 1e9 / nu / LN(CAST(nu AS DOUBLE)), 6)
       END AS theil_norm
FROM q CROSS JOIN n
"""


def _agg_mcc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matthews correlation at the $50 operating point — the
    imbalance-honest single-number confusion summary next to
    agg_pr_at_threshold (F1 never reads tn). One fold, one terminal
    SQRT expression over exact counts. See _MCC."""
    load(spark, sf_dir)
    return spark.sql(_MCC)


def _agg_cohen_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between the $50-threshold rater and ground truth —
    chance-corrected agreement, the gate for heuristic-labeler quality.
    Closed 2x2 form 2(tp*tn - fp*fn)/((tp+fp)(fp+tn) + (tp+fn)(fn+tn)):
    ONE terminal division of exact products. See _COHEN_KAPPA."""
    load(spark, sf_dir)
    return spark.sql(_COHEN_KAPPA)


def _agg_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V effect size over the priority x status contingency —
    the N-free association strength companion to
    agg_chi2_independence (same fold, same visible headroom guard).
    See _CRAMERS_V."""
    load(spark, sf_dir)
    return spark.sql(_CRAMERS_V)


def _agg_ndcg_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@100 for the value-ranks-purchases retrieval view — the
    position-discounted twin of agg_precision_at_k. Top-k via
    TakeOrdered (no global sort), quantized-discount exact folds over
    the k-row relation. See _NDCG."""
    load(spark, sf_dir)
    return spark.sql(_NDCG)


def _agg_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean reciprocal rank of the first purchase per user under the
    value ranking — the per-query retrieval gate (users as queries).
    Per-user windows, quantized reciprocal ranks, one exact fold. See
    _MRR."""
    load(spark, sf_dir)
    return spark.sql(_MRR)


def _events_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T inequality index (+ ln-N-normalized form) of per-user
    purchase spend — the decomposable inequality gate next to agg_gini
    and events_lorenz_curve, over the distinct-spend relation with a
    quantized-log exact fold. See _THEIL."""
    load(spark, sf_dir)
    return spark.sql(_THEIL)


QUERIES["agg_mcc"] = _agg_mcc
QUERIES["agg_cohen_kappa"] = _agg_cohen_kappa
QUERIES["agg_cramers_v"] = _agg_cramers_v
QUERIES["agg_ndcg_at_k"] = _agg_ndcg_at_k
QUERIES["agg_mrr"] = _agg_mrr
QUERIES["events_theil_index"] = _events_theil_index
ORACLES["agg_mcc"] = _MCC
ORACLES["agg_cohen_kappa"] = _COHEN_KAPPA
ORACLES["agg_cramers_v"] = _CRAMERS_V
ORACLES["agg_ndcg_at_k"] = _NDCG
ORACLES["agg_mrr"] = _MRR
ORACLES["events_theil_index"] = _THEIL


# Brier score of the min-max-normalized value score against the
# purchase label, plus the base-rate reference and the skill score
# BSS = 1 - BS/BS_ref — the PROPER-scoring companion to
# agg_calibration_bins (calibration shows WHERE the probabilities are
# off; Brier charges for it). p = (c - lo)/(hi - lo) is exact-operand
# IEEE per distinct score value; each value's (p - y)^2 terms quantize
# to 1e9 bigints BEFORE the count-weighted fold (bias <= 0.5e-9 per
# row against a [0,1] statistic — invisible at 6dp; int64-safe to
# ~9e9 rows, the quantum is the knob).
_BRIER = _with(_CENTS_POS, """
v AS (
  SELECT c, CAST(SUM(pos) AS BIGINT) AS dp, CAST(COUNT(*) AS BIGINT) AS tc
  FROM t GROUP BY c
),
rng AS (SELECT CAST(MIN(c) AS BIGINT) AS lo, CAST(MAX(c) AS BIGINT) AS hi
        FROM v),
q AS (
  SELECT CAST(SUM(dp) AS BIGINT) AS np,
         CAST(SUM(tc) AS BIGINT) AS n,
         CAST(SUM(
           dp * CAST(ROUND(POWER(CAST(c - lo AS DOUBLE) / (hi - lo) - 1.0, 2)
                           * 1e9, 0) AS BIGINT)
           + (tc - dp) * CAST(ROUND(POWER(CAST(c - lo AS DOUBLE) / (hi - lo), 2)
                                    * 1e9, 0) AS BIGINT)
         ) AS BIGINT) AS bs_q
  FROM v CROSS JOIN rng WHERE hi > lo
)
SELECT n, np,
       ROUND(bs_q / 1e9 / n, 6) AS brier,
       ROUND(CAST(np AS DOUBLE) / n * (1.0 - CAST(np AS DOUBLE) / n), 6)
         AS brier_ref,
       CASE WHEN np > 0 AND np < n THEN
         ROUND(1.0 - (bs_q / 1e9 / n)
               / (CAST(np AS DOUBLE) / n * (1.0 - CAST(np AS DOUBLE) / n)), 6)
       END AS brier_skill
FROM q
""")

# Two-proportion power analysis: given the OBSERVED conversion rates of
# the two salted-hash arms (events_ab_srm's split), the per-arm sample
# size needed to detect that difference at alpha=.05 two-sided with 80%
# power — the "how long must this experiment run" readout next to
# events_proportion_ztest's "is it significant yet". Closed textbook
# form (Fleiss); z constants embedded to 6dp; counts exact, n_needed is
# a terminal CEIL.
_POWER_ANALYSIS = """
WITH t AS (
  SELECT CASE WHEN CAST(CONV(SUBSTRING(MD5(CAST(user_id AS STRING)), 1, 15),
                            16, 10) AS BIGINT) % 2 = 0
              THEN 'a' ELSE 'b' END AS arm,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS conv
  FROM events WHERE event_type IN ('click', 'purchase')
),
m AS (
  SELECT
    CAST(SUM(CASE WHEN arm = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
    CAST(SUM(CASE WHEN arm = 'a' THEN conv ELSE 0 END) AS BIGINT) AS x_a,
    CAST(SUM(CASE WHEN arm = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
    CAST(SUM(CASE WHEN arm = 'b' THEN conv ELSE 0 END) AS BIGINT) AS x_b
  FROM t
),
p AS (
  SELECT n_a, n_b, x_a, x_b,
         CAST(x_a AS DOUBLE) / n_a AS p_a,
         CAST(x_b AS DOUBLE) / n_b AS p_b,
         CAST(x_a + x_b AS DOUBLE) / (n_a + n_b) AS p_bar
  FROM m WHERE n_a > 0 AND n_b > 0
)
SELECT n_a, n_b,
       ROUND(p_a, 6) AS rate_a, ROUND(p_b, 6) AS rate_b,
       CASE WHEN p_a <> p_b THEN
         CAST(CEIL(
           POWER(1.959964 * SQRT(2.0 * p_bar * (1.0 - p_bar))
                 + 0.841621 * SQRT(p_a * (1.0 - p_a) + p_b * (1.0 - p_b)), 2)
           / ((p_a - p_b) * (p_a - p_b))) AS BIGINT)
       END AS n_per_arm_80pct
FROM p
"""

# Geometric + harmonic means of purchase values — the multiplicative
# and rate-style aggregate members next to the arithmetic family
# (gmean for ratios/growth factors, hmean for rates; the classic
# AM >= GM >= HM inequality is the built-in sanity check). Per
# distinct cent value, ln(c) and 1e12/c quantize to bigints before the
# count-weighted folds (exact, order-free; ln headroom: 1e9 quantum *
# ln(1e8) * N — int64-safe past 1e8 rows).
_GMEAN_HMEAN = """
WITH t AS (
  SELECT CAST(ROUND(value * 100, 0) AS BIGINT) AS c
  FROM events
  WHERE event_type = 'purchase' AND value IS NOT NULL
    AND value > 0
),
v AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS cnt FROM t GROUP BY c),
q AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS n,
         CAST(SUM(c * cnt) AS BIGINT) AS s1,
         CAST(SUM(cnt * CAST(ROUND(LN(CAST(c AS DOUBLE)) * 1e9, 0)
                             AS BIGINT)) AS BIGINT) AS lnq,
         CAST(SUM(cnt * CAST(ROUND(1e12 / c, 0) AS BIGINT)) AS BIGINT)
           AS invq
  FROM v
)
SELECT n,
       ROUND(CAST(s1 AS DOUBLE) / n / 100, 6) AS amean,
       ROUND(EXP(lnq / 1e9 / n) / 100, 6) AS gmean,
       CASE WHEN invq > 0 THEN
         ROUND(CAST(n AS DOUBLE) / (invq / 1e12) / 100, 6)
       END AS hmean
FROM q
"""


def _agg_brier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brier score (+ base-rate reference and skill score) of the
    min-max-normalized value score against the purchase label — the
    proper-scoring eval gate next to agg_calibration_bins. Distinct-
    value relation, quantized squared-error fold, terminal divisions.
    See _BRIER."""
    load(spark, sf_dir)
    return spark.sql(_BRIER)


def _events_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion sample-size (power) analysis on the salted-hash
    arms: per-arm n needed to detect the observed rate difference at
    alpha=.05 / 80% power (Fleiss closed form) — the experiment-
    duration planner next to events_proportion_ztest. One fold,
    terminal arithmetic. See _POWER_ANALYSIS."""
    load(spark, sf_dir)
    return spark.sql(_POWER_ANALYSIS)


def _agg_gmean_hmean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometric and harmonic means of purchase values (with the
    arithmetic mean for the AM >= GM >= HM sanity chain) — quantized
    ln / reciprocal folds over the distinct-value relation. See
    _GMEAN_HMEAN."""
    load(spark, sf_dir)
    return spark.sql(_GMEAN_HMEAN)


QUERIES["agg_brier_score"] = _agg_brier_score
QUERIES["events_power_analysis"] = _events_power_analysis
QUERIES["agg_gmean_hmean"] = _agg_gmean_hmean
ORACLES["agg_brier_score"] = _BRIER
ORACLES["events_power_analysis"] = _POWER_ANALYSIS.replace(
    "CONV(SUBSTRING(MD5(CAST(user_id AS STRING)), 1, 15),\n                            16, 10)",
    "('0x' || SUBSTRING(MD5(CAST(user_id AS VARCHAR)), 1, 15))",
)
ORACLES["agg_gmean_hmean"] = _GMEAN_HMEAN


# Word burstiness: the variance-to-mean ratio (index of dispersion) of
# each word's per-document term frequency over the WHOLE corpus
# (zero-count docs included — that is what distinguishes a bursty
# topical word from a uniformly sprinkled function word; Church & Gale
# 1995). Sparse algebra keeps it one aggregation: with ND docs and a
# word's (s1, s2) = (sum tf, sum tf^2) over docs containing it,
# VMR = (ND*s2 - s1^2) / (ND*s1) exactly (zeros add nothing to s1/s2).
# Exact bigint numerator (headroom: ND*s2 <= 2^63 needs corpus token
# mass^2/doc ~ 9e18 — ~3e9 occurrences of one word); terminal
# division; top-20 by VMR with word tiebreak, support floor s1 >= 5.
_BURSTINESS_SPARK = r"""
WITH w AS (
  SELECT doc_id,
         explode(split(regexp_replace(trim(lower(text)), '\\s+', ' '), ' '))
           AS word
  FROM documents
),
nd AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
       FROM documents),
tf AS (
  SELECT word, doc_id, CAST(COUNT(*) AS BIGINT) AS f
  FROM w WHERE word <> '' GROUP BY word, doc_id
),
m AS (
  SELECT word,
         CAST(SUM(f) AS BIGINT) AS s1,
         CAST(SUM(f * f) AS BIGINT) AS s2,
         CAST(COUNT(*) AS BIGINT) AS n_docs_with
  FROM tf GROUP BY word
)
SELECT word, s1 AS n_occurrences, n_docs_with,
       ROUND((CAST(n_docs AS DOUBLE) * s2 - CAST(s1 AS DOUBLE) * s1)
             / (CAST(n_docs AS DOUBLE) * s1), 6) AS vmr
FROM m CROSS JOIN nd
WHERE s1 >= 5
ORDER BY vmr DESC, word
LIMIT 20
"""

_BURSTINESS_DUCK = _BURSTINESS_SPARK.replace(
    "explode(split(regexp_replace(trim(lower(text)), '\\\\s+', ' '), ' '))\n"
    "           AS word",
    "unnest(string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'),\n"
    "                             ' ')) AS word",
)


def _text_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 burstiest words by variance-to-mean ratio of per-doc term
    frequency over the whole corpus (zeros included via sparse
    algebra) — the topicality diagnostic next to text_zipf_fit
    (frequency) and text_heaps_fit (growth): function words sit near
    VMR ~ 1 (Poisson), topical words far above. One word-doc
    aggregation + one word fold, exact bigint moments, terminal
    division, TakeOrdered top-20. See _BURSTINESS_SPARK."""
    load(spark, sf_dir)
    return spark.sql(_BURSTINESS_SPARK)


QUERIES["text_burstiness"] = _text_burstiness
ORACLES["text_burstiness"] = _BURSTINESS_DUCK


# Per-source exact-duplicate diagnostics: for each source, how many
# docs, how many distinct normalized texts, the duplication rate and
# the rows a dedup pass would remove — the per-provenance readout a
# corpus owner reads BEFORE running dedup_exact (which source is
# polluting the mix?). One (source, hash) aggregation + one source
# fold; md5 of the normalized text is the portable identity (the
# dedup_exact contract).
_DUP_RATE_BY_SOURCE = """
WITH t AS (
  SELECT source,
         MD5(regexp_replace(trim(lower(text)), '\\\\s+', ' ')) AS h
  FROM documents
),
g AS (
  SELECT source, h, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM t GROUP BY source, h
)
SELECT source,
       CAST(SUM(cnt) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_distinct,
       CAST(SUM(cnt) - COUNT(*) AS BIGINT) AS n_removable,
       ROUND(CAST(SUM(cnt) - COUNT(*) AS DOUBLE) / SUM(cnt), 6) AS dup_rate
FROM g GROUP BY source
"""

# Tukey-fence outlier audit on purchase cents: exact quartiles from the
# distinct-value cumulative (the equidepth machinery with 4 targets),
# fences doubled so 1.5*IQR stays integer (2*fence_lo = 5*q1 - 3*q3;
# 2*fence_hi = 5*q3 - 3*q1), outliers counted by exact predicates on
# 2c. The classic box-plot audit next to events_anomaly_mad (median
# robust) and events_winsorize (quantile clamp).
_TUKEY = _with(_CENTS_PURCHASE, """
v AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS cnt FROM t GROUP BY c),
cum AS (
  SELECT c, cnt,
         CAST(COALESCE(SUM(cnt) OVER (ORDER BY c
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS cu
  FROM v
),
n AS (SELECT CAST(SUM(cnt) AS BIGINT) AS nr FROM v),
tgt AS (
  SELECT j, CAST((j * nr + 3 - (j * nr + 3) % 4) / 4 AS BIGINT) AS t
  FROM (SELECT 1 AS j UNION ALL SELECT 3) CROSS JOIN n
),
qs AS (
  SELECT MAX(CASE WHEN j = 1 THEN q END) AS q1,
         MAX(CASE WHEN j = 3 THEN q END) AS q3
  FROM (
    SELECT tgt.j, CAST(MIN(cum.c) AS BIGINT) AS q
    FROM tgt JOIN cum ON cum.cu + cum.cnt >= tgt.t
    GROUP BY tgt.j
  )
)
SELECT nr AS n, q1, q3, (q3 - q1) AS iqr,
       CAST(SUM(CASE WHEN 2 * c < 5 * q1 - 3 * q3 THEN cnt ELSE 0 END)
            AS BIGINT) AS n_below,
       CAST(SUM(CASE WHEN 2 * c > 5 * q3 - 3 * q1 THEN cnt ELSE 0 END)
            AS BIGINT) AS n_above,
       ROUND(CAST(SUM(CASE WHEN 2 * c < 5 * q1 - 3 * q3
                            OR 2 * c > 5 * q3 - 3 * q1
                           THEN cnt ELSE 0 END) AS DOUBLE) / nr, 6)
         AS outlier_rate
FROM v CROSS JOIN qs CROSS JOIN n
GROUP BY nr, q1, q3
""")

# Maximum drawdown of each user's purchase-value path: the largest
# peak-to-trough drop max_t (max_{s<=t} v_s - v_t) — the worst-case
# regression a monitor quotes for a per-source quality score over
# time. Two per-user windows (running max, then max of the gap), all
# exact cents, partitions bounded by events-per-user.
_MAX_DRAWDOWN = """
WITH t AS (
  SELECT user_id, ts, event_id,
         CAST(ROUND(value * 100, 0) AS BIGINT) AS c
  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
),
r AS (
  SELECT user_id, c,
         CAST(MAX(c) OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS peak
  FROM t
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(MAX(peak) AS BIGINT) AS peak_cents,
       CAST(MAX(peak - c) AS BIGINT) AS max_drawdown_cents,
       CASE WHEN MAX(peak) > 0 THEN
         ROUND(CAST(MAX(peak - c) AS DOUBLE) / MAX(peak), 6)
       END AS max_drawdown_frac
FROM r GROUP BY user_id
"""


def _curation_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source exact-duplicate rate over normalized-text md5 — the
    provenance diagnostic upstream of dedup_exact (which source
    pollutes the mix). One (source, hash) aggregation + one source
    fold. See _DUP_RATE_BY_SOURCE."""
    load(spark, sf_dir)
    return spark.sql(_DUP_RATE_BY_SOURCE)


def _agg_tukey_fences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey 1.5-IQR box-plot outlier audit on purchase cents: exact
    quartiles from the distinct-value cumulative, doubled-fence
    integer predicates, outlier counts + rate. See _TUKEY."""
    load(spark, sf_dir)
    return spark.sql(_TUKEY)


def _events_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user maximum drawdown (largest running-peak-to-current drop)
    of the purchase-value path — the worst-case-regression readout for
    per-key quality series. Two bounded per-user windows, exact cents.
    See _MAX_DRAWDOWN."""
    load(spark, sf_dir)
    return spark.sql(_MAX_DRAWDOWN)


QUERIES["curation_dup_rate_by_source"] = _curation_dup_rate_by_source
QUERIES["agg_tukey_fences"] = _agg_tukey_fences
QUERIES["events_max_drawdown"] = _events_max_drawdown
ORACLES["curation_dup_rate_by_source"] = _DUP_RATE_BY_SOURCE.replace(
    "regexp_replace(trim(lower(text)), '\\\\s+', ' ')",
    "regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')",
)
ORACLES["agg_tukey_fences"] = _TUKEY
ORACLES["events_max_drawdown"] = _MAX_DRAWDOWN


def _streaming_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of events_max_drawdown
    (streaming.stream_max_drawdown): three-bigint per-user fold state
    (running peak / worst drawdown / count), batch finish picks each
    user's latest update — graded by the BATCH oracle (19th
    stream==batch twin)."""
    load(spark, sf_dir)
    from datafusion_gpu_spark import streaming

    return streaming.stream_max_drawdown(spark, sf_dir)


QUERIES["streaming_max_drawdown"] = _streaming_max_drawdown
ORACLES["streaming_max_drawdown"] = _MAX_DRAWDOWN


# Poisson(1) bootstrap CI for the mean purchase value: B=32 replicates
# computed in ONE scan with ZERO row expansion — replicate b weights
# each row by a deterministic Poisson(1) draw w_b derived from
# md5(event_id, b) (the distributed bootstrap standard: Poisson weights
# make replicates independent of partitioning and need no resample
# shuffle; Chamandy et al. / Kleiner et al.'s observation), so the
# aggregation is 64 exact bigint sums folded map-side. The draw is the
# exact integer comparison chain u >= T_j on u = hash % 1e6 against the
# 1e6-scaled Poisson(1) CDF thresholds — identical on any engine, no
# float RNG. Each replicate mean quantizes to a 1e6 bigint (one IEEE
# division + round) before the tiny 32-row moment fold, so the
# bootstrap SE is exact integer algebra; the interval is the
# bootstrap-normal mean ± 1.959964*SE (terminal doubles only).
_BOOTSTRAP_B = 32
#: 1e6-scaled cumulative Poisson(1) probabilities P(X <= k), k = 0..5;
#: weights cap at 6 (residual mass 6e-7, below the emitted rounding).
_POIS_T = (367879, 735759, 919699, 981012, 996340, 999406)


def _bootstrap_sql(hash_expr: str) -> str:
    wcols = []
    for b in range(_BOOTSTRAP_B):
        u = hash_expr.format(b=b)
        w = " + ".join(f"(CASE WHEN {u} >= {t} THEN 1 ELSE 0 END)"
                       for t in _POIS_T)
        wcols.append(f"CAST({w} AS BIGINT) AS w{b}")
    sums = ", ".join(
        f"CAST(SUM(w{b} * c) AS BIGINT) AS n{b}, "
        f"CAST(SUM(w{b}) AS BIGINT) AS d{b}"
        for b in range(_BOOTSTRAP_B)
    )
    # Replicate means enter the moment fold CENTERED on the sample mean
    # and quantized to 1e-3 cents: variance is translation-invariant, so
    # centering changes nothing statistically but keeps mq small (SE
    # scale, not mean scale) — the uncentered 1e6-quantized spelling
    # overflowed int64 in SUM(mq*mq) at ordinary cent magnitudes. The
    # 32-replicate moments are then SCALAR expressions over the single
    # fold row — never an UNPIVOT/UNION back-reference to the fold CTE,
    # which Spark inlines (the first spelling audited 33 shuffles: each
    # UNION ALL branch re-derived the whole aggregation).
    mqs = ", ".join(
        f"CASE WHEN d{b} > 0 THEN CAST(ROUND((CAST(n{b} AS DOUBLE) / d{b}"
        f" - CAST(sc AS DOUBLE) / n) * 1e3, 0) AS BIGINT) END AS mq{b}"
        for b in range(_BOOTSTRAP_B)
    )
    bk = " + ".join(
        f"(CASE WHEN mq{b} IS NOT NULL THEN 1 ELSE 0 END)"
        for b in range(_BOOTSTRAP_B)
    )
    s1 = " + ".join(f"COALESCE(mq{b}, 0)" for b in range(_BOOTSTRAP_B))
    s2 = " + ".join(
        f"COALESCE(mq{b} * mq{b}, 0)" for b in range(_BOOTSTRAP_B)
    )
    return f"""
WITH t AS (
  SELECT event_id, CAST(ROUND(value * 100, 0) AS BIGINT) AS c
  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
),
w AS (
  SELECT c, {", ".join(wcols)}
  FROM t
),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(c) AS BIGINT) AS sc,
         {sums}
  FROM w
),
q AS (
  SELECT n, sc, {mqs} FROM s
),
m AS (
  SELECT n, sc,
         CAST({bk} AS BIGINT) AS bk,
         CAST({s1} AS BIGINT) AS s1,
         CAST({s2} AS BIGINT) AS s2
  FROM q
)
SELECT n, bk AS n_replicates,
       ROUND(CAST(sc AS DOUBLE) / n / 100, 6) AS mean_value,
       CASE WHEN bk > 1 THEN
         ROUND(SQRT((CAST(bk AS DOUBLE) * s2 - CAST(s1 AS DOUBLE) * s1)
                    / (CAST(bk AS DOUBLE) * (bk - 1))) / 1e3 / 100, 6)
       END AS boot_se,
       CASE WHEN bk > 1 THEN
         ROUND((CAST(sc AS DOUBLE) / n
                - 1.959964 * SQRT((CAST(bk AS DOUBLE) * s2
                                   - CAST(s1 AS DOUBLE) * s1)
                                  / (CAST(bk AS DOUBLE) * (bk - 1))) / 1e3)
               / 100, 6)
       END AS ci_lo,
       CASE WHEN bk > 1 THEN
         ROUND((CAST(sc AS DOUBLE) / n
                + 1.959964 * SQRT((CAST(bk AS DOUBLE) * s2
                                   - CAST(s1 AS DOUBLE) * s1)
                                  / (CAST(bk AS DOUBLE) * (bk - 1))) / 1e3)
               / 100, 6)
       END AS ci_hi
FROM m
"""


_BOOT_HASH_SPARK = ("(CAST(CONV(SUBSTRING(MD5(CONCAT(CAST(event_id AS STRING),"
                    " '_', '{b}')), 1, 15), 16, 10) AS BIGINT) % 1000000)")
_BOOT_HASH_DUCK = ("(CAST(('0x' || SUBSTRING(MD5(CAST(event_id AS VARCHAR) ||"
                   " '_' || '{b}'), 1, 15)) AS BIGINT) % 1000000)")


def _events_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson(1) bootstrap 95% CI for the mean purchase value — the
    distribution-free uncertainty gate next to events_ab_test's
    parametric one. One scan, zero row expansion (B=32 deterministic
    md5-derived integer weights per row folded map-side), replicate
    means quantized before a 32-row exact moment fold, bootstrap-normal
    terminal interval. See _bootstrap_sql."""
    load(spark, sf_dir)
    return spark.sql(_bootstrap_sql(_BOOT_HASH_SPARK))


QUERIES["events_bootstrap_ci"] = _events_bootstrap_ci
ORACLES["events_bootstrap_ci"] = _bootstrap_sql(_BOOT_HASH_DUCK)


# Class-balanced downsample over the documents corpus: every language
# keeps exactly min-class-count docs, selected by deterministic md5
# rank (seeded shuffle order, the curation_hash_split contract) — the
# EQUALIZING companion to curation_stratified_sample (proportional) and
# curation_apportion (largest-remainder quotas). Per-class rank windows
# partition cleanly; the min count broadcasts; BIT_XOR of kept doc_ids
# proves both engines keep the IDENTICAL rows, not just equal counts.
_CLASS_BALANCE = """
WITH r AS (
  SELECT lang, doc_id,
         ROW_NUMBER() OVER (
           PARTITION BY lang
           ORDER BY MD5(CAST(doc_id AS STRING)), doc_id) AS rk
  FROM documents
),
mn AS (
  SELECT CAST(MIN(cnt) AS BIGINT) AS m
  FROM (SELECT lang, COUNT(*) AS cnt FROM r GROUP BY lang)
),
kept AS (
  SELECT lang, doc_id FROM r CROSS JOIN mn WHERE rk <= m
)
SELECT r.lang,
       CAST(COUNT(*) AS BIGINT) AS n_total,
       CAST(COUNT(k.doc_id) AS BIGINT) AS n_kept,
       ROUND(CAST(COUNT(k.doc_id) AS DOUBLE) / COUNT(*), 6) AS kept_share,
       CAST(BIT_XOR(COALESCE(k.doc_id, 0)) AS BIGINT) AS kept_xor
FROM r LEFT JOIN kept k ON r.lang = k.lang AND r.doc_id = k.doc_id
GROUP BY r.lang
"""


def _curation_class_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced downsample of documents by language: every class
    keeps exactly the min class count, chosen by deterministic
    md5-rank shuffle order — the mix equalizer next to
    curation_stratified_sample. Per-class windows + one broadcast
    scalar; the kept-id BIT_XOR pins row-level identity cross-engine.
    See _CLASS_BALANCE."""
    load(spark, sf_dir)
    return spark.sql(_CLASS_BALANCE)


QUERIES["curation_class_balance"] = _curation_class_balance
ORACLES["curation_class_balance"] = _CLASS_BALANCE.replace(
    "MD5(CAST(doc_id AS STRING))", "MD5(CAST(doc_id AS VARCHAR))"
)


# Partial autocorrelation (lags 1..3) of the hourly value series per
# event type — the AR-order diagnostic next to events_autocorr (ACF
# says "correlated at lag k"; PACF says "correlated at lag k AFTER
# removing shorter lags", which is what picks the AR order). Built by
# Durbin-Levinson closed forms over the SAME exact six-moment lag
# machinery as the ACF: phi11 = r1, phi22 = (r2 - r1^2)/(1 - r1^2),
# phi33 = (r3 - phi21 r2 - phi22 r1)/(1 - phi21 r1 - phi22 r2) with
# phi21 = r1 (1 - phi22). All r_k come from exact bigint folds, so the
# terminal float pipeline is the identical IEEE sequence on both
# engines; degenerate denominators emit NULL.
_PACF = _with(_LAGGED, _LAG_MOMENTS, _LAG_R, """
p AS (
  SELECT event_type,
         MAX(CASE WHEN lag_k = 1 THEN rk END) AS r1,
         MAX(CASE WHEN lag_k = 2 THEN rk END) AS r2,
         MAX(CASE WHEN lag_k = 3 THEN rk END) AS r3
  FROM r GROUP BY event_type
),
d AS (
  SELECT event_type, r1, r2, r3,
         CASE WHEN 1.0 - r1 * r1 <> 0
              THEN (r2 - r1 * r1) / (1.0 - r1 * r1) END AS phi22
  FROM p
),
e AS (
  SELECT event_type, r1, r2, r3, phi22,
         r1 * (1.0 - phi22) AS phi21
  FROM d
)
SELECT event_type,
       ROUND(r1, 6) AS pacf1,
       ROUND(phi22, 6) AS pacf2,
       CASE WHEN 1.0 - phi21 * r1 - phi22 * r2 <> 0 THEN
         ROUND((r3 - phi21 * r2 - phi22 * r1)
               / (1.0 - phi21 * r1 - phi22 * r2), 6)
       END AS pacf3
FROM e
""")


def _events_pacf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1..3 partial autocorrelation of the hourly value series per
    event type — the AR-order picker next to events_autocorr, via
    Durbin-Levinson closed forms over the same exact lag moments. See
    _PACF."""
    load(spark, sf_dir)
    return spark.sql(_PACF)


QUERIES["events_pacf"] = _events_pacf
ORACLES["events_pacf"] = _PACF


# Distribution-free 95% CI for the MEDIAN purchase value via order
# statistics (the binomial/normal rank bounds: ranks (n ± z*sqrt(n))/2,
# z = 1.959964) — the uncertainty companion to agg_median the way
# events_bootstrap_ci is to the mean, and exact at any scale: rank
# targets are two CEIL'd doubles computed identically on both engines,
# the three picks run on the distinct-value cumulative (the equidepth
# machinery), never a global sort.
_MEDIAN_CI = _with(_CENTS_PURCHASE, """
v AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS cnt FROM t GROUP BY c),
cum AS (
  SELECT c, cnt,
         CAST(COALESCE(SUM(cnt) OVER (ORDER BY c
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS cu
  FROM v
),
n AS (SELECT CAST(SUM(cnt) AS BIGINT) AS nr FROM v),
tgt AS (
  SELECT 'lo' AS which,
         GREATEST(CAST(CEIL((nr - 1.959964 * SQRT(CAST(nr AS DOUBLE))) / 2)
                       AS BIGINT), 1) AS t, nr FROM n
  UNION ALL
  SELECT 'mid', CAST(CEIL(CAST(nr AS DOUBLE) / 2) AS BIGINT), nr FROM n
  UNION ALL
  SELECT 'hi',
         LEAST(CAST(CEIL((nr + 1.959964 * SQRT(CAST(nr AS DOUBLE))) / 2)
                    AS BIGINT), nr) AS t, nr FROM n
),
pick AS (
  SELECT tgt.which, tgt.nr, CAST(MIN(cum.c) AS BIGINT) AS val
  FROM tgt JOIN cum ON cum.cu + cum.cnt >= tgt.t
  GROUP BY tgt.which, tgt.nr
)
SELECT nr AS n,
       ROUND(CAST(MAX(CASE WHEN which = 'mid' THEN val END) AS DOUBLE) / 100,
             2) AS median_value,
       ROUND(CAST(MAX(CASE WHEN which = 'lo' THEN val END) AS DOUBLE) / 100,
             2) AS ci_lo,
       ROUND(CAST(MAX(CASE WHEN which = 'hi' THEN val END) AS DOUBLE) / 100,
             2) AS ci_hi
FROM pick GROUP BY nr
""")

# Wald-Wolfowitz runs test for randomness of the hourly value series
# around its median, per event type: too FEW runs = persistence /
# regime drift, too MANY = oscillation — the model-free randomness
# gate next to events_autocorr's linear one. Above/below via the exact
# doubled-median integer predicate (ties dropped, the textbook rule);
# the run count is a lag-comparison fold; mu/sigma/z are the closed
# forms in terminal doubles.
_RUNS_TEST = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS bucket,
         CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS v
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
),
med AS (
  SELECT event_type, CAST(ROUND(2 * MEDIAN(v), 0) AS BIGINT) AS m2
  FROM hourly GROUP BY event_type
),
s AS (
  SELECT h.event_type, h.bucket,
         CASE WHEN 2 * h.v > m.m2 THEN 1 ELSE 0 END AS up
  FROM hourly h JOIN med m ON h.event_type = m.event_type
  WHERE 2 * h.v <> m.m2
),
l AS (
  SELECT event_type, up,
         LAG(up) OVER (PARTITION BY event_type ORDER BY bucket) AS prev
  FROM s
),
q AS (
  SELECT event_type,
         CAST(SUM(up) AS BIGINT) AS n1,
         CAST(SUM(1 - up) AS BIGINT) AS n2,
         CAST(SUM(CASE WHEN prev IS NULL OR up <> prev THEN 1 ELSE 0 END)
              AS BIGINT) AS runs
  FROM l GROUP BY event_type
)
SELECT event_type, n1, n2, runs,
       CASE WHEN n1 > 0 AND n2 > 0 AND n1 + n2 > 1 THEN
         ROUND((CAST(runs AS DOUBLE)
                - (1.0 + 2.0 * n1 * n2 / (CAST(n1 AS DOUBLE) + n2)))
               / SQRT(2.0 * n1 * n2
                      * (2.0 * CAST(n1 AS DOUBLE) * n2 - n1 - n2)
                      / ((CAST(n1 AS DOUBLE) + n2) * (CAST(n1 AS DOUBLE) + n2)
                         * (CAST(n1 AS DOUBLE) + n2 - 1))), 4)
       END AS z_stat
FROM q
"""

# Seasonality strength of the purchase value stream: eta^2 = SSB/SST of
# the hour-of-day grouping — "what share of value variance does the
# 24-hour profile explain" — the effect-size readout a monitor wants
# NEXT TO events_seasonal_anomaly's per-cell flags (flags say which
# hours deviate; this says whether the profile matters at all). The
# exact ANOVA fold on hour groups: per-group s1^2/n quantized to
# bigints before the cross-group sum, SST guard on the quantized
# integers (the _ANOVA_F contract).
_SEASONALITY_STRENGTH = """
WITH t AS (
  SELECT CAST(EXTRACT(HOUR FROM ts) AS BIGINT) AS grp,
         CAST(ROUND(value * 100, 0) AS BIGINT) AS c
  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
),
g AS (
  SELECT grp,
         CAST(COUNT(*) AS BIGINT) AS n_g,
         CAST(SUM(c) AS BIGINT) AS s1_g,
         CAST(SUM(c * c) AS BIGINT) AS s2_g
  FROM t GROUP BY grp
),
q AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(n_g) AS BIGINT) AS n,
         CAST(SUM(s1_g) AS BIGINT) AS s1,
         CAST(SUM(s2_g) AS BIGINT) AS s2,
         CAST(SUM(CAST(ROUND(
           CAST(s1_g AS DOUBLE) * s1_g / n_g, 0) AS BIGINT)) AS BIGINT) AS tq
  FROM g
)
SELECT n AS n_events, k AS n_hours,
       CASE WHEN k > 1 AND CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n > 0
       THEN
         ROUND((CAST(tq AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n)
               / (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n), 6)
       END AS eta_squared
FROM q
"""


def _agg_median_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-statistic 95% CI for the median purchase value — the
    distribution-free rank-bound interval (CEIL'd (n ± z sqrt n)/2
    targets picked off the distinct-value cumulative; no global sort).
    See _MEDIAN_CI."""
    load(spark, sf_dir)
    return spark.sql(_MEDIAN_CI)


def _events_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test around the hourly-series median per
    event type — the model-free randomness/regime gate (exact doubled-
    median predicate, lag-fold run count, closed-form z). See
    _RUNS_TEST."""
    load(spark, sf_dir)
    return spark.sql(_RUNS_TEST)


def _events_seasonality_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day eta-squared of purchase value — variance share the
    24-hour profile explains, by the exact ANOVA fold on hour groups.
    See _SEASONALITY_STRENGTH."""
    load(spark, sf_dir)
    return spark.sql(_SEASONALITY_STRENGTH)


QUERIES["agg_median_ci"] = _agg_median_ci
QUERIES["events_runs_test"] = _events_runs_test
QUERIES["events_seasonality_strength"] = _events_seasonality_strength
ORACLES["agg_median_ci"] = _MEDIAN_CI
ORACLES["events_runs_test"] = _RUNS_TEST
ORACLES["events_seasonality_strength"] = _SEASONALITY_STRENGTH


# Split-conformal prediction interval (Vovk et al. 2005; Lei et al.
# 2018): the distribution-free uncertainty readout next to the bootstrap
# and order-statistic CIs. Three deterministic event_id folds: fold 0
# fits the predictor (per-user mean purchase cents, ONE quantization;
# global-mean fallback for unseen users), fold 1 calibrates (absolute
# residuals -> the ceil((n+1)(1-alpha))-th smallest via the
# distinct-value cumulative — agg_median_ci's rank-bound machinery at
# alpha=0.1, runtime-routed through cumsum_auto on the Spark side), and
# fold 2 reports held-out coverage, which exchangeability guarantees
# >= 1 - alpha in expectation. Exact bigint residuals end-to-end;
# terminal IEEE ratios only.
_CONF_RESID = """
WITH t AS (
  SELECT user_id, event_id, CAST(ROUND(value * 100, 0) AS BIGINT) AS c,
         event_id % 3 AS fold
  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
),
mu AS (
  SELECT user_id,
         CAST(ROUND(CAST(SUM(c) AS DOUBLE) / COUNT(*)) AS BIGINT) AS mu_u
  FROM t WHERE fold = 0 GROUP BY user_id
),
gmu AS (
  SELECT CAST(ROUND(CAST(SUM(c) AS DOUBLE) / COUNT(*)) AS BIGINT) AS mu_g
  FROM t WHERE fold = 0
)
SELECT ABS(t.c - COALESCE(mu.mu_u, gmu.mu_g)) AS res
FROM t CROSS JOIN gmu LEFT JOIN mu ON t.user_id = mu.user_id
WHERE t.fold = {fold}
"""

_CONFORMAL = f"""
WITH r AS ({_CONF_RESID.format(fold=1)}),
v AS (SELECT res, CAST(COUNT(*) AS BIGINT) AS cnt FROM r GROUP BY res),
cum AS (
  SELECT res, cnt,
         CAST(SUM(cnt) OVER (ORDER BY res
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cc
  FROM v
),
n AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_cal FROM v),
k AS (SELECT n_cal,
             CAST(((n_cal + 1) * 9 + 9) // 10 AS BIGINT) AS k_rank FROM n),
q AS (
  SELECT k.n_cal, k.k_rank, CAST(MIN(cum.res) AS BIGINT) AS q_res
  FROM k JOIN cum ON cum.cc >= k.k_rank
  GROUP BY k.n_cal, k.k_rank
),
tst AS ({_CONF_RESID.format(fold=2)}),
cov AS (
  SELECT q.n_cal, q.k_rank, q.q_res,
         CAST(COUNT(*) AS BIGINT) AS n_test,
         CAST(SUM(CASE WHEN tst.res <= q.q_res THEN 1 ELSE 0 END)
              AS BIGINT) AS n_cov
  FROM tst CROSS JOIN q
  GROUP BY q.n_cal, q.k_rank, q.q_res
)
SELECT n_cal, k_rank,
       ROUND(CAST(q_res AS DOUBLE) / 100, 2) AS q_value,
       n_test, n_cov,
       ROUND(CAST(n_cov AS DOUBLE) / n_test, 6) AS coverage
FROM cov
"""


def _events_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal 90% interval radius for purchase values under the
    per-user-mean predictor, with held-out coverage: the Spark side
    builds the fold residuals with the shared SQL and picks the rank off
    operators/stats.conformal_quantile (cumsum_auto — two-level bucketed
    past the threshold, so no global residual sort at any scale); the
    oracle is the single-window spelling. See _CONFORMAL."""
    from datafusion_gpu_spark.operators import stats

    load(spark, sf_dir)
    cal = spark.sql(_CONF_RESID.format(fold=1))
    tst = spark.sql(_CONF_RESID.format(fold=2))
    q = stats.conformal_quantile(cal, "res", alpha=0.1)
    return (
        tst.crossJoin(F.broadcast(q))
        .groupBy("n_cal", "k_rank", "q_res")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.sum(
                F.when(F.col("res") <= F.col("q_res"), 1).otherwise(0)
            ).cast("long").alias("n_cov"),
        )
        .select(
            "n_cal",
            "k_rank",
            F.expr("ROUND(CAST(q_res AS DOUBLE) / 100, 2)").alias("q_value"),
            "n_test",
            "n_cov",
            F.expr("ROUND(CAST(n_cov AS DOUBLE) / n_test, 6)").alias("coverage"),
        )
    )


QUERIES["events_conformal_interval"] = _events_conformal_interval
ORACLES["events_conformal_interval"] = _CONFORMAL


# Average True Range (Wilder) over the hourly OHLC bars, per event
# type: true range = GREATEST(high - low, |high - prev_close|,
# |low - prev_close|) — the gap-aware volatility band the candlestick
# family (events_ohlc) feeds; pairs with window_bollinger (close-only
# stdev band) the way MAD pairs with stdev. All bar fields are exact
# cents (the OHLC row_number spelling), true range is exact bigint
# arithmetic, and the 14-bar rolling mean is one SUM/COUNT window with
# a terminal division — the same hour-domain-bounded per-type window
# partitioning as window_bollinger.
_ATR = """
WITH t AS (
  SELECT date_trunc('hour', ts) AS bucket, event_type,
         CAST(ROUND(value * 100, 0) AS BIGINT) AS v_c, ts, event_id
  FROM events WHERE value IS NOT NULL
),
r AS (
  SELECT *,
    ROW_NUMBER() OVER (PARTITION BY bucket, event_type
                       ORDER BY ts, event_id) AS rn_a,
    ROW_NUMBER() OVER (PARTITION BY bucket, event_type
                       ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM t
),
bars AS (
  SELECT bucket, event_type,
         CAST(MAX(v_c) AS BIGINT) AS h,
         CAST(MIN(v_c) AS BIGINT) AS l,
         CAST(MIN(CASE WHEN rn_d = 1 THEN v_c END) AS BIGINT) AS c
  FROM r GROUP BY bucket, event_type
),
tr AS (
  SELECT bucket, event_type, h, l, c,
         CAST(CASE WHEN LAG(c) OVER w IS NULL THEN h - l
              ELSE GREATEST(h - l,
                            ABS(h - LAG(c) OVER w),
                            ABS(l - LAG(c) OVER w)) END AS BIGINT)
           AS tr_c
  FROM bars
  WINDOW w AS (PARTITION BY event_type ORDER BY bucket)
),
a AS (
  SELECT bucket, event_type, tr_c,
         CAST(SUM(tr_c) OVER v AS BIGINT) AS s,
         CAST(COUNT(*) OVER v AS BIGINT) AS k
  FROM tr
  WINDOW v AS (PARTITION BY event_type ORDER BY bucket
               ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
)
SELECT bucket, event_type, tr_c AS true_range_cents, k AS n_bars,
       ROUND(CAST(s AS DOUBLE) / k / 100, 4) AS atr
FROM a
"""


def _window_atr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """14-bar Average True Range over the hourly OHLC bars per event
    type — the gap-aware volatility companion to window_bollinger.
    Exact-cent bars, exact bigint true ranges, one rolling SUM/COUNT
    window with a terminal division. See _ATR."""
    load(spark, sf_dir)
    return spark.sql(_ATR)


QUERIES["window_atr"] = _window_atr
ORACLES["window_atr"] = _ATR


# KL divergence of the observed SOURCE MIX from the uniform target mix
# (nats, plus the normalized share table) — the mixture-drift gate a
# curation pipeline runs against its sampling plan: text_jsd_drift
# compares word distributions between snapshots; this compares the
# provenance mix against the plan (here uniform over the sources
# present — the curation_mix_domains setup). Each source's p*ln(p/q)
# term quantizes to a 1e12 bigint before the source-level fold (tens
# of sources — no headroom concern); the terminal is one division.
_MIX_KL = """
WITH s AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n
  FROM documents GROUP BY source
),
t AS (SELECT CAST(SUM(n) AS BIGINT) AS nt, CAST(COUNT(*) AS BIGINT) AS k
      FROM s),
q AS (
  SELECT CAST(SUM(CAST(ROUND(CAST(n AS DOUBLE) / nt
                              * LN(CAST(n AS DOUBLE) / nt
                                   * CAST(k AS DOUBLE)) * 1e12, 0)
                       AS BIGINT)) AS BIGINT) AS klq
  FROM s CROSS JOIN t
)
SELECT k AS n_sources, nt AS n_docs,
       ROUND(klq / 1e12, 6) AS kl_nats,
       CASE WHEN k > 1 THEN
         ROUND(klq / 1e12 / LN(CAST(k AS DOUBLE)), 6)
       END AS kl_norm
FROM q CROSS JOIN t
"""


def _curation_mix_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KL divergence (nats + ln-k-normalized) of the observed source
    mix from the uniform target — the provenance-mix drift gate next
    to curation_mix_domains' resampler. One source fold, quantized
    p*ln(p/q) terms, terminal division. See _MIX_KL."""
    load(spark, sf_dir)
    return spark.sql(_MIX_KL)


QUERIES["curation_mix_kl"] = _curation_mix_kl
ORACLES["curation_mix_kl"] = _MIX_KL
