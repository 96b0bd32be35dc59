"""Distribution / agreement / stationarity diagnostics (round 13, second wave).

The inference suite (pipeline_stats) answers "do these groups differ?";
this module holds the DIAGNOSTIC gates an analyst runs before trusting
those answers: normality (Jarque-Bera), likelihood-ratio independence
(G-test), ordered-dose trend (Cochran-Armitage), multi-rater agreement
(Fleiss' kappa), and the time-series stationarity/memory family
(Ljung-Box, KPSS, variance ratio, classical decomposition).

House discipline throughout (the pipeline_stats contract): one portable
ANSI-SQL string per gate run verbatim on Spark and DuckDB, all
data-sized folds exact bigints over quantized values, libm-dependent
terms (LN) quantized ONCE per distinct value before any cross-row fold
(the survival_km lesson), terminal single-expression doubles, visible
int64 headroom guards from birth.

pipeline.py merges QUERIES/ORACLES from here (round-12 family-split
architecture), so the public surface stays `queries.pipeline`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from datafusion_gpu_spark.queries import load
from datafusion_gpu_spark.queries.pipeline_common import (
    _CENTS_GRP,
    _CENTS_POS,
    _HOURLY_PURCHASE,
    _LAG_MOMENTS,
    _LAG_R,
    _LAGGED,
    _LIFE,
    _LIFE_N_EV,
    _ORDER_CELLS,
    _PER_T,
    _PER_T2,
    _PV_POS,
    _SEGMENTS,
    _SUBJ_CENSORED,
    _subj,
    _with,
)

QUERIES: dict = {}
ORACLES: dict = {}


# ---------------------------------------------------------------------------
# Jarque-Bera normality test (Jarque & Bera 1980) of the event-value
# distribution per event type — the moment-based normality gate the
# parametric members of the suite (Welch t, ANOVA F, Cohen's d) assume
# and nothing previously checked. JB = n*(g1^2/6 + g2^2/24) with g1 the
# sample skewness m3/m2^1.5 and g2 the excess kurtosis m4/m2^2 - 3,
# asymptotically chi-square(2) under normality.
#
# Spelling: values quantize to integer DOLLARS (the fourth-power fold is
# the binding constraint — cent quantization puts a single 490.02^4 term
# at 5.8e18, one row from wrapping int64; dollars give 5.8e10 per term),
# raw power sums S1..S4 are EXACT bigint folds in one groupBy(event_type)
# pass, central moments come from the raw-moment identities, and the
# whole g1/g2/JB tail is one terminal IEEE expression on exact operands —
# bit-identical cross-engine, no libm beyond SQRT. VISIBLE guard:
# n * mx^4 bounds the S4 fold, so outputs go NULL once
# CAST(n AS DOUBLE)*mx*mx*mx*mx reaches 9e18 (~1.5e8 rows at the
# observed $490 max; the dollar quantum is the knob). Degenerate guard:
# a single distinct value has m2 = 0 (nv > 1).
# ---------------------------------------------------------------------------
_JARQUE_BERA = """
WITH t AS (
  SELECT event_type, CAST(ROUND(value, 0) AS BIGINT) AS d
  FROM events WHERE value IS NOT NULL
),
m AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(d) AS BIGINT) AS s1,
         CAST(SUM(d * d) AS BIGINT) AS s2,
         CAST(SUM(d * d * d) AS BIGINT) AS s3,
         CAST(SUM(d * d * d * d) AS BIGINT) AS s4,
         CAST(MAX(ABS(d)) AS BIGINT) AS mx,
         CAST(COUNT(DISTINCT d) AS BIGINT) AS nv
  FROM t GROUP BY event_type
),
c AS (
  SELECT event_type, n, nv,
         CAST(n AS DOUBLE) * mx * mx * mx * mx < 9e18 AS headroom,
         CAST(s1 AS DOUBLE) / n AS mu,
         CAST(s2 AS DOUBLE) / n
           - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) AS m2,
         CAST(s3 AS DOUBLE) / n
           - 3.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s2 AS DOUBLE) / n)
           + 2.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
                 * (CAST(s1 AS DOUBLE) / n) AS m3,
         CAST(s4 AS DOUBLE) / n
           - 4.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s3 AS DOUBLE) / n)
           + 6.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
                 * (CAST(s2 AS DOUBLE) / n)
           - 3.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
                 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) AS m4
  FROM m
),
g AS (
  SELECT event_type, n, headroom,
         ROUND(mu, 6) AS mean_dollars,
         CASE WHEN headroom AND nv > 1
              THEN m3 / (m2 * SQRT(m2)) END AS g1,
         CASE WHEN headroom AND nv > 1
              THEN m4 / (m2 * m2) - 3.0 END AS g2
  FROM c
)
SELECT event_type, n, mean_dollars,
       ROUND(g1, 6) AS skewness,
       ROUND(g2, 6) AS excess_kurtosis,
       ROUND(CAST(n AS DOUBLE) * (g1 * g1 / 6e0 + g2 * g2 / 24e0), 6) AS jb,
       CASE WHEN g1 IS NOT NULL THEN
         CAST(n AS DOUBLE) * (g1 * g1 / 6e0 + g2 * g2 / 24e0) > 5.991465
       END AS reject_normal_05
FROM g ORDER BY event_type
"""


def _agg_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality test of dollar-quantized event values per
    event type — exact bigint raw-moment folds (one pass), terminal
    skewness/kurtosis/JB vs chi-square(2) at 5.991465. See
    _JARQUE_BERA."""
    load(spark, sf_dir)
    return spark.sql(_JARQUE_BERA)


QUERIES["agg_jarque_bera"] = _agg_jarque_bera
ORACLES["agg_jarque_bera"] = _JARQUE_BERA


# ---------------------------------------------------------------------------
# G-test of independence (log-likelihood ratio; Woolf 1957, Sokal &
# Rohlf's spelling) on the SAME priority x status contingency as
# agg_chi2_independence: G = 2 * sum_cells O * ln(O*N / (R*C)), which
# dominates Pearson's chi-square when any expected cell is small and is
# additive across table partitions (the property meta-analyses use).
# Empty cells contribute exactly 0 (lim x->0 of x ln x), so the
# GROUP BY's nonzero-cell relation IS the full sum — no empty-cell
# correction term, unlike Pearson's form.
#
# Spelling: O, N, R, C are exact bigints, so each cell's LN argument is
# the identical double on both engines; the per-cell term quantizes ONCE
# to 1e-9 units (the greenwood/survival_km libm-LN discipline — one
# libm call per CELL, then exact integer folds), and G is the quantized
# sum divided once. VISIBLE guard: a term is bounded by
# 2 * O * ln(N) <= 2 * N * 43 nano-scaled, so outputs go NULL once
# CAST(nt AS DOUBLE) * 86e9 reaches 9e18 (~1e8 orders).
# ---------------------------------------------------------------------------
_G_TEST = _with(_ORDER_CELLS, """
q AS (
  SELECT CAST(ROUND(1e9 * 2.0 * o
              * LN(CAST(o AS DOUBLE) * nt
                   / (CAST(rt.nr AS DOUBLE) * ct.nc)), 0) AS BIGINT) AS gq
  FROM obs o JOIN rt ON o.r = rt.r JOIN ct ON o.c = ct.c
  CROSS JOIN tot
),
s AS (
  SELECT CAST(SUM(gq) AS BIGINT) AS sgq, CAST(COUNT(*) AS BIGINT) AS n_cells
  FROM q
),
d AS (
  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM rt) AS kr,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM ct) AS kc
)
SELECT n_cells, (kr - 1) * (kc - 1) AS df,
       CASE WHEN kr > 1 AND kc > 1
             AND CAST(nt AS DOUBLE) * 86e9 < 9e18
            THEN ROUND(sgq / 1e9, 6) END AS g_stat
FROM s CROSS JOIN tot CROSS JOIN d
""")


def _agg_g_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Likelihood-ratio G-test of independence between order priority
    and order status — the chi-square's LR sibling on the identical
    contingency folds, empty-cell-exact by construction, per-cell LN
    quantized before the fold. See _G_TEST."""
    load(spark, sf_dir)
    return spark.sql(_G_TEST)


QUERIES["agg_g_test"] = _agg_g_test
ORACLES["agg_g_test"] = _G_TEST


# ---------------------------------------------------------------------------
# Cochran-Armitage trend test (Cochran 1954; Armitage 1955) for a
# monotone trend in a binary outcome across ORDERED groups — the
# dose-response member the 2xk family lacked: chi2_independence asks
# "is status independent of priority AT ALL", this asks the sharper,
# one-degree-of-freedom "does the 'F' share RISE with priority urgency",
# which has far more power when the truth is monotone. Scores w = the
# priority's leading digit (1-URGENT .. 5-LOW, the natural order the
# column encodes); outcome y = (o_orderstatus = 'F').
#
# T = sum_i w_i (r_i - n_i * pbar); Var(T) = pbar(1-pbar)
# (sum w^2 n - (sum w n)^2 / N); z = T / sqrt(Var). All folds are exact
# bigints over the k-row (score) relation (w <= 5, so sum w^2 n <= 25N
# — VISIBLE guard CAST(nt AS DOUBLE)*25 < 9e18); T and Var are terminal
# doubles on exact operands. Degenerate guards: 0 < cases < N and a
# positive score variance (>= 2 distinct scores present).
# ---------------------------------------------------------------------------
_COCHRAN_ARMITAGE = """
WITH t AS (
  SELECT CAST(SUBSTRING(o_orderpriority, 1, 1) AS BIGINT) AS w,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
  FROM orders
),
g AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS r
  FROM t GROUP BY w
),
f AS (
  SELECT CAST(SUM(n) AS BIGINT) AS nt, CAST(SUM(r) AS BIGINT) AS rt,
         CAST(SUM(w * r) AS BIGINT) AS swr,
         CAST(SUM(w * n) AS BIGINT) AS swn,
         CAST(SUM(w * w * n) AS BIGINT) AS sw2n,
         CAST(COUNT(*) AS BIGINT) AS k
  FROM g
),
z AS (
  SELECT k, nt, rt, swr, swn, sw2n,
         CAST(nt AS DOUBLE) * 25 < 9e18 AS headroom,
         CAST(swr AS DOUBLE) - CAST(rt AS DOUBLE) * swn / nt AS tt,
         (CAST(rt AS DOUBLE) / nt) * (1.0 - CAST(rt AS DOUBLE) / nt)
           * (CAST(sw2n AS DOUBLE) - CAST(swn AS DOUBLE) * swn / nt) AS vt
  FROM f
)
SELECT k AS n_levels, nt AS n_total, rt AS n_cases,
       CASE WHEN headroom THEN ROUND(tt, 6) END AS trend_t,
       CASE WHEN headroom AND vt > 0 THEN ROUND(vt, 6) END AS var_t,
       CASE WHEN headroom AND vt > 0 AND rt > 0 AND rt < nt
            THEN ROUND(tt / SQRT(vt), 6) END AS z,
       CASE WHEN headroom AND vt > 0 AND rt > 0 AND rt < nt
            THEN ABS(tt / SQRT(vt)) > 1.959964 END AS reject_05
FROM z
"""


def _agg_cochran_armitage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Armitage test for a monotone trend of the 'F'-status
    share across the five ordered priority levels — exact bigint
    score-weighted folds on the k-row relation, one terminal z vs
    1.959964. See _COCHRAN_ARMITAGE."""
    load(spark, sf_dir)
    return spark.sql(_COCHRAN_ARMITAGE)


QUERIES["agg_cochran_armitage"] = _agg_cochran_armitage
ORACLES["agg_cochran_armitage"] = _COCHRAN_ARMITAGE


# ---------------------------------------------------------------------------
# Fleiss' kappa (Fleiss 1971) — chance-corrected agreement among a FIXED
# number of raters per subject, the multi-rater generalization of
# agg_cohen_kappa (two raters). Rating design here: each user with >= 3
# events is a subject; the user's first three events by (ts, event_id)
# are three "raters" each assigning the event_type category — a
# deterministic, reproducible panel that asks "how consistent is a
# user's early event mix".
#
# With n = 3 raters, N subjects, SS = sum_ij n_ij^2 and category margins
# C_j, the whole statistic is INTEGER until one terminal division:
#   P_bar  = (SS - 3N) / (6N)
#   P_e    = sum C_j^2 / (9 N^2)
#   kappa  = (3N(SS - 3N) - 2 sum C_j^2) / (2 (9 N^2 - sum C_j^2))
# (substitute and clear denominators — the 18N^2 common denominator
# cancels). VISIBLE guard: every operand is bounded by 27 N^2, so kappa
# goes NULL once CAST(N AS DOUBLE)*N*27 reaches 9e18 (~5.8e8 subjects).
# Degenerate guard: 9N^2 = sum C_j^2 iff every rating lands in one
# category (P_e = 1) — kappa undefined, NULL.
# ---------------------------------------------------------------------------
_FLEISS_KAPPA = """
WITH eligible AS (
  SELECT user_id FROM events GROUP BY user_id HAVING COUNT(*) >= 3
),
seq AS (
  SELECT e.user_id, e.event_type,
         ROW_NUMBER() OVER (PARTITION BY e.user_id
                            ORDER BY e.ts, e.event_id) AS rn
  FROM events e JOIN eligible g ON e.user_id = g.user_id
),
cellcnt AS (
  SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS nij
  FROM seq WHERE rn <= 3 GROUP BY user_id, event_type
),
subj AS (
  SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_subj,
         CAST(SUM(nij * nij) AS BIGINT) AS ss
  FROM cellcnt
),
marg AS (
  SELECT CAST(SUM(cj * cj) AS BIGINT) AS sc2,
         CAST(COUNT(*) AS BIGINT) AS n_cats
  FROM (SELECT event_type, CAST(SUM(nij) AS BIGINT) AS cj
        FROM cellcnt GROUP BY event_type)
),
k AS (
  SELECT n_subj, ss, sc2, n_cats,
         CAST(n_subj AS DOUBLE) * n_subj * 27 < 9e18 AS headroom
  FROM subj CROSS JOIN marg
)
SELECT n_subj AS n_subjects, CAST(3 AS BIGINT) AS n_raters, n_cats,
       CASE WHEN headroom AND n_subj > 0
            THEN ROUND(CAST(ss - 3 * n_subj AS DOUBLE)
                       / (6.0 * n_subj), 6) END AS p_bar,
       CASE WHEN headroom AND n_subj > 0
            THEN ROUND(CAST(sc2 AS DOUBLE)
                       / (9.0 * n_subj * n_subj), 6) END AS p_e,
       CASE WHEN headroom AND n_subj > 0
             AND 9 * n_subj * n_subj - sc2 > 0
            THEN ROUND(CAST(3 * n_subj * (ss - 3 * n_subj)
                            - 2 * sc2 AS DOUBLE)
                       / (2.0 * (9 * n_subj * n_subj - sc2)), 6)
       END AS kappa
FROM k
"""


def _agg_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleiss' kappa over the deterministic three-rater panel (each
    eligible user's first three events rating event_type) — integer
    agreement folds, one terminal division. See _FLEISS_KAPPA."""
    load(spark, sf_dir)
    return spark.sql(_FLEISS_KAPPA)


QUERIES["agg_fleiss_kappa"] = _agg_fleiss_kappa
ORACLES["agg_fleiss_kappa"] = _FLEISS_KAPPA


# ---------------------------------------------------------------------------
# Somers' D (Somers 1962) between hour-of-day (X, the predictor) and
# purchase cents (Y) — the ASYMMETRIC member of the concordance family:
# tau-b treats the two margins symmetrically, while d_yx answers "how
# much does knowing the hour improve ordering predictions of value"
# (pairs tied on the predictor are excluded from the denominator; pairs
# tied only on Y count against the association). d_yx = (nc - nd) /
# (n0 - Tx), d_xy = (nc - nd) / (n0 - Ty), with n0 = n(n-1)/2 and
# Tx/Ty the pair counts tied on each margin (both-ties included, per
# the standard definition).
#
# Spelling: the ENTIRE grid/cumulative machinery is _KENDALL_TAU's,
# reused by marker-replace of its terminal SELECT (the streaming-twin
# assert-marker technique), so the two gates can never drift apart; the
# Somers tail is two guarded terminal divisions on the same exact
# bigint folds. Same visible n^2 < 9e18 headroom guard.
# ---------------------------------------------------------------------------
from datafusion_gpu_spark.queries.pipeline_stats import _KENDALL_TAU

_KT_TAIL_MARKER = "SELECT n, nc, nd, t2x / 2 AS ties_x"
_KT_HEAD, _KT_SEP, _ = _KENDALL_TAU.partition(_KT_TAIL_MARKER)
assert _KT_SEP, "kendall terminal SELECT drifted; fix _KT_TAIL_MARKER"

_SOMERS_D = _KT_HEAD + """SELECT n, nc, nd,
       CASE WHEN CAST(n AS DOUBLE) * n < 9e18
            THEN CAST(n * (n - 1) / 2 - t2x / 2 AS BIGINT)
       END AS pairs_x_untied,
       CASE WHEN CAST(n AS DOUBLE) * n < 9e18
            THEN CAST(n * (n - 1) / 2 - t2y / 2 AS BIGINT)
       END AS pairs_y_untied,
       CASE WHEN CAST(n AS DOUBLE) * n < 9e18
             AND n * (n - 1) / 2 - t2x / 2 > 0
            THEN ROUND(CAST(nc - nd AS DOUBLE)
                 / (CAST(n AS DOUBLE) * (n - 1) / 2e0 - t2x / 2e0), 6)
       END AS d_yx,
       CASE WHEN CAST(n AS DOUBLE) * n < 9e18
             AND n * (n - 1) / 2 - t2y / 2 > 0
            THEN ROUND(CAST(nc - nd AS DOUBLE)
                 / (CAST(n AS DOUBLE) * (n - 1) / 2e0 - t2y / 2e0), 6)
       END AS d_xy
FROM folds, nn, tx, ty
"""


def _agg_somers_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Somers' d_yx / d_xy between hour-of-day and purchase cents —
    asymmetric concordance on agg_kendall_tau's exact grid folds
    (machinery reused by marker-replace, so the spellings cannot
    drift). See _SOMERS_D."""
    load(spark, sf_dir)
    return spark.sql(_SOMERS_D)


QUERIES["agg_somers_d"] = _agg_somers_d
ORACLES["agg_somers_d"] = _SOMERS_D


# ---------------------------------------------------------------------------
# Kendall's W coefficient of concordance (Kendall & Babington Smith
# 1939), tie-corrected — do the five event types ("judges") agree on the
# ranking of the 24 hours of the day ("items") by total cent volume?
# The agreement member for RANKINGS the way Fleiss' kappa is for
# categories; W = 1 is perfect agreement, W = 0 none, and
# chi2 = m(n-1)W is Friedman's statistic read sideways (n-1 = 23 df).
#
# Exact arithmetic end to end: the (judge x hour) grid is the 24-row
# VALUES hour axis (plan-exempt literal) cross joined with the judge
# relation, missing cells COALESCE to 0 volume; DOUBLED average ranks
# (2*min_rank + ties - 1) are integers; per-item rank sums R2_i, the
# cross-item fold sum R2_i^2, and the per-judge tie correction
# sum(t^3 - t) are all exact bigints on a domain-bounded (5 x 24)
# relation — no headroom guard needed beyond the degenerate
# denominator (all cells tied within every judge -> NULL):
# W = 3 (sum R2^2 - m^2 n (n+1)^2) / (m^2 (n^3 - n) - m sumT).
# ---------------------------------------------------------------------------
_KENDALL_W = """
WITH cellv AS (
  SELECT event_type AS g, CAST(hour(ts) AS BIGINT) AS h,
         CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS v
  FROM events WHERE value IS NOT NULL GROUP BY event_type, hour(ts)
),
hs AS (SELECT CAST(h AS BIGINT) AS h FROM (VALUES (0),(1),(2),(3),(4),(5),(6),(7),(8),(9),(10),(11),(12),(13),(14),(15),(16),(17),(18),(19),(20),(21),(22),(23)) AS t(h)),
gs AS (SELECT DISTINCT g FROM cellv),
grid AS (
  SELECT gs.g, hs.h, COALESCE(c.v, 0) AS v
  FROM gs CROSS JOIN hs
  LEFT JOIN cellv c ON c.g = gs.g AND c.h = hs.h
),
rk AS (
  SELECT g, h,
         2 * RANK() OVER (PARTITION BY g ORDER BY v)
           + COUNT(*) OVER (PARTITION BY g, v) - 1 AS dr
  FROM grid
),
itemsum AS (
  SELECT h, CAST(SUM(dr) AS BIGINT) AS r2_i FROM rk GROUP BY h
),
folds AS (
  SELECT CAST(SUM(r2_i * r2_i) AS BIGINT) AS sr2sq FROM itemsum
),
tiecorr AS (
  SELECT CAST(SUM(t * t * t - t) AS BIGINT) AS sum_t
  FROM (SELECT g, v, CAST(COUNT(*) AS BIGINT) AS t FROM grid GROUP BY g, v)
),
m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m_judges FROM gs),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_items FROM hs),
w AS (
  SELECT m_judges, n_items, sr2sq, sum_t,
         m_judges * m_judges * (n_items * n_items * n_items - n_items)
           - m_judges * sum_t AS den,
         3 * (sr2sq - m_judges * m_judges * n_items
                      * (n_items + 1) * (n_items + 1)) AS num
  FROM folds CROSS JOIN tiecorr CROSS JOIN m CROSS JOIN nn
)
SELECT m_judges, n_items, n_items - 1 AS df,
       CASE WHEN den > 0
            THEN ROUND(CAST(num AS DOUBLE) / den, 6) END AS w_concordance,
       CASE WHEN den > 0
            THEN ROUND(CAST(m_judges AS DOUBLE) * (n_items - 1)
                       * num / den, 6) END AS chi2_w,
       CASE WHEN den > 0
            THEN CAST(m_judges AS DOUBLE) * (n_items - 1) * num / den
                 > 35.172462 END AS reject_05
FROM w
"""


def _agg_kendall_w(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's W (tie-corrected) — agreement among the five event
    types on the ranking of the 24 hours by cent volume; integer rank
    algebra on the bounded (5 x 24) grid, chi2 = m(n-1)W vs 23 df.
    See _KENDALL_W."""
    load(spark, sf_dir)
    return spark.sql(_KENDALL_W)


QUERIES["agg_kendall_w"] = _agg_kendall_w
ORACLES["agg_kendall_w"] = _KENDALL_W


# ---------------------------------------------------------------------------
# Dunn's post-hoc test (Dunn 1964) with Benjamini-Hochberg adjustment —
# the missing step AFTER agg_kruskal_wallis rejects: WHICH of the five
# event types differ in value distribution? Each of the k(k-1)/2 = 10
# pairs gets the rank z-statistic on the POOLED ranks (not a fresh
# two-sample test — Dunn's point is that reusing the pooled ranks keeps
# the comparisons consistent with the omnibus H), tie-corrected
# variance N(N+1)/12 - sumT/(12(N-1)), then the BH step-up at q = 0.05
# across the pair battery (the agg_bh_fdr machinery inline).
#
# Spelling: the vg/pv/cw/g rank CTEs are agg_kruskal_wallis' exact
# doubled-rank folds; the pair relation is the k-row group summary
# self-joined (k = 5, bounded); p-values use the Zelen & Severo
# 26.2.17 Horner normal tail (|err| < 7.5e-8, four orders below the
# 6dp round — the agg_bh_fdr precedent). VISIBLE guard: tie3 <= N^3-N,
# so z goes NULL once CAST(n AS DOUBLE)*n*n reaches 9e18 (~2e6 rows;
# the same bigint-cubic bound documented at _KRUSKAL_WALLIS, which
# divides tie3 in DOUBLE for the same reason).
# ---------------------------------------------------------------------------
_DUNN_POSTHOC = _with(_CENTS_GRP, """
vg AS (
  SELECT grp, c, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM t GROUP BY grp, c
),
pv AS (
  SELECT c, CAST(SUM(cnt) AS BIGINT) AS tc FROM vg GROUP BY c
),
cw AS (
  SELECT c, tc,
         CAST(COALESCE(SUM(tc) OVER (ORDER BY c
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS cumb
  FROM pv
),
g AS (
  SELECT vg.grp,
         CAST(SUM(vg.cnt) AS BIGINT) AS n_g,
         CAST(SUM(vg.cnt * (2 * cw.cumb + cw.tc + 1)) AS BIGINT) AS r2_g
  FROM vg JOIN cw ON vg.c = cw.c
  GROUP BY vg.grp
),
tot AS (
  SELECT CAST(SUM(tc) AS BIGINT) AS n,
         CAST(SUM(tc * tc * tc - tc) AS BIGINT) AS tie3
  FROM pv
),
pairs AS (
  SELECT a.grp AS g1, b.grp AS g2, a.n_g AS n1, b.n_g AS n2,
         a.r2_g AS r1, b.r2_g AS r2
  FROM g a JOIN g b ON a.grp < b.grp
),
z AS (
  SELECT g1, g2, n1, n2,
         CASE WHEN CAST(n AS DOUBLE) * n * n < 9e18
               AND n > 1 AND n1 > 0 AND n2 > 0
               AND CAST(n AS DOUBLE) * (n + 1) / 12e0
                   - CAST(tie3 AS DOUBLE) / (12e0 * (n - 1)) > 0
              THEN (CAST(r1 AS DOUBLE) / (2e0 * n1)
                    - CAST(r2 AS DOUBLE) / (2e0 * n2))
                   / SQRT((CAST(n AS DOUBLE) * (n + 1) / 12e0
                           - CAST(tie3 AS DOUBLE) / (12e0 * (n - 1)))
                          * (1e0 / n1 + 1e0 / n2))
         END AS zs
  FROM pairs CROSS JOIN tot
),
p AS (
  SELECT g1, g2, n1, n2, zs,
         LEAST(1.0, 2.0 * ((EXP(-(ABS(zs) * ABS(zs)) / 2.0)
           / 2.5066282746310002)
           * ((((1.330274429 * (1.0 / (1.0 + 0.2316419 * ABS(zs)))
                 - 1.821255978) * (1.0 / (1.0 + 0.2316419 * ABS(zs)))
                + 1.781477937) * (1.0 / (1.0 + 0.2316419 * ABS(zs)))
               - 0.356563782) * (1.0 / (1.0 + 0.2316419 * ABS(zs)))
              + 0.319381530) * (1.0 / (1.0 + 0.2316419 * ABS(zs)))))
           AS pv
  FROM z
),
ranked AS (
  SELECT g1, g2, n1, n2, zs, pv,
         ROW_NUMBER() OVER (ORDER BY pv, g1, g2) AS rn,
         CAST(COUNT(pv) OVER () AS BIGINT) AS m
  FROM p
),
kstar AS (
  SELECT g1, g2, n1, n2, zs, pv, rn, m,
         MAX(CASE WHEN pv <= 0.05 * rn / m THEN rn END) OVER () AS k_max
  FROM ranked
)
SELECT g1, g2, n1, n2,
       ROUND(zs, 6) AS z,
       ROUND(pv, 6) AS p_value,
       rn AS p_rank, m AS n_tests,
       CASE WHEN zs IS NULL THEN NULL
            WHEN k_max IS NOT NULL AND rn <= k_max THEN TRUE
            ELSE FALSE END AS rejected
FROM kstar ORDER BY p_rank, g1, g2
""")


def _agg_dunn_posthoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dunn's pairwise post-hoc on the pooled Kruskal-Wallis ranks with
    BH control at q = 0.05 across the 10 event-type pairs. See
    _DUNN_POSTHOC."""
    load(spark, sf_dir)
    return spark.sql(_DUNN_POSTHOC)


QUERIES["agg_dunn_posthoc"] = _agg_dunn_posthoc
ORACLES["agg_dunn_posthoc"] = _DUNN_POSTHOC


# ---------------------------------------------------------------------------
# Exact average precision (area under the precision-recall curve in its
# rank-sum form) of 'value' as a purchase-vs-click score — the
# PR-side companion of agg_auc_exact: AUC weighs ranking errors by
# negatives (misleading at class imbalance), AP weighs them by
# positives, which is what retrieval and rare-event gates report.
# Tie convention (documented): documents at EQUAL scores retrieve as
# one block and precision is evaluated at the block end —
# AP = (1/P) * sum_blocks dp_b * cumP_b / cumT_b, descending score;
# equal to classical AP when scores are unique, deterministic (not
# tie-order-dependent) when they are not.
#
# Spelling: one groupBy(cents), a single descending cumulative over the
# distinct-value relation, each block term quantized ONCE to 1e-9
# (terms <= dp_b, so the fold is bounded by 1e9*N — VISIBLE guard
# CAST(n_pos AS DOUBLE) * 1e9 < 9e18 on the final division's scale).
# ---------------------------------------------------------------------------
_AVG_PRECISION = _with(_CENTS_POS, _PV_POS, """
cum AS (
  SELECT dp, tc,
         CAST(SUM(dp) OVER (ORDER BY c DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cump,
         CAST(SUM(tc) OVER (ORDER BY c DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cumt
  FROM pv
),
s AS (
  SELECT CAST(SUM(CAST(ROUND(1e9 * dp * (CAST(cump AS DOUBLE) / cumt), 0)
                       AS BIGINT)) AS BIGINT) AS sapq
  FROM cum
),
np AS (
  SELECT CAST(SUM(dp) AS BIGINT) AS n_pos,
         CAST(SUM(tc - dp) AS BIGINT) AS n_neg
  FROM pv
)
SELECT n_pos, n_neg,
       CASE WHEN n_pos > 0 AND CAST(n_pos AS DOUBLE) * 1e9 < 9e18
            THEN ROUND(sapq / 1e9 / n_pos, 6) END AS average_precision,
       CASE WHEN n_pos + n_neg > 0
            THEN ROUND(CAST(n_pos AS DOUBLE) / (n_pos + n_neg), 6)
       END AS prevalence_baseline
FROM s CROSS JOIN np
""")


def _agg_average_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact blocked-tie average precision of 'value' as a
    purchase-vs-click score, with the prevalence baseline a random
    ranker would achieve. See _AVG_PRECISION."""
    load(spark, sf_dir)
    return spark.sql(_AVG_PRECISION)


QUERIES["agg_average_precision"] = _agg_average_precision
ORACLES["agg_average_precision"] = _AVG_PRECISION


# ---------------------------------------------------------------------------
# Binary cross-entropy (log loss) of the calibrated score p = value/500
# (clamped to [1e-6, 1-1e-6]) against the purchase label — the PROPER
# scoring rule beside agg_brier_score's quadratic one: log loss punishes
# confident mistakes unboundedly, so it is the gate that catches a
# model whose AUC looks fine but whose probabilities are unusable.
#
# Spelling: both LN terms are computed ONCE per distinct cent value
# (identical bigint input -> identical double -> one libm call per
# DISTINCT VALUE, the greenwood discipline), quantized to 1e-9, and
# folded against the per-value label counts in exact integer
# arithmetic; the mean is one terminal division. VISIBLE guard:
# |ln p| <= ln(1e6) ~ 13.9, so the fold is bounded by 14e9 * N —
# outputs NULL once CAST(n AS DOUBLE) * 14e9 reaches 9e18 (~6e8 rows).
# ---------------------------------------------------------------------------
_LOG_LOSS = _with(_CENTS_POS, _PV_POS, """
q AS (
  SELECT dp, tc,
         CAST(ROUND(1e9 * LN(LEAST(GREATEST(
              CAST(c AS DOUBLE) / 50000.0, 1e-6), 1.0 - 1e-6)), 0)
              AS BIGINT) AS lpq,
         CAST(ROUND(1e9 * LN(1.0 - LEAST(GREATEST(
              CAST(c AS DOUBLE) / 50000.0, 1e-6), 1.0 - 1e-6)), 0)
              AS BIGINT) AS lnq
  FROM pv
),
s AS (
  SELECT CAST(SUM(dp * lpq + (tc - dp) * lnq) AS BIGINT) AS sll,
         CAST(SUM(tc) AS BIGINT) AS n,
         CAST(SUM(dp) AS BIGINT) AS n_pos
  FROM q
)
SELECT n, n_pos,
       CASE WHEN n > 0 AND CAST(n AS DOUBLE) * 14e9 < 9e18
            THEN ROUND(-(sll / 1e9) / n, 6) END AS log_loss
FROM s
""")


def _agg_log_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary log loss of the value/500 score against the purchase
    label — per-distinct-value quantized LN terms, exact integer fold,
    one terminal mean. See _LOG_LOSS."""
    load(spark, sf_dir)
    return spark.sql(_LOG_LOSS)


QUERIES["agg_log_loss"] = _agg_log_loss
ORACLES["agg_log_loss"] = _LOG_LOSS


# ---------------------------------------------------------------------------
# Ljung-Box portmanteau test (Ljung & Box 1978) on the hourly cent
# series per event type — the "is there ANY serial structure left"
# omnibus beside events_autocorr's per-lag view and events_pacf's
# AR-order view: Q = n(n+2) * sum_{k=1..3} r_k^2/(n-k), asymptotically
# chi-square(3) under white noise.
#
# Estimator convention (documented): r_k is the engine's lag-Pearson
# autocorrelation — the SAME six-moment machinery as
# events_autocorr/events_pacf (exact bigint lag folds, one fixed
# terminal float expression), so the family is internally consistent;
# the classical common-mean/common-denominator ACF differs by O(k/n)
# and the substitution is the standard finite-sample variant. n is the
# bucket count per series. Guard: r_k NULL (degenerate variance)
# propagates to Q; n > 3 required for the df.
# ---------------------------------------------------------------------------
_LJUNG_BOX = _with(
    _LAGGED,
    """nbuckets AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM hourly GROUP BY event_type
)""",
    _LAG_MOMENTS,
    _LAG_R,
    """
q AS (
  SELECT r.event_type, nb.n,
         CAST(nb.n AS DOUBLE) * (nb.n + 2)
           * SUM(rk * rk / (nb.n - lag_k)) AS q_lb
  FROM r JOIN nbuckets nb ON nb.event_type = r.event_type
  WHERE nb.n > 3
  GROUP BY r.event_type, nb.n
)
SELECT event_type, n AS n_buckets,
       ROUND(q_lb, 6) AS q_ljung_box,
       CASE WHEN q_lb IS NOT NULL
            THEN q_lb > 7.814728 END AS reject_white_noise_05
FROM q ORDER BY event_type
""")


def _events_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box Q over lags 1..3 of the hourly cent series per event
    type — the white-noise omnibus on the events_autocorr/pacf lag
    machinery, vs chi-square(3) at 7.814728. See _LJUNG_BOX."""
    load(spark, sf_dir)
    return spark.sql(_LJUNG_BOX)


QUERIES["events_ljung_box"] = _events_ljung_box
ORACLES["events_ljung_box"] = _LJUNG_BOX


# ---------------------------------------------------------------------------
# KPSS level-stationarity test (Kwiatkowski, Phillips, Schmidt & Shin
# 1992) on the hourly DOLLAR series per event type — the stationarity
# gate every forecaster in this engine silently assumes (Holt/HW fit
# levels; a trending series needs differencing first). eta =
# (1/n^2) sum_t S_t^2 / lrv, with S_t the partial sums of the demeaned
# series and lrv the Bartlett long-run variance at truncation q = 4;
# reject level-stationarity when eta > 0.463 (the published 5% point).
#
# Exact-arithmetic spelling: the demeaned series quantizes ONCE to
# integer dollars (eq_t = round(v_t - S/n), computed from the exact
# bigint numerator (n*v_t - S)/n — ONE correctly-rounded IEEE division
# per bucket); from there EVERYTHING is integer: partial sums P_t
# (window cumsum), sum P_t^2, the five autocovariance numerators
# sg_0..sg_4 (lag folds), and the x5-cleared Bartlett combination
# L5 = 5*sg0 + 2*(4*sg1 + 3*sg2 + 2*sg3 + sg4), giving
# eta = 5 * sumP2 / (n * L5) as ONE terminal division. Bartlett weights
# make L5 >= 0 (Newey-West PSD); L5 = 0 (constant series) -> NULL.
# VISIBLE guard: the P^2 fold wraps once n * mxP^2 reaches 9e18
# (mxP = max |P_t|, folded alongside) — NULL past that, the dollar
# quantum is the knob.
# ---------------------------------------------------------------------------
_KPSS = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS bucket,
         CAST(SUM(CAST(ROUND(value, 0) AS BIGINT)) AS BIGINT) AS v
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
),
d AS (
  SELECT event_type, bucket, v,
         CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
         CAST(SUM(v) OVER (PARTITION BY event_type) AS BIGINT) AS s
  FROM hourly
),
e AS (
  SELECT event_type, bucket, n,
         CAST(ROUND(CAST(n * v - s AS DOUBLE) / n, 0) AS BIGINT) AS eq
  FROM d
),
w AS (
  SELECT event_type, n, eq,
         CAST(SUM(eq) OVER (PARTITION BY event_type ORDER BY bucket
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS p,
         LAG(eq, 1) OVER wo AS e1,
         LAG(eq, 2) OVER wo AS e2,
         LAG(eq, 3) OVER wo AS e3,
         LAG(eq, 4) OVER wo AS e4
  FROM e
  WINDOW wo AS (PARTITION BY event_type ORDER BY bucket)
),
folds AS (
  SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
         CAST(SUM(p * p) AS BIGINT) AS sump2,
         CAST(MAX(ABS(p)) AS BIGINT) AS mxp,
         CAST(SUM(eq * eq) AS BIGINT) AS sg0,
         CAST(SUM(CASE WHEN e1 IS NOT NULL THEN eq * e1 ELSE 0 END)
              AS BIGINT) AS sg1,
         CAST(SUM(CASE WHEN e2 IS NOT NULL THEN eq * e2 ELSE 0 END)
              AS BIGINT) AS sg2,
         CAST(SUM(CASE WHEN e3 IS NOT NULL THEN eq * e3 ELSE 0 END)
              AS BIGINT) AS sg3,
         CAST(SUM(CASE WHEN e4 IS NOT NULL THEN eq * e4 ELSE 0 END)
              AS BIGINT) AS sg4
  FROM w GROUP BY event_type
),
k AS (
  SELECT event_type, n, sump2,
         CAST(n AS DOUBLE) * mxp * mxp < 9e18 AS headroom,
         5 * sg0 + 2 * (4 * sg1 + 3 * sg2 + 2 * sg3 + sg4) AS l5
  FROM folds
)
SELECT event_type, n AS n_buckets,
       CASE WHEN headroom AND l5 > 0 AND n > 4
            THEN ROUND(5e0 * sump2 / (CAST(n AS DOUBLE) * l5), 6)
       END AS kpss_eta,
       CASE WHEN headroom AND l5 > 0 AND n > 4
            THEN 5e0 * sump2 / (CAST(n AS DOUBLE) * l5) > 0.463
       END AS reject_level_stationary_05
FROM k ORDER BY event_type
"""


def _events_kpss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KPSS level-stationarity statistic (Bartlett q = 4) of the hourly
    dollar series per event type — demeaned series quantized once,
    then integer partial-sum and autocovariance folds into one
    terminal division, vs the published 0.463 5% point. See _KPSS."""
    load(spark, sf_dir)
    return spark.sql(_KPSS)


QUERIES["events_kpss"] = _events_kpss
ORACLES["events_kpss"] = _KPSS


# ---------------------------------------------------------------------------
# Lo-MacKinlay variance ratio test (Lo & MacKinlay 1988), q = 4, on the
# hourly dollar series per event type — the random-walk diagnostic the
# finance members (max_drawdown, OHLC, ATR) sit on top of: VR(q) near 1
# means increments are serially uncorrelated; VR > 1 momentum; VR < 1
# mean reversion. VR(q) = Var(v_t - v_{t-q}) / (q * Var(v_t - v_{t-1}))
# with the drift mu = (v_n - v_1)/(n-1) removed from both, and the
# homoskedastic z = (VR - 1)/sqrt(2(2q-1)(q-1)/(3qn)).
#
# Spelling: 1-step and q-step differences are exact bigint lag folds
# (sum d, sum d^2 per kind); the drift-corrected sums of squares expand
# as sum d^2 - 2 mu sum d + m mu^2 — terminal doubles on exact
# operands. First/last values come from the same ordered window pass.
# VISIBLE guard: the d^2 fold wraps once n * mxd^2 reaches 9e18 (mxd =
# max |difference|, folded alongside) — NULL past that.
# ---------------------------------------------------------------------------
_VARIANCE_RATIO = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS bucket,
         CAST(SUM(CAST(ROUND(value, 0) AS BIGINT)) AS BIGINT) AS v
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
),
w AS (
  SELECT event_type, v,
         LAG(v, 1) OVER wo AS v1,
         LAG(v, 4) OVER wo AS v4,
         FIRST_VALUE(v) OVER (PARTITION BY event_type ORDER BY bucket
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
           AS v_first,
         LAST_VALUE(v) OVER (PARTITION BY event_type ORDER BY bucket
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
           AS v_last
  FROM hourly
  WINDOW wo AS (PARTITION BY event_type ORDER BY bucket)
),
folds AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(MAX(v_last) - MAX(v_first) AS BIGINT) AS drift_num,
         CAST(COUNT(v1) AS BIGINT) AS m1,
         CAST(SUM(v - v1) AS BIGINT) AS sd1,
         CAST(SUM((v - v1) * (v - v1)) AS BIGINT) AS sd1sq,
         CAST(COUNT(v4) AS BIGINT) AS m4,
         CAST(SUM(v - v4) AS BIGINT) AS sd4,
         CAST(SUM((v - v4) * (v - v4)) AS BIGINT) AS sd4sq,
         CAST(MAX(GREATEST(ABS(COALESCE(v - v1, 0)),
                           ABS(COALESCE(v - v4, 0)))) AS BIGINT) AS mxd
  FROM w
  GROUP BY event_type
),
v AS (
  SELECT event_type, n, m1, m4,
         CAST(n AS DOUBLE) * mxd * mxd < 9e18 AS headroom,
         CAST(drift_num AS DOUBLE) / (n - 1) AS mu,
         (CAST(sd1sq AS DOUBLE) - 2e0 * (CAST(drift_num AS DOUBLE) / (n - 1))
            * sd1 + m1 * (CAST(drift_num AS DOUBLE) / (n - 1))
            * (CAST(drift_num AS DOUBLE) / (n - 1))) / m1 AS var1,
         (CAST(sd4sq AS DOUBLE) - 2e0 * (4e0 * CAST(drift_num AS DOUBLE)
            / (n - 1)) * sd4 + m4 * (4e0 * CAST(drift_num AS DOUBLE)
            / (n - 1)) * (4e0 * CAST(drift_num AS DOUBLE) / (n - 1)))
           / (4e0 * m4) AS varq
  FROM folds WHERE n > 5 AND m1 > 1 AND m4 > 1
)
SELECT event_type, n AS n_buckets,
       CASE WHEN headroom AND var1 > 0
            THEN ROUND(varq / var1, 6) END AS vr_4,
       CASE WHEN headroom AND var1 > 0
            THEN ROUND((varq / var1 - 1e0)
                 / SQRT(2e0 * (2 * 4 - 1) * (4 - 1)
                        / (3e0 * 4 * n)), 6) END AS z_homosked,
       CASE WHEN headroom AND var1 > 0
            THEN ABS((varq / var1 - 1e0)
                 / SQRT(2e0 * (2 * 4 - 1) * (4 - 1) / (3e0 * 4 * n)))
                 > 1.959964 END AS reject_random_walk_05
FROM v ORDER BY event_type
"""


def _events_variance_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lo-MacKinlay VR(4) on the hourly dollar series per event type —
    drift-corrected exact difference folds, terminal homoskedastic z
    vs 1.959964. See _VARIANCE_RATIO."""
    load(spark, sf_dir)
    return spark.sql(_VARIANCE_RATIO)


QUERIES["events_variance_ratio"] = _events_variance_ratio
ORACLES["events_variance_ratio"] = _VARIANCE_RATIO


# ---------------------------------------------------------------------------
# Classical seasonal decomposition (the moving-average method of
# Macaulay 1931, the decompose() every stats package ships) of the
# hourly cent series per event type, period 24: trend = centered 24-MA
# (half-weight endpoints, the even-period convention), seasonal index =
# hour-of-day mean of the detrended series re-centered to sum ~0.
# events_seasonality_strength MEASURES how seasonal a series is; this
# emits the seasonal PROFILE itself (the 24 indices per type) — what a
# capacity planner actually reads.
#
# Exact spelling: the centered MA's x48-cleared numerator
# T = 2*sum_{t-12..t+12} v - v_{t-12} - v_{t+12} is an exact bigint
# window fold (full 25-row windows only, COUNT(*) over the frame = 25);
# the detrended numerator d48 = 48*v - T stays bigint; the per-hour and
# grand means are terminal divisions of exact sums. Gaps in the hourly
# grid are treated positionally (the Hurst/PACF row-number convention).
# Bounded by 48*n*max(v): wraps past ~4e12 rows x cents — no guard
# needed below int64 at any plausible sf (documented, not guarded).
# ---------------------------------------------------------------------------
_CLASSICAL_DECOMP = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS bucket,
         CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS v
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
),
ma AS (
  SELECT event_type, bucket, v,
         CAST(2 * SUM(v) OVER wf - FIRST_VALUE(v) OVER wf
              - LAST_VALUE(v) OVER wf AS BIGINT) AS t48,
         COUNT(*) OVER wf AS wn
  FROM hourly
  WINDOW wf AS (PARTITION BY event_type ORDER BY bucket
                ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
),
det AS (
  SELECT event_type, CAST(hour(bucket) AS BIGINT) AS hod,
         CAST(48 * v - t48 AS BIGINT) AS d48
  FROM ma WHERE wn = 25
),
byhod AS (
  SELECT event_type, hod,
         CAST(COUNT(*) AS BIGINT) AS n_windows,
         CAST(SUM(d48) AS BIGINT) AS sd48
  FROM det GROUP BY event_type, hod
),
grand AS (
  SELECT event_type,
         CAST(SUM(d48) AS BIGINT) AS gsum,
         CAST(COUNT(*) AS BIGINT) AS gcnt
  FROM det GROUP BY event_type
)
SELECT b.event_type, b.hod, b.n_windows,
       ROUND(CAST(b.sd48 AS DOUBLE) / (48e0 * b.n_windows)
             - CAST(g.gsum AS DOUBLE) / (48e0 * g.gcnt), 6)
         AS seasonal_cents
FROM byhod b JOIN grand g ON b.event_type = g.event_type
ORDER BY b.event_type, b.hod
"""


def _events_classical_decomp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical period-24 decomposition of the hourly cent series per
    event type: centered 24-MA trend (exact x48 integer numerator),
    hour-of-day seasonal indices re-centered against the grand
    detrended mean. See _CLASSICAL_DECOMP."""
    load(spark, sf_dir)
    return spark.sql(_CLASSICAL_DECOMP)


QUERIES["events_classical_decomp"] = _events_classical_decomp
ORACLES["events_classical_decomp"] = _CLASSICAL_DECOMP


# ---------------------------------------------------------------------------
# Harrell's concordance index (Harrell et al. 1982) for the cohort
# covariate on time-to-first-purchase — the DISCRIMINATION companion of
# events_cox_ph's effect size: the Cox fit says how much the hazard
# differs; C says how often the higher-risk subject actually fails
# first. Same subjects relation as the Cox/log-rank gates (duration =
# whole hours to first purchase, censored at last event; risk score =
# user_id parity).
#
# Pair convention (the lifelines/Harrell standard): a pair is
# comparable when the earlier time is an EVENT and the other subject's
# time is strictly later, or equal-but-censored; both-event time ties
# are excluded; score ties among comparable pairs count 1/2.
# C = (concordant + tied/2) / (concordant + discordant + tied).
#
# EXACT pair counting with zero pair materialization: on the
# distinct-duration relation, suffix sums give the later-risk-set per
# group, so conc = sum_t d1*(later0 + c0_t), disc = sum_t d0*(later1 +
# c1_t), tied = sum_t d1*(later1 + c1_t) + d0*(later0 + c0_t) — exact
# bigints bounded by n^2 (VISIBLE guard CAST(n AS DOUBLE)*n < 9e18),
# one terminal division. One groupBy(user), one groupBy(duration), one
# window over distinct durations — the survival family's plan shape.
# ---------------------------------------------------------------------------
_HARRELL_C = _with(_LIFE, _subj("user_id % 2"), _PER_T2, """
sfx AS (
  SELECT t, d1, c1, d0, c0,
         COALESCE(CAST(SUM(d1 + c1) OVER wl AS BIGINT), 0) AS later1,
         COALESCE(CAST(SUM(d0 + c0) OVER wl AS BIGINT), 0) AS later0
  FROM per_t
  WINDOW wl AS (ORDER BY t ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
),
folds AS (
  SELECT CAST(SUM(d1 * (later0 + c0)) AS BIGINT) AS conc,
         CAST(SUM(d0 * (later1 + c1)) AS BIGINT) AS disc,
         CAST(SUM(d1 * (later1 + c1) + d0 * (later0 + c0)) AS BIGINT)
           AS tied,
         CAST(SUM(d1 + c1 + d0 + c0) AS BIGINT) AS n
  FROM sfx
)
SELECT n AS n_subjects, conc AS concordant, disc AS discordant,
       tied AS tied_score,
       CASE WHEN CAST(n AS DOUBLE) * n < 9e18
             AND conc + disc + tied > 0
            THEN ROUND((CAST(conc AS DOUBLE) + CAST(tied AS DOUBLE) / 2e0)
                       / (conc + disc + tied), 6)
       END AS c_index
FROM folds
""")

#: Spark twin — identical except the epoch spelling and DIV
#: (the _HURST dialect-replace precedent).
_HARRELL_C_SPARK = _HARRELL_C.replace(
    "epoch_us(ts)", "unix_micros(CAST(ts AS TIMESTAMP))"
).replace(
    "(COALESCE(fp, last) - start) // 3600000000",
    "(COALESCE(fp, last) - start) DIV 3600000000",
)


def _events_harrell_c(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Harrell's C-index of the parity cohort as a risk score for
    time-to-first-purchase — exact suffix-sum pair counting on the
    distinct-duration relation, no pair materialization. See
    _HARRELL_C."""
    load(spark, sf_dir)
    return spark.sql(_HARRELL_C_SPARK)


QUERIES["events_harrell_c"] = _events_harrell_c
ORACLES["events_harrell_c"] = _HARRELL_C


# ---------------------------------------------------------------------------
# Round 14 — Harrell's C for a MULTI-LEVEL risk score (the
# "continuous-score" generalization, VERDICT r13 ask #6): the binary
# version above compares two cohorts; real risk scores have many
# levels. Score = the user's activity level LEAST(total events, 64) —
# a genuine ordinal risk score whose 64-level cap is the explicit
# SCALE CONTRACT: exact pair counting needs a dense (duration x score)
# grid, and capping the score axis at a literal 64 keeps the grid
# LINEAR in distinct durations (64x), never quadratic in rows. The cap
# is a VALUES literal, so the cross join's build side is plan-visibly
# bounded (the agg_kendall_tau 24-hour-axis precedent — same exempt
# class, no allowlist entry needed).
#
# The two-level (score x duration) cumulative: per score level, a
# suffix sum over duration gives later(t, s) = subjects outliving t at
# level s; per duration, cumulatives ACROSS the bounded score axis
# give, for each event cell, the comparable later-or-equal-censored
# subjects at strictly lower / strictly higher / equal score. Pair
# convention identical to events_harrell_c (lifelines standard):
# comparable = earlier-event vs strictly-later or equal-but-censored;
# both-event time ties excluded; score ties count 1/2. Every fold is
# an exact bigint bounded by n^2 (VISIBLE guard CAST(n AS DOUBLE) * n
# < 9e18), one terminal division. One groupBy(user), one
# groupBy(t, s), windows over the grid — the survival family's shape.
# ---------------------------------------------------------------------------
_HARRELL_C_CONT = _with(_LIFE_N_EV, f"""
subj AS (
  SELECT CASE WHEN n_ev > 64 THEN 64 ELSE n_ev END AS s,
         (COALESCE(fp, last) - start) // 3600000000 AS t,
         CASE WHEN fp IS NULL THEN 0 ELSE 1 END AS obs
  FROM life
),
cell AS (
  SELECT t, s,
         CAST(SUM(obs) AS BIGINT) AS d,
         CAST(SUM(1 - obs) AS BIGINT) AS c
  FROM subj GROUP BY t, s
),
lv AS (SELECT CAST(s AS BIGINT) AS s
       FROM (VALUES {",".join(f"({i})" for i in range(1, 65))}) AS q(s)),
tg AS (SELECT DISTINCT t FROM cell),
grid AS (
  SELECT tg.t AS t, lv.s AS s, COALESCE(cl.d, 0) AS d, COALESCE(cl.c, 0) AS c
  FROM tg CROSS JOIN lv
  LEFT JOIN cell cl ON cl.t = tg.t AND cl.s = lv.s
),
lat AS (
  SELECT t, s, d, c,
         COALESCE(CAST(SUM(d + c) OVER (PARTITION BY s ORDER BY t
              ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
              AS BIGINT), 0) AS later
  FROM grid
),
acc AS (
  SELECT t, s, d,
         COALESCE(CAST(SUM(later + c) OVER (PARTITION BY t ORDER BY s
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              AS BIGINT), 0) AS lower_cnt,
         COALESCE(CAST(SUM(later + c) OVER (PARTITION BY t ORDER BY s DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              AS BIGINT), 0) AS higher_cnt,
         later + c AS same_cnt
  FROM lat
),
folds AS (
  SELECT CAST(SUM(d * lower_cnt) AS BIGINT) AS conc,
         CAST(SUM(d * higher_cnt) AS BIGINT) AS disc,
         CAST(SUM(d * same_cnt) AS BIGINT) AS tied
  FROM acc
),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
              CAST(MAX(s) AS BIGINT) AS max_level FROM subj)
SELECT n AS n_subjects, max_level, conc AS concordant, disc AS discordant,
       tied AS tied_score,
       CASE WHEN CAST(n AS DOUBLE) * n < 9e18
             AND conc + disc + tied > 0
            THEN ROUND((CAST(conc AS DOUBLE) + CAST(tied AS DOUBLE) / 2e0)
                       / (conc + disc + tied), 6)
       END AS c_index
FROM folds, nn
""")

#: Spark twin — the _HARRELL_C dialect replaces.
_HARRELL_C_CONT_SPARK = _HARRELL_C_CONT.replace(
    "epoch_us(ts)", "unix_micros(CAST(ts AS TIMESTAMP))"
).replace(
    "(COALESCE(fp, last) - start) // 3600000000",
    "(COALESCE(fp, last) - start) DIV 3600000000",
)


def _events_harrell_c_cont(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Harrell's C-index of the 64-level activity score for
    time-to-first-purchase — exact two-level (score x duration)
    cumulative pair counting on the dense bounded grid, no pair
    materialization. See _HARRELL_C_CONT."""
    load(spark, sf_dir)
    return spark.sql(_HARRELL_C_CONT_SPARK)


QUERIES["events_harrell_c_cont"] = _events_harrell_c_cont
ORACLES["events_harrell_c_cont"] = _HARRELL_C_CONT


# ---------------------------------------------------------------------------
# Round 14 — Uno's censoring-adjusted C (Uno, Cai, Pencina, D'Agostino
# & Wei 2011, "On the C-statistics for evaluating overall adequacy of
# risk prediction procedures with censored survival data"): Harrell's C
# depends on the CENSORING distribution (late-censored subjects drop
# out of more pairs); Uno's estimator removes that bias by weighting
# each event-anchored pair by 1/G(t_i-)^2, where G is the Kaplan-Meier
# of the censoring distribution, and restricting to a fixed horizon tau
# where G stays bounded away from 0 (tau = 120 h here, a literal).
#
# The testdata's natural time-to-first-purchase carries almost no
# censoring (none at sf0.1), which would leave every weight at 1 and
# the IPCW machinery inert — so the subjects carry DETERMINISTIC
# STAGGERED ADMINISTRATIVE CENSORING, C_u = 24 + (user_id * 37) % 120
# hours (37 is coprime with 120, so even a handful of consecutive ids
# spreads across the full window)
# (the staggered-entry design every survival textbook uses): a subject
# is observed only while t <= C_u. Censorings now interleave with
# event times, G drops below 1 inside the horizon, and the weight path
# is exercised by the GATE DATA, not just the plants. (The parity
# cohort itself is the same synthetic-covariate move the whole
# survival family makes.)
#
# Conventions (documented divergences): comparability is Uno's STRICT
# t_i < t_j (no equal-time-censored pairs, unlike events_harrell_c's
# lifelines convention — on fully-observed data the two differ only by
# that term); score ties count 1/2 (Uno's paper assumes a continuous
# score; the discrete-score extension is the standard one). Deaths
# precede censorings at ties, so G(t-) = the censoring-KM over times
# STRICTLY before t (an exclusive running sum).
#
# Numeric portability: the censoring-KM rides the survival family's
# ln-quantization (per-time ln(1 - c/n) rounded once to 1e-9 bigints,
# exclusive cumulative sum, ONE exp per event time) — the
# events_survival_km precedent. The weighted pair terms are NOT
# integer, so each per-time term is normalized by n^2 FIRST (the
# common factor cancels in the terminal num/den ratio), bounding every
# term by w_t, then quantized once to 1e-9 bigints (order-independent
# exact folds). VISIBLE guards: n^2 < 9e18 for the integer pair
# products AND n_times * w_max * 1e9 < 9e18 for the quantized fold.
# Plan: one groupBy(user), one groupBy(t), windows over distinct
# durations — the survival family's shape, zero pair materialization.
# ---------------------------------------------------------------------------
_UNO_C = _with(
    _LIFE,
    """subj0 AS (
  SELECT user_id % 2 AS grp,
         (COALESCE(fp, last) - start) // 3600000000 AS tr,
         CASE WHEN fp IS NULL THEN 0 ELSE 1 END AS orr,
         CAST(24 + (user_id * 37) % 120 AS BIGINT) AS ct
  FROM life
)""",
    _SUBJ_CENSORED,
    _PER_T2,
    """
sfx AS (
  SELECT t, d1, c1, d0, c0,
         CAST(SUM(d1 + c1 + d0 + c0) OVER (ORDER BY t
              ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
              AS BIGINT) AS n_risk,
         COALESCE(CAST(SUM(d1 + c1) OVER (ORDER BY t
              ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
              AS BIGINT), 0) AS later1,
         COALESCE(CAST(SUM(d0 + c0) OVER (ORDER BY t
              ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
              AS BIGINT), 0) AS later0
  FROM per_t
),
lnc AS (
  SELECT t, d1, d0, later1, later0,
         CASE WHEN c1 + c0 > 0 AND c1 + c0 < n_risk
              THEN CAST(ROUND(LN(1e0 - CAST(c1 + c0 AS DOUBLE) / n_risk)
                   * 1e9, 0) AS BIGINT)
              ELSE 0 END AS lnq
  FROM sfx
),
wts AS (
  SELECT t, d1, d0, later1, later0,
         COALESCE(CAST(SUM(lnq) OVER (ORDER BY t
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              AS BIGINT), 0) AS slnq
  FROM lnc
),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM subj),
terms AS (
  SELECT d1, d0, d1 + d0 AS d, later1, later0, n,
         EXP((slnq / 1e9) * (0e0 - 2e0)) AS w
  FROM wts CROSS JOIN nn
  WHERE d1 + d0 > 0 AND t < 120
),
folds AS (
  SELECT CAST(SUM(CAST(ROUND(1e9 * (w
              * (CAST(d1 * later0 AS DOUBLE)
                 + CAST(d1 * later1 + d0 * later0 AS DOUBLE) / 2e0)
              / (CAST(n AS DOUBLE) * n)), 0) AS BIGINT)) AS BIGINT) AS numq,
         CAST(SUM(CAST(ROUND(1e9 * (w
              * CAST(d * (later1 + later0) AS DOUBLE)
              / (CAST(n AS DOUBLE) * n)), 0) AS BIGINT)) AS BIGINT) AS denq,
         CAST(SUM(d) AS BIGINT) AS o_h,
         CAST(COUNT(*) AS BIGINT) AS n_times,
         MAX(w) AS wmax,
         MAX(n) AS n
  FROM terms
)
SELECT n AS n_subjects, o_h AS n_events_h,
       CAST(120 AS BIGINT) AS horizon_h,
       ROUND(wmax, 6) AS w_max,
       CASE WHEN CAST(n AS DOUBLE) * n < 9e18
             AND CAST(n_times AS DOUBLE) * wmax * 1e9 < 9e18
             AND denq > 0
            THEN ROUND(CAST(numq AS DOUBLE) / denq, 6)
       END AS c_uno
FROM folds
""")

#: Spark twin — the _HARRELL_C dialect replaces.
_UNO_C_SPARK = _UNO_C.replace(
    "epoch_us(ts)", "unix_micros(CAST(ts AS TIMESTAMP))"
).replace(
    "(COALESCE(fp, last) - start) // 3600000000",
    "(COALESCE(fp, last) - start) DIV 3600000000",
)


def _events_uno_c(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uno's IPCW-weighted C-index of the parity cohort for
    time-to-first-purchase within a 120 h horizon, under staggered
    administrative censoring C_u = 24 + (user_id * 37) % 120 h — censoring-KM
    weights via ln-quantized cumulative products, weighted pair counts
    via suffix sums, zero pair materialization. See _UNO_C."""
    load(spark, sf_dir)
    return spark.sql(_UNO_C_SPARK)


QUERIES["events_uno_c"] = _events_uno_c
ORACLES["events_uno_c"] = _UNO_C


# ---------------------------------------------------------------------------
# Round 14 — time-dependent cumulative/dynamic AUC at a fixed horizon
# (Heagerty, Lumley & Pepe 2000 definition; Uno et al. 2007 IPCW
# estimator): "how well does the score separate subjects who fail BY
# tau from subjects still event-free AT tau?" — the horizon-anchored
# discrimination companion of Uno's C (which integrates over all
# horizons). Cases = events with t <= tau, IPCW-weighted by
# 1/G(t_i-); controls = subjects with t > tau, whose common 1/G(tau)
# weight CANCELS in the ratio (so only case weights appear). Score =
# the same 64-level capped activity score as events_harrell_c_cont;
# censoring = the same staggered C_u = 24 + (user_id * 37) % 120 h design
# as events_uno_c but with a 6 h offset (C_u = 6 + (user_id * 37) % 120 h) so
# censorings START INSIDE the 24 h horizon and the case weights
# genuinely exceed 1 (the natural data has no censoring at sf0.1);
# score ties get the standard half credit. tau = 24 h (a literal
# chosen so both case and control sets are populated from sf0.001 up).
#
# Shape: censoring-KM on the distinct-time relation (ln-quantized,
# the events_survival_km precedent); per-level case-weight folds
# W(s) = sum_t d_{t,s} * w_t with each term normalized by n and
# quantized once to 1e-9 bigints (bounded by w_max * d_t / n); the
# level-axis cumulative runs over the SAME 64-value literal axis as
# harrell_c_cont (plan-visibly bounded); one terminal division.
# VISIBLE guards: n^2 < 9e18 and n_times * w_max * 1e9 < 9e18.
# ---------------------------------------------------------------------------
_AUC_TD = _with(
    _LIFE_N_EV,
    """subj0 AS (
  SELECT CASE WHEN n_ev > 64 THEN 64 ELSE n_ev END AS s,
         (COALESCE(fp, last) - start) // 3600000000 AS tr,
         CASE WHEN fp IS NULL THEN 0 ELSE 1 END AS orr,
         CAST(6 + (user_id * 37) % 120 AS BIGINT) AS ct
  FROM life
),
subj AS (
  SELECT s,
         CASE WHEN tr <= ct THEN tr ELSE ct END AS t,
         CASE WHEN orr = 1 AND tr <= ct THEN 1 ELSE 0 END AS obs
  FROM subj0
)""",
    _PER_T,
    """
wts AS (
  SELECT t, d,
         COALESCE(CAST(SUM(CASE WHEN c > 0 AND c < n_risk
              THEN CAST(ROUND(LN(1e0 - CAST(c AS DOUBLE) / n_risk)
                   * 1e9, 0) AS BIGINT) ELSE 0 END) OVER (ORDER BY t
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              AS BIGINT), 0) AS slnq
  FROM (
    SELECT t, d, c,
           CAST(SUM(d + c) OVER (ORDER BY t
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                AS BIGINT) AS n_risk
    FROM per_t
  ) r
),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM subj),
case_cells AS (
  SELECT s, t, CAST(SUM(obs) AS BIGINT) AS dts
  FROM subj WHERE obs = 1 AND t <= 24 GROUP BY s, t
),
case_w AS (
  SELECT cc.s AS s,
         CAST(SUM(CAST(ROUND(1e9 * (EXP((w.slnq / 1e9) * (0e0 - 1e0))
              * CAST(cc.dts AS DOUBLE) / n), 0) AS BIGINT)) AS BIGINT)
           AS wq,
         MAX(EXP((w.slnq / 1e9) * (0e0 - 1e0))) AS wmax_s,
         CAST(COUNT(*) AS BIGINT) AS n_terms
  FROM case_cells cc JOIN wts w ON w.t = cc.t CROSS JOIN nn
  GROUP BY cc.s
),
ctrl AS (
  SELECT s, CAST(COUNT(*) AS BIGINT) AS m
  FROM subj WHERE t > 24 GROUP BY s
),
lv AS (SELECT CAST(s AS BIGINT) AS s
       FROM (VALUES {LEVELS}) AS q(s)),
axis AS (
  SELECT lv.s AS s, COALESCE(cw.wq, 0) AS wq,
         COALESCE(cw.wmax_s, 0e0) AS wmax_s,
         COALESCE(cw.n_terms, 0) AS n_terms,
         COALESCE(ct2.m, 0) AS m
  FROM lv LEFT JOIN case_w cw ON cw.s = lv.s
          LEFT JOIN ctrl ct2 ON ct2.s = lv.s
),
acc AS (
  SELECT s, wq, wmax_s, n_terms, m,
         COALESCE(CAST(SUM(m) OVER (ORDER BY s
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              AS BIGINT), 0) AS m_lower,
         CAST(SUM(m) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING
              AND UNBOUNDED FOLLOWING) AS BIGINT) AS m_tot
  FROM axis
),
folds AS (
  SELECT CAST(SUM(CAST(ROUND((wq / 1e9)
              * (CAST(m_lower AS DOUBLE) + CAST(m AS DOUBLE) / 2e0)
              / n * 1e9, 0) AS BIGINT)) AS BIGINT) AS numq,
         CAST(SUM(CAST(ROUND((wq / 1e9) * CAST(m_tot AS DOUBLE)
              / n * 1e9, 0) AS BIGINT)) AS BIGINT) AS denq,
         CAST(SUM(CASE WHEN wq > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_case_levels,
         CAST(SUM(n_terms) AS BIGINT) AS n_times,
         MAX(wmax_s) AS wmax,
         MAX(m_tot) AS m_controls,
         MAX(n) AS n
  FROM acc CROSS JOIN nn
)
SELECT n AS n_subjects, m_controls AS n_controls,
       CAST(24 AS BIGINT) AS horizon_h,
       ROUND(wmax, 6) AS w_max,
       CASE WHEN CAST(n AS DOUBLE) * n < 9e18
             AND CAST(n_times AS DOUBLE) * wmax * 1e9 < 9e18
             AND denq > 0
            THEN ROUND(CAST(numq AS DOUBLE) / denq, 6)
       END AS auc_td
FROM folds
""").replace(
    "{LEVELS}", ",".join(f"({i})" for i in range(1, 65))
)

#: Spark twin — the _HARRELL_C dialect replaces.
_AUC_TD_SPARK = _AUC_TD.replace(
    "epoch_us(ts)", "unix_micros(CAST(ts AS TIMESTAMP))"
).replace(
    "(COALESCE(fp, last) - start) // 3600000000",
    "(COALESCE(fp, last) - start) DIV 3600000000",
)


def _events_auc_td(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative/dynamic time-dependent AUC of the 64-level activity
    score at a 24 h horizon, IPCW case weights off the censoring KM,
    under the staggered administrative censoring design (6 h offset).
    See
    _AUC_TD."""
    load(spark, sf_dir)
    return spark.sql(_AUC_TD_SPARK)


QUERIES["events_auc_td"] = _events_auc_td
ORACLES["events_auc_td"] = _AUC_TD


# ---------------------------------------------------------------------------
# Round 14 — IPCW Brier score at a fixed horizon (Graf, Schmoor,
# Sauerbrei & Schumacher 1999): the PREDICTION-ERROR member of the
# validation trio — td-AUC ranks (discrimination), this scores the
# predicted probabilities themselves. BS(tau) = n^-1 sum_i w_i
# (Y_i - s_hat_i)^2 with Y_i = 1(t_i > tau): subjects failing by tau
# contribute s_hat^2 weighted 1/G(t_i-), survivors contribute
# (1 - s_hat)^2 weighted 1/G(tau), subjects censored inside the
# horizon contribute nothing (their mass is what IPCW redistributes).
# The predictor is the PARITY-COHORT Kaplan-Meier at tau evaluated on
# the same data — apparent (in-sample) error, the standard first
# report; the cohort KM rides the survival family's ln-quantized
# cumulative products, as does the censoring KM G. Same staggered
# 6 h-offset censoring design and tau = 24 h as events_auc_td.
#
# Numeric portability: THREE ln-quantized systems on the one
# distinct-duration relation (cohort-1 survival, cohort-0 survival,
# pooled censoring); the per-event-time weighted terms are normalized
# by n then quantized once to 1e-9 bigints; the survivor term is pure
# scalar arithmetic off the one-row fold. VISIBLE guards: the usual
# n_times * w_max * 1e9 < 9e18 headroom, plus NULL-through-guard when
# G(tau) hits exact zero (all remaining subjects censored inside the
# horizon — weights undefined) or a cohort KM dies before tau.
# ---------------------------------------------------------------------------
_BRIER_IPCW = _with(
    _LIFE,
    """subj0 AS (
  SELECT user_id % 2 AS grp,
         (COALESCE(fp, last) - start) // 3600000000 AS tr,
         CASE WHEN fp IS NULL THEN 0 ELSE 1 END AS orr,
         CAST(6 + (user_id * 37) % 120 AS BIGINT) AS ct
  FROM life
)""",
    _SUBJ_CENSORED,
    _PER_T2,
    """
sfx AS (
  SELECT t, d1, c1, d0, c0,
         CAST(SUM(d1 + c1) OVER (ORDER BY t ROWS BETWEEN CURRENT ROW
              AND UNBOUNDED FOLLOWING) AS BIGINT) AS n1_risk,
         CAST(SUM(d0 + c0) OVER (ORDER BY t ROWS BETWEEN CURRENT ROW
              AND UNBOUNDED FOLLOWING) AS BIGINT) AS n0_risk
  FROM per_t
),
lnq AS (
  SELECT t, d1, d0, c1, c0,
         CASE WHEN d1 > 0 AND d1 < n1_risk
              THEN CAST(ROUND(LN(1e0 - CAST(d1 AS DOUBLE) / n1_risk)
                   * 1e9, 0) AS BIGINT) ELSE 0 END AS lnq_s1,
         CASE WHEN d1 = n1_risk AND d1 > 0 THEN 1 ELSE 0 END AS dead1,
         CASE WHEN d0 > 0 AND d0 < n0_risk
              THEN CAST(ROUND(LN(1e0 - CAST(d0 AS DOUBLE) / n0_risk)
                   * 1e9, 0) AS BIGINT) ELSE 0 END AS lnq_s0,
         CASE WHEN d0 = n0_risk AND d0 > 0 THEN 1 ELSE 0 END AS dead0,
         CASE WHEN c1 + c0 > 0 AND c1 + c0 < n1_risk + n0_risk
              THEN CAST(ROUND(LN(1e0 - CAST(c1 + c0 AS DOUBLE)
                   / (n1_risk + n0_risk)) * 1e9, 0) AS BIGINT)
              ELSE 0 END AS lnq_c,
         CASE WHEN c1 + c0 = n1_risk + n0_risk AND c1 + c0 > 0
              THEN 1 ELSE 0 END AS cdead
  FROM sfx
),
scalars AS (
  SELECT CAST(SUM(CASE WHEN t <= 24 THEN lnq_s1 ELSE 0 END) AS BIGINT)
           AS s1q,
         CAST(SUM(CASE WHEN t <= 24 THEN lnq_s0 ELSE 0 END) AS BIGINT)
           AS s0q,
         CAST(SUM(CASE WHEN t <= 24 THEN lnq_c ELSE 0 END) AS BIGINT)
           AS gq,
         CAST(MAX(CASE WHEN t <= 24 THEN dead1 ELSE 0 END) AS BIGINT)
           AS s1_dead,
         CAST(MAX(CASE WHEN t <= 24 THEN dead0 ELSE 0 END) AS BIGINT)
           AS s0_dead,
         CAST(MAX(CASE WHEN t <= 24 THEN cdead ELSE 0 END) AS BIGINT)
           AS g_dead,
         CAST(SUM(CASE WHEN t > 24 THEN d1 + c1 ELSE 0 END) AS BIGINT)
           AS m1,
         CAST(SUM(CASE WHEN t > 24 THEN d0 + c0 ELSE 0 END) AS BIGINT)
           AS m0,
         CAST(SUM(d1 + c1 + d0 + c0) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN t <= 24 THEN d1 + d0 ELSE 0 END) AS BIGINT)
           AS o_h
  FROM lnq
),
wts AS (
  SELECT t, d1, d0,
         COALESCE(CAST(SUM(lnq_c) OVER (ORDER BY t
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              AS BIGINT), 0) AS slnq_c
  FROM lnq
),
evt AS (
  SELECT CAST(SUM(CAST(ROUND(1e9 * (EXP((w.slnq_c / 1e9) * (0e0 - 1e0))
              * (CAST(w.d1 AS DOUBLE)
                 * EXP(s.s1q / 1e9) * EXP(s.s1q / 1e9)
                 * (1 - s.s1_dead)
                 + CAST(w.d0 AS DOUBLE)
                 * EXP(s.s0q / 1e9) * EXP(s.s0q / 1e9)
                 * (1 - s.s0_dead))
              / s.n), 0) AS BIGINT)) AS BIGINT) AS eventq,
         MAX(EXP((w.slnq_c / 1e9) * (0e0 - 1e0))) AS wmax,
         CAST(COUNT(*) AS BIGINT) AS n_times
  FROM wts w CROSS JOIN scalars s
  WHERE w.d1 + w.d0 > 0 AND w.t <= 24
)
SELECT s.n AS n_subjects, s.o_h AS n_events_h,
       CAST(24 AS BIGINT) AS horizon_h,
       ROUND(EXP(s.s1q / 1e9) * (1 - s.s1_dead), 6) AS s1_tau,
       ROUND(EXP(s.s0q / 1e9) * (1 - s.s0_dead), 6) AS s0_tau,
       ROUND(EXP(s.gq / 1e9) * (1 - s.g_dead), 6) AS g_tau,
       ROUND(e.wmax, 6) AS w_max,
       CASE WHEN s.g_dead = 0
             AND CAST(e.n_times AS DOUBLE) * e.wmax * 1e9 < 9e18
            THEN ROUND((e.eventq / 1e9
                 + (CAST(s.m1 AS DOUBLE)
                    * (1e0 - EXP(s.s1q / 1e9) * (1 - s.s1_dead))
                    * (1e0 - EXP(s.s1q / 1e9) * (1 - s.s1_dead))
                    + CAST(s.m0 AS DOUBLE)
                    * (1e0 - EXP(s.s0q / 1e9) * (1 - s.s0_dead))
                    * (1e0 - EXP(s.s0q / 1e9) * (1 - s.s0_dead)))
                   / (EXP(s.gq / 1e9) * s.n)), 6)
       END AS brier_ipcw
FROM scalars s CROSS JOIN evt e
""")

#: Spark twin — the _HARRELL_C dialect replaces.
_BRIER_IPCW_SPARK = _BRIER_IPCW.replace(
    "epoch_us(ts)", "unix_micros(CAST(ts AS TIMESTAMP))"
).replace(
    "(COALESCE(fp, last) - start) // 3600000000",
    "(COALESCE(fp, last) - start) DIV 3600000000",
)


def _events_brier_ipcw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IPCW Brier score of the parity-cohort KM prediction at a 24 h
    horizon (apparent error), censoring-KM weights, staggered 6 h
    administrative censoring. See _BRIER_IPCW."""
    load(spark, sf_dir)
    return spark.sql(_BRIER_IPCW_SPARK)


QUERIES["events_brier_ipcw"] = _events_brier_ipcw
ORACLES["events_brier_ipcw"] = _BRIER_IPCW


# ---------------------------------------------------------------------------
# Round 14 — calibration-in-the-large for survival at the horizon
# (the O/E check every risk-model validation reports beside
# discrimination and Brier; Crowson et al. 2016 formalize the
# survival version): does the model's mean predicted survival at tau
# match the OBSERVED pooled Kaplan-Meier at tau? With the
# parity-cohort KM as the model, expected = the cohort-size-weighted
# mean of the two cohort KMs; observed = the pooled KM — these
# genuinely differ (KM is nonlinear in the risk sets), and the gap is
# the in-the-large miscalibration. Same subjects relation, staggered
# censoring, tau = 24 h, and ln-quantized KM spellings as
# events_brier_ipcw; the terminal difference carries the + 0.0
# signed-zero normalization (it CAN be ±tiny by construction).
# ---------------------------------------------------------------------------
_SURV_CALIB = _with(
    _LIFE,
    """subj0 AS (
  SELECT user_id % 2 AS grp,
         (COALESCE(fp, last) - start) // 3600000000 AS tr,
         CASE WHEN fp IS NULL THEN 0 ELSE 1 END AS orr,
         CAST(6 + (user_id * 37) % 120 AS BIGINT) AS ct
  FROM life
)""",
    _SUBJ_CENSORED,
    _PER_T2,
    """
sfx AS (
  SELECT t, d1, c1, d0, c0,
         CAST(SUM(d1 + c1) OVER (ORDER BY t ROWS BETWEEN CURRENT ROW
              AND UNBOUNDED FOLLOWING) AS BIGINT) AS n1_risk,
         CAST(SUM(d0 + c0) OVER (ORDER BY t ROWS BETWEEN CURRENT ROW
              AND UNBOUNDED FOLLOWING) AS BIGINT) AS n0_risk
  FROM per_t
),
lnq AS (
  SELECT t,
         CASE WHEN d1 > 0 AND d1 < n1_risk
              THEN CAST(ROUND(LN(1e0 - CAST(d1 AS DOUBLE) / n1_risk)
                   * 1e9, 0) AS BIGINT) ELSE 0 END AS lnq_s1,
         CASE WHEN d1 = n1_risk AND d1 > 0 THEN 1 ELSE 0 END AS dead1,
         CASE WHEN d0 > 0 AND d0 < n0_risk
              THEN CAST(ROUND(LN(1e0 - CAST(d0 AS DOUBLE) / n0_risk)
                   * 1e9, 0) AS BIGINT) ELSE 0 END AS lnq_s0,
         CASE WHEN d0 = n0_risk AND d0 > 0 THEN 1 ELSE 0 END AS dead0,
         CASE WHEN d1 + d0 > 0 AND d1 + d0 < n1_risk + n0_risk
              THEN CAST(ROUND(LN(1e0 - CAST(d1 + d0 AS DOUBLE)
                   / (n1_risk + n0_risk)) * 1e9, 0) AS BIGINT)
              ELSE 0 END AS lnq_sp,
         CASE WHEN d1 + d0 = n1_risk + n0_risk AND d1 + d0 > 0
              THEN 1 ELSE 0 END AS deadp,
         n1_risk, n0_risk
  FROM sfx
),
scalars AS (
  SELECT CAST(SUM(CASE WHEN t <= 24 THEN lnq_s1 ELSE 0 END) AS BIGINT)
           AS s1q,
         CAST(SUM(CASE WHEN t <= 24 THEN lnq_s0 ELSE 0 END) AS BIGINT)
           AS s0q,
         CAST(SUM(CASE WHEN t <= 24 THEN lnq_sp ELSE 0 END) AS BIGINT)
           AS spq,
         CAST(MAX(CASE WHEN t <= 24 THEN dead1 ELSE 0 END) AS BIGINT)
           AS s1_dead,
         CAST(MAX(CASE WHEN t <= 24 THEN dead0 ELSE 0 END) AS BIGINT)
           AS s0_dead,
         CAST(MAX(CASE WHEN t <= 24 THEN deadp ELSE 0 END) AS BIGINT)
           AS sp_dead,
         CAST(MAX(n1_risk) AS BIGINT) AS n1_tot,
         CAST(MAX(n0_risk) AS BIGINT) AS n0_tot
  FROM lnq
)
SELECT n1_tot + n0_tot AS n_subjects,
       CAST(24 AS BIGINT) AS horizon_h,
       ROUND(EXP(spq / 1e9) * (1 - sp_dead), 6) AS observed_s,
       ROUND((CAST(n1_tot AS DOUBLE) * EXP(s1q / 1e9) * (1 - s1_dead)
              + CAST(n0_tot AS DOUBLE) * EXP(s0q / 1e9) * (1 - s0_dead))
             / (n1_tot + n0_tot), 6) AS expected_s,
       ROUND(EXP(spq / 1e9) * (1 - sp_dead)
             - (CAST(n1_tot AS DOUBLE) * EXP(s1q / 1e9) * (1 - s1_dead)
                + CAST(n0_tot AS DOUBLE) * EXP(s0q / 1e9) * (1 - s0_dead))
               / (n1_tot + n0_tot), 6) + 0.0 AS calib_diff,
       CASE WHEN (CAST(n1_tot AS DOUBLE) * EXP(s1q / 1e9) * (1 - s1_dead)
                  + CAST(n0_tot AS DOUBLE) * EXP(s0q / 1e9) * (1 - s0_dead))
                 / (n1_tot + n0_tot) > 0
            THEN ROUND(EXP(spq / 1e9) * (1 - sp_dead)
                 / ((CAST(n1_tot AS DOUBLE) * EXP(s1q / 1e9) * (1 - s1_dead)
                     + CAST(n0_tot AS DOUBLE) * EXP(s0q / 1e9)
                       * (1 - s0_dead))
                    / (n1_tot + n0_tot)), 6)
       END AS calib_ratio
FROM scalars
""")

#: Spark twin — the _HARRELL_C dialect replaces.
_SURV_CALIB_SPARK = _SURV_CALIB.replace(
    "epoch_us(ts)", "unix_micros(CAST(ts AS TIMESTAMP))"
).replace(
    "(COALESCE(fp, last) - start) // 3600000000",
    "(COALESCE(fp, last) - start) DIV 3600000000",
)


def _events_survival_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration-in-the-large of the parity-cohort KM model at the
    24 h horizon: observed pooled KM vs cohort-size-weighted mean
    predicted survival, as a difference (+ 0.0 normalized) and a
    ratio. See _SURV_CALIB."""
    load(spark, sf_dir)
    return spark.sql(_SURV_CALIB_SPARK)


QUERIES["events_survival_calibration"] = _events_survival_calibration
ORACLES["events_survival_calibration"] = _SURV_CALIB


# ---------------------------------------------------------------------------
# Cutler's RSI(14) on the daily purchase close — the bounded-momentum
# oscillator beside window_bollinger/window_atr/window_donchian
# (volatility and channel members of the technical family). Cutler's
# simple-average form (not Wilder's recursive smoothing, which is an
# infinite-memory recursion a window cannot express exactly — the
# documented choice): RSI = 100 * sumGain14 / (sumGain14 + sumLoss14),
# the mean denominators cancelling, so the whole statistic is TWO exact
# bigint window folds and one terminal division.
#
# Daily close = last purchase cents of the day by (ts, event_id) — the
# events_ohlc convention; first-row NULL diffs are filtered before the
# window so both engines fold the identical 14-term sets; emitted only
# where the full 14-day history exists. The daily relation is bounded
# by the calendar span, not row count — scale-free output.
# ---------------------------------------------------------------------------
_RSI = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d,
         CAST(ROUND(value * 100, 0) AS BIGINT) AS c,
         ROW_NUMBER() OVER (PARTITION BY CAST(ts AS DATE)
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
),
chg AS (
  SELECT d, c, c - LAG(c) OVER (ORDER BY d) AS diff
  FROM daily WHERE rn = 1
),
gl AS (
  SELECT d,
         CAST(SUM(CASE WHEN diff > 0 THEN diff ELSE 0 END) OVER w14
              AS BIGINT) AS sgain,
         CAST(SUM(CASE WHEN diff < 0 THEN -diff ELSE 0 END) OVER w14
              AS BIGINT) AS sloss,
         COUNT(diff) OVER w14 AS n14
  FROM chg WHERE diff IS NOT NULL
  WINDOW w14 AS (ORDER BY d ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
)
SELECT d AS day, sgain AS gain_cents_14, sloss AS loss_cents_14,
       CASE WHEN sgain + sloss > 0
            THEN ROUND(100e0 * sgain / (sgain + sloss), 6) END AS rsi_14
FROM gl WHERE n14 = 14 ORDER BY day
"""


def _window_rsi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cutler's RSI(14) over the daily purchase close — exact bigint
    gain/loss window folds, one terminal division. See _RSI."""
    load(spark, sf_dir)
    return spark.sql(_RSI)


QUERIES["window_rsi"] = _window_rsi
ORACLES["window_rsi"] = _RSI


def _streaming_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of agg_jarque_bera
    (streaming.materialized_jarque_bera): per-type seven-bigint moment
    state + domain-bounded distinct state run to completion, then the
    batch terminal tail verbatim — graded by the SAME oracle (27th
    stream==batch automaton, 26th registry twin)."""
    load(spark, sf_dir)
    from datafusion_gpu_spark import streaming

    return streaming.materialized_jarque_bera(spark, sf_dir)


QUERIES["streaming_jarque_bera"] = _streaming_jarque_bera
ORACLES["streaming_jarque_bera"] = _JARQUE_BERA


# ---------------------------------------------------------------------------
# Welch's heteroscedastic one-way ANOVA (Welch 1951) across the five
# event types — the k-group member of the unequal-variance family:
# agg_anova_f assumes equal variances (and agg_brown_forsythe TESTS
# that assumption); when it fails, Welch's F* with Satterthwaite-style
# df is the test to run, exactly as agg_welch_ttest replaces
# events_ab_test at k = 2.
#
# Spelling discipline (the _ANOVA_F cross-group precedent): per-group
# moments (n, s1, s2) are exact bigint cent folds; each group's float
# terms quantize ONCE (w_i = n_i/v_i at 1e9; w_i*m_i at 1e6;
# w_i*(m_i - xbar_w)^2 at 1e3; (1-w_i/W)^2/(n_i-1) at 1e12) before the
# cross-group sums, so the k-row folds are exact integers — a plain
# double SUM over groups would be accumulation-order-dependent
# cross-engine. xbar_w needs the first fold, so the second pass joins
# the one-row fold back (exempt cross). Degenerate guard: groups with
# one distinct value (v = 0) are EXCLUDED and k_used reports how many
# entered. VISIBLE headroom: the 1e3-quantized deviation terms wrap
# once w*(m-xw)^2 ~ n*delta^2/v reaches 9e15 — NULL via the guard on
# the folded magnitudes.
# ---------------------------------------------------------------------------
_WELCH_ANOVA = _with(_CENTS_GRP, """
g AS (
  SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(c) AS BIGINT) AS s1,
         CAST(SUM(c * c) AS BIGINT) AS s2,
         CAST(COUNT(DISTINCT c) AS BIGINT) AS nv
  FROM t GROUP BY grp
),
p AS (
  SELECT grp, n,
         CAST(s1 AS DOUBLE) / n AS m,
         (CAST(n AS DOUBLE) * s2 - CAST(s1 AS DOUBLE) * s1)
           / (CAST(n AS DOUBLE) * (n - 1)) AS v
  FROM g WHERE nv > 1 AND n > 1
),
q1 AS (
  SELECT grp, n, m, v,
         CAST(ROUND(1e9 * n / v, 0) AS BIGINT) AS wq,
         CAST(ROUND(1e6 * n / v * m, 0) AS BIGINT) AS wmq
  FROM p
),
f1 AS (
  SELECT CAST(SUM(wq) AS BIGINT) AS w9,
         CAST(SUM(wmq) AS BIGINT) AS wm6,
         CAST(COUNT(*) AS BIGINT) AS k
  FROM q1
),
q2 AS (
  SELECT q1.grp, q1.n, f1.k, f1.w9,
         CAST(ROUND(1e3 * (q1.n / q1.v)
              * (q1.m - 1000e0 * f1.wm6 / f1.w9)
              * (q1.m - 1000e0 * f1.wm6 / f1.w9), 0) AS BIGINT) AS aq,
         CAST(ROUND(1e12 * (1e0 - q1.wq / CAST(f1.w9 AS DOUBLE))
              * (1e0 - q1.wq / CAST(f1.w9 AS DOUBLE))
              / (q1.n - 1), 0) AS BIGINT) AS hq
  FROM q1 CROSS JOIN f1
),
f2 AS (
  SELECT CAST(MAX(k) AS BIGINT) AS k,
         CAST(SUM(aq) AS BIGINT) AS a3,
         CAST(SUM(hq) AS BIGINT) AS h12,
         CAST(MAX(ABS(aq)) AS BIGINT) AS mxa
  FROM q2
)
SELECT k AS k_used, k - 1 AS df1,
       CASE WHEN k > 1 AND CAST(mxa AS DOUBLE) * k < 9e18 THEN
         ROUND((a3 / 1e3 / (k - 1))
               / (1e0 + (2e0 * (k - 2) / (CAST(k AS DOUBLE) * k - 1))
                        * (h12 / 1e12)), 6) END AS f_welch,
       CASE WHEN k > 1 AND h12 > 0 THEN
         ROUND((CAST(k AS DOUBLE) * k - 1) / (3e0 * (h12 / 1e12)), 2)
       END AS df2
FROM f2
""")


def _agg_welch_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance one-way ANOVA across event types —
    per-group terms quantized before the exact cross-group folds, F*
    and Satterthwaite df terminal. See _WELCH_ANOVA."""
    load(spark, sf_dir)
    return spark.sql(_WELCH_ANOVA)


QUERIES["agg_welch_anova"] = _agg_welch_anova
ORACLES["agg_welch_anova"] = _WELCH_ANOVA


# ---------------------------------------------------------------------------
# Bartlett's test of equal variances (Bartlett 1937) across the five
# event types — the LIKELIHOOD-RATIO homogeneity test beside
# agg_brown_forsythe's robust median-deviation one: Bartlett is the
# more powerful member when the data are near-normal (which
# agg_jarque_bera now checks), Brown-Forsythe the safe default.
# B = ((N-k) ln s_p^2 - sum (n_i-1) ln v_i) / C with the standard
# Bartlett correction C.
#
# Spelling: per-group (n_i-1)v_i and (n_i-1)ln(v_i) and 1/(n_i-1)
# quantize ONCE (1e3 / 1e9 / 1e12) before exact cross-group folds
# (one libm LN per GROUP, the greenwood discipline); the pooled
# ln s_p^2 is ONE terminal libm call on the folded exact operands.
# Groups with zero variance are excluded (k_used reports the count).
# VISIBLE guard: the 1e3-quantized SSW fold wraps at ~9e15 cents^2
# of pooled squared error — NULL past it.
# ---------------------------------------------------------------------------
_BARTLETT = _with(_CENTS_GRP, """
g AS (
  SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(c) AS BIGINT) AS s1,
         CAST(SUM(c * c) AS BIGINT) AS s2,
         CAST(COUNT(DISTINCT c) AS BIGINT) AS nv
  FROM t GROUP BY grp
),
p AS (
  SELECT grp, n,
         (CAST(n AS DOUBLE) * s2 - CAST(s1 AS DOUBLE) * s1)
           / (CAST(n AS DOUBLE) * (n - 1)) AS v
  FROM g WHERE nv > 1 AND n > 1
),
q AS (
  SELECT n,
         CAST(ROUND(1e3 * (n - 1) * v, 0) AS BIGINT) AS sswq,
         CAST(ROUND(1e9 * (n - 1) * LN(v), 0) AS BIGINT) AS slnq,
         CAST(ROUND(1e12 / (n - 1), 0) AS BIGINT) AS rinq
  FROM p
),
f AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(n) AS BIGINT) AS nt,
         CAST(SUM(sswq) AS BIGINT) AS ssw3,
         CAST(SUM(slnq) AS BIGINT) AS sln9,
         CAST(SUM(rinq) AS BIGINT) AS rin12,
         CAST(MAX(sswq) AS BIGINT) AS mxs
  FROM q
)
SELECT k AS k_used, nt AS n_total, k - 1 AS df,
       CASE WHEN k > 1 AND nt > k AND ssw3 > 0
             AND CAST(mxs AS DOUBLE) * k < 9e18 THEN
         ROUND(((nt - k) * LN(ssw3 / 1e3 / (nt - k)) - sln9 / 1e9)
               / (1e0 + (rin12 / 1e12 - 1e0 / (nt - k))
                        / (3e0 * (k - 1))), 6) END AS bartlett_stat,
       CASE WHEN k > 1 AND nt > k AND ssw3 > 0
             AND CAST(mxs AS DOUBLE) * k < 9e18 THEN
         ((nt - k) * LN(ssw3 / 1e3 / (nt - k)) - sln9 / 1e9)
         / (1e0 + (rin12 / 1e12 - 1e0 / (nt - k)) / (3e0 * (k - 1)))
         > 9.487729 END AS reject_05
FROM f
""")


def _agg_bartlett(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bartlett's equal-variance test across event types — per-group
    quantized LN/SSW folds, one terminal pooled LN, vs chi-square(4)
    at 9.487729. See _BARTLETT."""
    load(spark, sf_dir)
    return spark.sql(_BARTLETT)


QUERIES["agg_bartlett"] = _agg_bartlett
ORACLES["agg_bartlett"] = _BARTLETT


# ---------------------------------------------------------------------------
# Lin's concordance correlation coefficient (Lin 1989) between each
# user's mean click cents and mean purchase cents — the AGREEMENT
# member of the correlation family: Pearson r rewards any linear
# relation; CCC = 2 s_xy / (s_x^2 + s_y^2 + (xbar-ybar)^2) only rewards
# agreement with the 45-degree line, which is what "do clicks predict
# purchase spend one-to-one" actually asks (the method-comparison
# statistic of clinical chemistry, re-read as a metric-parity gate).
#
# Spelling: per-user means quantize ONCE to integer cents (one
# correctly-rounded IEEE division per user on exact bigint sums); the
# (x, y) moment folds are then exact bigints and both CCC and Pearson
# r are terminal expressions on the n^2-cleared identities. VISIBLE
# guard: the sxx/syy folds wrap once n * mx^2 reaches 9e18.
# ---------------------------------------------------------------------------
_LIN_CCC = """
WITH pu AS (
  SELECT user_id,
         CAST(SUM(CASE WHEN event_type = 'click'
              THEN CAST(ROUND(value * 100, 0) AS BIGINT) END) AS BIGINT) AS sc,
         CAST(COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS ncl,
         CAST(SUM(CASE WHEN event_type = 'purchase'
              THEN CAST(ROUND(value * 100, 0) AS BIGINT) END) AS BIGINT) AS sp,
         CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS np
  FROM events WHERE value IS NOT NULL GROUP BY user_id
),
pairs AS (
  SELECT CAST(ROUND(CAST(sc AS DOUBLE) / ncl, 0) AS BIGINT) AS x,
         CAST(ROUND(CAST(sp AS DOUBLE) / np, 0) AS BIGINT) AS y
  FROM pu WHERE ncl > 0 AND np > 0
),
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(MAX(GREATEST(ABS(x), ABS(y))) AS BIGINT) AS mx
  FROM pairs
)
SELECT n AS n_pairs,
       CASE WHEN n > 1 AND CAST(n AS DOUBLE) * mx * mx < 9e18
             AND (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                 * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy) > 0
            THEN ROUND((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                 / SQRT((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                        * (CAST(n AS DOUBLE) * syy
                           - CAST(sy AS DOUBLE) * sy)), 6)
       END AS pearson_r,
       CASE WHEN n > 1 AND CAST(n AS DOUBLE) * mx * mx < 9e18
             AND (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                 + (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)
                 + (CAST(sx AS DOUBLE) - sy) * (CAST(sx AS DOUBLE) - sy) > 0
            THEN ROUND(2e0 * (CAST(n AS DOUBLE) * sxy
                              - CAST(sx AS DOUBLE) * sy)
                 / ((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                    + (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)
                    + (CAST(sx AS DOUBLE) - sy)
                      * (CAST(sx AS DOUBLE) - sy)), 6)
       END AS ccc
FROM m
"""


def _agg_lin_ccc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lin's concordance correlation (with Pearson r beside it) between
    per-user mean click and purchase cents — exact moment folds on
    once-quantized user means, two terminal divisions. See _LIN_CCC."""
    load(spark, sf_dir)
    return spark.sql(_LIN_CCC)


QUERIES["agg_lin_ccc"] = _agg_lin_ccc
ORACLES["agg_lin_ccc"] = _LIN_CCC


# ---------------------------------------------------------------------------
# Bland-Altman agreement interval (Bland & Altman 1986) on the SAME
# per-user (mean click, mean purchase) pairs — CCC compresses agreement
# to one number; the B-A bias +- 1.96 sd limits say WHERE the two
# measures disagree and flag the users outside the limits (the
# method-comparison plot's numbers, which is what a data-quality gate
# stores). Differences are exact integer cents; the limits are
# terminal; the outside-count joins the one-row fold back (exempt
# cross). VISIBLE guard: the d^2 fold wraps once n * mxd^2 reaches
# 9e18.
# ---------------------------------------------------------------------------
_BLAND_ALTMAN = """
WITH pu AS (
  SELECT user_id,
         CAST(SUM(CASE WHEN event_type = 'click'
              THEN CAST(ROUND(value * 100, 0) AS BIGINT) END) AS BIGINT) AS sc,
         CAST(COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS ncl,
         CAST(SUM(CASE WHEN event_type = 'purchase'
              THEN CAST(ROUND(value * 100, 0) AS BIGINT) END) AS BIGINT) AS sp,
         CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS np
  FROM events WHERE value IS NOT NULL GROUP BY user_id
),
pairs AS (
  SELECT CAST(ROUND(CAST(sc AS DOUBLE) / ncl, 0) AS BIGINT)
         - CAST(ROUND(CAST(sp AS DOUBLE) / np, 0) AS BIGINT) AS d
  FROM pu WHERE ncl > 0 AND np > 0
),
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(d) AS BIGINT) AS sd1,
         CAST(SUM(d * d) AS BIGINT) AS sd2,
         CAST(MAX(ABS(d)) AS BIGINT) AS mxd
  FROM pairs
),
lim AS (
  SELECT n, sd1, sd2,
         CAST(n AS DOUBLE) * mxd * mxd < 9e18 AS headroom,
         CAST(sd1 AS DOUBLE) / n AS bias,
         SQRT((CAST(n AS DOUBLE) * sd2 - CAST(sd1 AS DOUBLE) * sd1)
              / (CAST(n AS DOUBLE) * (n - 1))) AS sdd
  FROM m WHERE n > 1
)
SELECT n AS n_pairs,
       CASE WHEN headroom THEN ROUND(bias, 6) END AS bias_cents,
       CASE WHEN headroom THEN ROUND(sdd, 6) END AS sd_cents,
       CASE WHEN headroom
            THEN ROUND(bias - 1.959964 * sdd, 6) END AS loa_lo,
       CASE WHEN headroom
            THEN ROUND(bias + 1.959964 * sdd, 6) END AS loa_hi,
       CASE WHEN headroom THEN (
         SELECT CAST(SUM(CASE WHEN p.d < l2.bias - 1.959964 * l2.sdd
                               OR p.d > l2.bias + 1.959964 * l2.sdd
                              THEN 1 ELSE 0 END) AS BIGINT)
         FROM pairs p CROSS JOIN lim l2
       ) END AS n_outside
FROM lim
"""


def _agg_bland_altman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bland-Altman bias and 95% limits of agreement on the per-user
    (mean click, mean purchase) cent pairs, with the outside-limits
    count. See _BLAND_ALTMAN."""
    load(spark, sf_dir)
    return spark.sql(_BLAND_ALTMAN)


QUERIES["agg_bland_altman"] = _agg_bland_altman
ORACLES["agg_bland_altman"] = _BLAND_ALTMAN


# ---------------------------------------------------------------------------
# Mann-Kendall trend test (Mann 1945; Kendall 1975) on the hourly
# purchase-revenue series — the SIGNIFICANCE member of the robust-trend
# family: events_theil_sen/siegel ESTIMATE the slope; MK tests whether
# ANY monotone trend exists, distribution-free (it is Kendall's S of
# value vs time). S = sum_{i<j} sign(y_j - y_i), tie-corrected
# Var(S) = (n(n-1)(2n+5) - sum t(t-1)(2t+5)) / 18, continuity-corrected
# z = (S -+ 1)/sqrt(Var).
#
# Pair space = the wall-clock-bounded hourly relation self-joined on
# x_a < x_b — the SAME allow-listed bounded pair join as
# events_theil_sen (8,760 rows/year regardless of data volume; never
# data x data); S and the tie fold are exact bigints, z terminal.
# VISIBLE guard: n^3 * 2 < 9e18 bounds the variance folds (~1.6e6
# buckets — 190 years of hours).
# ---------------------------------------------------------------------------
_MANN_KENDALL = _with(_HOURLY_PURCHASE, """
pairs AS (
  SELECT CASE WHEN b.y > a.y THEN 1 WHEN b.y < a.y THEN -1 ELSE 0 END AS sgn
  FROM hourly a JOIN hourly b ON a.x < b.x
),
s AS (SELECT CAST(SUM(sgn) AS BIGINT) AS s_mk FROM pairs),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM hourly),
ties AS (
  SELECT CAST(COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
           AS tcorr
  FROM (SELECT y, CAST(COUNT(*) AS BIGINT) AS t FROM hourly GROUP BY y) g
  WHERE g.t > 1
),
v AS (
  SELECT n, s_mk,
         CAST(n AS DOUBLE) * n * n * 2 < 9e18 AS headroom,
         (CAST(n AS DOUBLE) * (n - 1) * (2 * n + 5) - tcorr) / 18e0 AS var_s
  FROM s CROSS JOIN nn CROSS JOIN ties
)
SELECT n AS n_buckets, s_mk,
       CASE WHEN headroom THEN ROUND(var_s, 6) END AS var_s,
       CASE WHEN headroom AND var_s > 0 THEN
         ROUND((CAST(s_mk AS DOUBLE)
                - CASE WHEN s_mk > 0 THEN 1 WHEN s_mk < 0 THEN -1
                       ELSE 0 END) / SQRT(var_s), 6) END AS z_mk,
       CASE WHEN headroom AND var_s > 0 THEN
         ABS((CAST(s_mk AS DOUBLE)
              - CASE WHEN s_mk > 0 THEN 1 WHEN s_mk < 0 THEN -1 ELSE 0 END)
             / SQRT(var_s)) > 1.959964 END AS reject_05
FROM v
""")

#: Spark twin — identical except the epoch spelling (the _HURST
#: dialect-replace precedent).
_MANN_KENDALL_SPARK = _MANN_KENDALL.replace(
    "epoch_us(ts) // 3600000000",
    "unix_micros(CAST(ts AS TIMESTAMP)) DIV 3600000000",
)


def _events_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall monotone-trend test of hourly purchase revenue —
    exact S over the wall-clock-bounded pair space, tie-corrected
    variance, continuity-corrected z. See _MANN_KENDALL."""
    load(spark, sf_dir)
    return spark.sql(_MANN_KENDALL_SPARK)


QUERIES["events_mann_kendall"] = _events_mann_kendall
ORACLES["events_mann_kendall"] = _MANN_KENDALL


# ---------------------------------------------------------------------------
# Page's trend test (Page 1963) for an ORDERED alternative across the
# month's three 10-day segments, blocked by user — the directional
# sibling of agg_friedman's blocked design: Friedman asks "do the
# periods differ at all?"; Page asks "does per-user spend INCREASE
# early -> mid -> late month?" with far more power when the truth is
# monotone (the blocked analogue of agg_cochran_armitage). Blocks are
# users with value-bearing activity in ALL three segments (complete
# blocks, the textbook requirement). L = sum_j j * R_j over within-user
# ranks; with k = 3 treatments E[L] = 12m and Var(L) = 2m, so
# z = (L - 12m)/sqrt(2m) — spelled on the DOUBLED ranks as
# (L2 - 24m)/(2 sqrt(2m)).
#
# Spelling: doubled average ranks keep the rank algebra integer (the
# _FRIEDMAN machinery on the segment axis); L2 is an exact bigint
# fold; one-sided rejection at z > 1.644854 (Page's test is
# directional by construction — documented). VISIBLE guard: m * 36
# bounds L2, so outputs NULL once CAST(m AS DOUBLE) * 36 >= 9e18.
# ---------------------------------------------------------------------------
_PAGE_TREND = _with(_SEGMENTS, """
rk AS (
  SELECT s.user_id, s.j,
         CAST(2 * RANK() OVER (PARTITION BY s.user_id ORDER BY s.v)
              + COUNT(*) OVER (PARTITION BY s.user_id, s.v) - 1
              AS BIGINT) AS r2
  FROM seg s JOIN blocks b ON s.user_id = b.user_id
),
lsum AS (SELECT CAST(SUM(j * r2) AS BIGINT) AS l2 FROM rk),
nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM blocks)
SELECT m AS n_blocks, l2,
       CASE WHEN m > 0 AND CAST(m AS DOUBLE) * 36 < 9e18 THEN
         ROUND((l2 - 24e0 * m) / (2e0 * SQRT(2e0 * m)), 6) END AS z_page,
       CASE WHEN m > 0 AND CAST(m AS DOUBLE) * 36 < 9e18 THEN
         (l2 - 24e0 * m) / (2e0 * SQRT(2e0 * m)) > 1.644854
       END AS reject_increasing_05
FROM lsum CROSS JOIN nb
""")


def _events_page_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page's ordered-alternative trend test across the month's three
    10-day segments, blocked by user — doubled-rank integer folds,
    one-sided z. See _PAGE_TREND."""
    load(spark, sf_dir)
    return spark.sql(_PAGE_TREND)


QUERIES["events_page_trend"] = _events_page_trend
ORACLES["events_page_trend"] = _PAGE_TREND


# ---------------------------------------------------------------------------
# Theil's uncertainty coefficient (Theil 1970) on the priority x status
# contingency — the ENTROPY member of the association family:
# Cramer's V is symmetric and chi-square-scaled; U(Y|X) =
# (H(Y) - H(Y|X)) / H(Y) reads as "what fraction of the uncertainty in
# status does knowing priority remove", directional and in [0, 1] (the
# proportional-reduction-in-uncertainty reading analysts actually
# want). Emits both directions and the symmetric coefficient
# 2(H(X) + H(Y) - H(X,Y)) / (H(X) + H(Y)).
#
# Spelling: all probabilities are exact bigint count ratios; each
# entropy term quantizes ONCE to 1e-12 per cell/margin (libm LN on
# identical exact inputs, the greenwood discipline), folds are exact,
# the three U's are terminal divisions. VISIBLE guard: a 1e-12 term is
# bounded by 0.37e12 (max of p ln 1/p), so the fold is safe to ~2.4e7
# CELLS — domain-bounded here (15), guarded for the general shape.
# ---------------------------------------------------------------------------
_UNCERTAINTY_COEFF = """
WITH obs AS (
  SELECT o_orderpriority AS x, o_orderstatus AS y,
         CAST(COUNT(*) AS BIGINT) AS o
  FROM orders GROUP BY o_orderpriority, o_orderstatus
),
xt AS (SELECT x, CAST(SUM(o) AS BIGINT) AS nx FROM obs GROUP BY x),
yt AS (SELECT y, CAST(SUM(o) AS BIGINT) AS ny FROM obs GROUP BY y),
tot AS (SELECT CAST(SUM(o) AS BIGINT) AS nt FROM obs),
hx AS (
  SELECT CAST(SUM(CAST(ROUND(1e12 * (CAST(nx AS DOUBLE) / nt)
              * LN(CAST(nt AS DOUBLE) / nx), 0) AS BIGINT)) AS BIGINT) AS hq,
         CAST(COUNT(*) AS BIGINT) AS kx
  FROM xt CROSS JOIN tot
),
hy AS (
  SELECT CAST(SUM(CAST(ROUND(1e12 * (CAST(ny AS DOUBLE) / nt)
              * LN(CAST(nt AS DOUBLE) / ny), 0) AS BIGINT)) AS BIGINT) AS hq,
         CAST(COUNT(*) AS BIGINT) AS ky
  FROM yt CROSS JOIN tot
),
hxy AS (
  SELECT CAST(SUM(CAST(ROUND(1e12 * (CAST(o AS DOUBLE) / nt)
              * LN(CAST(nt AS DOUBLE) / o), 0) AS BIGINT)) AS BIGINT) AS hq,
         CAST(COUNT(*) AS BIGINT) AS n_cells
  FROM obs CROSS JOIN tot
)
SELECT n_cells, kx AS k_x, ky AS k_y,
       ROUND(hx.hq / 1e12, 6) AS h_x,
       ROUND(hy.hq / 1e12, 6) AS h_y,
       ROUND(hxy.hq / 1e12, 6) AS h_xy,
       CASE WHEN hy.hq > 0 AND n_cells < 24000000 THEN
         ROUND(CAST(hx.hq + hy.hq - hxy.hq AS DOUBLE) / hy.hq, 6)
       END AS u_y_given_x,
       CASE WHEN hx.hq > 0 AND n_cells < 24000000 THEN
         ROUND(CAST(hx.hq + hy.hq - hxy.hq AS DOUBLE) / hx.hq, 6)
       END AS u_x_given_y,
       CASE WHEN hx.hq + hy.hq > 0 AND n_cells < 24000000 THEN
         ROUND(2e0 * (hx.hq + hy.hq - hxy.hq) / (hx.hq + hy.hq), 6)
       END AS u_symmetric
FROM hx CROSS JOIN hy CROSS JOIN hxy
"""


def _agg_uncertainty_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil's U (both directions + symmetric) between order priority
    and status — 1e-12-quantized entropy folds on exact count ratios,
    terminal divisions. See _UNCERTAINTY_COEFF."""
    load(spark, sf_dir)
    return spark.sql(_UNCERTAINTY_COEFF)


QUERIES["agg_uncertainty_coeff"] = _agg_uncertainty_coeff
ORACLES["agg_uncertainty_coeff"] = _UNCERTAINTY_COEFF


# ---------------------------------------------------------------------------
# Goodman-Kruskal lambda (Goodman & Kruskal 1954) on the same
# contingency — the MODAL-PREDICTION association: lambda(Y|X) = how
# much better you predict status by guessing each priority's modal
# status instead of the global modal status:
# (sum_x max_y n_xy - max_y n_y) / (N - max_y n_y). PURE integer
# arithmetic — counts, maxima, one terminal division per direction —
# the only member of the association family with NO float ops at all.
# ---------------------------------------------------------------------------
_GK_LAMBDA = """
WITH obs AS (
  SELECT o_orderpriority AS x, o_orderstatus AS y,
         CAST(COUNT(*) AS BIGINT) AS o
  FROM orders GROUP BY o_orderpriority, o_orderstatus
),
tot AS (SELECT CAST(SUM(o) AS BIGINT) AS nt FROM obs),
rowmax AS (
  SELECT CAST(SUM(mx) AS BIGINT) AS srm
  FROM (SELECT x, CAST(MAX(o) AS BIGINT) AS mx FROM obs GROUP BY x)
),
colmax AS (
  SELECT CAST(SUM(mx) AS BIGINT) AS scm
  FROM (SELECT y, CAST(MAX(o) AS BIGINT) AS mx FROM obs GROUP BY y)
),
ymarg AS (
  SELECT CAST(MAX(ny) AS BIGINT) AS mny
  FROM (SELECT y, CAST(SUM(o) AS BIGINT) AS ny FROM obs GROUP BY y)
),
xmarg AS (
  SELECT CAST(MAX(nx) AS BIGINT) AS mnx
  FROM (SELECT x, CAST(SUM(o) AS BIGINT) AS nx FROM obs GROUP BY x)
)
SELECT nt AS n_total, srm AS sum_row_modes, mny AS global_y_mode,
       CASE WHEN nt > mny THEN
         ROUND(CAST(srm - mny AS DOUBLE) / (nt - mny), 6)
       END AS lambda_y_given_x,
       CASE WHEN nt > mnx THEN
         ROUND(CAST(scm - mnx AS DOUBLE) / (nt - mnx), 6)
       END AS lambda_x_given_y
FROM tot CROSS JOIN rowmax CROSS JOIN colmax
     CROSS JOIN ymarg CROSS JOIN xmarg
"""


def _agg_gk_lambda(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goodman-Kruskal lambda (both directions) between order priority
    and status — all-integer modal-prediction folds, one terminal
    division each. See _GK_LAMBDA."""
    load(spark, sf_dir)
    return spark.sql(_GK_LAMBDA)


QUERIES["agg_gk_lambda"] = _agg_gk_lambda
ORACLES["agg_gk_lambda"] = _GK_LAMBDA


# ---------------------------------------------------------------------------
# Cohen's h (Cohen 1988) — the EFFECT-SIZE companion of
# events_proportion_ztest and events_ab_srm: the arcsine-stabilized
# difference of two proportions, h = 2 asin(sqrt(p1)) - 2 asin(sqrt(p2)),
# whose interpretation thresholds (0.2 small / 0.5 medium / 0.8 large)
# do not depend on the base rate the way a raw difference does. Here:
# the purchase share of each user_id-parity cohort (the A/B split every
# cohort gate uses). Counts are exact bigints; h is one terminal
# expression (ASIN/SQRT on identical exact ratios — the hurst terminal
# libm precedent), so the only rounding is the output's 6dp grid.
# ---------------------------------------------------------------------------
_COHENS_H = """
WITH t AS (
  SELECT user_id % 2 AS grp,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM events
),
g AS (
  SELECT grp, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS k
  FROM t GROUP BY grp
),
w AS (
  SELECT
    CAST(MAX(CASE WHEN grp = 0 THEN n END) AS BIGINT) AS n0,
    CAST(MAX(CASE WHEN grp = 0 THEN k END) AS BIGINT) AS k0,
    CAST(MAX(CASE WHEN grp = 1 THEN n END) AS BIGINT) AS n1,
    CAST(MAX(CASE WHEN grp = 1 THEN k END) AS BIGINT) AS k1
  FROM g
)
SELECT n0, k0, n1, k1,
       ROUND(CAST(k1 AS DOUBLE) / n1 - CAST(k0 AS DOUBLE) / n0, 6)
         AS p_diff,
       CASE WHEN n0 > 0 AND n1 > 0 THEN
         ROUND(2e0 * ASIN(SQRT(CAST(k1 AS DOUBLE) / n1))
               - 2e0 * ASIN(SQRT(CAST(k0 AS DOUBLE) / n0)), 6)
       END AS cohens_h,
       CASE WHEN n0 > 0 AND n1 > 0 THEN
         ABS(2e0 * ASIN(SQRT(CAST(k1 AS DOUBLE) / n1))
             - 2e0 * ASIN(SQRT(CAST(k0 AS DOUBLE) / n0))) >= 0.2
       END AS at_least_small
FROM w
"""


def _agg_cohens_h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's h between the parity cohorts' purchase shares — exact
    count folds, one terminal arcsine expression. See _COHENS_H."""
    load(spark, sf_dir)
    return spark.sql(_COHENS_H)


QUERIES["agg_cohens_h"] = _agg_cohens_h
ORACLES["agg_cohens_h"] = _COHENS_H


# ---------------------------------------------------------------------------
# Cronbach's alpha (Cronbach 1951) over the month's three 10-day
# segment spends per user (the complete-blocks design shared with
# events_page_trend) — the internal-consistency gate: do the three
# period measurements "hang together" as one underlying spend trait?
# alpha = k/(k-1) * (1 - sum_j var_j / var_total). Everything from
# exact bigint cent moments (per-item sums/squares across users; the
# per-user total's moments for var_total); sample variances (ddof = 1,
# documented) as terminal expressions. VISIBLE guard: the s2 folds
# wrap once n * mx^2 reaches 9e18 (mx = max |segment cents|, folded).
# ---------------------------------------------------------------------------
_CRONBACH_ALPHA = _with(_SEGMENTS, """
items AS (
  SELECT s.user_id, s.j, s.v
  FROM seg s JOIN blocks b ON s.user_id = b.user_id
),
peritem AS (
  SELECT j, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(v) AS BIGINT) AS s1,
         CAST(SUM(v * v) AS BIGINT) AS s2
  FROM items GROUP BY j
),
itemvar AS (
  SELECT CAST(SUM(CAST(ROUND(1e3 * (CAST(n AS DOUBLE) * s2
              - CAST(s1 AS DOUBLE) * s1)
              / (CAST(n AS DOUBLE) * (n - 1)), 0) AS BIGINT)) AS BIGINT)
           AS sv3,
         CAST(COUNT(*) AS BIGINT) AS k
  FROM peritem WHERE n > 1
),
totals AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(t) AS BIGINT) AS s1,
         CAST(SUM(t * t) AS BIGINT) AS s2,
         CAST(MAX(ABS(t)) AS BIGINT) AS mx
  FROM (SELECT user_id, CAST(SUM(v) AS BIGINT) AS t
        FROM items GROUP BY user_id)
)
SELECT t.n AS n_blocks, i.k AS k_items,
       CASE WHEN t.n > 1 AND i.k > 1
             AND CAST(t.n AS DOUBLE) * mx * mx < 9e18
             AND (CAST(t.n AS DOUBLE) * t.s2
                  - CAST(t.s1 AS DOUBLE) * t.s1) > 0 THEN
         ROUND((CAST(i.k AS DOUBLE) / (i.k - 1))
               * (1e0 - (i.sv3 / 1e3)
                  / ((CAST(t.n AS DOUBLE) * t.s2
                      - CAST(t.s1 AS DOUBLE) * t.s1)
                     / (CAST(t.n AS DOUBLE) * (t.n - 1)))), 6)
       END AS cronbach_alpha
FROM itemvar i CROSS JOIN totals t
""")


def _agg_cronbach_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cronbach's alpha over the three 10-day segment spends per
    complete-block user — exact cent moment folds, per-item variances
    1e-3-quantized before the cross-item sum, terminal alpha. See
    _CRONBACH_ALPHA."""
    load(spark, sf_dir)
    return spark.sql(_CRONBACH_ALPHA)


QUERIES["agg_cronbach_alpha"] = _agg_cronbach_alpha
ORACLES["agg_cronbach_alpha"] = _CRONBACH_ALPHA


# ---------------------------------------------------------------------------
# Intraclass correlation ICC(1,1) (one-way random effects; Shrout &
# Fleiss 1979 case 1) on the same complete-blocks design — the
# agreement family's CONTINUOUS member (Fleiss kappa = categories,
# Kendall W = rankings, ICC = measurements): how much of the spend
# variance is BETWEEN users rather than between periods within a user?
# ICC = (MSB - MSW) / (MSB + (k-1) MSW), from the one-way ANOVA
# identities SSB = sum t_i^2/k - T^2/(nk), SSW = sum x^2 - sum t_i^2/k
# — every sum an exact bigint (t_i = the user's total), both MS and
# ICC terminal. VISIBLE guard: the t^2 fold wraps once n * mxt^2
# reaches 9e18.
# ---------------------------------------------------------------------------
_ICC = _with(_SEGMENTS, """
items AS (
  SELECT s.user_id, s.v
  FROM seg s JOIN blocks b ON s.user_id = b.user_id
),
f AS (
  SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n,
         CAST(SUM(v) AS BIGINT) AS st,
         CAST(SUM(v * v) AS BIGINT) AS sxx
  FROM items
),
u AS (
  SELECT CAST(SUM(t * t) AS BIGINT) AS st2,
         CAST(MAX(ABS(t)) AS BIGINT) AS mxt
  FROM (SELECT user_id, CAST(SUM(v) AS BIGINT) AS t
        FROM items GROUP BY user_id)
),
ms AS (
  SELECT n, CAST(n AS DOUBLE) * mxt * mxt < 9e18 AS headroom,
         (CAST(st2 AS DOUBLE) / 3 - CAST(st AS DOUBLE) * st
            / (3e0 * n)) / (n - 1) AS msb,
         (CAST(sxx AS DOUBLE) - CAST(st2 AS DOUBLE) / 3)
           / (CAST(n AS DOUBLE) * 2) AS msw
  FROM f CROSS JOIN u WHERE n > 1
)
SELECT n AS n_blocks, CAST(3 AS BIGINT) AS k_measurements,
       CASE WHEN headroom THEN ROUND(msb, 6) END AS ms_between,
       CASE WHEN headroom THEN ROUND(msw, 6) END AS ms_within,
       CASE WHEN headroom AND msb + 2 * msw > 0 THEN
         ROUND((msb - msw) / (msb + 2 * msw), 6) END AS icc_1_1
FROM ms
""")


def _agg_icc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ICC(1,1) of the three segment spends per complete-block user —
    exact one-way ANOVA sum folds, terminal MS and ICC. See _ICC."""
    load(spark, sf_dir)
    return spark.sql(_ICC)


QUERIES["agg_icc"] = _agg_icc
ORACLES["agg_icc"] = _ICC


def _streaming_log_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of agg_log_loss (streaming.materialized_log_loss):
    per-distinct-cent (dp, tc) count state run to completion, then the
    batch quantized-LN tail verbatim — graded by the SAME oracle (28th
    stream==batch automaton, 27th registry twin)."""
    load(spark, sf_dir)
    from datafusion_gpu_spark import streaming

    return streaming.materialized_log_loss(spark, sf_dir)


QUERIES["streaming_log_loss"] = _streaming_log_loss
ORACLES["streaming_log_loss"] = _LOG_LOSS


# ---------------------------------------------------------------------------
# Brunner-Munzel test (Brunner & Munzel 2000) for click vs purchase
# values — the modern replacement for Mann-Whitney when the two
# distributions may differ in SHAPE as well as location (MW's variance
# assumes exchangeability under H0; BM estimates each group's placement
# variance separately, the rank-world analogue of Welch vs pooled t).
# Estimand: p_hat = P(X < Y) + P(X = Y)/2 (the common-language effect).
#
# Spelling: everything lives on the distinct-cent relation. For a tied
# block c with (a_c, b_c) group counts, the pooled and within-group
# DOUBLED midranks are integers (2m = 2cumb + tc + 1, the MW algebra),
# so each block's doubled placement deviation q_c = 2m_c - 2mk_c is an
# exact integer and the group placement variances fold as exact bigint
# (sum a*q, sum a*q^2) with S_k^2 = (n_k sum aq^2 - (sum aq)^2) /
# (4 n_k (n_k - 1)) terminal. W and the Welch-Satterthwaite df are
# terminal expressions; the 5% decision uses the large-sample normal
# threshold (documented — a t quantile needs the emitted df and a
# table). VISIBLE guard: q_c <= 2N so the q^2 fold is bounded by
# 4N^3 — outputs NULL once CAST(n AS DOUBLE)*n*n*4 reaches 9e18
# (~1.3e6 rows; the same cubic bound _KRUSKAL_WALLIS documents).
# ---------------------------------------------------------------------------
_BRUNNER_MUNZEL = _with(_CENTS_POS, """
pv AS (
  SELECT c, CAST(SUM(pos) AS BIGINT) AS b,
         CAST(SUM(1 - pos) AS BIGINT) AS a,
         CAST(COUNT(*) AS BIGINT) AS tc
  FROM t GROUP BY c
),
cw AS (
  SELECT c, a, b, tc,
         COALESCE(CAST(SUM(tc) OVER (ORDER BY c
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              AS BIGINT), 0) AS cumb,
         COALESCE(CAST(SUM(a) OVER (ORDER BY c
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              AS BIGINT), 0) AS cuma,
         COALESCE(CAST(SUM(b) OVER (ORDER BY c
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              AS BIGINT), 0) AS cumbb
  FROM pv
),
q AS (
  SELECT a, b,
         (2 * cumb + tc + 1) - (2 * cuma + a + 1) AS qa,
         (2 * cumb + tc + 1) - (2 * cumbb + b + 1) AS qb
  FROM cw
),
f AS (
  SELECT CAST(SUM(a) AS BIGINT) AS n1, CAST(SUM(b) AS BIGINT) AS n2,
         CAST(SUM(a * qa) AS BIGINT) AS s1q,
         CAST(SUM(a * qa * qa) AS BIGINT) AS s1qq,
         CAST(SUM(b * qb) AS BIGINT) AS s2q,
         CAST(SUM(b * qb * qb) AS BIGINT) AS s2qq
  FROM q
),
v AS (
  SELECT n1, n2, s1q, s2q, n1 + n2 AS n,
         CAST(n1 + n2 AS DOUBLE) * (n1 + n2) * (n1 + n2) * 4 < 9e18
           AS headroom,
         (CAST(n1 AS DOUBLE) * s1qq - CAST(s1q AS DOUBLE) * s1q)
           / (4e0 * n1 * (n1 - 1)) AS v1,
         (CAST(n2 AS DOUBLE) * s2qq - CAST(s2q AS DOUBLE) * s2q)
           / (4e0 * n2 * (n2 - 1)) AS v2,
         (CAST(s2q AS DOUBLE) / (2e0 * n2)
          - CAST(s1q AS DOUBLE) / (2e0 * n1)
          + (CAST(n2 AS DOUBLE) - n1) / 2e0) AS mean_diff
  FROM f WHERE n1 > 1 AND n2 > 1
)
SELECT n1, n2,
       CASE WHEN headroom THEN
         ROUND(0.5 + (CAST(s2q AS DOUBLE) / (2e0 * n2)) / n1 / 2e0
               - (CAST(s1q AS DOUBLE) / (2e0 * n1)) / n2 / 2e0, 6)
       END AS p_hat_xy,
       CASE WHEN headroom AND n1 * v1 + n2 * v2 > 0 THEN
         ROUND(CAST(n1 AS DOUBLE) * n2 * mean_diff
               / (CAST(n AS DOUBLE)
                  * SQRT(CAST(n1 AS DOUBLE) * v1
                         + CAST(n2 AS DOUBLE) * v2)), 6)
       END AS w_bm,
       CASE WHEN headroom AND n1 * v1 + n2 * v2 > 0 THEN
         ROUND((CAST(n1 AS DOUBLE) * v1 + CAST(n2 AS DOUBLE) * v2)
               * (CAST(n1 AS DOUBLE) * v1 + CAST(n2 AS DOUBLE) * v2)
               / ((CAST(n1 AS DOUBLE) * v1) * (CAST(n1 AS DOUBLE) * v1)
                  / (n1 - 1)
                  + (CAST(n2 AS DOUBLE) * v2) * (CAST(n2 AS DOUBLE) * v2)
                    / (n2 - 1)), 2)
       END AS df_bm,
       CASE WHEN headroom AND n1 * v1 + n2 * v2 > 0 THEN
         ABS(CAST(n1 AS DOUBLE) * n2 * mean_diff
             / (CAST(n AS DOUBLE)
                * SQRT(CAST(n1 AS DOUBLE) * v1 + CAST(n2 AS DOUBLE) * v2)))
         > 1.959964 END AS reject_05_normal
FROM v
""")


def _agg_brunner_munzel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brunner-Munzel heteroscedastic rank test (click vs purchase
    values) — exact doubled-placement folds on the distinct-cent
    relation, terminal W / Satterthwaite df / p_hat. See
    _BRUNNER_MUNZEL."""
    load(spark, sf_dir)
    return spark.sql(_BRUNNER_MUNZEL)


QUERIES["agg_brunner_munzel"] = _agg_brunner_munzel
ORACLES["agg_brunner_munzel"] = _BRUNNER_MUNZEL


# ---------------------------------------------------------------------------
# Seasonal Mann-Kendall (Hirsch & Slack 1984) on the (hour-of-day x
# day) purchase grid — the trend test to run when the series has the
# strong diurnal cycle events_seasonality_strength measures: the plain
# MK compares 3am to 3pm values and calls the cycle "trend noise";
# the seasonal variant compares each hour-of-day ONLY with itself
# across days (S' = sum_g S_g) and sums the per-season variances, so
# diurnal structure cancels exactly.
#
# Spelling: the pair space is per-season (a.g = b.g AND a.d < b.d) —
# an EQUALITY-keyed join whose per-key width is the day count
# (wall-clock bounded, the theil_sen argument, but hash-joinable
# because the season key exists). S' and the x18-cleared variance
# numerator sum_g (n_g(n_g-1)(2n_g+5) - sum_t t(t-1)(2t+5)) are exact
# bigint folds; z is terminal with the continuity correction. VISIBLE
# guard: the per-season cubic is bounded by 48*max_n^3 — NULL once
# that reaches 9e18 (~570k days per season; five millennia of hours).
# ---------------------------------------------------------------------------
_SEASONAL_MK = """
WITH cellv AS (
  SELECT CAST(hour(ts) AS BIGINT) AS g, CAST(ts AS DATE) AS d,
         CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS y
  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
  GROUP BY 1, 2
),
pairs AS (
  SELECT CASE WHEN b.y > a.y THEN 1 WHEN b.y < a.y THEN -1 ELSE 0 END AS sgn
  FROM cellv a JOIN cellv b ON a.g = b.g AND a.d < b.d
),
s AS (SELECT CAST(COALESCE(SUM(sgn), 0) AS BIGINT) AS s_mk FROM pairs),
seas AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n FROM cellv GROUP BY g),
ties AS (
  SELECT q.g, CAST(SUM(q.t * (q.t - 1) * (2 * q.t + 5)) AS BIGINT) AS tc
  FROM (SELECT g, y, CAST(COUNT(*) AS BIGINT) AS t
        FROM cellv GROUP BY g, y) q
  WHERE q.t > 1 GROUP BY q.g
),
v AS (
  SELECT CAST(SUM(se.n) AS BIGINT) AS n_obs,
         CAST(COUNT(*) AS BIGINT) AS n_seasons,
         CAST(SUM(se.n * (se.n - 1) * (2 * se.n + 5)
                  - COALESCE(ti.tc, 0)) AS BIGINT) AS varnum18,
         CAST(MAX(se.n) AS BIGINT) AS mxn
  FROM seas se LEFT JOIN ties ti ON se.g = ti.g
)
SELECT n_obs, n_seasons, s_mk,
       CASE WHEN CAST(mxn AS DOUBLE) * mxn * mxn * 48 < 9e18
            THEN ROUND(varnum18 / 18e0, 6) END AS var_s,
       CASE WHEN CAST(mxn AS DOUBLE) * mxn * mxn * 48 < 9e18
             AND varnum18 > 0
            THEN ROUND((CAST(s_mk AS DOUBLE)
                 - CASE WHEN s_mk > 0 THEN 1 WHEN s_mk < 0 THEN -1
                        ELSE 0 END) / SQRT(varnum18 / 18e0), 6)
       END AS z_smk,
       CASE WHEN CAST(mxn AS DOUBLE) * mxn * mxn * 48 < 9e18
             AND varnum18 > 0
            THEN ABS((CAST(s_mk AS DOUBLE)
                 - CASE WHEN s_mk > 0 THEN 1 WHEN s_mk < 0 THEN -1
                        ELSE 0 END) / SQRT(varnum18 / 18e0)) > 1.959964
       END AS reject_05
FROM s CROSS JOIN v
"""


def _events_seasonal_mk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal Mann-Kendall (24 hour-of-day seasons, days as the time
    axis) over daily purchase cents — per-season exact S folds summed,
    x18-cleared variance numerator, continuity-corrected z. See
    _SEASONAL_MK."""
    load(spark, sf_dir)
    return spark.sql(_SEASONAL_MK)


QUERIES["events_seasonal_mk"] = _events_seasonal_mk
ORACLES["events_seasonal_mk"] = _SEASONAL_MK
