"""Shared substrates for the pipeline query family modules.

Helpers used by more than one of queries/pipeline*.py live here so the
family modules (pipeline_stats / pipeline_eval / pipeline_forecast /
pipeline_metrics / pipeline_diag) can import them without a circular
import through queries/pipeline.py.

The SQL fragments below are CTEs that several statements spell alike;
:func:`_with` composes a statement from them. Three rules keep each
oracle an independent check of its Spark side:

- a fragment is shared only among SQL texts, never with a DataFrame
  builder;
- a row's Spark text and its oracle share a fragment only where the row
  already runs one string on both engines (the portable rows, whose
  Spark twin is the oracle text with a dialect ``replace``);
- a family is folded only where the fold removes lines.

A fold changes only the source spelling: ``tools/dump_sql.py`` dumps
every rendered oracle and ``spark.sql`` statement, and its ``--diff``
of the dumps before and after (whitespace runs collapsed) must list
no row but those whose text names a file path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datafusion_gpu_spark.queries import load


#: normalize_text mirror (DuckDB needs the explicit 'g' flag Spark implies)
_NORM = r"regexp_replace(trim(lower(text)), '\s+', ' ', 'g')"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir)
    return spark.table("documents")


def _purchase_subjects(spark: SparkSession, sf_dir: str, **cohorts) -> DataFrame:
    """Time-to-first-purchase subjects for the survival rows, one per
    user: ``duration`` = whole hours from the user's first event to the
    first purchase (``observed`` = 1) or to the last event (right-
    censored, ``observed`` = 0) — exact integer division of epoch
    micros, as the oracles' ``life`` CTE spells it. ``cohorts`` name
    leading columns computed from ``user_id`` (a cohort, a stratum)."""
    load(spark, sf_dir)
    ep = F.unix_micros(F.col("ts").cast("timestamp"))
    life = (
        spark.table("events")
        .select(
            "user_id",
            ep.alias("us"),
            F.when(F.col("event_type") == "purchase", ep).alias("pus"),
        )
        .groupBy("user_id")
        .agg(
            F.min("us").alias("start"),
            F.min("pus").alias("fp"),
            F.max("us").alias("last"),
        )
    )
    return life.select(
        *[col.alias(name) for name, col in cohorts.items()],
        F.expr("(coalesce(fp, last) - start) DIV 3600000000").alias("duration"),
        F.col("fp").isNotNull().cast("int").alias("observed"),
    )


def _sparse_copurchase_edges(spark: SparkSession) -> DataFrame:
    """Shared edge list for the link-prediction and k-core entries: the
    co-purchase graph restricted to HIGH-QUANTITY lines (both endpoints
    >= 40 units). The unrestricted graph at sf0.01 has median degree
    ~115 — overlap scores on a near-clique are all noise — while the
    bulk-purchase subgraph (~5.7k edges, max degree ~21) has the sparse
    power-law shape link prediction actually targets. The filter is
    pushed into BOTH scan branches before the self-join."""
    li = spark.table("lineitem").where(F.col("l_quantity") >= 40).select(
        "l_orderkey", "l_partkey"
    )
    b = li.select(F.col("l_orderkey"), F.col("l_partkey").alias("r_partkey"))
    return (
        li.join(b, "l_orderkey")
        .where(F.col("l_partkey") < F.col("r_partkey"))
        .select(F.col("l_partkey").alias("a"), F.col("r_partkey").alias("b"))
    )


# CUSUM's oracle replays the closed form S = cumsum - min(0, running
# min of cumsum) over the identical deterministic (ts, event_id) order,
# in INTEGER cents with the baseline quantized once — every cumulative
# sum and alarm decision is exact bigint arithmetic on both engines.
_CUSUM_ORACLE = """
WITH base AS (
  SELECT user_id, event_id, ts,
         CAST(ROUND(value * 100) AS BIGINT) AS xq
  FROM events
  WHERE event_type = 'purchase' AND value IS NOT NULL
),
stats AS (
  SELECT user_id,
         CAST(ROUND(avg(xq)) AS BIGINT) AS mu,
         CAST(ROUND(0.5 * stddev_pop(xq)) AS BIGINT) AS k,
         CAST(ROUND(4.0 * stddev_pop(xq)) AS BIGINT) AS h
  FROM base GROUP BY user_id
),
c AS (
  SELECT b.user_id, b.event_id, b.ts, s.h,
         SUM(b.xq - s.mu - s.k) OVER (
           PARTITION BY b.user_id ORDER BY b.ts, b.event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs
  FROM base b JOIN stats s USING (user_id)
),
s AS (
  SELECT user_id, event_id, ts, h,
         cs - LEAST(CAST(0 AS BIGINT), MIN(cs) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS st
  FROM c
)
SELECT user_id,
       COUNT(*) AS n_events,
       CAST(SUM(CASE WHEN h > 0 AND st > h THEN 1 ELSE 0 END) AS BIGINT)
         AS n_alarms,
       CAST(MAX(st) AS BIGINT) AS peak_cusum,
       (MIN(CASE WHEN h > 0 AND st > h
                 THEN {'t': ts, 'i': event_id} END)).i AS first_alarm_id
FROM s
GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# SQL fragments (see the module docstring for the sharing rules)
# ---------------------------------------------------------------------------


def _with(*parts: str, recursive: bool = False) -> str:
    """One statement: ``WITH`` over the CTE texts in ``parts``, joined by
    commas. The last part is the rest of the statement — more CTEs, then
    the main query; when it starts with ``SELECT`` it is the main query
    alone and follows the CTEs without a comma."""
    *ctes, tail = (p.strip("\n") for p in parts)
    head = "\nWITH RECURSIVE " if recursive else "\nWITH "
    sep = "\n" if tail.startswith("SELECT") else ",\n"
    return head + ",\n".join(ctes) + sep + tail + "\n"


# -- the survival rows: per-user lifetime, subjects, per-time tallies ---------

#: first event, first purchase and last event of each user (epoch micros)
_LIFE = """life AS (
  SELECT user_id,
         MIN(epoch_us(ts)) AS start,
         MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS fp,
         MAX(epoch_us(ts)) AS last
  FROM events GROUP BY user_id
)"""

#: :data:`_LIFE` plus the user's event count
_LIFE_N_EV = _LIFE.replace(
    "AS last\n", "AS last,\n         CAST(COUNT(*) AS BIGINT) AS n_ev\n"
)


def _subj(cohort: str = "") -> str:
    """Time-to-first-purchase subjects over ``life``: whole hours ``t``,
    ``obs`` = 1 for a purchase; ``cohort``, if given, leads as ``grp``."""
    grp = f"{cohort} AS grp,\n         " if cohort else ""
    return f"""subj AS (
  SELECT {grp}(COALESCE(fp, last) - start) // 3600000000 AS t,
         CASE WHEN fp IS NULL THEN 0 ELSE 1 END AS obs
  FROM life
)"""


#: events ``d`` and censorings ``c`` per distinct time
_PER_T = """per_t AS (
  SELECT t, CAST(SUM(obs) AS BIGINT) AS d,
         CAST(SUM(1 - obs) AS BIGINT) AS c
  FROM subj GROUP BY t
)"""

#: events and censorings per distinct time and cohort (``grp`` 1 and 0)
_PER_T2 = """per_t AS (
  SELECT t,
         CAST(SUM(CASE WHEN grp = 1 THEN obs ELSE 0 END) AS BIGINT) AS d1,
         CAST(SUM(CASE WHEN grp = 1 THEN 1 - obs ELSE 0 END) AS BIGINT) AS c1,
         CAST(SUM(CASE WHEN grp = 0 THEN obs ELSE 0 END) AS BIGINT) AS d0,
         CAST(SUM(CASE WHEN grp = 0 THEN 1 - obs ELSE 0 END) AS BIGINT) AS c0
  FROM subj GROUP BY t
)"""

#: the Kaplan-Meier risk set, 1e-12 quantized log and hazard terms and
#: their running sums over :data:`_PER_T`
_KM_RUN = """risk AS (
  SELECT t, d, c,
         CAST(SUM(d + c) OVER (ORDER BY t ROWS BETWEEN CURRENT ROW
                               AND UNBOUNDED FOLLOWING) AS BIGINT) AS n_risk
  FROM per_t
),
ev AS (
  SELECT t, n_risk, d, c,
         CASE WHEN d < n_risk
              THEN CAST(ROUND(LN(1 - CAST(d AS DOUBLE) / n_risk) * 1e12, 0)
                        AS BIGINT)
              ELSE 0 END AS lnq,
         CAST(ROUND(CAST(d AS DOUBLE) / n_risk * 1e12, 0) AS BIGINT) AS hq
  FROM risk WHERE d > 0
),
run AS (
  SELECT t, n_risk, d, c,
         CAST(SUM(lnq) OVER w AS BIGINT) AS slnq,
         CAST(SUM(hq) OVER w AS BIGINT) AS shq,
         MAX(CASE WHEN d = n_risk THEN 1 ELSE 0 END) OVER w AS dead
  FROM ev
  WINDOW w AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)"""

#: subjects censored administratively at ``ct`` (from ``subj0``'s raw
#: time ``tr`` and event flag ``orr``)
_SUBJ_CENSORED = """subj AS (
  SELECT grp,
         CASE WHEN tr <= ct THEN tr ELSE ct END AS t,
         CASE WHEN orr = 1 AND tr <= ct THEN 1 ELSE 0 END AS obs
  FROM subj0
)"""


def _cox_newton(k: int) -> str:
    """Newton update ``k`` of the unrolled binary Cox fit: the score
    ``su`` and information ``si`` folds at ``b{k-1}``, then ``b{k}``."""
    return f"""it{k} AS (
  SELECT CAST(SUM(CAST(ROUND(1e9 * (CAST(d1 AS DOUBLE)
              - CAST(d AS DOUBLE) * rr), 0) AS BIGINT)) AS BIGINT) AS su,
         CAST(SUM(CAST(ROUND(1e9 * (CAST(d AS DOUBLE) * rr * (1.0 - rr)),
              0) AS BIGINT)) AS BIGINT) AS si,
         MAX(b) AS b_in
  FROM (SELECT d1, d, b,
               (CAST(n1 AS DOUBLE) * EXP(b))
                 / (CAST(n1 AS DOUBLE) * EXP(b)
                    + CAST(n0 AS DOUBLE)) AS rr
        FROM ev CROSS JOIN b{k - 1}) s
),
b{k} AS (SELECT b_in + (CASE WHEN si > 0
                           THEN (su / 1e9) / (si / 1e9) END) AS b FROM it{k})"""


# -- click / purchase values in integer cents --------------------------------

#: click and purchase values in cents ``c``, ``pos`` = 1 for a purchase
_CENTS_POS = """t AS (
  SELECT CAST(ROUND(value * 100, 0) AS BIGINT) AS c,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
  FROM events
  WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL
)"""

#: click and purchase values in cents ``c`` by event type ``grp``
_CENTS_AB = """t AS (
  SELECT event_type AS grp, CAST(ROUND(value * 100, 0) AS BIGINT) AS c
  FROM events
  WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL
)"""

#: every event type's values in cents ``c`` by event type ``grp``
_CENTS_GRP = """t AS (
  SELECT event_type AS grp, CAST(ROUND(value * 100, 0) AS BIGINT) AS c
  FROM events WHERE value IS NOT NULL
)"""

#: purchase values in cents ``c``
_CENTS_PURCHASE = """t AS (
  SELECT CAST(ROUND(value * 100, 0) AS BIGINT) AS c
  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
)"""

#: per cent value: purchases ``dp`` and all ``tc`` (over :data:`_CENTS_POS`)
_PV_POS = """pv AS (
  SELECT c, CAST(SUM(pos) AS BIGINT) AS dp, CAST(COUNT(*) AS BIGINT) AS tc
  FROM t GROUP BY c
)"""

#: per cent value: clicks ``da`` and purchases ``db`` (over :data:`_CENTS_AB`)
_PV_AB = """pv AS (
  SELECT c,
         CAST(SUM(CASE WHEN grp = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS da,
         CAST(SUM(CASE WHEN grp = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
           AS db
  FROM t GROUP BY c
)"""

#: the confusion counts of the rule ``c >= 5000`` predicts a purchase
_CONFUSION_5000 = """m AS (
  SELECT CAST(SUM(CASE WHEN c >= 5000 AND pos = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         CAST(SUM(CASE WHEN c >= 5000 AND pos = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         CAST(SUM(CASE WHEN c < 5000 AND pos = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
         CAST(SUM(CASE WHEN c < 5000 AND pos = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
  FROM t
)"""


# -- hourly series -----------------------------------------------------------

#: hourly cents sums ``v_c`` per event type, with their lags 1..3
_LAGGED = """hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS bucket,
         CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS v_c
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
),
lagged AS (
  SELECT event_type, v_c AS y,
         LAG(v_c, 1) OVER w AS x1,
         LAG(v_c, 2) OVER w AS x2,
         LAG(v_c, 3) OVER w AS x3
  FROM hourly
  WINDOW w AS (PARTITION BY event_type ORDER BY bucket)
)"""

#: the (lag, value) pairs of :data:`_LAGGED` and their moments per lag
_LAG_MOMENTS = """pairs AS (
  SELECT event_type, 1 AS lag_k, x1 AS x, y FROM lagged WHERE x1 IS NOT NULL
  UNION ALL
  SELECT event_type, 2 AS lag_k, x2 AS x, y FROM lagged WHERE x2 IS NOT NULL
  UNION ALL
  SELECT event_type, 3 AS lag_k, x3 AS x, y FROM lagged WHERE x3 IS NOT NULL
),
m AS (
  SELECT event_type, lag_k, COUNT(*) AS n_pairs,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy,
         CAST(SUM(x * y) AS BIGINT) AS sxy
  FROM pairs GROUP BY 1, 2
)"""

#: the Pearson autocorrelation ``rk`` of :data:`_LAG_MOMENTS`
_LAG_R = """r AS (
  SELECT event_type, lag_k,
    CASE WHEN (CAST(n_pairs AS DOUBLE) * CAST(sxx AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
          AND (CAST(n_pairs AS DOUBLE) * CAST(syy AS DOUBLE)
               - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
         THEN (CAST(n_pairs AS DOUBLE) * CAST(sxy AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
              / SQRT((CAST(n_pairs AS DOUBLE) * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                     * (CAST(n_pairs AS DOUBLE) * CAST(syy AS DOUBLE)
                        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
         END AS rk
  FROM m
)"""

#: hourly purchase cents ``y`` at hour index ``x``
_HOURLY_PURCHASE = """hourly AS (
  SELECT epoch_us(ts) // 3600000000 AS x,
         CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS y
  FROM events WHERE event_type = 'purchase' GROUP BY 1
)"""

#: each user's cents in the three ten-day segments ``j``, and the users
#: active in all three
_SEGMENTS = """seg AS (
  SELECT user_id,
         CASE WHEN CAST(ts AS DATE) < DATE '2024-01-11' THEN 1
              WHEN CAST(ts AS DATE) < DATE '2024-01-21' THEN 2
              ELSE 3 END AS j,
         CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS v
  FROM events WHERE value IS NOT NULL
  GROUP BY user_id,
           CASE WHEN CAST(ts AS DATE) < DATE '2024-01-11' THEN 1
                WHEN CAST(ts AS DATE) < DATE '2024-01-21' THEN 2
                ELSE 3 END
),
blocks AS (
  SELECT user_id FROM seg GROUP BY user_id HAVING COUNT(*) = 3
)"""


#: per user: stratum ``s`` and cohort ``x`` (user_id mod 3 and 2) and
#: ``y`` = purchased on 2024-01-16; the 2x2 counts per stratum
_STRATA_2X2 = """u AS (
  SELECT user_id % 3 AS s,
         user_id % 2 AS x,
         MAX(CASE WHEN event_type = 'purchase'
                   AND CAST(ts AS DATE) = DATE '2024-01-16'
                  THEN 1 ELSE 0 END) AS y
  FROM events GROUP BY user_id
),
tab AS (
  SELECT s,
         CAST(SUM(CASE WHEN x = 1 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a,
         CAST(SUM(CASE WHEN x = 1 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b,
         CAST(SUM(CASE WHEN x = 0 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c,
         CAST(SUM(CASE WHEN x = 0 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS d
  FROM u GROUP BY s
)"""


# -- the orders priority x status table --------------------------------------

#: cell counts ``o``, row and column margins and the total
_ORDER_CELLS = """obs AS (
  SELECT o_orderpriority AS r, o_orderstatus AS c,
         CAST(COUNT(*) AS BIGINT) AS o
  FROM orders GROUP BY o_orderpriority, o_orderstatus
),
rt AS (SELECT r, CAST(SUM(o) AS BIGINT) AS nr FROM obs GROUP BY r),
ct AS (SELECT c, CAST(SUM(o) AS BIGINT) AS nc FROM obs GROUP BY c),
tot AS (SELECT CAST(SUM(o) AS BIGINT) AS nt FROM obs)"""

#: the quantized Pearson sum ``sq`` of O^2 / (row * column) and the
#: table's dimensions ``kr`` x ``kc``
_CHI2_CELLS = """q AS (
  SELECT CAST(ROUND(CAST(o.o AS DOUBLE) * o.o
                    / (CAST(rt.nr AS DOUBLE) * ct.nc) * 1e12, 0) AS BIGINT)
           AS term_q
  FROM obs o JOIN rt ON o.r = rt.r JOIN ct ON o.c = ct.c
),
s AS (
  SELECT CAST(SUM(term_q) AS BIGINT) AS sq,
         CAST(COUNT(*) AS BIGINT) AS n_cells
  FROM q
),
d AS (
  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM rt) AS kr,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM ct) AS kc
)"""


# -- graphs and vectors ------------------------------------------------------


def _copurchase(head: str, lo: str = "lo", hi: str = "hi") -> str:
    """``head`` (``e AS``, ``e0 AS MATERIALIZED``) over the sparse
    co-purchase edges of :func:`_sparse_copurchase_edges`: distinct part
    pairs ``lo`` < ``hi`` in one order, both lines >= 40 units."""
    return f"""{head} (
  SELECT DISTINCT a.l_partkey AS {lo}, b.l_partkey AS {hi}
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  WHERE a.l_quantity >= 40 AND b.l_quantity >= 40
)"""


#: the next part ``nxt`` on each high-quantity line's order
_NEXT_PART = """s AS (
  SELECT l_partkey,
         lead(l_partkey) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber) AS nxt
  FROM lineitem WHERE l_quantity >= 40
)"""

#: each query's candidates ranked by (cosine DESC, vec_id)
_COS_RANK = """r AS (
  SELECT query_id, vec_id, cos,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, vec_id) AS "rank"
  FROM scored
)"""

#: the synthetic audio fingerprint: per-frame low/high band energies of
#: ``samples``, and each frame's bits against the document's medians
_AUDIO_BITS = """terms AS (
  SELECT x.doc_id, x.i // x.n_f AS f,
         (y.s + x.s) AS a, (y.s - x.s) AS dd
  FROM samples x
  JOIN samples y ON y.doc_id = x.doc_id AND y.i = x.i + 1
  WHERE (x.i % x.n_f) < x.n_f - 1
),
energy AS (
  SELECT doc_id, f,
         CAST(SUM(a * a) AS BIGINT) AS L,
         CAST(SUM(dd * dd) AS BIGINT) AS H
  FROM terms GROUP BY 1, 2
),
med AS (
  SELECT doc_id,
         CAST(MEDIAN(L) AS BIGINT) AS mL,
         CAST(MEDIAN(H) AS BIGINT) AS mH
  FROM energy GROUP BY doc_id
),
bits AS (
  SELECT e.doc_id, f,
         CASE WHEN L > mL THEN 1 ELSE 0 END AS lb,
         CASE WHEN H > mH THEN 1 ELSE 0 END AS hb
  FROM energy e JOIN med USING (doc_id)
)"""
