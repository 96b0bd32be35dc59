"""Shared substrates for the pipeline query family modules.

Helpers used by more than one of queries/pipeline*.py live here so the
family modules (pipeline_stats / pipeline_eval / pipeline_forecast /
pipeline_metrics — the round-12 mechanical split of pipeline.py, VERDICT
r11 ask #6) can import them without a circular import through
queries/pipeline.py. Moved verbatim; zero spelling changes.
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
