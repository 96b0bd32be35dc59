"""Round-trip correctness queries for the IO surface (SURVEY §2.1 sink
rows + JSON/Arrow scans).

Each query WRITES a driver table through a sink, READS it back through
the matching scan, and aggregates the re-read data; the DuckDB oracle
computes the same aggregate on the ORIGINAL parquet table — so a pass
proves the write+read pair is value-preserving, not just runnable.
Aggregates are order-insensitive (files come back in arbitrary order).

Every write goes to a fresh ``context.scratch_dir``, never a fixed path,
so building a query again leaves an earlier DataFrame's files intact.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from datafusion_gpu_spark import io
from datafusion_gpu_spark.context import scratch_dir
from datafusion_gpu_spark.queries import load


def _roundtrip_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir)
    out = scratch_dir(spark, "nation_json")
    io.write_json(spark.table("nation"), out)
    back = io.read_json(spark, out)
    back.createOrReplaceTempView("nation_rt")
    return spark.sql(
        """
        SELECT n_regionkey, COUNT(*) AS n, SUM(n_nationkey) AS sum_key,
               MIN(n_name) AS min_name
        FROM nation_rt GROUP BY n_regionkey
        """
    )


_JSON_DUCK = """
SELECT n_regionkey::BIGINT AS n_regionkey, COUNT(*) AS n,
       SUM(n_nationkey)::BIGINT AS sum_key,
       MIN(n_name) AS min_name
FROM nation GROUP BY n_regionkey
"""


def _roundtrip_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir)
    out = scratch_dir(spark, "supplier_csv")
    io.write_csv(spark.table("supplier").select("s_suppkey", "s_name", "s_nationkey", "s_acctbal"), out)
    back = io.read_csv(spark, out)
    back.createOrReplaceTempView("supplier_rt")
    return spark.sql(
        """
        SELECT s_nationkey, COUNT(*) AS n, ROUND(SUM(s_acctbal), 2) AS sum_bal,
               MIN(s_name) AS min_name
        FROM supplier_rt GROUP BY s_nationkey
        """
    )


_CSV_DUCK = """
SELECT s_nationkey, COUNT(*) AS n, ROUND(SUM(s_acctbal), 2) AS sum_bal,
       MIN(s_name) AS min_name
FROM supplier GROUP BY s_nationkey
"""


def _roundtrip_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir)
    out = scratch_dir(spark, "customer_arrow")
    manifest = io.write_arrow_ipc(
        spark.table("customer").select(
            "c_custkey", "c_name", "c_mktsegment", "c_acctbal"
        ),
        out,
    )
    assert manifest.count() > 0  # write happened eagerly inside the call
    back = io.read_arrow_ipc(spark, out)
    back.createOrReplaceTempView("customer_rt")
    return spark.sql(
        """
        SELECT c_mktsegment, COUNT(*) AS n, SUM(c_custkey) AS sum_key,
               ROUND(SUM(c_acctbal), 2) AS sum_bal
        FROM customer_rt GROUP BY c_mktsegment
        """
    )


_ARROW_DUCK = """
SELECT c_mktsegment, COUNT(*) AS n, SUM(c_custkey)::BIGINT AS sum_key,
       ROUND(SUM(c_acctbal), 2) AS sum_bal
FROM customer GROUP BY c_mktsegment
"""

def _roundtrip_json_gzip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressed-scan demo (SURVEY §2.1 row 7): gzip NDJSON part files,
    decompressed transparently on read."""
    load(spark, sf_dir)
    out = scratch_dir(spark, "region_json_gz")
    io.write_json(spark.table("region"), out, compression="gzip")
    back = io.read_json(spark, out)
    back.createOrReplaceTempView("region_rt")
    return spark.sql(
        """
        SELECT COUNT(*) AS n, SUM(r_regionkey) AS sum_key, MIN(r_name) AS min_name
        FROM region_rt
        """
    )


_JSON_GZIP_DUCK = """
SELECT COUNT(*) AS n, SUM(r_regionkey)::BIGINT AS sum_key, MIN(r_name) AS min_name
FROM region
"""

def _roundtrip_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink+scan round-trip (zstd-compressed part files)."""
    load(spark, sf_dir)
    out = scratch_dir(spark, "part_orc")
    io.write_orc(
        spark.table("part").select("p_partkey", "p_brand", "p_size", "p_retailprice"),
        out,
        compression="zstd",
    )
    back = io.read_orc(spark, out)
    back.createOrReplaceTempView("part_rt")
    return spark.sql(
        """
        SELECT p_brand, COUNT(*) AS n, SUM(p_size) AS sum_size,
               ROUND(SUM(p_retailprice), 2) AS sum_price
        FROM part_rt GROUP BY p_brand
        """
    )


_ORC_DUCK = """
SELECT p_brand, COUNT(*) AS n, SUM(p_size)::BIGINT AS sum_size,
       ROUND(SUM(p_retailprice), 2) AS sum_price
FROM part GROUP BY p_brand
"""


def _partitioned_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned parquet sink + partition-pruned re-read: the
    directory layout (o_orderstatus=F/...) is the 100 TB idiom for
    cheap coarse filters — the filtered read-back only lists/scans the
    matching directory (PartitionFilters in the plan, pinned by
    tests/test_plans.py), and the aggregate must still match the
    oracle's WHERE on the unpartitioned source."""
    load(spark, sf_dir)
    out = scratch_dir(spark, "orders_partitioned")
    io.write_parquet(
        spark.table("orders").select(
            "o_orderkey", "o_totalprice", "o_orderpriority", "o_orderstatus"
        ),
        out,
        partition_by=["o_orderstatus"],
    )
    back = spark.read.parquet(out).where("o_orderstatus = 'F'")
    back.createOrReplaceTempView("orders_part_rt")
    return spark.sql(
        """
        SELECT o_orderpriority, COUNT(*) AS n,
               ROUND(SUM(o_totalprice), 2) AS sum_price
        FROM orders_part_rt GROUP BY o_orderpriority
        """
    )


_PARTITIONED_DUCK = """
SELECT o_orderpriority, COUNT(*) AS n,
       ROUND(SUM(o_totalprice), 2) AS sum_price
FROM orders WHERE o_orderstatus = 'F' GROUP BY o_orderpriority
"""


def _bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed-table co-located join: both sides written bucketBy the
    join key (io.write_bucketed), then sort-merge-joined with ZERO
    exchange on either side — the 100 TB idiom for a fact table joined
    repeatedly on the same key (pay the shuffle once at write time,
    never again). tests/test_plans.py pins the plan: the only exchange
    left is the final segment rollup's. The oracle is the plain join
    on the unbucketed source — bucketing must be invisible to results.
    """
    from pyspark.sql import functions as F

    load(spark, sf_dir)
    io.write_bucketed(
        spark.table("orders").select("o_orderkey", "o_custkey", "o_totalprice"),
        "io_bkt_orders",
        ["o_custkey"],
        num_buckets=8,
        sort_by=["o_custkey"],
    )
    io.write_bucketed(
        spark.table("customer").select("c_custkey", "c_mktsegment"),
        "io_bkt_customer",
        ["c_custkey"],
        num_buckets=8,
        sort_by=["c_custkey"],
    )
    o = spark.table("io_bkt_orders")
    c = spark.table("io_bkt_customer")
    # MERGE hint: without it the tiny test-scale sides would broadcast
    # and never exercise the bucket co-location this entry exists for
    return (
        o.hint("merge")
        .join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


_BUCKETED_JOIN_DUCK = """
SELECT c.c_mktsegment AS segment, COUNT(*) AS n_orders,
       ROUND(SUM(o.o_totalprice), 2) AS total
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_mktsegment
"""


def _csv_quoted_multiline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV dialect hard cases round-tripped: values containing the
    delimiter, double quotes, and EMBEDDED NEWLINES (written quoted,
    read back with multiLine + escaped-quote handling), plus NULLs.
    The aggregate over the re-read values must match the oracle's
    direct computation on the same derived expressions — proving the
    writer's quoting and the reader's multiLine parser are inverses.
    multiLine=true is the documented scale tradeoff: quoted-newline
    files are not line-splittable, so Spark reads each FILE whole (fine
    for many medium files; don't ship one 10 TB quoted CSV)."""
    from pyspark.sql import functions as F

    load(spark, sf_dir)
    out = scratch_dir(spark, "nation_csv_dialect")
    tricky = spark.table("nation").select(
        "n_nationkey",
        F.concat(
            F.col("n_name"), F.lit(', "q" \n tail')
        ).alias("tricky"),
        F.when(F.col("n_nationkey") % 3 == 0, F.col("n_name")).alias(
            "maybe_null"
        ),
    )
    tricky.write.mode("overwrite").option("header", True).option(
        "escape", '"'
    ).csv(out)
    back = (
        spark.read.option("header", True)
        .option("multiLine", True)
        .option("escape", '"')
        .csv(out)
    )
    back.createOrReplaceTempView("nation_csv_dialect_rt")
    return spark.sql(
        """
        SELECT COUNT(*) AS n,
               SUM(CAST(n_nationkey AS BIGINT)) AS sum_key,
               SUM(LENGTH(tricky)) AS sum_len,
               COUNT(maybe_null) AS n_not_null,
               MIN(tricky) AS min_tricky
        FROM nation_csv_dialect_rt
        """
    )


_CSV_DIALECT_DUCK = r"""
WITH t AS (
  SELECT n_nationkey,
         n_name || ', "q" ' || chr(10) || ' tail' AS tricky,
         CASE WHEN n_nationkey % 3 = 0 THEN n_name END AS maybe_null
  FROM nation
)
SELECT COUNT(*) AS n, SUM(n_nationkey)::BIGINT AS sum_key,
       SUM(LENGTH(tricky))::BIGINT AS sum_len,
       COUNT(maybe_null) AS n_not_null,
       MIN(tricky) AS min_tricky
FROM t
"""


def _copy_to_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-level sink — the engine analogue of DataFusion's
    ``COPY (SELECT ...) TO 'path'``: INSERT OVERWRITE DIRECTORY writes
    the query result as parquet purely through SQL, no DataFrame API.
    The read-back aggregate must match the oracle's direct SELECT."""
    load(spark, sf_dir)
    out = scratch_dir(spark, "region_copy_sql")
    spark.sql(
        f"""
        INSERT OVERWRITE DIRECTORY '{out}' USING PARQUET
        SELECT r_regionkey, r_name FROM region
        """
    )
    spark.read.parquet(out).createOrReplaceTempView("region_copy_rt")
    return spark.sql(
        """
        SELECT COUNT(*) AS n, SUM(r_regionkey) AS sum_key,
               MIN(r_name) AS min_name
        FROM region_copy_rt
        """
    )


_COPY_SQL_DUCK = """
SELECT COUNT(*) AS n, SUM(r_regionkey)::BIGINT AS sum_key,
       MIN(r_name) AS min_name
FROM region
"""


def _schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution: a second writer adds a column; mergeSchema
    reconciles the footers at read time (old files surface NULLs for the
    new column) — the contract a long-lived 100 TB dataset depends on
    as producers upgrade. The oracle replays the union of the two
    projections on the original table."""
    load(spark, sf_dir)
    out = scratch_dir(spark, "documents_evolved")
    docs = spark.table("documents")
    docs.select("doc_id", "lang").write.parquet(os.path.join(out, "v1"))
    docs.select("doc_id", "lang", "n_chars").write.parquet(
        os.path.join(out, "v2")
    )
    back = spark.read.option("mergeSchema", "true").option(
        "recursiveFileLookup", "true"
    ).parquet(out)
    back.createOrReplaceTempView("documents_evolved")
    return spark.sql(
        """
        SELECT lang, COUNT(*) AS n_rows, COUNT(n_chars) AS n_with_chars,
               SUM(n_chars) AS sum_chars
        FROM documents_evolved GROUP BY lang
        """
    )


_SCHEMA_EVOLUTION_DUCK = """
WITH both_versions AS (
  SELECT doc_id, lang, NULL::BIGINT AS n_chars FROM documents
  UNION ALL
  SELECT doc_id, lang, n_chars FROM documents
)
SELECT lang, COUNT(*) AS n_rows, COUNT(n_chars) AS n_with_chars,
       SUM(n_chars)::BIGINT AS sum_chars
FROM both_versions GROUP BY lang
"""


def _python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 Python Data Source API: a pure-Python custom source with
    declared InputPartitions (executor-parallel scan, 8 tasks) — the
    engine-extension analogue of the reference's custom table providers.
    Deterministic rows from the portable md5 bucket, so DuckDB replays
    the whole relation from generate_series."""
    from datafusion_gpu_spark.sources import register_python_sources

    register_python_sources(spark)
    df = (
        spark.read.format("dgs_synth")
        .option("n", 50_000)
        .option("parts", 8)
        .load()
    )
    from pyspark.sql import functions as F

    return df.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("val"), 2).alias("sum_val"),
        F.min("id").alias("min_id"),
    )


_PYTHON_DATASOURCE_DUCK = """
WITH ids AS (SELECT unnest(generate_series(0, 49999)) AS id),
b AS (
  SELECT id,
         CAST('0x' || substring(md5(CAST(id AS VARCHAR)), 1, 15) AS BIGINT)
           % 100 AS bucket
  FROM ids
)
SELECT bucket::INT AS bucket, COUNT(*) AS n,
       ROUND(SUM(bucket / 100.0), 2) AS sum_val,
       MIN(id) AS min_id
FROM b GROUP BY 1
"""


def _compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction round trip: fragment the documents table
    into 32 tiny part files, compact, and aggregate the compacted copy —
    value-preservation graded against the original table. File-count
    assertions live in tests/test_io.py (they depend on physical sizes,
    which an SQL oracle can't replay)."""
    load(spark, sf_dir)
    base = scratch_dir(spark, "documents_compaction")
    frag, out = os.path.join(base, "fragmented"), os.path.join(base, "compacted")
    spark.table("documents").repartition(32).write.parquet(frag)
    io.compact_parquet(spark, frag, out, target_file_mb=128)
    back = spark.read.parquet(out)
    back.createOrReplaceTempView("documents_compacted")
    return spark.sql(
        """
        SELECT lang, COUNT(*) AS n, SUM(n_chars) AS sum_chars,
               MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
        FROM documents_compacted GROUP BY lang
        """
    )


_COMPACT_DUCK = """
SELECT lang, COUNT(*) AS n, SUM(n_chars)::BIGINT AS sum_chars,
       MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
FROM documents GROUP BY lang
"""


def _merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO over immutable files (operators/layout.merge_upsert):
    base = orders missing every 5th key (pretend-existing table),
    changes = every 3rd key repriced +100.00 with status 'U' (a mixed
    update+insert batch). The result is the merged table — one
    full-outer hash join; the DuckDB oracle replays the same MERGE
    semantics with a FULL OUTER JOIN."""
    from pyspark.sql import functions as F

    from datafusion_gpu_spark.operators.layout import merge_upsert

    load(spark, sf_dir)
    o = spark.table("orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderpriority",
    )
    base = o.where(F.col("o_orderkey") % 5 != 0)
    # reprice by an exact 2-decimal delta: a multiplicative bump lands on
    # half-cent boundaries where Spark (decimal-string HALF_UP) and DuckDB
    # (binary round) disagree by a cent
    changes = o.where(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey",
        "o_custkey",
        F.lit("U").alias("o_orderstatus"),
        (F.col("o_totalprice") + F.lit(100.0)).alias("o_totalprice"),
        "o_orderpriority",
    )
    merged = merge_upsert(base, changes, key="o_orderkey")
    return merged.select(
        "o_orderkey", "o_custkey", "o_orderstatus",
        F.round("o_totalprice", 2).alias("o_totalprice"), "o_orderpriority",
    )


_MERGE_UPSERT_DUCK = """
WITH base AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
  FROM orders WHERE o_orderkey % 5 <> 0
),
changes AS (
  SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
         o_totalprice + 100.0 AS o_totalprice, o_orderpriority
  FROM orders WHERE o_orderkey % 3 = 0
)
SELECT COALESCE(c.o_orderkey, b.o_orderkey) AS o_orderkey,
       CASE WHEN c.o_orderkey IS NOT NULL THEN c.o_custkey ELSE b.o_custkey END AS o_custkey,
       CASE WHEN c.o_orderkey IS NOT NULL THEN c.o_orderstatus ELSE b.o_orderstatus END AS o_orderstatus,
       ROUND(CASE WHEN c.o_orderkey IS NOT NULL THEN c.o_totalprice ELSE b.o_totalprice END, 2) AS o_totalprice,
       CASE WHEN c.o_orderkey IS NOT NULL THEN c.o_orderpriority ELSE b.o_orderpriority END AS o_orderpriority
FROM base b FULL OUTER JOIN changes c ON b.o_orderkey = c.o_orderkey
"""



def _snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC emission between two deterministic snapshots of the documents
    table (layout.snapshot_diff): doc_id % 5 == 1 rows exist only in the
    new snapshot (inserts), doc_id % 7 == 2 rows only in the old
    (deletes), doc_id % 3 == 0 rows change value (updates); unchanged
    rows must NOT appear. One full-outer key join, null-safe struct
    change detection."""
    from pyspark.sql import functions as F

    from datafusion_gpu_spark.operators.layout import snapshot_diff

    load(spark, sf_dir)
    docs = spark.table("documents")
    old = docs.where("doc_id % 5 <> 1").select("doc_id", F.col("n_chars").alias("v"))
    new = docs.where("doc_id % 7 <> 2").select(
        "doc_id",
        (
            F.col("n_chars")
            + F.when(F.col("doc_id") % 3 == 0, F.lit(10)).otherwise(F.lit(0))
        ).alias("v"),
    )
    return snapshot_diff(old, new, key="doc_id")


_SNAPSHOT_DIFF_DUCK = """
WITH o AS (
  SELECT doc_id, n_chars AS v FROM documents WHERE doc_id % 5 <> 1
),
n AS (
  SELECT doc_id,
         n_chars + CASE WHEN doc_id % 3 = 0 THEN 10 ELSE 0 END AS v
  FROM documents WHERE doc_id % 7 <> 2
)
SELECT CASE WHEN o.doc_id IS NULL THEN 'insert'
            WHEN n.doc_id IS NULL THEN 'delete'
            ELSE 'update' END AS op,
       COALESCE(n.doc_id, o.doc_id) AS doc_id,
       CASE WHEN n.doc_id IS NOT NULL THEN n.v ELSE o.v END AS v
FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
WHERE o.doc_id IS NULL OR n.doc_id IS NULL OR o.v <> n.v
"""


def _time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VERSION AS OF read (operators/layout.time_travel): a two-version
    change log over the documents table — v1 inserts the missing keys
    and bumps every %3 value by 10, v2 deletes %7==2 keys and bumps by
    20 — replayed to version 1. The v2 rows sit IN the log and must be
    ignored by the replay cutoff; the whole history compacts in one
    max_by aggregation plus one full-outer join (never a per-version
    MERGE loop). The oracle is the closed-form v1 state; replay-vs-
    iterated-MERGE equivalence is property-tested in pytest."""
    from pyspark.sql import functions as F

    from datafusion_gpu_spark.operators.layout import time_travel

    load(spark, sf_dir)
    docs = spark.table("documents")
    base = docs.where("doc_id % 5 <> 1").select(
        "doc_id", F.col("n_chars").alias("v")
    )

    def change(version: int, op: str, rows: DataFrame, v):
        return rows.select(
            F.lit(version).alias("version"),
            F.lit(op).alias("op"),
            "doc_id",
            v.alias("v"),
        )

    log = (
        change(1, "insert", docs.where("doc_id % 5 = 1"), F.col("n_chars"))
        .unionByName(
            change(
                1,
                "update",
                docs.where("doc_id % 3 = 0 AND doc_id % 5 <> 1"),
                F.col("n_chars") + 10,
            )
        )
        .unionByName(
            change(
                2, "delete", docs.where("doc_id % 7 = 2"),
                F.lit(None).cast("long"),
            )
        )
        .unionByName(
            change(
                2,
                "update",
                docs.where("doc_id % 3 = 0 AND doc_id % 7 <> 2"),
                F.col("n_chars") + 20,
            )
        )
    )
    return time_travel(base, log, key="doc_id", version=1)


_TIME_TRAVEL_DUCK = """
SELECT doc_id,
       n_chars + CASE WHEN doc_id % 3 = 0 AND doc_id % 5 <> 1
                      THEN 10 ELSE 0 END AS v
FROM documents
"""


def _incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance
    (layout.incremental_agg, the Z-set/DBSP shape): the per-customer
    (order count, revenue) view stands at end-of-1996; one maintenance
    batch applies 1997's orders as +1 facts and retention-deletes every
    pre-1997 URGENT order as -1 facts. The new view is ONE delta-sized
    aggregation + ONE full-outer join — cost scales with the batch, not
    the base history. The oracle recomputes the view from scratch over
    the post-change fact set, so the delta algebra (including keys
    whose count reaches 0 and must vanish) is graded against the
    definition. Money is exact integer cents on both sides."""
    from pyspark.sql import functions as F

    from datafusion_gpu_spark.operators.layout import incremental_agg

    load(spark, sf_dir)
    orders = spark.table("orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    cut, end = F.lit("1997-01-01").cast("date"), F.lit("1998-01-01").cast("date")
    view = (
        orders.where(F.col("o_orderdate") < cut)
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum(cents).alias("total"))
    )
    inserts = orders.where(
        (F.col("o_orderdate") >= cut) & (F.col("o_orderdate") < end)
    ).select(
        F.col("o_custkey").alias("custkey"),
        cents.alias("val"),
        F.lit(1).alias("sign"),
    )
    deletes = orders.where(
        (F.col("o_orderdate") < cut) & (F.col("o_orderpriority") == "1-URGENT")
    ).select(
        F.col("o_custkey").alias("custkey"),
        cents.alias("val"),
        F.lit(-1).alias("sign"),
    )
    return incremental_agg(view, inserts.unionAll(deletes), "custkey", "val")


_INCREMENTAL_AGG_DUCK = """
SELECT o_custkey AS custkey, COUNT(*) AS cnt,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total
FROM orders
WHERE o_orderdate < DATE '1998-01-01'
  AND NOT (o_orderdate < DATE '1997-01-01' AND o_orderpriority = '1-URGENT')
GROUP BY o_custkey
"""


def _incremental_agg_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bucketed-view spelling of io_incremental_agg: the stored
    view is persisted bucketBy(custkey) (io.write_bucketed — the same
    machinery io_bucketed_join plan-asserts) and maintained from the
    TABLE, so the full-outer maintenance join reads the view side
    pre-partitioned and shuffles ONLY the delta (plan pinned by
    tests/test_plans.py::test_incremental_agg_bucketed_view_skips_view_exchange;
    wall measured in SCALE.md Round-7 probes: −40% at a 20M-key view).
    Semantics are identical to the plain spelling, so it shares the
    recompute-from-scratch oracle — this row is the driver's evidence
    that the layout optimization does not change the algebra."""
    from pyspark.sql import functions as F

    from datafusion_gpu_spark.io import write_bucketed
    from datafusion_gpu_spark.operators.layout import incremental_agg

    load(spark, sf_dir)
    orders = spark.table("orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    cut, end = F.lit("1997-01-01").cast("date"), F.lit("1998-01-01").cast("date")
    view = (
        orders.where(F.col("o_orderdate") < cut)
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum(cents).alias("total"))
    )
    write_bucketed(view, "gate_ivm_view_bucketed", ["custkey"], num_buckets=8)
    inserts = orders.where(
        (F.col("o_orderdate") >= cut) & (F.col("o_orderdate") < end)
    ).select(
        F.col("o_custkey").alias("custkey"),
        cents.alias("val"),
        F.lit(1).alias("sign"),
    )
    deletes = orders.where(
        (F.col("o_orderdate") < cut) & (F.col("o_orderpriority") == "1-URGENT")
    ).select(
        F.col("o_custkey").alias("custkey"),
        cents.alias("val"),
        F.lit(-1).alias("sign"),
    )
    return incremental_agg(
        spark.table("gate_ivm_view_bucketed"),
        inserts.unionAll(deletes),
        "custkey",
        "val",
    )


def _streaming_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of io_incremental_agg — the changelog applied in 4
    micro-batches through foreachBatch read-modify-write with versioned
    view directories (streaming.materialized_incremental_agg). Z-set
    deltas are associative, so the final stored view equals the one-shot
    batch maintenance; the SHARED oracle grades stream == batch."""
    from datafusion_gpu_spark import streaming

    load(spark, sf_dir)
    return streaming.materialized_incremental_agg(spark, sf_dir)


QUERIES = {
    "io_merge_upsert": _merge_upsert,
    "io_snapshot_diff": _snapshot_diff,
    "io_time_travel": _time_travel,
    "io_incremental_agg": _incremental_agg,
    "io_incremental_agg_bucketed": _incremental_agg_bucketed,
    "streaming_incremental_agg": _streaming_incremental_agg,
    "io_copy_to_sql": _copy_to_sql,
    "io_schema_evolution": _schema_evolution,
    "io_compact_small_files": _compact_small_files,
    "source_python_datasource": _python_datasource,
    "io_roundtrip_json": _roundtrip_json,
    "io_roundtrip_json_gzip": _roundtrip_json_gzip,
    "io_roundtrip_csv": _roundtrip_csv,
    "io_roundtrip_orc": _roundtrip_orc,
    "io_roundtrip_arrow": _roundtrip_arrow,
    "io_partitioned_parquet": _partitioned_parquet,
    "io_bucketed_join": _bucketed_join,
    "io_csv_quoted_multiline": _csv_quoted_multiline,
}

ORACLES = {
    "io_merge_upsert": _MERGE_UPSERT_DUCK,
    "io_snapshot_diff": _SNAPSHOT_DIFF_DUCK,
    "io_time_travel": _TIME_TRAVEL_DUCK,
    "io_incremental_agg": _INCREMENTAL_AGG_DUCK,
    "io_incremental_agg_bucketed": _INCREMENTAL_AGG_DUCK,
    "streaming_incremental_agg": _INCREMENTAL_AGG_DUCK,
    "io_partitioned_parquet": _PARTITIONED_DUCK,
    "io_bucketed_join": _BUCKETED_JOIN_DUCK,
    "io_csv_quoted_multiline": _CSV_DIALECT_DUCK,
    "io_schema_evolution": _SCHEMA_EVOLUTION_DUCK,
    "source_python_datasource": _PYTHON_DATASOURCE_DUCK,
    "io_compact_small_files": _COMPACT_DUCK,
    "io_copy_to_sql": _COPY_SQL_DUCK,
    "io_roundtrip_json": _JSON_DUCK,
    "io_roundtrip_json_gzip": _JSON_GZIP_DUCK,
    "io_roundtrip_csv": _CSV_DUCK,
    "io_roundtrip_orc": _ORC_DUCK,
    "io_roundtrip_arrow": _ARROW_DUCK,
}


def _roundtrip_parquet_zstd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet sink+scan round-trip with an explicit zstd codec — the
    archival-tier parquet configuration (snappy is the hot-tier
    default; zstd trades ~0 scan cost for ~30% smaller files, which at
    100 TB is 30 TB of object-store spend). The aggregate must match
    the oracle on the uncompressed source, and tests/test_io.py pins
    the footer codec via pyarrow metadata so the option provably
    reached the files."""
    load(spark, sf_dir)
    out = scratch_dir(spark, "orders_parquet_zstd")
    io.write_parquet(
        spark.table("orders").select(
            "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
        ),
        out,
        compression="zstd",
    )
    back = spark.read.parquet(out)
    back.createOrReplaceTempView("orders_zstd_rt")
    return spark.sql(
        """
        SELECT o_orderpriority, COUNT(*) AS n,
               CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
               CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                    AS BIGINT) AS sum_cents
        FROM orders_zstd_rt GROUP BY o_orderpriority
        """
    )


_PARQUET_ZSTD_DUCK = """
SELECT o_orderpriority, COUNT(*) AS n,
       CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
       CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
         AS sum_cents
FROM orders GROUP BY o_orderpriority
"""

QUERIES["io_roundtrip_parquet_zstd"] = _roundtrip_parquet_zstd
ORACLES["io_roundtrip_parquet_zstd"] = _PARQUET_ZSTD_DUCK
