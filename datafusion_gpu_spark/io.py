"""File IO surface: readers and write sinks (SURVEY §2.1).

The reference reaches these through the embedded engine's SQL layer
(``COPY … TO``, ``CREATE EXTERNAL TABLE``, format crates proven compiled
in — SURVEY §2.1 rows 4-9); the Spark-first spelling is the
DataFrameReader/Writer API plus two thin custom paths:

- **Arrow IPC** (no native Spark reader/writer): both directions run
  *distributed* over ``mapInPandas`` — the writer emits one IPC file per
  partition and returns the manifest, the reader parallelizes the file
  list and each task decodes its files with pyarrow. Nothing but file
  paths ever passes through the driver; on a multi-node cluster the
  directory must be shared storage (as for any file sink).
- **NDJSON / CSV / Parquet**: Spark-native, including transparent
  .gz/.bz2/.zst decompression on read.
"""

from __future__ import annotations

import glob
import os
import shutil
import uuid
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from datafusion_gpu_spark.context import scratch_dir

# -- native formats ----------------------------------------------------------


def write_parquet(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    compression: str | None = None,
) -> None:
    """Parquet sink; pass compression='zstd'/'gzip'/'snappy'/'lz4' to
    override the session codec per sink (zstd is the 100 TB archival
    default: ~30% smaller than snappy at comparable scan speed)."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    if compression:
        w = w.option("compression", compression)
    w.parquet(path)


def write_csv(df: DataFrame, path: str, header: bool = True) -> None:
    df.write.mode("overwrite").option("header", header).csv(path)


def write_json(df: DataFrame, path: str, compression: str | None = None) -> None:
    """NDJSON sink (one JSON object per line, Spark's native json format);
    pass compression='gzip'/'bzip2'/'zstd' for compressed part files —
    the reader decompresses them transparently."""
    w = df.write.mode("overwrite")
    if compression:
        w = w.option("compression", compression)
    w.json(path)


def read_json(spark: SparkSession, path: str, schema: StructType | str | None = None) -> DataFrame:
    """NDJSON scan w/ schema inference (or explicit schema to skip the
    inference pass — preferred at scale: inference reads the data twice)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_csv(spark: SparkSession, path: str, header: bool = True, infer: bool = True) -> DataFrame:
    return spark.read.csv(path, header=header, inferSchema=infer)


def write_orc(df: DataFrame, path: str, compression: str | None = None) -> None:
    """ORC sink (Spark-native columnar format beside parquet — the
    warehouse-interchange case; zlib/snappy/zstd per-file compression)."""
    w = df.write.mode("overwrite")
    if compression:
        w = w.option("compression", compression)
    w.orc(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.orc(path)


# -- Arrow IPC (custom thin path) -------------------------------------------


def write_arrow_ipc(df: DataFrame, out_dir: str) -> DataFrame:
    """Distributed Arrow IPC (Feather v2) sink: one file per non-empty
    partition, written executor-side. The write happens eagerly inside
    this call (the executor-side pass is collected internally) and the
    returned manifest (path, rows) is a local relation — re-evaluating
    it, task retries aside, can never append a second set of uuid part
    files into the already-cleaned directory."""
    import pyarrow as pa

    # overwrite semantics like DataFrameWriter.mode("overwrite"): stale
    # part files from a previous write must not survive (uuid names would
    # otherwise accumulate and duplicate rows on re-read)
    if os.path.isdir(out_dir):
        shutil.rmtree(out_dir)
    os.makedirs(out_dir, exist_ok=True)

    def write_part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        writer = None
        path = None
        rows = 0
        for pdf in batches:
            tbl = pa.Table.from_pandas(pdf, preserve_index=False)
            if writer is None:
                path = os.path.join(out_dir, f"part-{uuid.uuid4().hex}.arrow")
                writer = pa.ipc.new_file(path, tbl.schema)
            writer.write_table(tbl)
            rows += len(pdf)
        if writer is not None:
            writer.close()
            yield pd.DataFrame({"path": [path], "rows": [rows]})

    manifest_rows = [
        (r.path, r.rows)
        for r in df.mapInPandas(write_part, "path string, rows long").collect()
    ]
    return df.sparkSession.createDataFrame(manifest_rows, "path string, rows long")


def read_arrow_ipc(spark: SparkSession, path: str) -> DataFrame:
    """Distributed Arrow IPC scan: the driver lists files and reads ONE
    footer for the schema (O(1) metadata); decoding fans out over the
    cluster via mapInPandas on the file list."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import from_arrow_schema

    files = sorted(glob.glob(os.path.join(path, "*.arrow"))) if os.path.isdir(path) else [path]
    if not files:
        raise FileNotFoundError(f"no .arrow files under {path}")
    with pa.memory_map(files[0]) as src:
        arrow_schema = pa.ipc.open_file(src).schema
    spark_schema = from_arrow_schema(arrow_schema)

    file_df = spark.createDataFrame([(f,) for f in files], "path string").repartition(
        min(len(files), spark.sparkContext.defaultParallelism)
    )

    def read_files(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for p in pdf["path"]:
                with pa.memory_map(p) as src:
                    yield pa.ipc.open_file(src).read_all().to_pandas()

    return file_df.mapInPandas(read_files, spark_schema)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_by: list[str],
    num_buckets: int = 16,
    sort_by: list[str] | None = None,
) -> None:
    """Persist a DataFrame as a bucketed (and optionally sorted) table —
    the co-located-join layout for 100 TB fact tables.

    Two facts bucketed identically on their join key join WITHOUT a
    shuffle: each task reads bucket i of both sides (Spark requires
    saveAsTable for bucket metadata — a plain parquet path has nowhere
    to record the hash layout). At scale this converts every recurring
    fact-fact join from a full network shuffle of both inputs into a
    local merge per bucket; pick num_buckets so one bucket of the larger
    side fits an executor's memory (e.g. 100 TB / 2048 buckets ≈ 50 GB
    per bucket pre-compression).

    The table is EXTERNAL: its files go to a fresh
    ``context.scratch_dir``, not the warehouse, so re-saving the name
    drops only the catalog entry, and a DataFrame read from the earlier
    table keeps reading its own files.
    """
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    w = df.write.bucketBy(num_buckets, *bucket_by).option(
        "path", scratch_dir(spark, table)
    )
    if sort_by:
        w = w.sortBy(*sort_by)
    w.saveAsTable(table)


def compact_parquet(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    target_file_mb: int = 128,
) -> dict:
    """Small-files compaction: rewrite a parquet directory into
    ~``target_file_mb`` files — the maintenance job every long-lived
    100 TB dataset needs (streaming sinks and partitioned writers leave
    thousands of KB-sized files whose per-file open/footer cost comes to
    dominate scans; compaction restores scan bandwidth).

    File count = ceil(input_bytes / target); the rewrite is one
    round-robin repartition (no key skew possible) and one write.
    Returns {files_before, files_after, rows, bytes_before} so callers
    can log the win. Local-FS listing here; on a cluster the same logic
    runs over the object-store listing.
    """
    import math

    files = [
        os.path.join(r, f)
        for r, _, fs in os.walk(in_dir)
        for f in fs
        if f.endswith(".parquet") or f.endswith(".snappy.parquet")
    ]
    bytes_before = sum(os.path.getsize(f) for f in files)
    n_out = max(1, math.ceil(bytes_before / (target_file_mb * 1024 * 1024)))
    df = spark.read.parquet(in_dir)
    df.repartition(n_out).write.mode("overwrite").parquet(out_dir)
    out_files = glob.glob(os.path.join(out_dir, "*.parquet"))
    return {
        "files_before": len(files),
        "files_after": len(out_files),
        "rows": spark.read.parquet(out_dir).count(),
        "bytes_before": bytes_before,
    }
