"""IO unit tests: Arrow IPC round-trip (incl. empty partitions), NDJSON
round-trip, schema preservation. The value-level oracle checks live in
queries/io_q.py; these cover edge shapes the oracle queries don't."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from datafusion_gpu_spark import io
from tests.conftest import SF_DIR


@pytest.fixture()
def small_df(spark):
    return spark.range(0, 37).select(
        F.col("id").alias("k"),
        (F.col("id") * 1.5).alias("v"),
        F.concat(F.lit("row-"), F.col("id")).alias("s"),
    )


def test_arrow_ipc_roundtrip(spark, small_df, tmp_path):
    out = str(tmp_path / "unit_arrow")
    manifest = io.write_arrow_ipc(small_df.repartition(8), out).collect()
    assert sum(m.rows for m in manifest) == 37
    back = io.read_arrow_ipc(spark, out)
    # nullability legitimately widens through the Arrow/pandas boundary;
    # names and types must survive exactly
    assert [(f.name, f.dataType) for f in back.schema.fields] == [
        (f.name, f.dataType) for f in small_df.schema.fields
    ]
    assert sorted(r.k for r in back.collect()) == list(range(37))


def test_arrow_ipc_skips_empty_partitions(spark, small_df, tmp_path):
    out = str(tmp_path / "unit_arrow_sparse")
    # 64 partitions for 37 rows -> many empty partitions must not produce files
    manifest = io.write_arrow_ipc(small_df.repartition(64), out).collect()
    assert all(m.rows > 0 for m in manifest)
    back = io.read_arrow_ipc(spark, out)
    assert back.count() == 37


def test_json_roundtrip_preserves_values(spark, small_df, tmp_path):
    out = str(tmp_path / "unit_json")
    io.write_json(small_df, out)
    back = io.read_json(spark, out)
    a = {(r.k, r.v, r.s) for r in small_df.collect()}
    b = {(r.k, r.v, r.s) for r in back.collect()}
    assert a == b


def test_csv_roundtrip_with_inference(spark, small_df, tmp_path):
    out = str(tmp_path / "unit_csv")
    io.write_csv(small_df, out)
    back = io.read_csv(spark, out)
    assert back.count() == 37
    assert dict(back.dtypes)["v"] == "double"


# -- Python Data Source API ---------------------------------------------------


def test_python_datasource_partitioned_and_deterministic(spark):
    import hashlib

    from datafusion_gpu_spark.sources import register_python_sources

    register_python_sources(spark)
    df = spark.read.format("dgs_synth").option("n", 1000).option("parts", 4).load()
    assert df.rdd.getNumPartitions() == 4  # declared InputPartitions
    rows = {r.id: (r.bucket, r.val) for r in df.collect()}
    assert len(rows) == 1000  # every id exactly once across partitions
    for i in (0, 1, 999):
        b = int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16) % 100
        assert rows[i] == (b, b / 100.0)
    again = {r.id: (r.bucket, r.val) for r in df.collect()}
    assert rows == again


def test_python_datasource_ragged_tail_partition(spark):
    from datafusion_gpu_spark.sources import register_python_sources

    register_python_sources(spark)
    df = spark.read.format("dgs_synth").option("n", 10).option("parts", 3).load()
    assert df.count() == 10  # ceil-split covers the ragged tail exactly


# -- compaction + Z-order layout ---------------------------------------------


def test_compact_parquet_rewrites_small_files(spark, tmp_path):
    from datafusion_gpu_spark import io
    from datafusion_gpu_spark.context import read_parquet

    docs = read_parquet(spark, "/root/testdata/sf0.001/documents.parquet")
    frag = str(tmp_path / "fragmented")
    docs.repartition(32).write.parquet(frag)  # 32 tiny files
    out = str(tmp_path / "compacted")
    stats = io.compact_parquet(spark, frag, out, target_file_mb=128)
    assert stats["files_before"] == 32
    assert stats["files_after"] == 1  # tiny input -> one target file
    assert stats["rows"] == docs.count()
    # value-preserving, not just runnable
    a = sorted(r.doc_id for r in spark.read.parquet(out).collect())
    b = sorted(r.doc_id for r in docs.collect())
    assert a == b


def test_z_value_matches_morton_curve(spark):
    from pyspark.sql import functions as F

    from datafusion_gpu_spark.operators.layout import z_value

    grid = spark.createDataFrame(
        [(x, y) for x in range(4) for y in range(4)], "x int, y int"
    )
    got = {
        (r.x, r.y): r.z
        for r in grid.select("x", "y", z_value(F.col("x"), F.col("y"), 2).alias("z")).collect()
    }

    def morton(x, y):
        z = 0
        for i in range(2):
            z += ((x >> i) & 1) << (2 * i)
            z += ((y >> i) & 1) << (2 * i + 1)
        return z

    assert got == {(x, y): morton(x, y) for x in range(4) for y in range(4)}
    assert sorted(got.values()) == list(range(16))  # a bijection on the grid


def test_zorder_layout_skips_more_row_groups_than_natural(spark, tmp_path):
    from pyspark.sql import functions as F

    from datafusion_gpu_spark.operators.layout import (
        row_groups_overlapping,
        zorder_write,
    )

    n = 1 << 14
    pts = spark.range(n).select(
        (F.col("id") % 128).alias("x"),
        F.floor(F.col("id") / 128).alias("y"),
        F.col("id").alias("payload"),
    )
    # baseline: hash-scattered layout (how unclustered data lands) —
    # every file samples the whole (x, y) range, so min/max stats can
    # exclude nothing; Z-order is the fix being demonstrated
    nat = str(tmp_path / "natural")
    pts.repartition(8, "payload").write.parquet(nat)
    zo = str(tmp_path / "zorder")
    zorder_write(pts, "x", "y", zo, n_files=8, bits=7)
    # a small 2-D box: both layouts must return the same rows, but the
    # z-ordered files' row-group stats exclude far more of the file
    box = (10, 20, 10, 20)
    nat_hit, nat_tot = row_groups_overlapping(nat + "/*.parquet", "x", box[0], box[1], "y", box[2], box[3])
    z_hit, z_tot = row_groups_overlapping(zo + "/*.parquet", "x", box[0], box[1], "y", box[2], box[3])
    assert z_tot > 0 and nat_tot > 0
    assert nat_hit == nat_tot  # scattered layout cannot skip anything
    assert z_hit / z_tot <= 0.5  # Z-order skips at least half the file
    # correctness: identical result set through a real filtered scan
    q = lambda p: sorted(  # noqa: E731
        r.payload
        for r in spark.read.parquet(p)
        .where("x BETWEEN 10 AND 20 AND y BETWEEN 10 AND 20")
        .collect()
    )
    assert q(nat) == q(zo)


def test_snapshot_diff_classifies_and_reconstructs(spark):
    # planted snapshots incl. NULL values: null-safe change detection,
    # and applying the feed onto old reproduces new exactly
    from pyspark.sql import functions as F

    from datafusion_gpu_spark.operators.layout import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, None), (4, "d")], "k long, v string"
    )
    new = spark.createDataFrame(
        [(2, "b"), (3, "c"), (4, None), (5, "e")], "k long, v string"
    )
    diff = snapshot_diff(old, new, key="k")
    got = {(r["op"], r["k"], r["v"]) for r in diff.collect()}
    assert got == {
        ("delete", 1, "a"),
        ("update", 3, "c"),   # NULL -> 'c' is a change
        ("update", 4, None),  # 'd' -> NULL is a change, new value kept
        ("insert", 5, "e"),
    }
    # reconstruct: old - deletes - updated keys + (inserts|updates)
    changed = diff.where("op <> 'delete'").select("k", "v")
    survivors = old.join(
        diff.select("k"), "k", "left_anti"
    )
    rebuilt = survivors.unionByName(changed)
    assert {tuple(r) for r in rebuilt.collect()} == {
        tuple(r) for r in new.collect()
    }


def test_snapshot_diff_rejects_schema_mismatch(spark):
    import pytest

    from datafusion_gpu_spark.operators.layout import snapshot_diff

    a = spark.createDataFrame([(1, "x")], "k long, v string")
    b = spark.createDataFrame([(1, "x", 2)], "k long, v string, w long")
    with pytest.raises(ValueError):
        snapshot_diff(a, b, key="k")


def test_snapshot_diff_apply_roundtrip_property(spark):
    # for ANY pair of keyed tables: applying the diff feed onto old
    # reproduces new exactly (the CDC contract), and ops partition the
    # changed keys
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from datafusion_gpu_spark.operators.layout import snapshot_diff

    vals = st.one_of(st.none(), st.integers(min_value=0, max_value=3))
    table = st.dictionaries(
        st.integers(min_value=0, max_value=9), vals, max_size=8
    )

    @settings(max_examples=5, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    @given(old_t=table, new_t=table)
    def check(old_t, new_t):
        old = spark.createDataFrame(
            [(k, v) for k, v in old_t.items()] or [(None, None)], "k long, v long"
        ).where("k IS NOT NULL")
        new = spark.createDataFrame(
            [(k, v) for k, v in new_t.items()] or [(None, None)], "k long, v long"
        ).where("k IS NOT NULL")
        diff = snapshot_diff(old, new, key="k").collect()
        ops = {r["k"]: r["op"] for r in diff}
        # classification matches set algebra on the dicts
        for k in set(old_t) | set(new_t):
            if k in old_t and k not in new_t:
                assert ops.get(k) == "delete"
            elif k in new_t and k not in old_t:
                assert ops.get(k) == "insert"
            elif old_t[k] != new_t[k]:
                assert ops.get(k) == "update"
            else:
                assert k not in ops
        # applying the feed reproduces new
        rebuilt = dict(old_t)
        for r in diff:
            if r["op"] == "delete":
                rebuilt.pop(r["k"])
            else:
                rebuilt[r["k"]] = r["v"]
        assert rebuilt == new_t

    check()


def test_snapshot_diff_null_keys_classify_by_side(spark):
    # a NULL-keyed row never joins, but its SIDE decides the op: old ->
    # delete, new -> insert (side-presence markers, not key nullness)
    from datafusion_gpu_spark.operators.layout import snapshot_diff

    old = spark.createDataFrame([(None, "x"), (1, "a")], "k long, v string")
    new = spark.createDataFrame([(None, "y"), (1, "a")], "k long, v string")
    got = {(r["op"], r["k"], r["v"]) for r in snapshot_diff(old, new, "k").collect()}
    assert got == {("delete", None, "x"), ("insert", None, "y")}


def test_incremental_agg_matches_recompute_and_drops_zero_keys(spark):
    from pyspark.sql import functions as F

    from datafusion_gpu_spark.operators.layout import incremental_agg

    base = spark.createDataFrame(
        [("a", 10), ("a", 20), ("b", 5), ("c", 7)], "k string, v int"
    )
    view = base.groupBy("k").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("v").alias("total")
    )
    # delete BOTH of a's facts (key must vanish), delete one of b's and
    # insert a new one (net update), insert a brand-new key d
    deltas = spark.createDataFrame(
        [("a", 10, -1), ("a", 20, -1), ("b", 5, -1), ("b", 9, 1), ("d", 4, 1)],
        "k string, v int, sign int",
    )
    got = {
        r.k: (r.cnt, r.total)
        for r in incremental_agg(view, deltas, "k", "v").collect()
    }
    # recompute over base with the delta applied
    assert got == {"b": (1, 9), "c": (1, 7), "d": (1, 4)}


def test_incremental_agg_empty_delta_is_identity(spark):
    from pyspark.sql import functions as F

    from datafusion_gpu_spark.operators.layout import incremental_agg

    base = spark.createDataFrame([("a", 1), ("b", 2)], "k string, v int")
    view = base.groupBy("k").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("v").alias("total")
    )
    empty = spark.createDataFrame([], "k string, v int, sign int")
    got = {
        r.k: (r.cnt, r.total)
        for r in incremental_agg(view, empty, "k", "v").collect()
    }
    assert got == {"a": (1, 1), "b": (1, 2)}


def test_parquet_zstd_codec_reaches_files(spark, tmp_path):
    """write_parquet(compression='zstd') must actually produce
    zstd-compressed column chunks (pyarrow footer check), and the
    round-trip must be lossless."""
    import glob

    import pyarrow.parquet as pq

    out = str(tmp_path / "zstd_codec_check")
    df = spark.range(1000).selectExpr("id", "id * 2 AS dbl")
    io.write_parquet(df, out, compression="zstd")
    files = glob.glob(f"{out}/*.parquet")
    assert files
    meta = pq.ParquetFile(files[0]).metadata
    codecs = {
        meta.row_group(g).column(c).compression
        for g in range(meta.num_row_groups)
        for c in range(meta.row_group(g).num_columns)
    }
    assert codecs == {"ZSTD"}
    back = spark.read.parquet(out)
    assert back.count() == 1000
    assert back.agg({"dbl": "sum"}).collect()[0][0] == 999 * 1000


# -- one owner for the files a query writes ------------------------------------

#: Every registry query that writes files and reads them back.
_WRITE_READ_QUERIES = (
    "io_roundtrip_json",
    "io_roundtrip_json_gzip",
    "io_roundtrip_csv",
    "io_roundtrip_orc",
    "io_roundtrip_arrow",
    "io_roundtrip_parquet_zstd",
    "io_partitioned_parquet",
    "io_csv_quoted_multiline",
    "io_copy_to_sql",
    "io_schema_evolution",
    "io_compact_small_files",
    "io_bucketed_join",
    "io_incremental_agg_bucketed",
)


def _rows(df):
    return sorted(
        (tuple(round(v, 6) if isinstance(v, float) else v for v in r) for r in df.collect()),
        key=repr,
    )


@pytest.mark.parametrize("name", _WRITE_READ_QUERIES)
def test_rebuild_leaves_earlier_dataframe_readable(spark, name):
    # one long-lived session builds a query twice: the second build must
    # not overwrite or delete the files the first DataFrame still reads,
    # and every file either reads lies under the session's scratch root
    from urllib.parse import urlparse

    from datafusion_gpu_spark.context import session_state
    from datafusion_gpu_spark.queries import all_queries

    build = all_queries()[name]
    first, second = build(spark, SF_DIR), build(spark, SF_DIR)
    assert _rows(first) == _rows(second)
    root = session_state(spark).scratch
    sf_dir = os.path.realpath(SF_DIR)
    for df in (first, second):
        for uri in df.inputFiles():
            path = os.path.realpath(urlparse(uri).path)
            if os.path.commonpath([path, sf_dir]) != sf_dir:
                assert os.path.commonpath([path, root]) == root, path
