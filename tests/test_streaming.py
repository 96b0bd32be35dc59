"""Structured Streaming twin must produce exactly the batch result when
replaying the bounded events table (deterministic via availableNow +
processAllAvailable)."""

from __future__ import annotations

import pytest

from datafusion_gpu_spark.context import register_tables
from datafusion_gpu_spark.streaming import (
    materialize_stream,
    stream_tumbling_counts,
    stream_user_event_counts,
)
from datafusion_gpu_spark.operators.events import tumbling_window_agg
from tests.conftest import SF_DIR


def test_stateful_user_counts_equal_batch(spark):
    tables = register_tables(spark, SF_DIR)
    batch = {
        r.user_id: r.n
        for r in tables["events"].groupBy("user_id").count().withColumnRenamed("count", "n").collect()
    }
    out = materialize_stream(
        stream_user_event_counts(spark, SF_DIR), output_mode="update"
    ).toPandas()
    # update mode re-emits per micro-batch; the LAST emission per user is
    # the running total — with availableNow replay it must equal batch
    final = out.groupby("user_id")["n_events"].max().to_dict()
    assert final == batch


def test_stream_tumbling_equals_batch(spark):
    tables = register_tables(spark, SF_DIR)
    batch = tumbling_window_agg(tables["events"]).toPandas()
    stream = materialize_stream(
        stream_tumbling_counts(spark, SF_DIR), output_mode="complete"
    ).toPandas()
    key = lambda d: d.sort_values(["window_start", "event_type"]).reset_index(  # noqa: E731
        drop=True
    )
    assert key(batch).equals(key(stream))


def test_stream_dedup_keeps_one_row_per_key(spark):
    from datafusion_gpu_spark.streaming import stream_dedup_events

    tables = register_tables(spark, SF_DIR)
    expected_keys = {
        (r.user_id, r.event_type)
        for r in tables["events"].select("user_id", "event_type").distinct().collect()
    }
    out = materialize_stream(
        stream_dedup_events(spark, SF_DIR), output_mode="append"
    ).toPandas()
    # which row survives per key is engine-chosen; the contract is the
    # key set and exactly-one-row-per-key
    got_keys = set(zip(out["user_id"], out["event_type"]))
    assert got_keys == expected_keys
    assert len(out) == len(expected_keys)


def test_stream_static_join_equals_batch(spark):
    from datafusion_gpu_spark.streaming import stream_enriched_purchases

    tables = register_tables(spark, SF_DIR)
    batch = (
        tables["events"].where("event_type = 'purchase'")
        .join(tables["customer"],
              tables["events"]["user_id"] == tables["customer"]["c_custkey"])
        .select("event_id", "c_mktsegment")
        .toPandas()
    )
    stream = materialize_stream(
        stream_enriched_purchases(spark, SF_DIR), output_mode="append"
    ).toPandas()
    assert len(stream) == len(batch)
    key = lambda d: d.sort_values("event_id").reset_index(drop=True)  # noqa: E731
    assert key(batch)["c_mktsegment"].equals(
        key(stream[["event_id", "c_mktsegment"]])["c_mktsegment"]
    )


def test_foreach_batch_parquet_sink_roundtrip(spark, tmp_path):
    from datafusion_gpu_spark.streaming import stream_events, stream_to_parquet

    out = str(tmp_path / "events_sink")
    ckpt = str(tmp_path / "ckpt")
    ev = stream_events(spark, SF_DIR).select("event_id", "user_id", "value")
    q = stream_to_parquet(ev, out, ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    tables = register_tables(spark, SF_DIR)
    written = spark.read.parquet(out)
    assert written.count() == tables["events"].count()
    # every source event id arrives exactly once
    assert written.select("event_id").distinct().count() == written.count()


def test_gap_fill_forward_fills_missing_buckets(spark):
    from datetime import datetime

    from datafusion_gpu_spark.operators.events import gap_fill

    rows = [
        # user 1: hours 0, 3 observed -> 1, 2 forward-filled with 10.0
        (1, datetime(2026, 1, 1, 0, 15), 1, 10.0),
        (2, datetime(2026, 1, 1, 0, 45), 1, 10.0),   # later in same bucket
        (3, datetime(2026, 1, 1, 3, 30), 1, 99.0),
        # user 2: single event -> single-bucket grid
        (4, datetime(2026, 1, 1, 5, 0), 2, 7.0),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long, value double"
    )
    out = {(r.user_id, r.bucket.hour): r for r in gap_fill(ev, "hour").collect()}
    assert len(out) == 5  # user 1 hours 0..3, user 2 hour 5
    assert out[(1, 0)].n_obs == 2 and out[(1, 0)].value_filled == 10.0
    assert out[(1, 1)].n_obs == 0 and not out[(1, 1)].is_observed
    assert out[(1, 1)].value_filled == 10.0  # carried forward
    assert out[(1, 2)].value_filled == 10.0
    assert out[(1, 3)].is_observed and out[(1, 3)].value_filled == 99.0
    assert out[(2, 5)].value_filled == 7.0


def test_gap_fill_last_in_bucket_wins_by_event_id(spark):
    from datetime import datetime

    from datafusion_gpu_spark.operators.events import gap_fill

    # same timestamp twice: higher event_id is "last"
    ts = datetime(2026, 1, 1, 0, 0)
    ev = spark.createDataFrame(
        [(1, ts, 1, 5.0), (2, ts, 1, 6.0)],
        "event_id long, ts timestamp_ntz, user_id long, value double",
    )
    [row] = gap_fill(ev, "hour").collect()
    assert row.value_filled == 6.0 and row.n_obs == 2


def test_stream_session_windows_equal_batch(spark):
    from pyspark.sql import functions as F

    from datafusion_gpu_spark.operators.events import session_window_agg
    from datafusion_gpu_spark.context import read_parquet
    from datafusion_gpu_spark import streaming

    sf = "/root/testdata/sf0.001"
    got = {
        (r.user_id, r.session_start, r.n_events)
        for r in streaming.materialized_session_counts(spark, sf).collect()
    }
    ev = read_parquet(spark, sf + "/events.parquet").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    want = {
        (r.user_id, r.session_start, r.n_events)
        for r in session_window_agg(ev, "30 minutes").collect()
    }
    assert got == want and len(got) > 0


def test_transform_with_state_ema_equals_batch(spark):
    import pytest

    from datafusion_gpu_spark import streaming
    from datafusion_gpu_spark.context import read_parquet

    if not streaming.transform_with_state_available():
        # the runner protocol needs google.protobuf, absent in this
        # container; the plan still builds, so assert THAT and skip
        df = streaming.stream_user_value_ema(spark, "/root/testdata/sf0.001")
        assert [f.name for f in df.schema.fields] == [
            "user_id", "n_events", "ema_value",
        ]
        pytest.skip("transformWithState runner needs protobuf (env-blocked)")

    sf = "/root/testdata/sf0.001"
    out = streaming.materialize_stream(
        streaming.stream_user_value_ema(spark, sf), output_mode="update"
    )
    # update mode can emit once per (batch, key); the LAST emission per
    # user is the final state — with the single-file replay there is one
    # batch, so rows are already final
    got = {r.user_id: (r.n_events, round(r.ema_value, 9)) for r in out.collect()}

    ev = read_parquet(spark, sf + "/events.parquet").select(
        "user_id", "ts", "event_id", "value"
    )
    pdf = ev.toPandas().sort_values(["ts", "event_id"])
    want = {}
    for uid, g in pdf.groupby("user_id"):
        ema = None
        for v in g["value"]:
            v = float(v)
            ema = v if ema is None else 0.2 * v + 0.8 * ema
        want[int(uid)] = (len(g), round(ema, 9))
    assert got == want and len(got) > 0


def test_interval_join_bucketed_exact_containment(spark):
    from datetime import datetime

    from datafusion_gpu_spark.operators.events import interval_join_bucketed

    ev = spark.createDataFrame(
        [
            (1, datetime(2026, 1, 1, 0, 30), 1, "a", 1.0),   # inside iv1
            (2, datetime(2026, 1, 1, 2, 0), 1, "a", 1.0),    # boundary end: excluded
            (3, datetime(2026, 1, 1, 1, 59, 59), 2, "b", 1.0),  # inside
            (4, datetime(2026, 1, 2, 5, 0), 2, "b", 1.0),    # outside all
            (5, datetime(2026, 1, 1, 0, 0), 3, "c", 1.0),    # boundary start: included
        ],
        "event_id long, ts timestamp_ntz, user_id long, event_type string, value double",
    )
    iv = spark.createDataFrame(
        [(10, datetime(2026, 1, 1, 0, 0), datetime(2026, 1, 1, 2, 0))],
        "interval_id long, start_ts timestamp_ntz, end_ts timestamp_ntz",
    )
    got = {(r.interval_id, r.event_id) for r in interval_join_bucketed(ev, iv).collect()}
    assert got == {(10, 1), (10, 3), (10, 5)}  # [start, end) semantics


def test_rolling_anomalies_flags_planted_spike_not_constant_runs(spark):
    from datetime import datetime, timedelta

    from datafusion_gpu_spark.operators.events import rolling_anomalies

    base = datetime(2026, 1, 1)
    rows = []
    # hours 0-29: alternating 9/11 (sd ~ 1), hour 30: spike to 100
    for h in range(30):
        rows.append((h, base + timedelta(hours=h), 1, "t", 9.0 if h % 2 else 11.0))
    rows.append((30, base + timedelta(hours=30), 1, "t", 100.0))
    # user 2: constant value -> zero variance -> never anomalous
    for h in range(10):
        rows.append((100 + h, base + timedelta(hours=h), 2, "t", 5.0))
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long, event_type string, value double"
    )
    out = {
        (r.user_id, int((r.bucket - base).total_seconds() // 3600)): r
        for r in rolling_anomalies(ev).collect()
    }
    assert out[(1, 30)].is_anomaly and out[(1, 30)].zscore > 3
    assert not any(r.is_anomaly for (u, _), r in out.items() if u == 2)
    assert all(r.zscore is None for (u, _), r in out.items() if u == 2)
    # the spike is the ONLY flag for user 1
    assert [h for (u, h), r in out.items() if u == 1 and r.is_anomaly] == [30]


def test_winsorize_clips_only_tails(spark):
    from datetime import datetime

    from datafusion_gpu_spark.operators.events import winsorize

    ts = datetime(2026, 1, 1)
    rows = [(i, ts, 1, "t", float(i)) for i in range(1, 100)]  # 1..99
    rows.append((100, ts, 1, "t", 10_000.0))  # fat finger
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long, event_type string, value double"
    )
    out = {r.event_id: r for r in winsorize(ev, 0.05, 0.95).collect()}
    assert out[100].was_clipped and out[100].clipped < 10_000
    assert not out[50].was_clipped and out[50].clipped == 50.0
    n_clipped = sum(1 for r in out.values() if r.was_clipped)
    assert n_clipped <= 10  # only the tails move


def test_scd2_history_validity_chain(spark):
    # CDC log -> type-2 history: contiguous validity windows per key,
    # exactly one current row, point-in-time join answers correctly
    from datafusion_gpu_spark.operators.events import scd2_history

    from pyspark.sql import functions as F

    log = spark.createDataFrame(
        [("u1", "2024-01-01 00:00:00", "bronze"),
         ("u1", "2024-02-01 00:00:00", "silver"),
         ("u1", "2024-03-01 00:00:00", "gold"),
         ("u2", "2024-01-15 00:00:00", "bronze")],
        "user string, ts_s string, tier string",
    ).select("user", F.col("ts_s").cast("timestamp").alias("ts"), "tier")
    hist = scd2_history(log, ["user"], "ts").collect()
    by = {(r.user, r.tier): r for r in hist}
    assert by[("u1", "bronze")].effective_to == by[("u1", "silver")].effective_from
    assert by[("u1", "silver")].effective_to == by[("u1", "gold")].effective_from
    assert by[("u1", "gold")].is_current and by[("u1", "gold")].effective_to is None
    assert by[("u2", "bronze")].is_current
    assert sum(1 for r in hist if r.is_current) == 2
    # point-in-time: what was u1 on Feb 15?
    h = scd2_history(log, ["user"], "ts")
    asof = h.where(
        (F.col("user") == "u1")
        & (F.col("effective_from") <= F.lit("2024-02-15").cast("timestamp"))
        & (F.col("effective_to").isNull()
           | (F.col("effective_to") > F.lit("2024-02-15").cast("timestamp")))
    ).collect()
    assert len(asof) == 1 and asof[0].tier == "silver"


def test_scd2_duplicate_ts_without_tiebreak_raises(spark):
    from pyspark.sql import functions as F

    from datafusion_gpu_spark.operators.events import scd2_history

    log = spark.createDataFrame(
        [("u1", "2024-01-01 00:00:00", "a"), ("u1", "2024-01-01 00:00:00", "b")],
        "user string, ts_s string, tier string",
    ).select("user", F.col("ts_s").cast("timestamp").alias("ts"), "tier")
    import pytest as _pytest

    with _pytest.raises(Exception, match="nondeterministic"):
        scd2_history(log, ["user"], "ts").collect()
    # a tiebreak makes the same input legal and deterministic
    hist = scd2_history(log, ["user"], "ts", tiebreak_col="tier").collect()
    cur = [r.tier for r in hist if r.is_current]
    assert cur == ["b"]  # 'b' sorts after 'a' -> current


def test_streaming_multi_rollup_equals_batch(spark):
    from datafusion_gpu_spark.operators.events import multi_resolution_rollup
    from datafusion_gpu_spark.streaming import materialized_multi_rollup

    from datafusion_gpu_spark.context import read_parquet

    sf_dir = "/root/testdata/sf0.001"
    batch = multi_resolution_rollup(
        read_parquet(spark, f"{sf_dir}/events.parquet")
    )
    stream = materialized_multi_rollup(spark, sf_dir)
    b = {tuple(r) for r in batch.collect()}
    s = {tuple(r) for r in stream.collect()}
    assert b == s and len(b) > 0


def test_stream_stream_join_equals_batch_interval_join(spark):
    # watermarked stream-stream inner join == batch interval self-join,
    # and every (view, purchase) pair emits exactly once
    from tests.conftest import SF_DIR

    from pyspark.sql import functions as F

    from datafusion_gpu_spark.context import register_tables
    from datafusion_gpu_spark.streaming import materialized_view_purchase_join

    register_tables(spark, SF_DIR)
    got = materialized_view_purchase_join(spark, SF_DIR)
    pairs = [(r["view_id"], r["purchase_id"]) for r in got.collect()]
    assert len(pairs) == len(set(pairs))  # exactly-once per matched pair

    ev = spark.table("events")
    v = ev.where("event_type = 'view'")
    p = ev.where("event_type = 'purchase'")
    batch = v.alias("v").join(
        p.alias("p"),
        (F.col("v.user_id") == F.col("p.user_id"))
        & (F.col("p.ts") >= F.col("v.ts"))
        & (F.col("p.ts") <= F.col("v.ts") + F.expr("INTERVAL 1 HOUR")),
    )
    expected = {
        (r["view_id"], r["purchase_id"])
        for r in batch.select(
            F.col("v.event_id").alias("view_id"),
            F.col("p.event_id").alias("purchase_id"),
        ).collect()
    }
    assert set(pairs) == expected and len(expected) > 0


def test_python_stream_source_multibatch_exactly_once(spark):
    # the custom DataSourceStreamReader advances offsets batch_rows at a
    # time; every generated row must land exactly once across batches
    from datafusion_gpu_spark.sources import register_python_sources
    from datafusion_gpu_spark.streaming import materialize_stream

    register_python_sources(spark)
    raw = (
        spark.readStream.format("dgs_synth")
        .option("n", 1000).option("parts", 4).option("batch_rows", 300)
        .load()
    )
    rows = materialize_stream(raw, output_mode="append", available_now=False)
    ids = [r["id"] for r in rows.select("id").collect()]
    assert len(ids) == 1000 and len(set(ids)) == 1000
    assert min(ids) == 0 and max(ids) == 999


def test_streaming_incremental_agg_matches_batch_maintenance(spark):
    # Z-set associativity end-to-end: applying the changelog in 4
    # micro-batches (foreachBatch read-modify-write over versioned view
    # dirs) must land on exactly the one-shot batch maintenance result
    from datafusion_gpu_spark.queries.io_q import (
        _incremental_agg,
        _streaming_incremental_agg,
    )

    sf = "/root/testdata/sf0.001"
    batch = {
        r.custkey: (r.cnt, r.total) for r in _incremental_agg(spark, sf).collect()
    }
    stream = {
        r.custkey: (r.cnt, r.total)
        for r in _streaming_incremental_agg(spark, sf).collect()
    }
    assert stream == batch
    assert len(batch) > 0


def test_streaming_ewma_matches_batch_exactly(spark):
    # the stateful automaton on an in-order replay must reproduce the
    # batch window spelling bit-for-bit, exact bigints included
    from datafusion_gpu_spark.queries.pipeline import (
        _events_ewma,
        _streaming_ewma,
    )

    sf = "/root/testdata/sf0.001"
    batch = {
        r.event_id: (r.num, r.den, r.ewma)
        for r in _events_ewma(spark, sf).collect()
    }
    stream = {
        r.event_id: (r.num, r.den, r.ewma)
        for r in _streaming_ewma(spark, sf).collect()
    }
    assert stream == batch
    assert len(batch) > 0


def test_streaming_holt_matches_batch_exactly(spark):
    # 18th stream==batch twin: the bounded-state double-smoothing
    # automaton on an in-order replay reproduces the 39-lag batch
    # window spelling bit-for-bit, exact bigint quadruples included
    from datafusion_gpu_spark.queries.pipeline import (
        _events_holt_smoothing,
        _streaming_holt,
    )

    sf = "/root/testdata/sf0.001"
    batch = {
        r.event_id: tuple(r)
        for r in _events_holt_smoothing(spark, sf).collect()
    }
    stream = {
        r.event_id: tuple(r) for r in _streaming_holt(spark, sf).collect()
    }
    assert stream == batch
    assert len(batch) > 0


def test_streaming_holt_winters_matches_batch_exactly(spark):
    # 20th twin: the bounded per-slot seasonal history + deseasonalized
    # double-smoothing automaton reproduces the two-window batch
    # spelling bit-for-bit on an in-order replay — exact bigints AND
    # the single deterministic sq quantization included
    from datafusion_gpu_spark.queries.pipeline import (
        _events_holt_winters,
        _streaming_holt_winters,
    )

    sf = "/root/testdata/sf0.001"
    batch = {
        r.event_id: tuple(r)
        for r in _events_holt_winters(spark, sf).collect()
    }
    stream = {
        r.event_id: tuple(r)
        for r in _streaming_holt_winters(spark, sf).collect()
    }
    assert stream == batch
    assert len(batch) > 0


def test_streaming_page_hinkley_matches_batch_exactly(spark):
    # 21st twin: the six-bigint per-type fold with provisional open-hour
    # emits reproduces the batch hourly detector bit-for-bit, quantized
    # deviation terms and headroom guard included
    from datafusion_gpu_spark.queries.pipeline import (
        _events_page_hinkley,
        _streaming_page_hinkley,
    )

    sf = "/root/testdata/sf0.001"
    batch = {
        (r.event_type, r.bucket): tuple(r)
        for r in _events_page_hinkley(spark, sf).collect()
    }
    stream = {
        (r.event_type, r.bucket): tuple(r)
        for r in _streaming_page_hinkley(spark, sf).collect()
    }
    assert stream == batch
    assert len(batch) > 0


def test_streaming_max_drawdown_matches_batch_exactly(spark):
    # 19th twin: the three-bigint fold state on an in-order replay
    # reproduces the two-window batch spelling bit-for-bit
    from datafusion_gpu_spark.queries.pipeline import (
        _events_max_drawdown,
        _streaming_max_drawdown,
    )

    sf = "/root/testdata/sf0.001"
    batch = {r.user_id: tuple(r) for r in
             _events_max_drawdown(spark, sf).collect()}
    stream = {r.user_id: tuple(r) for r in
              _streaming_max_drawdown(spark, sf).collect()}
    assert stream == batch
    assert len(batch) > 0


def test_streaming_ohlc_matches_batch_exactly(spark):
    # incremental min/max-struct open/close on an in-order replay must
    # reproduce the batch row_number spelling bit-for-bit
    from datafusion_gpu_spark.queries.pipeline import (
        _events_ohlc,
        _streaming_ohlc,
    )

    sf = "/root/testdata/sf0.001"
    cols = ("open", "high", "low", "close", "volume_cents", "n_trades")
    batch = {
        (r.bucket, r.event_type): tuple(r[c] for c in cols)
        for r in _events_ohlc(spark, sf).collect()
    }
    stream = {
        (r.bucket, r.event_type): tuple(r[c] for c in cols)
        for r in _streaming_ohlc(spark, sf).collect()
    }
    assert stream == batch
    assert len(batch) > 0


def test_stream_welch_ttest_equals_batch(spark):
    """The 15th stream==batch twin: the streaming Welch t (incremental
    moments + streaming-dedup distinct counts) returns bit-for-bit the
    batch SQL's row on a bounded replay."""
    from datafusion_gpu_spark.queries.pipeline import _WELCH_T, load
    from datafusion_gpu_spark.streaming import stream_welch_ttest
    from tests.conftest import SF_DIR

    load(spark, SF_DIR)
    [want] = spark.sql(_WELCH_T).collect()
    [got] = stream_welch_ttest(spark, SF_DIR).collect()
    assert got.n_a == want.n_a and got.n_b == want.n_b
    assert got.mean_diff_cents == want.mean_diff_cents
    assert got.t_stat == want.t_stat
    assert got.df == want.df


def test_stream_seasonal_anomaly_equals_batch(spark):
    """16th stream==batch twin: identical rows (flags included) on a
    bounded replay."""
    from datafusion_gpu_spark.queries.pipeline import _SEASONAL_ANOM, load
    from datafusion_gpu_spark.streaming import stream_seasonal_anomaly
    from tests.conftest import SF_DIR

    load(spark, SF_DIR)
    want = {
        r.bucket: (r.hour_of_day, r.cents, r.n_same_hour,
                   r.break_upper, r.break_lower)
        for r in spark.sql(_SEASONAL_ANOM).collect()
    }
    got = {
        r.bucket: (r.hour_of_day, r.cents, r.n_same_hour,
                   r.break_upper, r.break_lower)
        for r in stream_seasonal_anomaly(spark, SF_DIR).collect()
    }
    assert got == want


def test_streaming_croston_matches_batch_exactly(spark):
    # 22nd twin: bounded (sizes, gaps, last-ts) state reproduces the
    # batch two-kernel fold bit-for-bit, incl. the first row's NULL gap
    # semantics (state sentinel -1 contributes zero kernel weight)
    from datafusion_gpu_spark.queries.pipeline import (
        _events_croston,
        _streaming_croston,
    )

    sf = "/root/testdata/sf0.001"
    batch = {
        r.event_id: tuple(r) for r in _events_croston(spark, sf).collect()
    }
    stream = {
        r.event_id: tuple(r) for r in _streaming_croston(spark, sf).collect()
    }
    assert stream == batch
    assert len(batch) > 0


def test_streaming_donchian_matches_batch_exactly(spark):
    # 23rd twin: a 20-cent sliding window is the whole state; rolling
    # extremes replay bit-for-bit
    from datafusion_gpu_spark.queries.pipeline import (
        _streaming_donchian,
        _window_donchian,
    )

    sf = "/root/testdata/sf0.001"
    batch = {
        r.event_id: tuple(r) for r in _window_donchian(spark, sf).collect()
    }
    stream = {
        r.event_id: tuple(r) for r in _streaming_donchian(spark, sf).collect()
    }
    assert stream == batch
    assert len(batch) > 0


def test_streaming_sprt_matches_batch_exactly(spark):
    # 24th twin: the seven-bigint global fold (pure int64 — constants
    # pre-quantized, no float mid-fold) with provisional open-hour
    # emits reproduces the batch hourly SPRT bit-for-bit, latch
    # semantics and headroom guard included
    from datafusion_gpu_spark.queries.pipeline import (
        _events_sprt,
        _streaming_sprt,
    )

    sf = "/root/testdata/sf0.001"
    batch = {r.bucket: tuple(r) for r in _events_sprt(spark, sf).collect()}
    stream = {r.bucket: tuple(r) for r in _streaming_sprt(spark, sf).collect()}
    assert stream == batch
    assert len(batch) > 0


def test_streaming_mcnemar_matches_batch_exactly(spark):
    # 25th twin: the per-user monotone two-bit flag automaton plus the
    # batch contingency tail reproduces the batch McNemar row exactly
    from datafusion_gpu_spark.queries.pipeline import (
        _events_mcnemar,
        _streaming_mcnemar,
    )

    sf = "/root/testdata/sf0.001"
    batch = [tuple(r) for r in _events_mcnemar(spark, sf).collect()]
    stream = [tuple(r) for r in _streaming_mcnemar(spark, sf).collect()]
    assert stream == batch and len(batch) == 1


def test_streaming_cochran_q_matches_batch_exactly(spark):
    # 26th twin: three monotone bits per user + the exact-integer
    # statistic tail reproduce the batch Cochran-Q row exactly
    from datafusion_gpu_spark.queries.pipeline import (
        _events_cochran_q,
        _streaming_cochran_q,
    )

    sf = "/root/testdata/sf0.001"
    batch = [tuple(r) for r in _events_cochran_q(spark, sf).collect()]
    stream = [tuple(r) for r in _streaming_cochran_q(spark, sf).collect()]
    assert stream == batch and len(batch) == 1


def test_streaming_group_sequential_matches_batch_exactly(spark):
    # 27th twin: watermarked hourly tumbling (n, d) state + the batch
    # _GS_FOLD decision tail verbatim reproduce the batch five-look
    # relation exactly (look firing points, latched OBF decision, all)
    from datafusion_gpu_spark.queries.pipeline import (
        _events_group_sequential,
        _streaming_group_sequential,
    )

    sf = "/root/testdata/sf0.001"
    batch = {r.look: tuple(r) for r in _events_group_sequential(spark, sf).collect()}
    stream = {
        r.look: tuple(r) for r in _streaming_group_sequential(spark, sf).collect()
    }
    assert stream == batch and len(batch) == 5


def test_registry_twin_accounting():
    # SURVEY §21/§23 twin table, as set arithmetic: 28 streaming_*
    # registry rows after round 15 (the 24 r12 twins + group-sequential,
    # Jarque-Bera and log-loss + r15's incremental-minhash ingest twin),
    # every one of them oracled — the "stream graded by the batch
    # oracle" contract has no rows-only exceptions
    from datafusion_gpu_spark.queries import all_oracles, all_queries

    twins = {n for n in all_queries() if n.startswith("streaming_")}
    assert len(twins) == 28
    assert twins <= set(all_oracles())


def test_streaming_incremental_minhash_equals_batch(spark):
    # the 4-micro-batch ingest loop over the persisted band index must
    # union to EXACTLY the one-shot batch probe (per-doc independence)
    from pyspark.sql import functions as F

    from tests.conftest import SF_DIR

    from datafusion_gpu_spark.context import register_tables
    from datafusion_gpu_spark.operators.dedup import incremental_minhash_lsh
    from datafusion_gpu_spark.streaming import materialized_incremental_minhash

    register_tables(spark, SF_DIR)
    got = {tuple(r) for r in materialized_incremental_minhash(spark, SF_DIR).collect()}
    docs = spark.table("documents")
    want = {
        tuple(r)
        for r in incremental_minhash_lsh(
            docs.where(F.col("doc_id") % 10 < 8),
            docs.where(F.col("doc_id") % 10 >= 8),
            threshold=0.5,
        ).collect()
    }
    assert got == want


# --- micro-batch boundary: the keyed-replay harness without Spark --------

class _HeldState:
    """GroupState stand-in holding what Spark hands back between
    micro-batches: the stored tuple (array fields as lists)."""

    def __init__(self):
        self.value = None

    @property
    def exists(self):
        return self.value is not None

    @property
    def get(self):
        return tuple(self.value)

    def update(self, value):
        self.value = tuple(list(v) if isinstance(v, list) else v for v in value)


def _synthetic_events(n=240, seed=7):
    """Three users' mixed events over ~30 hours, with timestamp ties
    (broken by event_id) and every column a stateful twin's step reads."""
    import random

    import pandas as pd

    rng = random.Random(seed)
    t0 = pd.Timestamp("2024-01-01")
    minutes = sorted(rng.randrange(0, 30 * 60) for _ in range(n))
    minutes[10:14] = [minutes[10]] * 4  # a run of equal timestamps
    ev = pd.DataFrame(
        {
            "user_id": rng.choices([1, 2, 3], k=n),
            "event_type": rng.choices(["view", "click", "purchase"], k=n),
            "ts": [t0 + pd.Timedelta(minutes=m) for m in minutes],
            "event_id": rng.sample(range(10_000), n),
            "cents": rng.choices(range(2_000), k=n),
        }
    )
    ev = ev.sort_values(["ts", "event_id"], ignore_index=True)
    ev["slot"] = ev["ts"].dt.hour
    ev["tus"] = ev["ts"].astype("int64") // 1_000
    ev["bkt"] = ev["ts"].dt.floor("h").astype("int64") // 1_000_000_000
    ev["x"] = (ev["event_type"] == "purchase").astype("int64")
    ev["g"] = 1
    # CUSUM's batch-trained per-user baseline, small enough to alarm
    ev["mu"], ev["k"], ev["h"] = 900, 50, ev["user_id"] * 400
    return ev


def _twins():
    """name -> (group column, init, step, flush, output width, number of
    leading columns that identify an emit; None = per-row twin, where
    every emit is kept)."""
    from functools import partial

    from datafusion_gpu_spark import streaming as S
    from datafusion_gpu_spark.operators.events import (
        holt_weights,
        holt_winters_weights,
    )

    holt = partial(S._holt_step, *holt_weights(3))
    hw = partial(S._holt_winters_step, *holt_weights(3), holt_winters_weights(2))
    # a 30-stage funnel, so no synthetic user completes it in one batch
    funnel = partial(S._funnel_step, ["view", "click", "purchase"] * 10)
    return {
        "ewma": ("user_id", ([],), partial(S._ewma_step, [8, 4, 2, 1]), None, 4, None),
        "holt": ("user_id", ([],), holt, None, 6, None),
        "holt_winters": ("user_id", ([], [], []), hw, None, 8, None),
        "croston": (
            "user_id", ([], [], -1), partial(S._croston_step, [4, 2, 1]), None, 6, None
        ),
        "donchian": ("user_id", ([],), partial(S._donchian_step, 4), None, 6, None),
        "user_counts": ("user_id", (0,), S._count_step, S._key_and_count, 2, 1),
        "funnel": ("user_id", (0, -1), funnel, S._key_and_count, 2, 1),
        "max_drawdown": (
            "user_id", (None, 0, 0), S._max_drawdown_step, S._max_drawdown_flush, 4, 1
        ),
        "cusum": (
            "user_id", (0, 0, 0, 0, 0, -1, 0), S._cusum_step, S._cusum_flush, 5, 1
        ),
        "page_hinkley": (
            "event_type",
            (0, 0, 0, 0, 0, -1, 0, 0),
            S._page_hinkley_step,
            S._page_hinkley_flush,
            9,
            2,
        ),
        "sprt": ("g", (0, 0, 0, 0, -1, 0, 0), S._sprt_step, S._sprt_flush, 8, 1),
    }


def _replay(ev, twin, n_batches, scramble):
    """Feed ``ev`` to the harness as ``n_batches`` contiguous micro-batches,
    one _replay_batch call per key present, state held between batches the
    way Spark holds it. ``scramble`` hands each key's rows over shuffled,
    in three chunks plus an empty one."""
    from datafusion_gpu_spark.streaming import _replay_batch

    key, init, step, flush, width, ident = twin
    cols = [f"c{i}" for i in range(width)]
    held, out = {}, []
    bounds = [len(ev) * i // n_batches for i in range(n_batches + 1)]
    for lo, hi in zip(bounds, bounds[1:]):
        for k, rows in ev.iloc[lo:hi].groupby(key, sort=True):
            chunks = [rows]
            if scramble:
                rows = rows.sample(frac=1, random_state=lo)
                a, b = len(rows) // 3, 2 * len(rows) // 3
                chunks = [rows[:a], rows[:0], rows[a:b], rows[b:]]
            state = held.setdefault(k, _HeldState())
            batch = _replay_batch(cols, init, step, flush, (k,), iter(chunks), state)
            for frame in batch:
                out.extend(frame.itertuples(index=False, name=None))
    if ident is None:
        return sorted(out)
    return {r[:ident]: r for r in out}  # the last emit per key (and bucket)


@pytest.mark.parametrize("name", sorted(_twins()))
def test_replay_is_micro_batch_boundary_invariant(name):
    # every stream==batch test replays one file = ONE micro-batch, so the
    # state carried across batches is only exercised here: 1, 2 and 7
    # micro-batches, sorted or scrambled chunks, must give the one-batch
    # result (per-row twins: every emit; flush twins: the last emit)
    twin = _twins()[name]
    ev = _synthetic_events()
    want = _replay(ev, twin, 1, scramble=False)
    assert len(want) > 2
    for n_batches in (1, 2, 7):
        for scramble in (False, True):
            assert _replay(ev, twin, n_batches, scramble) == want, (n_batches, scramble)


def test_materialize_stream_removes_its_checkpoint_dir(spark):
    import os

    from datafusion_gpu_spark.context import clear_scan_cache, session_state
    from datafusion_gpu_spark.streaming import materialize_stream, stream_events

    s = spark.newSession()
    try:
        for _ in range(2):
            materialize_stream(stream_events(s, SF_DIR).select("event_id")).count()
        root = session_state(s).scratch
        # one dir per call; the read-back's own out dir stays (the
        # DataFrame reads it lazily), the checkpoint is gone
        calls = sorted(os.listdir(root))
        assert len(calls) == 2
        for call in calls:
            assert os.listdir(os.path.join(root, call)) == ["out"]
    finally:
        clear_scan_cache(s)


def test_materialize_stream_output_dir_lives_until_session_clear(spark):
    # the out dir outlives the call (derived DataFrames read it after the
    # returned one is collected), so its owner is the session: it goes
    # when the session's state is cleared
    import gc
    import os

    from datafusion_gpu_spark import streaming
    from datafusion_gpu_spark.context import clear_scan_cache, session_state

    s = spark.newSession()
    try:
        df = streaming.materialize_stream(streaming.stream_events(s, SF_DIR))
        keys = df.select("user_id", "event_type").distinct()
        n_events = df.count()
        del df
        gc.collect()
        assert keys.count() > 0 and n_events > 0
        root = session_state(s).scratch
    finally:
        clear_scan_cache(s)
    assert not os.path.exists(root)


def test_streaming_writers_leave_no_temp_entries_after_clear(spark):
    # every dir the streaming writers make sits under the session's
    # scratch root, and every relation they persist (incremental
    # minhash's per-micro-batch candidates) is the session's, so clearing
    # the session leaves the temp dir, the session registry and the
    # cached RDDs as they were — a foreachBatch callback's per-batch
    # session object must not register state of its own
    import os
    import tempfile

    from datafusion_gpu_spark import streaming
    from datafusion_gpu_spark.context import _SESSION_STATE, clear_scan_cache

    # warm-up on a throwaway session: the JVM's first write creates its
    # snappy/lz4 native-lib files and artifacts root in the temp dir
    warm = spark.newSession()
    streaming.materialized_incremental_minhash(warm, SF_DIR).count()
    clear_scan_cache(warm)
    tmp = tempfile.gettempdir()
    before = set(os.listdir(tmp))
    states_before = set(_SESSION_STATE)
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    # ids, not a count: earlier tests' RDDs may be cleaned up meanwhile
    rdds_before = set(persistent().keySet())
    s = spark.newSession()
    try:
        for _ in range(2):
            streaming.materialize_stream(
                streaming.stream_events(s, SF_DIR).select("event_id")
            ).count()
            streaming.materialized_incremental_agg(s, SF_DIR).count()
            streaming.materialized_incremental_minhash(s, SF_DIR).count()
        assert set(os.listdir(tmp)) - before  # the session's scratch root
        assert set(persistent().keySet()) - rdds_before  # the candidates
    finally:
        clear_scan_cache(s)
    assert set(os.listdir(tmp)) - before == set()
    # stopped sessions may be swept meanwhile, so a subset, not equality
    assert set(_SESSION_STATE) <= states_before
    assert set(persistent().keySet()) - rdds_before == set()


def test_stream_events_rebuilds_nanosecond_timestamps(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from datafusion_gpu_spark.context import read_parquet
    from datafusion_gpu_spark.streaming import materialize_stream, stream_events

    table = pq.read_table(f"{SF_DIR}/events.parquet")
    ts = table.schema.get_field_index("ts")
    table = table.set_column(ts, "ts", table.column(ts).cast(pa.timestamp("ns")))
    path = str(tmp_path / "events.parquet")
    pq.write_table(table, path, version="2.6")
    assert pq.read_schema(path).field("ts").type == pa.timestamp("ns")

    stream = stream_events(spark, str(tmp_path))
    assert dict(stream.dtypes)["ts"] == "timestamp"
    got = sorted(materialize_stream(stream.select("event_id", "ts")).collect())
    micros = read_parquet(spark, f"{SF_DIR}/events.parquet")
    want = sorted(micros.select("event_id", F.col("ts").cast("timestamp")).collect())
    assert got == want and len(got) > 0
