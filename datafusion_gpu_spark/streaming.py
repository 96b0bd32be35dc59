"""Structured Streaming surface — beyond-parity (SURVEY §2.9: the
reference registers only bounded sources, so nothing here is required
for parity; it exists because a training-data pipeline at 100 TB ingests
continuously).

Spelling: the same logical plans as operators.events, re-targeted at an
unbounded file source. A parquet directory is the canonical bridge —
in production the stream tails an object-store prefix or Kafka topic;
in tests it replays the driver's events table and
``processAllAvailable()`` makes the run deterministic.

Scale notes: watermark + windowed aggregation is incremental state in
the executors (no unbounded buffering); ``complete`` output mode is for
the bounded replay/test path, ``append`` + watermark is the production
mode where only finalized windows emit.

Stateful twin contract: an ``applyInPandasWithState`` twin is only its
per-event arithmetic — a module-level ``step(key, state, row) -> (state,
rows)`` plus an optional ``flush(key, state) -> rows`` emitted after each
micro-batch's fold — run by ``_keyed_replay``, which owns the state
read/write, the one (ts, event_id) sort per micro-batch and the output
frame (the accumulator lifecycle the reference leaves to DataFusion,
cudarc rs:115-161). Steps take no SparkSession, so ``_fold`` replays them
on plain lists in tests.
"""

from __future__ import annotations

import os
import shutil
from decimal import ROUND_HALF_UP, Decimal
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datafusion_gpu_spark.context import (
    _cached_scan,
    _ns_timestamp_columns,
    scratch_dir,
)


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unbounded view of the events table via the file streaming source.

    Streams need an explicit schema: it is taken from the session's
    cached batch scan of the same file (context._cached_scan; footer
    metadata only — no data scan). A file with TIMESTAMP(NANOS) columns
    also needs its raw schema, which one more batch read supplies: the
    stream reads those columns as raw int64 nanos and rebuilds the
    timestamps in-plan, mirroring context.read_parquet.
    """
    path = os.path.join(sf_dir, "events.parquet")
    schema = _cached_scan(spark, path).schema
    ns_cols = _ns_timestamp_columns(path)
    if ns_cols:
        # ns-precision files require spark.sql.legacy.parquet.nanosAsLong
        # at session BUILD time (context.get_spark sets it); no runtime
        # conf mutation here — on a session without it, a ns file fails
        # this batch read with Spark's own message naming that conf.
        schema = spark.read.parquet(path).schema  # pre-conversion schema
    # the file source requires a directory: stream the sf dir and select
    # just the events file via pathGlobFilter
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    # rebuild ns-long columns into proper timestamps, mirroring read_parquet
    for c in ns_cols:
        stream = stream.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    # watermarks require TIMESTAMP (LTZ); parquet micro-precision columns
    # without UTC-adjustment metadata infer as TIMESTAMP_NTZ. The session
    # timezone is pinned to UTC (context.get_spark), so this cast keeps the
    # wall-clock instant while making the column watermark-eligible.
    from pyspark.sql.types import TimestampNTZType

    for field in stream.schema.fields:
        if isinstance(field.dataType, TimestampNTZType):
            stream = stream.withColumn(field.name, F.col(field.name).cast("timestamp"))
    return stream


def _purchase_cents(
    spark: SparkSession, sf_dir: str, scale: int = 100, *extra
) -> DataFrame:
    """The purchase stream as (user_id, ts, event_id, *extra, cents), with
    ``value`` quantized JVM-SIDE by the batch twins' F.round(value*scale)
    — Python's bankers' rounding would diverge from Spark's HALF_UP on
    exact half-cents, so the automata downstream stay integer-only."""
    return (
        stream_events(spark, sf_dir)
        .where((F.col("event_type") == "purchase") & F.col("value").isNotNull())
        .select(
            "user_id",
            "ts",
            "event_id",
            *extra,
            F.round(F.col("value") * scale).cast("long").alias("cents"),
        )
    )


def _round_half_up(x: float) -> int:
    """SQL ROUND(x, 0) on a DOUBLE: HALF_UP on the double's EXACT value
    (Decimal(float) is exact binary->decimal, same as
    java.math.BigDecimal(double)) — what both Spark's BigDecimal round and
    DuckDB's round compute."""
    return int(Decimal(x).quantize(Decimal(1), rounding=ROUND_HALF_UP))


def _fold(key, state, chunks, step, flush=None):
    """Fold ``step`` over one key's micro-batch chunks in (ts, event_id)
    order, then ``flush`` once if any row arrived. Spark splits a key's input
    across Arrow chunks (arrow.maxRecordsPerBatch); per-chunk sorting
    would not give a global fold order, so all chunks are gathered and
    sorted once — state is per-key bounded, so this is small. Returns
    (new state, output rows)."""
    import pandas as pd

    out = []
    chunks = [c for c in chunks if len(c)]
    if chunks:
        batch = pd.concat(chunks, ignore_index=True).sort_values(["ts", "event_id"])
        for row in batch.itertuples(index=False):
            state, rows = step(key, state, row)
            out.extend(rows)
        if flush is not None:
            out.extend(flush(key, state))
    return state, out


def _keyed_replay(
    ev: DataFrame, key: str, state_schema: str, out_schema: str, init, step, flush=None
) -> DataFrame:
    """Group ``ev`` by ``key`` and run ``_replay_batch`` per key and
    micro-batch under applyInPandasWithState (update mode, no timeout).
    Returns the unmaterialized stream."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    cols = [f.split()[0] for f in out_schema.split(",")]
    return ev.groupBy(key).applyInPandasWithState(
        partial(_replay_batch, cols, init, step, flush),
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _replay_batch(cols, init, step, flush, key, pdfs, state):
    """One key's micro-batch: ``_fold`` from the key's stored state (or
    ``init``), store the new state, and yield the rows — tuples in
    ``cols`` order — as one frame."""
    import pandas as pd

    new, rows = _fold(key, state.get if state.exists else init, pdfs, step, flush)
    state.update(new)
    columns = list(zip(*rows)) or [()] * len(cols)
    yield pd.DataFrame({c: list(v) for c, v in zip(cols, columns)})


def stream_tumbling_counts(
    spark: SparkSession,
    sf_dir: str,
    width: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming twin of operators.events.tumbling_window_agg: watermarked
    event-time tumbling windows, incremental per-(window, type) state."""
    ev = stream_events(spark, sf_dir)
    return (
        ev.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width).alias("w"), "event_type")
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


def stream_user_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState:
    a per-user running event counter held in explicit group state — the
    Structured-Streaming analogue of the reference's accumulator
    lifecycle (update_batch/state/evaluate, cudarc rs:115-161), with
    Spark managing state placement/recovery instead of one process.

    Each micro-batch updates the per-user state with the batch's rows
    and emits the new running total; the state store partitions by
    user_id, so 10^9 users spread across executors.
    """
    return _keyed_replay(
        stream_events(spark, sf_dir),
        "user_id",
        "n long",
        "user_id long, n_events long",
        (0,),
        _count_step,
        _key_and_count,
    )


def _count_step(key, state, row):
    return (state[0] + 1,), ()


def _key_and_count(key, state):
    """flush of the counter twins (events seen, funnel stage reached):
    the key and its state's first slot."""
    return [(key[0], state[0])]


def stream_dedup_events(
    spark: SparkSession, sf_dir: str, watermark: str = "2 hours"
) -> DataFrame:
    """Streaming exact deduplication: dropDuplicatesWithinWatermark on the
    event key — the streaming twin of dedup.exact_dedup's "keep one copy
    per key" contract. State holds one entry per key only until the
    watermark passes its event time, so the store is bounded by the
    watermark horizon x key arrival rate, not by stream length — the
    property that makes streaming dedup viable on an unbounded 100 TB/day
    ingest where an ever-growing exact-key store would OOM.
    """
    ev = stream_events(spark, sf_dir)
    return (
        ev.withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type", "ts", "value")
    )


def stream_enriched_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the unbounded event stream enriched against
    the bounded customer dimension — the canonical production pattern
    (facts stream in, dims are a table). The static side is re-read per
    micro-batch, so dim updates are picked up without restarting; Spark
    broadcasts it under the join threshold exactly as in batch.
    """
    ev = stream_events(spark, sf_dir).where(F.col("event_type") == "purchase")
    customer = _cached_scan(spark, os.path.join(sf_dir, "customer.parquet"))
    return ev.join(
        customer, ev["user_id"] == customer["c_custkey"], "inner"
    ).select(
        "event_id", "user_id", "ts", "value", "c_mktsegment", "c_nationkey"
    )


def stream_view_purchase_join(
    spark: SparkSession,
    sf_dir: str,
    horizon: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """STREAM-STREAM inner join with an event-time range condition: each
    view pairs with every purchase by the same user that lands within
    ``horizon`` after it — attribution, the canonical two-stream shape.

    Both sides carry watermarks and the join predicate bounds
    ``purchase_ts`` to [view_ts, view_ts + horizon], so Spark can expire
    buffered state: a view older than watermark+horizon can never match
    a future purchase and is dropped from the state store. Inner-join
    rows emit exactly once when matched.

    Bounded-disorder caveat (same approximation contract as the EMA
    operator): equality with the batch interval self-join holds only
    for sources whose event-time disorder stays within ``watermark`` —
    a view arriving more than ``watermark`` late is already evicted
    from state and its pairs are silently lost. The gate's DuckDB
    oracle replays the batch join and matches because the parquet file
    replay is near-ordered; size ``watermark`` to the source's maximum
    disorder when that guarantee matters.
    """
    views = (
        stream_events(spark, sf_dir)
        .where(F.col("event_type") == "view")
        .select(
            "user_id",
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", watermark)
    )
    purchases = (
        stream_events(spark, sf_dir)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    return views.join(
        purchases,
        (views["user_id"] == purchases["p_user_id"])
        & (purchases["purchase_ts"] >= views["view_ts"])
        & (
            purchases["purchase_ts"]
            <= views["view_ts"] + F.expr(f"INTERVAL {horizon}")
        ),
        "inner",
    ).select("user_id", "view_id", "view_ts", "purchase_id", "purchase_ts")


def materialized_view_purchase_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream attribution join materialized through the
    idempotent append sink; must equal the batch interval self-join
    row-for-row (same full-row DuckDB oracle)."""
    return materialize_stream(
        stream_view_purchase_join(spark, sf_dir), output_mode="append"
    ).select("user_id", "view_id", "view_ts", "purchase_id", "purchase_ts")


def materialized_python_stream_source(
    spark: SparkSession, sf_dir: str, n: int = 20_000
) -> DataFrame:
    """Spark 4 Python Data Source STREAM reader through the gate: the
    custom dgs_synth source's DataSourceStreamReader feeds micro-batches
    (offset-ranged, executor-parallel InputPartitions) into the
    idempotent append sink; every generated row lands exactly once, so
    the batch aggregation of the read-back equals the SQL replay of the
    deterministic generator. ``sf_dir`` is unused (the source is
    synthetic) but kept for the uniform gate signature."""
    from datafusion_gpu_spark.sources import register_python_sources

    register_python_sources(spark)
    raw = (
        spark.readStream.format("dgs_synth")
        .option("n", n)
        .option("parts", 8)
        .option("batch_rows", 6_000)
        .load()
    )
    rows = materialize_stream(raw, output_mode="append", available_now=False)
    return rows.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("val"), 2).alias("sum_val"),
        F.min("id").alias("min_id"),
    )


def stream_to_parquet(
    df: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    output_mode: str = "append",
    available_now: bool = True,
) -> "object":
    """foreachBatch parquet sink: each micro-batch lands as a partition
    directory keyed by batch id, so a replayed batch (restart after a
    failure between write and commit) OVERWRITES its own directory
    instead of duplicating rows — idempotence via dynamic partition
    overwrite, the pattern exactly-once file sinks are built from.
    Returns the started StreamingQuery (caller stops it).

    ``output_mode="complete"`` is required for aggregation streams on a
    bounded replay (append + watermark would hold back the final open
    windows); readers then take only the highest ``_batch_id`` partition.
    """

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("_batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id")
            .parquet(out_dir)
        )

    writer = (
        df.writeStream.foreachBatch(write_batch)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
    )
    # Python Data Source streams don't support Trigger.AvailableNow
    # (Spark falls back to ONE batch); callers on such sources pass
    # available_now=False and drain via processAllAvailable instead.
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def materialize_stream(
    df: DataFrame, output_mode: str = "append", available_now: bool = True
) -> DataFrame:
    """Run a (bounded) stream through the idempotent foreachBatch parquet
    sink to completion and return the batch read-back.

    - ``append``: every row lands in exactly one micro-batch — read all
      batch partitions.
    - ``update``: each micro-batch emits the rows it changed — read all
      batch partitions (a key's last emission is its final value).
    - ``complete``: each micro-batch rewrites the full state — read only
      the highest ``_batch_id`` partition (the final state).

    Both dirs sit in one fresh ``context.scratch_dir``. The checkpoint
    dir is removed once the query stops. The ``out`` dir outlives the
    call, because the returned DataFrame reads it lazily — and so do
    DataFrames derived from it, after the returned object is gone — so
    it goes with the session's scratch root, like the IVM and
    incremental-minhash base dirs.
    """
    spark = df.sparkSession
    base = scratch_dir(spark, "stream")
    out, ckpt = os.path.join(base, "out"), os.path.join(base, "ckpt")
    query = stream_to_parquet(
        df, out, ckpt, output_mode=output_mode, available_now=available_now
    )
    try:
        query.processAllAvailable()
    finally:
        query.stop()
        shutil.rmtree(ckpt, ignore_errors=True)
    result = spark.read.parquet(out)
    if output_mode == "complete":
        [last] = result.agg(F.max("_batch_id")).collect()[0][:1]
        result = result.where(F.col("_batch_id") == last)
    return result.drop("_batch_id")


def materialized_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming query with a batch contract: run the watermarked
    tumbling-window aggregation through the idempotent foreachBatch
    parquet sink to completion, then return the read-back of the final
    micro-batch's complete state. Output shape is identical to the batch
    twin (operators.events.tumbling_window_agg), so the same DuckDB
    time_bucket oracle grades it — this is how the streaming surface
    gets a real driver CORRECTNESS row instead of pytest-only equality.
    """
    return materialize_stream(
        stream_tumbling_counts(spark, sf_dir), output_mode="complete"
    ).select("window_start", "event_type", "n_events", "sum_value")


def materialized_enriched_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join, materialized: append-mode rows land in the
    batch-id-partitioned sink exactly once, so the read-back must equal
    the plain batch join — graded by a full-row DuckDB oracle."""
    return materialize_stream(
        stream_enriched_purchases(spark, sf_dir), output_mode="append"
    ).select("event_id", "user_id", "ts", "value", "c_mktsegment", "c_nationkey")


def materialized_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming watermarked dedup, materialized as its KEY SET: which
    copy of a duplicate survives depends on arrival order, and a key can
    legitimately re-emit once the watermark expires its state — neither
    is SQL-expressible, but the set of distinct keys is deterministic,
    so that is the graded invariant (oracle: plain SELECT DISTINCT)."""
    return (
        materialize_stream(stream_dedup_events(spark, sf_dir), output_mode="append")
        .select("user_id", "event_type")
        .distinct()
    )


def stream_session_counts(
    spark: SparkSession,
    sf_dir: str,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming twin of operators.events.session_window_agg: watermarked
    SESSION windows — state merges adjacent events into a growing span
    and closes it after ``gap`` idle time, which is only expressible as
    managed window state (a tumbling grid can't follow data-driven
    session bounds)."""
    ev = stream_events(spark, sf_dir)
    return (
        ev.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.col("w.start").alias("session_start"), "n_events")
    )


def materialized_session_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming session windows with a batch contract: identical output
    shape to the batch twin, so the same gaps-and-islands DuckDB oracle
    grades both."""
    return materialize_stream(
        stream_session_counts(spark, sf_dir), output_mode="complete"
    ).select("user_id", "session_start", "n_events")


def transform_with_state_available() -> bool:
    """transformWithState's runner protocol needs protobuf; this
    container ships pyspark without it (and installs are not allowed),
    so the operator below is importable and plan-buildable but can only
    EXECUTE where `google.protobuf` exists — probed here, the same
    graceful-degradation pattern as the GPU backend probe
    (aggregates.py)."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def stream_user_value_ema(
    spark: SparkSession, sf_dir: str, alpha: float = 0.2
) -> DataFrame:
    """Custom stateful operator on the Spark 4 transformWithState API:
    per-user exponential moving average of ``value`` held in a
    ValueState — the successor to applyInPandasWithState used above,
    with typed state handles (value/list/map state, timers, TTL)
    instead of one opaque tuple.

    Rows are sorted by (ts, event_id) inside each input batch, so with
    the bounded single-file replay (one micro-batch) the fold order is
    deterministic and equals the batch twin's; on a live unbounded
    stream EMA order holds per micro-batch, which is the standard
    approximation for out-of-order-tolerant smoothing.
    """
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("ema_value", DoubleType()),
        ]
    )
    state_schema = StructType(
        [StructField("n", LongType()), StructField("ema", DoubleType())]
    )

    class EmaProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("ema_state", state_schema)

        def handleInputRows(self, key, rows, timerValues):
            n, ema = self._state.get() if self._state.exists() else (0, None)
            # Spark splits a key's micro-batch input across Arrow chunks
            # (arrow.maxRecordsPerBatch); per-chunk sorting would not give
            # a global (ts, event_id) fold order, so gather all chunks and
            # sort once — state is per-key bounded, so this is small.
            chunks = list(rows)
            if chunks:
                batch = pd.concat(chunks, ignore_index=True)
                batch = batch.sort_values(["ts", "event_id"])
                for v in batch["value"]:
                    v = float(v)
                    ema = v if ema is None else alpha * v + (1 - alpha) * ema
                    n += 1
            self._state.update((n, ema))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "ema_value": [ema]}
            )

        def close(self) -> None:
            pass

    ev = stream_events(spark, sf_dir).select("user_id", "ts", "event_id", "value")
    return ev.groupBy("user_id").transformWithStateInPandas(
        EmaProcessor(),
        outputStructType=out_schema,
        outputMode="update",
        timeMode="none",
    )


def stream_minute_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming HALF of the continuous aggregate: one watermarked
    minute-tier aggregation over the event stream (streaming allows one
    stateful aggregation per query without multi-operator append-mode
    gymnastics — which is fine, because the minute tier is the only
    tier production streams; coarser tiers reaggregate its partials in
    batch)."""
    ev = stream_events(spark, sf_dir)
    return (
        ev.withWatermark("ts", "1 day")
        .groupBy(F.date_trunc("minute", "ts").alias("bucket"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
    )


def materialized_multi_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of events.multi_resolution_rollup, split the way a
    production hypertable splits it: the STREAM maintains the minute
    tier (complete state through the idempotent foreachBatch parquet
    sink); hour/day derive from those persisted minute PARTIALS in
    batch (events.rollup_tiers_from_minute — the identical reaggregation
    the batch operator uses). Output shape matches the batch twin, so
    the same three-tier DuckDB oracle grades it."""
    from datafusion_gpu_spark.operators.events import rollup_tiers_from_minute

    minute = materialize_stream(
        stream_minute_counts(spark, sf_dir), output_mode="complete"
    ).select("bucket", "event_type", "n_events", "sum_value")
    return rollup_tiers_from_minute(minute)


def stream_funnel_progress(
    spark: SparkSession,
    sf_dir: str,
    steps: list[str] | None = None,
) -> DataFrame:
    """Streaming funnel automaton via applyInPandasWithState: per-user
    state is (stage reached, time of last conversion); each micro-batch
    advances the greedy earliest-first machine over its (ts, event_id)-
    sorted rows. The greedy scan is EXACTLY the batch funnel semantics
    (take the first qualifying event per stage, strictly after the
    previous conversion), so on an in-order replay the final states
    reproduce events.funnel_counts; on a live stream, ordering holds
    within each micro-batch — the same documented approximation as the
    EMA operator. State is two scalars per user, bounded forever.
    """
    steps = list(steps or ["view", "click", "purchase"])
    ev = (
        stream_events(spark, sf_dir)
        .where(F.col("event_type").isin(steps))
        .select("user_id", "ts", "event_id", "event_type")
    )
    return _keyed_replay(
        ev,
        "user_id",
        "stage int, t_prev long",
        "user_id long, stages_completed int",
        (0, -1),
        partial(_funnel_step, steps),
        _key_and_count,
    )


def _funnel_step(steps, key, state, row):
    import pandas as pd

    stage, t_prev = state
    if stage < len(steps) and row.event_type == steps[stage]:
        t = int(pd.Timestamp(row.ts).value)
        if stage == 0 or t > t_prev:
            return (stage + 1, t), ()
    return state, ()


def materialized_streaming_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming funnel with a batch contract: the per-user automaton
    states materialize through the update-mode sink (stage is monotone,
    so the max per user is the final state even across batches), then
    collapse to the same (step, stage, users) relation as
    events.funnel_counts — graded by the identical chained-CTE oracle."""
    steps = ["view", "click", "purchase"]
    prog = materialize_stream(
        stream_funnel_progress(spark, sf_dir, steps), output_mode="update"
    )
    final = prog.groupBy("user_id").agg(
        F.max("stages_completed").alias("stage")
    )
    counts = final.agg(
        *[
            # coalesce: SUM over an empty relation is NULL, but the
            # batch twin's COUNT (and the shared oracle) yield 0
            F.coalesce(
                F.sum((F.col("stage") >= i + 1).cast("long")), F.lit(0)
            ).alias(f"c_{i}")
            for i in range(len(steps))
        ]
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


def materialized_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of events.value_histogram: the same floor-bucket
    histogram maintained incrementally over the replayed event stream
    (complete-mode aggregation — histogram state is |types| x |buckets|
    rows, bounded regardless of stream length), materialized through the
    idempotent sink. Identical output shape to the batch operator, so
    the SAME DuckDB oracle grades stream == batch."""
    from datafusion_gpu_spark.operators.events import value_histogram

    return materialize_stream(
        value_histogram(stream_events(spark, sf_dir), width=5.0),
        output_mode="complete",
    ).select("event_type", "bucket", "n", "sum_value")


def materialized_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of io_incremental_agg: the order changelog arrives
    in MICRO-BATCHES (the orders table re-laid as 8 files, streamed with
    maxFilesPerTrigger=2 → 4 batches) and each batch maintains the
    STORED view via one delta-sized aggregation + one full-outer join
    (layout.incremental_agg) inside foreachBatch — the production
    read-modify-write pattern with per-batch-VERSIONED view directories,
    so a replayed batch after a crash rewrites its own version instead
    of double-applying its delta (idempotent restart, same argument as
    stream_to_parquet's partition overwrite).

    Z-set deltas are associative and commute per key, so ANY micro-batch
    partitioning of the changelog converges to the one-shot batch
    maintenance result — the SAME DuckDB oracle grades stream == batch.
    At 100 TB this is exactly how a lakehouse view keeps up with a CDC
    feed: per-batch cost is O(|delta| + |view|), never a fact-history
    rescan.
    """
    from datafusion_gpu_spark.operators.layout import incremental_agg

    base = scratch_dir(spark, "ivm")
    orders = _cached_scan(spark, os.path.join(sf_dir, "orders.parquet"))
    feed_dir = os.path.join(base, "feed")
    orders.repartition(8).write.mode("overwrite").parquet(feed_dir)

    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    cut = F.lit("1997-01-01").cast("date")
    end = F.lit("1998-01-01").cast("date")
    view_init = os.path.join(base, "view_init")
    (
        orders.where(F.col("o_orderdate") < cut)
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum(cents).alias("total"))
        .write.mode("overwrite")
        .parquet(view_init)
    )
    state = {"path": view_init}

    def apply_batch(bdf: DataFrame, batch_id: int) -> None:
        s = bdf.sparkSession
        cur = s.read.parquet(state["path"])
        ins = bdf.where(
            (F.col("o_orderdate") >= cut) & (F.col("o_orderdate") < end)
        ).select(
            F.col("o_custkey").alias("custkey"),
            cents.alias("val"),
            F.lit(1).alias("sign"),
        )
        dels = bdf.where(
            (F.col("o_orderdate") < cut)
            & (F.col("o_orderpriority") == "1-URGENT")
        ).select(
            F.col("o_custkey").alias("custkey"),
            cents.alias("val"),
            F.lit(-1).alias("sign"),
        )
        out = os.path.join(base, f"view_{batch_id}")
        incremental_agg(cur, ins.unionAll(dels), "custkey", "val").write.mode(
            "overwrite"
        ).parquet(out)
        state["path"] = out

    stream = (
        spark.readStream.schema(spark.read.parquet(feed_dir).schema)
        .option("maxFilesPerTrigger", "2")
        .parquet(feed_dir)
    )
    q = (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(state["path"])


def stream_ewma(
    spark: SparkSession, sf_dir: str, span: int = 20, scale: int = 100
) -> DataFrame:
    """Streaming twin of events.ewma_halflife via applyInPandasWithState:
    per-user state is the last ``span`` cents (a bounded bigint array —
    the whole point of span truncation: O(span) state per key, forever),
    each micro-batch advances over its (ts, event_id)-sorted rows and
    emits one exact (num, den) bigint pair per event.

    Exactness discipline: the cents quantization runs JVM-SIDE before
    the stateful operator (the same F.round(value*scale) expression as
    the batch twin — Python's bankers' rounding would diverge from
    Spark's HALF_UP on exact half-cents), so the Python automaton is
    INTEGER-ONLY; the presentation division happens in Spark after
    materialization with the identical round(num/den/scale, 6). On an
    in-order replay the output is bit-for-bit the batch operator's,
    so the BATCH ORACLE grades the stream (the stream==batch contract,
    like streaming_incremental_agg); on a live stream, ordering holds
    within each micro-batch — the same documented approximation as the
    funnel automaton.
    """
    prog = _keyed_replay(
        _purchase_cents(spark, sf_dir, scale),
        "user_id",
        "hist array<long>",
        "user_id long, event_id long, num long, den long",
        ([],),
        partial(_ewma_step, [1 << (span - 1 - k) for k in range(span)]),
    )
    exact = materialize_stream(prog, output_mode="update")
    return exact.select(
        "user_id",
        "event_id",
        "num",
        "den",
        F.round(
            F.col("num").cast("double")
            / F.col("den").cast("double")
            / F.lit(float(scale)),
            6,
        ).alias("ewma"),
    )


def _wsum(rev, w):
    """Exact weighted sum of a newest-first history and its normalizer:
    (sum rev[k] * w[k], sum w[k]) over k < min(len(rev), len(w))."""
    return sum(v * x for v, x in zip(rev, w)), sum(w[: len(rev)])


def _ewma_step(w, key, state, row):
    hist = [*state[0], int(row.cents)][-len(w):]
    return (hist,), [(key[0], int(row.event_id), *_wsum(hist[::-1], w))]


def stream_holt(
    spark: SparkSession, sf_dir: str, span: int = 20, scale: int = 100
) -> DataFrame:
    """Streaming twin of events.holt_linear via applyInPandasWithState:
    per-user state is the last ``2*span - 1`` cents (bounded — the S''
    self-convolution kernel reaches back exactly that far), each
    micro-batch advances over its (ts, event_id)-sorted rows and emits
    one exact (num1, den1, num2, den2) bigint quadruple per event.

    Same exactness discipline as stream_ewma: cents quantize JVM-SIDE
    with the batch twin's expression, the Python automaton is
    INTEGER-ONLY, and the level/trend/forecast presentation expressions
    run in Spark after materialization using the SAME
    holt_terminal_exprs strings as the batch operator and the oracle —
    so on an in-order replay the output is bit-for-bit the batch
    operator's and the BATCH ORACLE grades the stream (18th
    stream==batch twin)."""
    from datafusion_gpu_spark.operators.events import (
        holt_terminal_exprs,
        holt_weights,
    )

    prog = _keyed_replay(
        _purchase_cents(spark, sf_dir, scale),
        "user_id",
        "hist array<long>",
        "user_id long, event_id long, "
        "num1 long, den1 long, num2 long, den2 long",
        ([],),
        partial(_holt_step, *holt_weights(span)),
    )
    exact = materialize_stream(prog, output_mode="update")
    terms = holt_terminal_exprs(scale)
    return exact.select(
        "user_id",
        "event_id",
        "num1",
        "den1",
        "num2",
        "den2",
        *[F.expr(sql).alias(name) for name, sql in terms.items()],
    )


def _holt_step(w1, w2, key, state, row):
    # the S'' kernel w2 reaches back 2*span - 1 cents
    hist = [*state[0], int(row.cents)][-len(w2):]
    rev = hist[::-1]  # rev[j] == c_{i-j}
    return (hist,), [
        (key[0], int(row.event_id), *_wsum(rev, w1), *_wsum(rev, w2))
    ]


def stream_holt_winters(
    spark: SparkSession,
    sf_dir: str,
    span: int = 20,
    season_span: int = 8,
    scale: int = 100,
) -> DataFrame:
    """Streaming twin of events.holt_winters_additive via
    applyInPandasWithState — the 20th stream==batch twin. Per-user state
    is bounded: the per-slot seasonal history (at most ``season_span``
    cents per hour-of-day slot — <= 24 * season_span entries, stored as
    parallel (slot, cent) arrays) plus the last ``2*span - 1``
    DESEASONALIZED cents (the reach of the S'' kernel).

    Exactness contract: slot and cents quantize JVM-SIDE with the batch
    twin's expressions; the automaton is integer-only EXCEPT the single
    deterministic seasonal quantization, which reproduces SQL
    ``ROUND(CAST(s_num AS DOUBLE) / s_den)`` bit-for-bit — IEEE double
    division then decimal HALF_UP on the double's exact value (what both
    Spark's BigDecimal round and DuckDB's round compute for positive
    inputs). Presentation expressions run in Spark after the sink using
    the SAME holt_winters_terminal_exprs strings, so on an in-order
    replay the output is the batch operator's bit-for-bit and the BATCH
    ORACLE grades the stream."""
    from datafusion_gpu_spark.operators.events import (
        holt_weights,
        holt_winters_terminal_exprs,
        holt_winters_weights,
    )

    prog = _keyed_replay(
        _purchase_cents(
            spark, sf_dir, scale, F.hour("ts").cast("int").alias("slot")
        ),
        "user_id",
        "slots array<long>, scents array<long>, dhist array<long>",
        "user_id long, event_id long, slot int, sq long, "
        "num1 long, den1 long, num2 long, den2 long",
        ([], [], []),
        partial(
            _holt_winters_step,
            *holt_weights(span),
            holt_winters_weights(season_span),
        ),
    )
    exact = materialize_stream(prog, output_mode="update")
    terms = holt_winters_terminal_exprs(scale)
    return exact.select(
        "user_id",
        "event_id",
        "slot",
        "sq",
        "num1",
        "den1",
        "num2",
        "den2",
        *[F.expr(sql).alias(name) for name, sql in terms.items()],
    )


def _holt_winters_step(w1, w2, sw, key, state, row):
    slots, scents = [*state[0]], [*state[1]]
    h, c = int(row.slot), int(row.cents)
    prior = [v for s, v in zip(slots, scents) if s == h]
    s_num, s_den = _wsum(prior[::-1], sw)  # reversed: [k-1] == same-slot lag k
    # SQL ROUND(CAST(s_num AS DOUBLE) / s_den): IEEE division first
    sq = _round_half_up(s_num / s_den) if s_den > 0 else 0
    dhist = [*state[2], c - sq][-len(w2):]
    drev = dhist[::-1]  # drev[j] == d_{i-j}
    slots.append(h)
    scents.append(c)
    if len(prior) + 1 > len(sw):
        # trim this slot's OLDEST entry; others untouched
        idx = slots.index(h)
        del slots[idx], scents[idx]
    return (slots, scents, dhist), [
        (key[0], int(row.event_id), h, sq, *_wsum(drev, w1), *_wsum(drev, w2))
    ]


def stream_page_hinkley(
    spark: SparkSession, sf_dir: str, scale: int = 100
) -> DataFrame:
    """Streaming twin of the batch Page-Hinkley query (_PAGE_HINKLEY in
    queries/pipeline.py) — the 21st stream==batch twin. Per-type state
    is SIX bigints (closed-bucket count t, closed sum sx, quantized
    cumsum mt, its running min minm, running max|g| mg, the open hour's
    epoch) plus the open hour's cents accumulator: the detector is a
    pure left-fold over CLOSED hourly buckets, and the open bucket's
    row is re-emitted provisionally after each micro-batch — by
    construction the provisional row computed from (closed state +
    open accumulator) EQUALS the batch row once the hour is fully
    absorbed, so the batch finish just keeps the highest-coverage row
    per (type, bucket) and the BATCH ORACLE grades the stream.

    Exactness: cents and hour buckets quantize JVM-SIDE; the automaton
    is integer-only except the single deviation quantization, which
    reproduces SQL ``ROUND(1e6 * (CAST(x AS DOUBLE) - CAST(sx AS
    DOUBLE) / t), 0)`` bit-for-bit (IEEE ops in source order, then
    decimal HALF_UP on the double's exact value). The int64 headroom
    guard (NULL ph/alarm once max|g| * t nears 2^63) and the $100
    alarm threshold are the batch expressions verbatim."""
    ev = stream_events(spark, sf_dir).where(F.col("value").isNotNull()).select(
        "event_type",
        "ts",
        "event_id",
        F.unix_timestamp(F.date_trunc("hour", "ts")).cast("long").alias("bkt"),
        F.round(F.col("value") * scale).cast("long").alias("cents"),
    )
    prog = _keyed_replay(
        ev,
        "event_type",
        "t long, sx long, mt long, minm long, mg long, "
        "open_b long, open_x long, open_n long",
        "event_type string, bkt long, x long, t long, gq long, "
        "mt long, ph long, alarm boolean, n_seen long",
        (0, 0, 0, 0, 0, -1, 0, 0),
        _page_hinkley_step,
        _page_hinkley_flush,
    )
    raw = materialize_stream(prog, output_mode="update")
    # batch finish: the last (highest-coverage) emit per (type, bucket)
    # is the converged row; earlier provisional emits are superseded
    from pyspark.sql import Window

    w = Window.partitionBy("event_type", "bkt").orderBy(F.col("n_seen").desc())
    return (
        raw.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(
            "event_type",
            F.timestamp_seconds(F.col("bkt")).alias("bucket"),
            "x",
            "t",
            "gq",
            "mt",
            "ph",
            "alarm",
        )
    )


def _page_hinkley_close(key, state):
    """Close the open hour: the fold advanced by its sums, and its row."""
    t, sx, mt, minm, mg, open_b, open_x, open_n = state
    t, sx = t + 1, sx + open_x
    gq = _round_half_up(1e6 * (float(open_x) - float(sx) / t))
    mt += gq
    minm, mg = min(minm, mt), max(mg, abs(gq))
    safe = float(mg) * t < 9e18
    ph = mt - minm if safe else None
    alarm = (mt - minm > 10000000000) if safe else None
    row = (key[0], open_b, open_x, t, gq, mt, ph, alarm, open_n)
    return (t, sx, mt, minm, mg), row


def _page_hinkley_step(key, state, row):
    b, c = int(row.bkt), int(row.cents)
    *fold, open_b, open_x, open_n = state
    out = []
    if open_b == -1:
        open_b, open_x, open_n = b, 0, 0
    elif b > open_b:
        # real close: advance the fold with the final sums and emit the
        # bucket's FINAL row (a bucket that opens and closes inside one
        # micro-batch would otherwise never be emitted)
        fold, closed = _page_hinkley_close(key, state)
        out.append(closed)
        open_b, open_x, open_n = b, 0, 0
    return (*fold, open_b, open_x + c, open_n + 1), out


def _page_hinkley_flush(key, state):
    # provisional close of the still-open bucket: identical arithmetic to
    # a real close, so the last emit for a bucket IS its final row once
    # fully absorbed
    return [_page_hinkley_close(key, state)[1]]


def stream_croston(
    spark: SparkSession, sf_dir: str, span: int = 8, scale: int = 100
) -> DataFrame:
    """Streaming twin of events.croston — the 22nd stream==batch twin.
    Per-user state: the last ``span`` demand sizes (cents), the last
    ``span`` gap values in the batch column's exact semantics (the
    first row's gap is NULL — kept as the sentinel -1 in state, since
    Spark state arrays reject None — so its kernel slot contributes
    zero weight just like the batch CASE), and the previous event's
    epoch-micros. Integer-only automaton; cents/micros quantize
    JVM-side; size/gap/rate presentation expressions run in Spark
    after the sink with the operator's exact strings, so in-order
    replay is bit-for-bit the batch operator and the BATCH ORACLE
    grades the stream."""
    tus = F.unix_micros(F.col("ts").cast("timestamp")).alias("tus")
    prog = _keyed_replay(
        _purchase_cents(spark, sf_dir, scale, tus),
        "user_id",
        "zs array<long>, gs array<long>, last_t long",
        "user_id long, event_id long, "
        "num_z long, den_z long, num_g long, den_g long",
        ([], [], -1),
        partial(_croston_step, [1 << (span - 1 - k) for k in range(span)]),
    )
    exact = materialize_stream(prog, output_mode="update")
    return exact.select(
        "user_id",
        "event_id",
        "num_z",
        "den_z",
        "num_g",
        "den_g",
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


def _croston_step(w, key, state, row):
    zs, gs, last_t = state
    t, c = int(row.tus), int(row.cents)
    g = (t - last_t) if last_t >= 0 else -1  # -1 == batch NULL
    zs, gs = [*zs, c][-len(w):], [*gs, g][-len(w):]
    # a NULL gap's kernel slot contributes zero weight (the batch CASE)
    gw = [(v, x) for v, x in zip(gs[::-1], w) if v >= 0]
    return (zs, gs, t), [(
        key[0],
        int(row.event_id),
        *_wsum(zs[::-1], w),
        sum(v * x for v, x in gw),
        sum(x for _, x in gw),
    )]


def stream_donchian(
    spark: SparkSession, sf_dir: str, window: int = 20, scale: int = 100
) -> DataFrame:
    """Streaming twin of the batch Donchian channel (_DONCHIAN in
    queries/pipeline.py) — the 23rd stream==batch twin. Per-user state
    is just the last ``window`` cents: rolling extremes over a ROWS
    frame are a pure sliding-window fold, so the automaton appends,
    trims, and emits (c, max, min, len) per event — all integers; the
    position-in-channel presentation expression runs in Spark after
    the sink with the batch query's exact string, and the BATCH ORACLE
    grades the stream."""
    prog = _keyed_replay(
        _purchase_cents(spark, sf_dir, scale),
        "user_id",
        "hist array<long>",
        "user_id long, event_id long, c long, "
        "hi20 long, lo20 long, n_win long",
        ([],),
        partial(_donchian_step, window),
    )
    exact = materialize_stream(prog, output_mode="update")
    return exact.select(
        "user_id",
        "event_id",
        "c",
        "hi20",
        "lo20",
        "n_win",
        (F.col("hi20") - F.col("lo20")).alias("width"),
        F.expr(
            "CASE WHEN hi20 > lo20 THEN"
            " ROUND(CAST(c - lo20 AS DOUBLE) / (hi20 - lo20), 6) END"
        ).alias("pos_in_channel"),
    )


def _donchian_step(window, key, state, row):
    c = int(row.cents)
    hist = [*state[0], c][-window:]
    return (hist,), [
        (key[0], int(row.event_id), c, max(hist), min(hist), len(hist))
    ]


def stream_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the batch per-user max-drawdown query
    (_MAX_DRAWDOWN in queries/pipeline.py): drawdown is a pure
    left-fold over the ordered value path — state is THREE bigints per
    user (running peak, worst drawdown, event count), advanced by the
    integer recurrence peak = max(peak, c); mdd = max(mdd, peak - c).
    Each micro-batch emits the updated per-user triple; the batch
    finish keeps the row with the highest event count per user (counts
    are strictly increasing across updates) and applies the IDENTICAL
    terminal fraction expression as the batch SQL — so on an in-order
    replay the result is bit-for-bit the batch query's and the BATCH
    ORACLE grades the stream (19th stream==batch twin)."""
    prog = _keyed_replay(
        _purchase_cents(spark, sf_dir),
        "user_id",
        "peak long, mdd long, n long",
        "user_id long, n long, peak long, mdd long",
        (None, 0, 0),
        _max_drawdown_step,
        _max_drawdown_flush,
    )
    updates = materialize_stream(prog, output_mode="update")
    final = updates.groupBy("user_id").agg(
        F.max("n").alias("n_events"),
        F.max_by("peak", "n").alias("peak_cents"),
        F.max_by("mdd", "n").alias("max_drawdown_cents"),
    )
    return final.select(
        "user_id",
        "n_events",
        "peak_cents",
        "max_drawdown_cents",
        F.expr(
            """CASE WHEN peak_cents > 0 THEN
                 ROUND(CAST(max_drawdown_cents AS DOUBLE) / peak_cents, 6)
               END"""
        ).alias("max_drawdown_frac"),
    )


def _max_drawdown_step(key, state, row):
    peak, mdd, n = state
    c = int(row.cents)
    peak = c if peak is None else max(peak, c)
    return (peak, max(mdd, peak - c), n + 1), ()


def _max_drawdown_flush(key, state):
    peak, mdd, n = state
    return [(key[0], n, peak, mdd)]


def stream_ohlc(
    spark: SparkSession,
    sf_dir: str,
    width: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming twin of the events_ohlc candlestick downsample: per
    (tumbling hour, event_type), open/close picked by an incremental
    min/max over (ts, event_id, cents) structs — the composite total
    order makes first/last-by-time a pure monoid the state store folds
    one row at a time, with O(1) state per open window (contrast the
    batch row_number spelling, which needs the whole window sorted).
    Values quantize to cents BEFORE aggregation, so high/low/volume
    state is exact integers and the stream == batch contract holds
    bit-for-bit on in-order replay."""
    ev = stream_events(spark, sf_dir).where(F.col("value").isNotNull())
    base = ev.select(
        "ts",
        "event_type",
        "event_id",
        F.round(F.col("value") * 100, 0).cast("long").alias("v_c"),
    )
    return (
        base.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(
            F.min(F.struct("ts", "event_id", "v_c")).alias("o_s"),
            F.max(F.struct("ts", "event_id", "v_c")).alias("c_s"),
            F.max("v_c").alias("h_c"),
            F.min("v_c").alias("l_c"),
            F.sum("v_c").alias("volume_cents"),
            F.count(F.lit(1)).alias("n_trades"),
        )
    )


def materialized_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stream_ohlc through the idempotent foreachBatch sink, presented
    with the IDENTICAL decimal-division spellings as the batch _OHLC
    SQL so the same DuckDB oracle grades the stream (13th streaming
    twin under the stream == batch contract)."""
    out = materialize_stream(stream_ohlc(spark, sf_dir), output_mode="complete")
    return out.select(
        F.col("w").getField("start").alias("bucket"),
        "event_type",
        F.expr("CAST(ROUND(o_s.v_c / 100.0, 2) AS DOUBLE)").alias("open"),
        F.expr("CAST(ROUND(h_c / 100.0, 2) AS DOUBLE)").alias("high"),
        F.expr("CAST(ROUND(l_c / 100.0, 2) AS DOUBLE)").alias("low"),
        F.expr("CAST(ROUND(c_s.v_c / 100.0, 2) AS DOUBLE)").alias("close"),
        F.col("volume_cents").cast("long").alias("volume_cents"),
        "n_trades",
    )


def stream_cusum(
    spark: SparkSession,
    sf_dir: str,
    k_sigmas: float = 0.5,
    h_sigmas: float = 4.0,
    scale: int = 100,
) -> DataFrame:
    """Streaming twin of events.cusum_alarms (14th stream == batch
    contract): one-sided CUSUM drift detection as a stateful automaton
    over the purchase stream — the deployment shape change-point
    monitoring actually runs in (the batch spelling re-scores all
    history per run; this one carries TWO bigints of state per key,
    forever).

    Two phases, mirroring production: the per-key (mu, k, h) baseline
    is trained by a BATCH pass over history with the exact integer
    quantization of the batch twin (values to cents, baseline rounded
    once to cent units), then the stream joins that static relation
    (broadcast stream-static join) and the automaton advances the
    recursion directly — cum += y; minc = min(minc, cum);
    s = cum - min(0, minc) — which is the same closed form the batch
    window computes, one row at a time. All Python arithmetic is
    INTEGER-ONLY (quantization happens JVM-side, the stream_ewma
    discipline), so on in-order replay the emitted per-key summary is
    bit-for-bit the batch operator's and the BATCH ORACLE grades the
    stream. Each micro-batch emits the key's updated running summary
    (update mode); the final state per key is the row with the largest
    n_events.
    """
    ev_b = (
        _cached_scan(spark, os.path.join(sf_dir, "events.parquet"))
        .where((F.col("event_type") == "purchase") & F.col("value").isNotNull())
        .withColumn("__xq__", F.round(F.col("value") * scale).cast("long"))
    )
    stats = ev_b.groupBy("user_id").agg(
        F.round(F.avg("__xq__")).cast("long").alias("mu"),
        F.round(F.lit(k_sigmas) * F.stddev_pop("__xq__")).cast("long").alias("k"),
        F.round(F.lit(h_sigmas) * F.stddev_pop("__xq__")).cast("long").alias("h"),
    )

    prog = _keyed_replay(
        _purchase_cents(spark, sf_dir, scale).join(F.broadcast(stats), "user_id"),
        "user_id",
        "cum long, minc long, n long, n_alarms long, peak long, "
        "first_id long, started long",
        "user_id long, n_events long, n_alarms long, "
        "peak_cusum long, first_alarm_id long",
        (0, 0, 0, 0, 0, -1, 0),
        _cusum_step,
        _cusum_flush,
    )
    from pyspark.sql import Window as W

    raw = materialize_stream(prog, output_mode="update")
    last = (
        raw.withColumn(
            "__rn__",
            F.row_number().over(
                W.partitionBy("user_id").orderBy(F.col("n_events").desc())
            ),
        )
        .where(F.col("__rn__") == 1)
        .drop("__rn__")
    )
    return last.select(
        "user_id",
        "n_events",
        "n_alarms",
        "peak_cusum",
        F.when(F.col("first_alarm_id") >= 0, F.col("first_alarm_id")).alias(
            "first_alarm_id"
        ),
    )


def _cusum_step(key, state, row):
    cum, minc, n, n_alarms, peak, first_id, started = state
    h = int(row.h)
    cum += int(row.cents) - int(row.mu) - int(row.k)
    minc = cum if not started else min(minc, cum)
    s = cum - min(0, minc)
    peak = max(peak, s)
    if h > 0 and s > h:
        n_alarms += 1
        if first_id < 0:
            first_id = int(row.event_id)
    return (cum, minc, n + 1, n_alarms, peak, first_id, 1), ()


def _cusum_flush(key, state):
    cum, minc, n, n_alarms, peak, first_id, started = state
    return [(key[0], n, n_alarms, peak, first_id)]


def stream_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the batch Welch t-test (_WELCH_T in
    queries/pipeline.py) — the 15th stream==batch entry: the drift gate
    run continuously over an ingest stream instead of per-snapshot.

    Two streaming aggregations feed one batch finish:

    1. per-group exact bigint moments (n, sum, sum-of-squares over the
       SAME JVM-side cents quantization as the batch SQL) — incremental
       state is three bigints per group, forever;
    2. per-group DISTINCT-value counts via streaming dropDuplicates on
       (group, cent) + count — this keeps the degenerate-variance guard
       the same INTEGER predicate (nv > 1) as the batch twin, instead
       of a float variance-positivity check that could flip on rounding
       noise (state is one row per distinct (group, cent) — bounded by
       the value domain, the same argument as the batch family's
       distinct-value windows).

    Both material states are tiny (k rows / domain rows); the terminal
    t / Welch-Satterthwaite df expression is the IDENTICAL text as the
    batch SQL, applied after materialization — so on a bounded replay
    the output is bit-for-bit the batch query's and the SAME DuckDB
    oracle grades the stream.
    """
    ev = (
        stream_events(spark, sf_dir)
        .where(
            F.col("event_type").isin("click", "purchase")
            & F.col("value").isNotNull()
        )
        .select(
            F.col("event_type").alias("grp"),
            F.round(F.col("value") * 100).cast("long").alias("c"),
        )
    )
    moments = ev.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("c").cast("long").alias("s1"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("s2"),
    )
    distinct = (
        ev.dropDuplicates(["grp", "c"])
        .groupBy("grp")
        .agg(F.count(F.lit(1)).cast("long").alias("nv"))
    )
    m = materialize_stream(moments, output_mode="complete")
    d = materialize_stream(distinct, output_mode="complete")
    g = m.join(d, "grp")
    one = g.agg(
        F.max(F.when(F.col("grp") == "click", F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("grp") == "click", F.col("s1"))).alias("s1_a"),
        F.max(F.when(F.col("grp") == "click", F.col("s2"))).alias("s2_a"),
        F.max(F.when(F.col("grp") == "click", F.col("nv"))).alias("nv_a"),
        F.max(F.when(F.col("grp") == "purchase", F.col("n"))).alias("n_b"),
        F.max(F.when(F.col("grp") == "purchase", F.col("s1"))).alias("s1_b"),
        F.max(F.when(F.col("grp") == "purchase", F.col("s2"))).alias("s2_b"),
        F.max(F.when(F.col("grp") == "purchase", F.col("nv"))).alias("nv_b"),
    )
    v = one.where("n_a >= 2 AND n_b >= 2").selectExpr(
        "n_a", "n_b", "nv_a", "nv_b", "s1_a", "s1_b",
        "(CAST(n_a AS DOUBLE) * s2_a - CAST(s1_a AS DOUBLE) * s1_a)"
        " / (CAST(n_a AS DOUBLE) * n_a * (n_a - 1)) AS vn_a",
        "(CAST(n_b AS DOUBLE) * s2_b - CAST(s1_b AS DOUBLE) * s1_b)"
        " / (CAST(n_b AS DOUBLE) * n_b * (n_b - 1)) AS vn_b",
    )
    return v.selectExpr(
        "n_a",
        "n_b",
        "ROUND(CAST(s1_a AS DOUBLE) / n_a - CAST(s1_b AS DOUBLE) / n_b, 6)"
        " AS mean_diff_cents",
        """CASE WHEN nv_a > 1 OR nv_b > 1 THEN
             ROUND((CAST(s1_a AS DOUBLE) / n_a - CAST(s1_b AS DOUBLE) / n_b)
                   / SQRT(vn_a + vn_b), 4)
           END AS t_stat""",
        """CASE WHEN nv_a > 1 OR nv_b > 1 THEN
             ROUND((vn_a + vn_b) * (vn_a + vn_b)
                   / (vn_a * vn_a / (n_a - 1) + vn_b * vn_b / (n_b - 1)), 2)
           END AS df""",
    )


def stream_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of events_seasonal_anomaly (16th stream==batch
    entry): the hourly purchase series accumulates as ONE streaming
    aggregation (incremental per-hour cents — state bounded by the
    bucket calendar), the hour-of-day profile and the exact
    squared-inequality flags are derived from the materialized final
    state in batch. Decision arithmetic is identical integer algebra to
    the batch SQL — (n*x - S1)^2 > 4*(n*S2 - S1^2) over exact bigint
    moments — so the bounded replay is bit-for-bit the batch query and
    the SAME oracle grades the stream."""
    ev = (
        stream_events(spark, sf_dir)
        .where(
            (F.col("event_type") == "purchase") & F.col("value").isNotNull()
        )
        .select(
            F.date_trunc("hour", F.col("ts")).alias("b"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
    )
    hourly = ev.groupBy("b").agg(F.sum("cents").cast("long").alias("x"))
    mat = materialize_stream(hourly, output_mode="complete")
    hod = mat.select(
        "b", "x", F.hour(F.col("b")).cast("long").alias("h")
    )
    prof = hod.groupBy("h").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("s1"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("s2"),
    )
    j = hod.join(F.broadcast(prof), "h")
    d = F.col("n") * F.col("x") - F.col("s1")
    var4 = 4 * (F.col("n") * F.col("s2") - F.col("s1") * F.col("s1"))
    return j.select(
        F.col("b").alias("bucket"),
        F.col("h").alias("hour_of_day"),
        F.col("x").alias("cents"),
        F.col("n").alias("n_same_hour"),
        ((F.col("n") >= 2) & (d > 0) & (d * d > var4)).alias("break_upper"),
        ((F.col("n") >= 2) & (d < 0) & (d * d > var4)).alias("break_lower"),
    )


def stream_auc_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of agg_auc_exact (17th stream==batch entry): the
    continuously-maintained eval gate. The value-level relation
    (distinct cent -> positive count, total count) accumulates as ONE
    streaming aggregation — state bounded by the value domain, the same
    argument as the batch family's distinct-value windows — and the
    rank-sum identity runs in batch on the materialized final state
    with the IDENTICAL integer algebra, so a bounded replay is
    bit-for-bit the batch query and the SAME oracle grades it."""
    ev = (
        stream_events(spark, sf_dir)
        .where(
            F.col("event_type").isin("click", "purchase")
            & F.col("value").isNotNull()
        )
        .select(
            F.round(F.col("value") * 100).cast("long").alias("c"),
            F.when(F.col("event_type") == "purchase", F.lit(1))
            .otherwise(F.lit(0))
            .alias("pos"),
        )
    )
    pv = ev.groupBy("c").agg(
        F.sum("pos").cast("long").alias("dp"),
        F.count(F.lit(1)).cast("long").alias("tc"),
    )
    mat = materialize_stream(pv, output_mode="complete")
    mat.createOrReplaceTempView("__stream_auc_pv")
    return spark.sql(
        """
        WITH cw AS (
          SELECT dp, tc,
                 CAST(COALESCE(SUM(tc) OVER (ORDER BY c
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                      AS BIGINT) AS cumb
          FROM __stream_auc_pv
        ),
        s AS (
          SELECT CAST(SUM(dp) AS BIGINT) AS n_pos,
                 CAST(SUM(tc - dp) AS BIGINT) AS n_neg,
                 CAST(SUM(dp * (2 * cumb + tc + 1)) AS BIGINT) AS r2_pos
          FROM cw
        )
        SELECT n_pos, n_neg,
               r2_pos - n_pos * (n_pos + 1) AS u2,
               CASE WHEN n_pos > 0 AND n_neg > 0 THEN
                 ROUND(CAST(r2_pos - n_pos * (n_pos + 1) AS DOUBLE)
                       / (2.0 * n_pos * n_neg), 6)
               END AS auc
        FROM s
        """
    )


#: the SPRT's log-likelihood constants, pre-quantized to 1e-12 (success,
#: failure, decision bound)
_SPRT_AQ, _SPRT_BQ, _SPRT_UQ = 287682072452, -60624621816, 2944438979166


def stream_sprt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the batch SPRT query (_SPRT in
    queries/pipeline_stats.py) — the 24th stream==batch automaton.
    Wald's sequential probability ratio test over the GLOBAL hourly
    event stream (group-sequential batching, one state group): the
    fold is pure int64 — cumulative observation/success counts times
    the two pre-quantized log-likelihood constants — so unlike the
    Page-Hinkley twin there is NO float quantization anywhere in the
    automaton. State is SEVEN bigints (closed cum count cn / successes
    cd, the latched first-crossing counts cn_up / cn_dn with 0 as the
    not-yet sentinel, the open hour's epoch + its n/d accumulators).
    Each micro-batch re-emits the open bucket provisionally; crossing
    latches persist only on REAL closes, so a mid-hour excursion that
    the full hour retracts never sticks — by construction the last
    emit per bucket equals the batch row. Presentation (terminal llr
    division + the decision CASE) happens in Spark expressions after
    the sink, spelled identically to the batch SQL, and the BATCH
    ORACLE grades the stream."""
    ev = stream_events(spark, sf_dir).select(
        "ts",
        "event_id",
        F.lit(1).alias("g"),
        F.unix_timestamp(F.date_trunc("hour", "ts")).cast("long").alias("bkt"),
        (F.col("event_type") == "purchase").cast("long").alias("x"),
    )
    prog = _keyed_replay(
        ev,
        "g",
        "cn long, cd long, cn_up long, cn_dn long, "
        "open_b long, open_n long, open_d long",
        "bkt long, n long, d long, cn long, cd long, "
        "up long, dn long, n_seen long",
        (0, 0, 0, 0, -1, 0, 0),
        _sprt_step,
        _sprt_flush,
    )
    raw = materialize_stream(prog, output_mode="update")
    from pyspark.sql import Window

    w = Window.partitionBy("bkt").orderBy(F.col("n_seen").desc())
    cd, cn = F.col("cd"), F.col("cn")
    llr_q = cd * F.lit(_SPRT_AQ) + (cn - cd) * F.lit(_SPRT_BQ)
    headroom = cn.cast("double") * F.lit(float(_SPRT_AQ)) < F.lit(9e18)
    return (
        raw.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(
            F.timestamp_seconds(F.col("bkt")).alias("bucket"),
            "n",
            "d",
            "cn",
            "cd",
            F.when(headroom, F.round(llr_q / F.lit(1e12), 6)).alias("llr"),
            F.when(~headroom, F.lit(None).cast("string"))
            .when(
                (F.col("up") > 0)
                & ((F.col("dn") == 0) | (F.col("up") <= F.col("dn"))),
                F.lit("accept_h1"),
            )
            .when(F.col("dn") > 0, F.lit("accept_h0"))
            .otherwise(F.lit("continue"))
            .alias("decision"),
        )
    )


def _sprt_close(state):
    """Close the open hour: the fold advanced by its counts, and its row."""
    cn, cd, cn_up, cn_dn, open_b, open_n, open_d = state
    cn, cd = cn + open_n, cd + open_d
    # latch-or-provisional: the first crossing count, taking the
    # already-latched value when set (MIN over history == first, since cn
    # is strictly increasing)
    llr = cd * _SPRT_AQ + (cn - cd) * _SPRT_BQ
    if cn_up == 0 and llr >= _SPRT_UQ:
        cn_up = cn
    if cn_dn == 0 and llr <= -_SPRT_UQ:
        cn_dn = cn
    row = (open_b, open_n, open_d, cn, cd, cn_up, cn_dn, open_n)
    return (cn, cd, cn_up, cn_dn), row


def _sprt_step(key, state, row):
    b, x = int(row.bkt), int(row.x)
    *fold, open_b, open_n, open_d = state
    out = []
    if open_b == -1:
        open_b, open_n, open_d = b, 0, 0
    elif b > open_b:
        # real close: advance the fold, PERSIST the latches, emit the
        # bucket's final row
        fold, closed = _sprt_close(state)
        out.append(closed)
        open_b, open_n, open_d = b, 0, 0
    return (*fold, open_b, open_n + 1, open_d + x), out


def _sprt_flush(key, state):
    # provisional close of the open bucket: same arithmetic, latches NOT
    # persisted (a mid-hour excursion the full hour retracts must not
    # stick) — the closed state is dropped
    return [_sprt_close(state)[1]]


def stream_mcnemar_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming per-user paired-conversion flags for the McNemar gate
    (the 25th stream==batch automaton): an unwatermarked running MAX per
    user of "purchased on the day before / after the deploy boundary" —
    pure monotone bit state, so every micro-batch's update is the exact
    batch MAX over the data seen so far and the final state equals the
    batch contingency inputs. State is two bits per user (Spark keeps it
    as two ints); at scale this is the same keyed-aggregate state any
    streaming dedup carries."""
    ev = stream_events(spark, sf_dir)
    day = F.col("ts").cast("date")
    return ev.groupBy("user_id").agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase")
                & (day == F.lit("2024-01-15").cast("date")),
                1,
            ).otherwise(0)
        ).alias("p1"),
        F.max(
            F.when(
                (F.col("event_type") == "purchase")
                & (day == F.lit("2024-01-16").cast("date")),
                1,
            ).otherwise(0)
        ).alias("p2"),
    )


def materialized_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming McNemar, materialized: run the per-user flag automaton
    to completion, then apply the batch query's contingency tail
    (spelled token-for-token with _MCNEMAR's final SELECT) to the final
    state — graded by the SAME DuckDB oracle as events_mcnemar."""
    pairs = materialize_stream(
        stream_mcnemar_pairs(spark, sf_dir), output_mode="complete"
    )
    ct = pairs.agg(
        F.sum(((F.col("p1") == 1) & (F.col("p2") == 0)).cast("long")).alias("b"),
        F.sum(((F.col("p1") == 0) & (F.col("p2") == 1)).cast("long")).alias("c"),
        F.sum(((F.col("p1") == 1) & (F.col("p2") == 1)).cast("long")).alias(
            "both_halves"
        ),
        F.sum(((F.col("p1") == 0) & (F.col("p2") == 0)).cast("long")).alias(
            "neither"
        ),
    )
    bc = F.col("b") + F.col("c")
    diff = (F.col("b") - F.col("c")).cast("double")
    ok = (bc > 0) & (diff * (F.col("b") - F.col("c")) < F.lit(9e18))
    chi2 = (F.col("b") - F.col("c")).cast("double") * (
        F.col("b") - F.col("c")
    ) / bc
    return ct.select(
        "b",
        "c",
        "both_halves",
        "neither",
        F.when(ok, F.round(chi2, 6)).alias("chi2_mcnemar"),
        F.when(ok, chi2 > F.lit(3.841459)).alias("reject_05"),
    )


def stream_cochran_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming per-user probe-day conversion flags for the Cochran-Q
    gate (the 26th stream==batch automaton): three monotone bits per
    user (running MAX of "purchased on probe day j"), the same
    monotone-state argument as the McNemar twin — each micro-batch's
    update IS the batch MAX over the data seen so far."""
    ev = stream_events(spark, sf_dir)
    day = F.col("ts").cast("date")

    def flag(d: str):
        return F.max(
            F.when(
                (F.col("event_type") == "purchase")
                & (day == F.lit(d).cast("date")),
                1,
            ).otherwise(0)
        )

    return ev.groupBy("user_id").agg(
        flag("2024-01-10").alias("y1"),
        flag("2024-01-11").alias("y2"),
        flag("2024-01-12").alias("y3"),
    )


def materialized_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Cochran's Q, materialized: the per-user flag automaton
    run to completion, then the batch query's EXACT-INTEGER statistic
    tail applied to the final state (spelled with _COCHRAN_Q's final
    SELECT token-for-token) — graded by the SAME DuckDB oracle."""
    flags = materialize_stream(
        stream_cochran_flags(spark, sf_dir), output_mode="complete"
    )
    r = F.col("y1") + F.col("y2") + F.col("y3")
    t = flags.agg(
        F.count(F.lit(1)).alias("n_blocks"),
        F.sum("y1").cast("long").alias("c1"),
        F.sum("y2").cast("long").alias("c2"),
        F.sum("y3").cast("long").alias("c3"),
        F.sum(r).cast("long").alias("nt"),
        F.sum(r * r).cast("long").alias("sr2"),
    )
    num = 3 * (
        F.col("c1") * F.col("c1")
        + F.col("c2") * F.col("c2")
        + F.col("c3") * F.col("c3")
    ) - F.col("nt") * F.col("nt")
    den = 3 * F.col("nt") - F.col("sr2")
    ok = (F.col("nt").cast("double") * F.col("nt") * 3 < F.lit(9e18)) & (
        den > 0
    )
    q = F.lit(2e0) * num / den
    return t.select(
        "n_blocks",
        "c1",
        "c2",
        "c3",
        "nt",
        F.when(ok, F.round(q, 6)).alias("q_stat"),
        F.when(ok, q > F.lit(5.991465)).alias("reject_05"),
    )


def materialized_group_sequential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming O'Brien-Fleming group-sequential test, materialized
    (the 25th stream==batch automaton): the hourly (n, d) counts are a
    watermarked tumbling-window streaming aggregation — per-hour state,
    bounded by WALL-CLOCK time like the SPRT twin's fold — run to
    completion through the idempotent parquet sink; the five-look
    decision tail is then the batch query's _GS_FOLD chain VERBATIM
    (string-substituted to read the materialized state instead of the
    raw events table), so the stream is graded by the SAME _GROUP_SEQ
    oracle. Unlike the SPRT (open horizon, latches must persist only on
    real hour closes), the group-sequential looks depend on the TOTAL
    event count, so the decision tail can only run on the COMPLETE
    materialized state — which is exactly the twin contract's
    materialize-then-batch-tail shape."""
    hourly = materialize_stream(
        stream_events(spark, sf_dir)
        .withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("event_type") == "purchase").cast("long")).alias("d"),
        )
        .select(F.col("w.start").alias("bucket"), "n", "d"),
        output_mode="complete",
    )
    hourly.createOrReplaceTempView("__gs_hourly_state")
    from datafusion_gpu_spark.queries.pipeline_stats import _GROUP_SEQ

    batch_hourly_cte = """WITH hourly AS (
  SELECT date_trunc('hour', ts) AS bucket,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS d
  FROM events
  GROUP BY 1
),"""
    stream_hourly_cte = """WITH hourly AS (
  SELECT bucket, CAST(n AS BIGINT) AS n, CAST(d AS BIGINT) AS d
  FROM __gs_hourly_state
),"""
    assert batch_hourly_cte in _GROUP_SEQ, "batch hourly CTE drifted"
    return spark.sql(_GROUP_SEQ.replace(batch_hourly_cte, stream_hourly_cte))


def stream_jarque_bera_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming per-type moment state for the Jarque-Bera twin (the
    27th stream==batch automaton): seven exact bigints per event type
    (n, s1..s4 raw power sums over dollar-quantized values, max |d|) —
    a pure incremental aggregation whose micro-batch update IS the
    batch fold over the data seen so far, the welch-twin argument."""
    ev = (
        stream_events(spark, sf_dir)
        .where(F.col("value").isNotNull())
        .select(
            "event_type",
            F.round(F.col("value")).cast("long").alias("d"),
        )
    )
    d = F.col("d")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(d).cast("long").alias("s1"),
        F.sum(d * d).cast("long").alias("s2"),
        F.sum(d * d * d).cast("long").alias("s3"),
        F.sum(d * d * d * d).cast("long").alias("s4"),
        F.max(F.abs(d)).cast("long").alias("mx"),
    )


def stream_jarque_bera_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming distinct-dollar counts per event type for the JB
    twin's degenerate-variance guard (nv > 1) — dropDuplicates state is
    one row per (type, dollar), bounded by the value domain (the
    welch-twin precedent)."""
    ev = (
        stream_events(spark, sf_dir)
        .where(F.col("value").isNotNull())
        .select(
            "event_type",
            F.round(F.col("value")).cast("long").alias("d"),
        )
    )
    return (
        ev.dropDuplicates(["event_type", "d"])
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("nv"))
    )


def materialized_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Jarque-Bera, materialized: the per-type moment and
    distinct automatons run to completion, then the batch query's
    terminal skewness/kurtosis/JB tail applied VERBATIM (marker-spliced
    from _JARQUE_BERA at its c-CTE boundary) to the final state —
    graded by the SAME DuckDB oracle as agg_jarque_bera."""
    state = materialize_stream(
        stream_jarque_bera_state(spark, sf_dir), output_mode="complete"
    ).join(
        materialize_stream(
            stream_jarque_bera_distinct(spark, sf_dir), output_mode="complete"
        ),
        "event_type",
    )
    state.createOrReplaceTempView("__jb_state")
    from datafusion_gpu_spark.queries.pipeline_diag import _JARQUE_BERA

    marker = "\nc AS ("
    head, sep, tail = _JARQUE_BERA.partition(marker)
    assert sep, "_JARQUE_BERA c-CTE boundary drifted; fix the marker"
    stream_head = """
WITH m AS (
  SELECT event_type, CAST(n AS BIGINT) AS n, CAST(s1 AS BIGINT) AS s1,
         CAST(s2 AS BIGINT) AS s2, CAST(s3 AS BIGINT) AS s3,
         CAST(s4 AS BIGINT) AS s4, CAST(mx AS BIGINT) AS mx,
         CAST(nv AS BIGINT) AS nv
  FROM __jb_state
),"""
    return spark.sql(stream_head + marker + tail)


def stream_log_loss_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming per-distinct-cent label-count state for the log-loss
    twin (the 28th stream==batch automaton): one (dp, tc) pair per
    DISTINCT cent value — incremental counts whose state is bounded by
    the value domain (the welch-distinct argument), with the same
    JVM-side quantization as the batch SQL."""
    ev = (
        stream_events(spark, sf_dir)
        .where(
            F.col("event_type").isin("click", "purchase")
            & F.col("value").isNotNull()
        )
        .select(
            F.round(F.col("value") * 100).cast("long").alias("c"),
            (F.col("event_type") == "purchase").cast("long").alias("pos"),
        )
    )
    return ev.groupBy("c").agg(
        F.sum("pos").cast("long").alias("dp"),
        F.count(F.lit(1)).cast("long").alias("tc"),
    )


def materialized_log_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming log loss, materialized: the per-value count automaton
    run to completion, then the batch query's quantized-LN tail applied
    VERBATIM (marker-spliced from _LOG_LOSS at its q-CTE boundary) to
    the final state — graded by the SAME DuckDB oracle as
    agg_log_loss."""
    state = materialize_stream(
        stream_log_loss_state(spark, sf_dir), output_mode="complete"
    )
    state.createOrReplaceTempView("__ll_state")
    from datafusion_gpu_spark.queries.pipeline_diag import _LOG_LOSS

    marker = "\nq AS ("
    head, sep, tail = _LOG_LOSS.partition(marker)
    assert sep, "_LOG_LOSS q-CTE boundary drifted; fix the marker"
    stream_head = """
WITH pv AS (
  SELECT CAST(c AS BIGINT) AS c, CAST(dp AS BIGINT) AS dp,
         CAST(tc AS BIGINT) AS tc
  FROM __ll_state
),"""
    return spark.sql(stream_head + marker + tail)


def materialized_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of dedup_incremental_minhash: the incoming doc
    feed arrives in MICRO-BATCHES (the batch slice re-laid as 4 files,
    maxFilesPerTrigger=1 -> 4 micro-batches) and each micro-batch
    probes the SAME band index — built ONCE from history and persisted
    to parquet, the production artifact — appending its near-dup pairs
    via per-batch-versioned output directories (a replayed batch after
    a crash rewrites its own directory instead of double-appending;
    the materialized_incremental_agg idempotency argument).

    Each document's near-dups against HISTORY are independent of
    whatever else shares its micro-batch, so ANY micro-batch
    partitioning of the feed unions to the one-shot batch result —
    the SAME DuckDB oracle grades stream == batch. This is the 100 TB
    ingest loop verbatim: band the new docs, probe the stored index,
    verify candidates, never re-band the corpus.
    """
    from datafusion_gpu_spark.operators.dedup import (
        incremental_minhash_lsh,
        minhash_band_index,
    )

    base = scratch_dir(spark, "inclsh")
    docs = _cached_scan(spark, os.path.join(sf_dir, "documents.parquet"))
    history = docs.where(F.col("doc_id") % 10 < 8)
    batch = docs.where(F.col("doc_id") % 10 >= 8)

    idx_path = os.path.join(base, "band_index")
    minhash_band_index(history).write.mode("overwrite").parquet(idx_path)

    feed_dir = os.path.join(base, "feed")
    batch.repartition(4).write.mode("overwrite").parquet(feed_dir)

    out_dirs: list[str] = []

    def apply_batch(bdf: DataFrame, batch_id: int) -> None:
        s = bdf.sparkSession
        idx = s.read.parquet(idx_path)
        out = os.path.join(base, f"pairs_{batch_id}")
        incremental_minhash_lsh(
            history, bdf, threshold=0.5, index=idx
        ).write.mode("overwrite").parquet(out)
        out_dirs.append(out)

    stream = (
        spark.readStream.schema(spark.read.parquet(feed_dir).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(feed_dir)
    )
    q = (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    result = spark.read.parquet(*sorted(set(out_dirs)))
    return result.select("hist_id", "batch_id", "jaccard")
