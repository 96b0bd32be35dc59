"""Custom vectorized sum aggregates — the reference's first-party surface.

The reference registers two aggregate UDFs over DataFusion
(/root/reference/src/lib.rs:53-55):

- ``sum_cudarc`` (src/cudarc_sum_udaf.rs): coerces EVERY input to Float32
  (rs:66-72), always returns Float32 (rs:45-47), and reduces each Arrow
  batch on the GPU (src/sum.cu block reduction), summing per-block partials
  on the host (rs:139-141).
- ``sum_cubecl`` (src/cubecl_sum_udaf.rs): signed->Int32, unsigned->UInt32,
  float->Float32 coercion (rs:64-75), Float32 result (rs:40-42), CubeCL
  plane-reduction kernel (rs:117-126).

Spark-first mapping: an Arrow-vectorized **grouped-agg pandas UDF** — the
UDF receives a contiguous typed vector per group/batch (the analogue of
``update_batch(&[ArrayRef])``, cudarc rs:116) with Arrow doing the columnar
hand-off, and returns one Float32 scalar (the analogue of ``evaluate``,
cudarc rs:146-148). The backend is CuPy when importable (the Spark spelling
of the reference's ``cuda`` feature flag, Cargo.toml:7 / src/main.rs:28-31)
and NumPy otherwise; the SQL names are identical either way.

Deliberate divergences from the reference (documented, strictly better —
see SURVEY §4.1 "known result-semantics quirks"):
- nulls are skipped (the reference reads the raw values buffer and ignores
  the validity bitmap, cubecl rs:139-140 — wrong on nullable input);
- partial accumulation is float64, only the RESULT is cast to float32
  (the reference accumulates in f32 and loses precision, cubecl rs:94);
- no zero-valued-partial dropping (reference bug, cubecl rs:225-228).

Scale note: a grouped-agg pandas UDF ships each whole group to one worker
(no partial/merge phase) — same limitation as the reference, which has no
GroupsAccumulator (cubecl rs:81-83). For 100 TB use ``sum_f32_distributed``
below: built-in JVM partial aggregation, identical f32 result semantics.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType, FloatType, StructField, StructType

from datafusion_gpu_spark.context import session_state

try:  # the `cuda` feature-flag analogue: probe, don't require
    import cupy as _cp  # type: ignore

    try:
        _cp.cuda.runtime.getDeviceCount()
        _HAS_GPU = True
    except Exception:
        _HAS_GPU = False
except Exception:  # pragma: no cover - container has no cupy
    _cp = None
    _HAS_GPU = False


def gpu_available() -> bool:
    """True when a CUDA device is reachable through CuPy."""
    return _HAS_GPU


def _sum_f32_numpy(values: pd.Series) -> np.float32:
    """CPU reduction: coerce to f32 (cudarc rs:66-72), skip nulls,
    accumulate in f64, emit f32 (return type, cudarc rs:45-47)."""
    arr = values.to_numpy()
    if arr.dtype == object or arr.dtype.kind not in "iuf":
        # coercion failure == the reference's "not supported" plan error
        # (cubecl rs:71-74)
        raise TypeError(f"sum_arrow: unsupported input dtype {arr.dtype}")
    arr = arr[~pd.isna(arr)].astype(np.float32, copy=False)
    if arr.size == 0:
        # SQL SUM semantics: empty / all-null input -> NULL (the DuckDB
        # oracle CAST(SUM(..) AS REAL) agrees; the reference returns 0.0
        # here, cubecl rs:215-220 — documented strictly-better divergence)
        return None
    return np.float32(arr.sum(dtype=np.float64))


def _sum_f32_gpu(values: pd.Series) -> np.float32:
    """GPU reduction via CuPy — the ``sum_cudarc`` path: host->device copy
    (cudarc rs:130-137), device tree reduction (src/sum.cu), scalar back."""
    arr = values.to_numpy()
    arr = arr[~pd.isna(arr)].astype(np.float32, copy=False)
    if arr.size == 0:
        return None  # SQL SUM semantics, same as the CPU path
    dev = _cp.asarray(arr)
    return np.float32(dev.sum(dtype=_cp.float64).get())


# FloatType() objects (not DDL strings): workers re-import this module when
# unpickling the UDF, and DDL-string parsing needs an active session there.
@pandas_udf(FloatType())
def sum_arrow(v: pd.Series) -> np.float32:  # type: ignore[misc]
    """Auto-backend vectorized f32 sum (GPU when available, else CPU)."""
    return _sum_f32_gpu(v) if _HAS_GPU else _sum_f32_numpy(v)


@pandas_udf(FloatType())
def sum_arrow_cpu(v: pd.Series) -> np.float32:  # type: ignore[misc]
    """CPU (NumPy) vectorized f32 sum — port of ``sum_cudarc`` semantics."""
    return _sum_f32_numpy(v)


#: SQL name -> aggregate, as registered by :func:`register_aggregates`
SQL_AGGREGATES = {
    "sum_arrow": sum_arrow,
    "sum_arrow_cpu": sum_arrow_cpu,
    "sum_cudarc": sum_arrow,  # GPU-preferring alias
    "sum_cubecl": sum_arrow_cpu,
    "sum_arrow_unfused": sum_arrow_cpu,  # explicit demo name
}


def register_aggregates(spark: SparkSession) -> None:
    """SQL-name registration — the ``ctx.register_udaf`` analogue
    (src/lib.rs:53-55). Reference names are kept as aliases so the
    reference's own README queries (README.md:71-75) run verbatim.

    A SQL-registered Python aggregate is necessarily the single-shot
    grouped-agg pandas UDF (Spark exposes no partial/merge hook for
    Python UDAFs in SQL) — ``sum_arrow_unfused`` names that limitation
    explicitly. The production spelling of the same kernel is
    ``sum_f32_partial_final`` below: identical result semantics, but the
    shuffle carries per-partition partials instead of whole groups.

    Registers once per session: a later call only checks that every name
    still resolves to the function registered here, and re-registers all
    of them when one was dropped or replaced (see
    ``context._SESSION_STATE``).
    """
    state = session_state(spark)
    registry = spark._jsparkSession.sessionState().functionRegistry()
    if state.aggregates and all(
        registry.lookupFunctionBuilder(ident).equals(entry)
        for ident, entry in state.aggregates.values()
    ):
        return
    function_identifier = spark._jvm.org.apache.spark.sql.catalyst.FunctionIdentifier
    state.aggregates = {}
    for name, fn in SQL_AGGREGATES.items():
        spark.udf.register(name, fn)
        ident = function_identifier.apply(name)
        state.aggregates[name] = (ident, registry.lookupFunctionBuilder(ident))


def sum_f32_col(col: str | Column) -> Column:
    """100 TB-scale spelling of the same aggregate: JVM-side partial
    aggregation (map-side combine), f32 input coercion, f32 result.

    This is what the reference COULD NOT do (no GroupsAccumulator,
    cubecl rs:81-83): two-phase partial/final aggregation entirely inside
    whole-stage codegen, no Python boundary.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast("float")).cast("float")


def sum_f32_distributed(df: DataFrame, value_col: str, *group_cols: str) -> DataFrame:
    """Grouped/global f32 sum with distributed partial aggregation."""
    agg = sum_f32_col(value_col).alias(f"sum_{value_col}")
    if group_cols:
        return df.groupBy(*group_cols).agg(agg)
    return df.agg(agg)


def sum_f32_partial_final(
    df: DataFrame, value_col: str, *group_cols: str, alias: str | None = None
) -> DataFrame:
    """Two-phase spelling of the custom f32 sum with the Python kernel
    kept in the loop — the Spark analogue of the accumulator protocol
    the reference lacks (``state()``/``merge_batch``, cubecl rs:215-232):

    - stage 1 (mapInPandas, map-side combine, NO shuffle): the NumPy
      kernel coerces values to float32 and reduces them in float64 per
      group per PARTITION — ``update_batch`` (cudarc rs:116) — emitting
      one float64 partial row per (group, partition);
    - stage 2: the built-in JVM sum merges the partials
      (``merge_batch``) and a single cast to float emits the f32 result
      (``evaluate``, cudarc rs:146-148).

    The shuffle carries one row per group per partition instead of every
    input row — the grouped-agg pandas UDF registered for SQL ships
    whole groups to one Python worker (``sum_arrow_unfused``); this is
    the 100 TB spelling of the same semantics. Partials stay float64 so
    the result is bit-identical to a single f64 accumulation (modulo
    summation order, which the final f32 cast absorbs): nulls skipped,
    all-null group -> NULL, non-numeric input rejected.
    """
    out = alias or f"sum_{value_col}"
    gcols = list(group_cols)
    pschema = StructType(
        [df.schema[g] for g in gcols] + [StructField("partial", DoubleType())]
    )

    def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        frames: list[pd.DataFrame] = []
        for pdf in batches:
            v = pdf[value_col].to_numpy()
            if v.dtype == object or v.dtype.kind not in "iuf":
                raise TypeError(
                    f"sum_f32_partial_final: unsupported input dtype {v.dtype}"
                )
            # null -> NaN so all-null groups keep their key with a NULL
            # partial (min_count=1) instead of vanishing from the output
            mask = pd.isna(v)
            v64 = v.astype(np.float32, copy=False).astype(np.float64)
            if mask.any():
                v64 = np.where(mask, np.nan, v64)
            if gcols:
                sub = pdf[gcols].copy()
                sub["partial"] = v64
                # combine per batch: partition memory stays
                # O(batches * distinct_groups), never partition rows
                frames.append(
                    sub.groupby(gcols, dropna=False, sort=False)["partial"]
                    .sum(min_count=1)
                    .reset_index()
                )
            else:
                frames.append(pd.DataFrame({"partial": [np.nansum(v64)]})
                              if (~mask).any() else pd.DataFrame({"partial": [np.nan]}))
        if not frames:
            return
        allp = pd.concat(frames)
        if gcols:
            yield (
                allp.groupby(gcols, dropna=False, sort=False)["partial"]
                .sum(min_count=1)
                .reset_index()
            )
        else:
            yield pd.DataFrame({"partial": [allp["partial"].sum(min_count=1)]})

    pdf_partials = df.select(*gcols, value_col).mapInPandas(partials, pschema)
    agg = F.sum("partial").cast("float").alias(out)
    if gcols:
        return pdf_partials.groupBy(*gcols).agg(agg)
    return pdf_partials.agg(agg)
