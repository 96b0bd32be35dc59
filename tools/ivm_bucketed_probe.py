"""Bucketed-view IVM probe: measures Z-set view maintenance
(operators/layout.py::incremental_agg) with the stored view BUCKETED on
the key versus read as plain parquet, at view sizes far beyond the gate
tables.

The maintenance join is a full outer — the one join Spark cannot
broadcast — so both sides normally hash-shuffle on the view key. When
the view is persisted with write_bucketed (bucketBy the key, the same
machinery io_bucketed_join plan-asserts), the view side reads already
partitioned and ONLY the delta aggregation shuffles: maintenance IO is
O(|delta| shuffle + |view| local scan). tests/test_plans.py::
test_incremental_agg_bucketed_view_skips_view_exchange pins the plan
(exactly one Exchange); this probe measures the wall-clock consequence.

Usage: python tools/ivm_bucketed_probe.py [view_rows delta_rows]
       (default 5_000_000 100_000)
Prints per layout: maintenance wall (median of 5), exchanges in plan.
"""

from __future__ import annotations

import re
import statistics
import sys
import time

sys.path.insert(0, ".")


def main() -> int:
    view_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 5_000_000
    delta_rows = int(sys.argv[2]) if len(sys.argv) > 2 else 100_000

    from pyspark.sql import functions as F

    from datafusion_gpu_spark.context import get_spark, scratch_dir
    from datafusion_gpu_spark.io import write_bucketed
    from datafusion_gpu_spark.operators.layout import incremental_agg

    spark = get_spark("ivm-bucketed-probe")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    # bucket count == shuffle partitions so the delta agg's exchange
    # aligns with the view's bucketing (otherwise Spark inserts a
    # second delta-side exchange to re-partition 32 -> n_buckets)
    n_buckets = 8
    spark.conf.set("spark.sql.shuffle.partitions", str(n_buckets))

    view = spark.range(view_rows).select(
        F.col("id").alias("k"),
        F.lit(3).alias("cnt"),
        (F.col("id") % 1000).alias("total"),
    )
    delta = (
        spark.range(delta_rows)
        .select(
            (F.xxhash64("id").bitwiseAND(F.lit(0x7FFFFFFF)) % view_rows)
            .alias("k"),
            (F.col("id") % 100).alias("val"),
            F.when(F.col("id") % 10 == 0, F.lit(-1)).otherwise(F.lit(1))
            .alias("sign"),
        )
        .cache()
    )
    delta.count()

    write_bucketed(view, "probe_view_bucketed", ["k"], num_buckets=n_buckets)
    view.write.option("path", scratch_dir(spark, "probe_view_plain")).saveAsTable(
        "probe_view_plain"
    )

    for label, table in (
        ("plain-parquet view", "probe_view_plain"),
        ("bucketed view", "probe_view_bucketed"),
    ):
        out = incremental_agg(spark.table(table), delta, "k", "val")
        plan = out._jdf.queryExecution().executedPlan().toString()
        n_ex = len(re.findall(r"Exchange hashpartitioning", plan))
        out.count()  # warm (shuffle files, code cache)
        times = []
        for _ in range(5):
            t0 = time.perf_counter()
            out.count()
            times.append(time.perf_counter() - t0)
        med = statistics.median(times)
        print(
            f"{label}: view={view_rows:,} delta={delta_rows:,} "
            f"exchanges={n_ex} maintenance median {med:.2f}s"
        )

    spark.sql("DROP TABLE IF EXISTS probe_view_plain")
    spark.sql("DROP TABLE IF EXISTS probe_view_bucketed")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
