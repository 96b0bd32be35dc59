#!/usr/bin/env python
"""Time named registry queries in isolation with the noop sink.

Usage: python tools/time_queries.py [-n SAMPLES] <query> [query ...]

Guide §1.4: the noop sink computes every column of every row and
discards the result, so this times the computation, not the collect()
pipe. bench.py keeps its collect() methodology (the recorded driver
contract since r1); this tool is for before/after isolation during
optimization work only. One warm-up, then N timed runs, median + min
to stderr, one JSON line to stdout. Jobs are labelled (guide §1.5).

Beside each median the JSON line reports ``compiles``: the generated
classes Spark compiled during that query's timed samples (the
``CodegenMetrics`` compilation count delta), i.e. whole-stage codegen
cache misses. Back-to-back samples of one query hide eviction by OTHER
queries — the query's own classes are always the most recently used —
which is why readings from this tool once showed no recompiles while
an interleaved workload recompiled most of its classes every pass
(context.CODEGEN_CACHE_ENTRIES).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, ".")


def main() -> int:
    args = sys.argv[1:]
    samples = 5
    if args and args[0] == "-n":
        samples = int(args[1])
        args = args[2:]
    names = args
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from datafusion_gpu_spark.context import get_spark
    from datafusion_gpu_spark.queries import all_queries

    spark = get_spark("time-queries")
    spark.sparkContext.setLogLevel("ERROR")
    registry = all_queries()
    metrics = spark._jvm.org.apache.spark.metrics.source
    compile_count = metrics.CodegenMetrics.METRIC_COMPILATION_TIME().getCount
    out = {}
    for name in names:
        if name not in registry:
            print(f"{name}: NOT IN REGISTRY", file=sys.stderr)
            continue

        def run() -> None:
            df = registry[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()

        spark.sparkContext.setJobDescription(f"time: {name} warmup")
        run()
        times = []
        compiled_before = compile_count()
        for i in range(samples):
            spark.sparkContext.setJobDescription(f"time: {name} #{i}")
            t0 = time.perf_counter()
            run()
            times.append(time.perf_counter() - t0)
        compiles = compile_count() - compiled_before
        spark.sparkContext.setJobDescription(None)
        med = statistics.median(times)
        out[name] = {"median_s": round(med, 4), "compiles": compiles}
        print(
            f"{name}: median {med:.3f} s  min {min(times):.3f} s"
            f"  over {samples}, {compiles} classes compiled",
            file=sys.stderr,
        )
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
