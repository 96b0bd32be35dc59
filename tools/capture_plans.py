"""Capture .explain("formatted") output for named queries into plans/<tag>/.

Usage: python tools/capture_plans.py <tag> <suffix> [query ...]
Writes plans/<tag>/<query>_<suffix>.txt for each query (default: the
benched SF set). Capture itself only plans, but CONSTRUCTING a query
whose operator eagerly materializes an intermediate (``operators.util.cuts``
sites: retrieval_bm25, text_perplexity, dedup_lines,
curation_dsir_resample, dedup_minhash_lsh) runs those Spark jobs at
capture time. Uses the private df._sc/_jvm handles to reach
explainString at full field width; pyspark 4.x keeps both stable, and
the bench/driver never import this tool.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, ".")

DEFAULT = [
    "tpch_q1_pricing_summary", "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier", "tpch_q6_forecast_revenue",
    "window_rows_frame", "dedup_exact", "dedup_lines", "dedup_minhash_lsh",
    "text_quality", "text_pii_redact", "text_perplexity",
    "sim_topk_vectorized", "sim_topk_ivf", "sim_knn_graph",
    "curation_pack_sequences", "curation_dsir_resample",
    "pipeline_end_to_end", "retrieval_bm25", "events_sessionize",
    "events_multi_rollup", "events_funnel", "events_ks_test",
    "agg_gain_lift_curve", "events_holt_smoothing",
    "events_forecast_backtest", "events_cox_ph", "graph_hits",
    "dedup_components", "graph_louvain",
]


def main() -> int:
    tag, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:] or DEFAULT
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    outdir = os.path.join("plans", tag)
    os.makedirs(outdir, exist_ok=True)

    from datafusion_gpu_spark.context import get_spark
    from datafusion_gpu_spark.queries import all_queries

    # Full-width expression lists: the default 25-field truncation hides
    # exactly the evidence these files exist to carry (e.g. the window
    # expression count of a lag fold).
    spark = get_spark(
        "capture-plans",
        extra_conf={"spark.sql.debug.maxToStringFields": "2000"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.debug.maxToStringFields", "2000")
    registry = all_queries()
    for name in names:
        if name not in registry:
            print(f"{name}: NOT IN REGISTRY", file=sys.stderr)
            continue
        df = registry[name](spark, sf_dir)
        text = df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(text)
        print(f"wrote {path}", file=sys.stderr)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
