#!/usr/bin/env python3
"""Self-test of the benchmark (about a minute; starts one local Spark).

    python3 perfbench/selftest.py

Checks, without timing anything:

- every op a workload names resolves in ``all_queries()`` and has an oracle;
- ``BENCHMARK.json`` names the same workloads and the same metrics, with the
  same units, that ``run.py`` reports, every name matches
  ``[A-Za-z0-9_.-]+``, and there are at most 16 end-to-end and 128
  per-layer metrics;
- one traced op at sf0.001 emits child spans that nest inside their parent
  and share its op id, and its output passes the oracle check.
"""

from __future__ import annotations

import json
import os
import re
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402
from workloads import Op, Workload, WORKLOADS  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")

#: one write op whose construction crosses several traced layers
#: (queries.load -> context.register_tables, operators.dedup) and whose
#: execution goes through io.write_parquet
TRACED_OP = Workload(
    name="selftest",
    why="self-test",
    sf=0.001,
    types_rows=1024,
    cache_types=False,
    warm_passes=1,
    ops=(Op("dedup_exact", "write"),),
)


def check_registry() -> None:
    sys.path.insert(0, run.ROOT)
    from datafusion_gpu_spark.queries import all_oracles, all_queries

    queries, oracles = all_queries(), all_oracles()
    for w in WORKLOADS.values():
        for op in w.ops:
            if op.kind == "repl":
                continue
            assert op.name in queries, f"{w.name}: {op.name} is not in all_queries()"
            assert op.name in oracles, f"{w.name}: {op.name} has no oracle"


def check_benchmark_json() -> None:
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"]: w["why"] for w in spec["workloads"]} == {
        name: " ".join(w.why.split()) for name, w in WORKLOADS.items()
    }, "BENCHMARK.json workloads differ from workloads.py"
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == run.END_TO_END, "BENCHMARK.json end_to_end differs from run.py"
    assert layer == run.PER_LAYER, "BENCHMARK.json per_layer differs from run.py"
    assert len(e2e) <= 16 and len(layer) <= 128
    for name in [*e2e, *layer, *WORKLOADS]:
        assert NAME.fullmatch(name) and len(name) <= 64, f"bad metric or workload name {name!r}"


def check_traced_op() -> None:
    out = run.run(TRACED_OP, seed=1, seconds=0, trace=True)
    assert out["correct"], f"self-test op failed its check: {out['ops']}"
    spans = out["spans"]
    by_id = {s["id"]: s for s in spans}
    roots = [s for s in spans if s["parent"] is None and s["name"].startswith("op.")]
    assert roots, "no op span recorded"
    for root in roots:
        kids = [s for s in spans if s["op"] == root["op"] and s is not root]
        names = {s["name"] for s in kids}
        for expected in ("queries.construct", "queries.load", "queries.execute", "io.write_parquet"):
            assert expected in names, f"traced op has no {expected} span: {sorted(names)}"
        for s in kids:
            parent = by_id[s["parent"]]
            assert parent["op"] == root["op"], f"{s['name']} crosses ops"
            assert parent["start"] <= s["start"] <= s["end"] <= parent["end"], (
                f"{s['name']} is not inside {parent['name']}"
            )
    assert set(out["metrics"]) == set(run.PER_LAYER)
    setup_spans = {s["name"] for s in spans if s["op"] == "setup0"}
    assert {"context.get_spark", "context.build_ctx", "context.register_tables"} <= setup_spans


def main() -> int:
    check_registry()
    check_benchmark_json()
    check_traced_op()
    print("perfbench selftest: ok")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
