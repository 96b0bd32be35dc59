"""The benchmark's workloads: which operations run, at which scale, and why.

An operation ("op") is one closed-loop request from the single client:

- ``collect``: the registry callable builds a DataFrame, then ``collect()``;
- ``write``: the registry callable builds a DataFrame, then
  ``io.write_parquet`` writes it to a run-private path (read back and
  checked outside the timed interval);
- ``repl``: one statement through ``repl.run_sql``, which prints the result.

Every pass runs each op once. The first pass, still cold, runs them in the
order listed here, so the same ops pay the same cold costs in every run; each
later (warm) pass runs them in an order drawn from the seed.
"""

from __future__ import annotations

import random
from dataclasses import dataclass


@dataclass(frozen=True)
class Op:
    name: str
    kind: str  # "collect" | "write" | "repl"
    sql: str | None = None


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    sf: float
    #: rows of the ``types`` table build_ctx registers; sql_interactive caches it
    types_rows: int
    cache_types: bool
    #: warm passes a run makes at least, after the cold first pass: enough
    #: warm executions for a tail with ten beyond it, in a run short enough
    #: for the benchmark's time budget
    warm_passes: int
    ops: tuple[Op, ...]

    def pass_order(self, seed: int, pass_no: int) -> list[Op]:
        order = list(self.ops)
        if pass_no > 0:
            random.Random(f"{self.name}:{seed}:{pass_no}").shuffle(order)
        return order


def _collect(*names: str) -> tuple[Op, ...]:
    return tuple(Op(n, "collect") for n in names)


def _write(*names: str) -> tuple[Op, ...]:
    return tuple(Op(n, "write") for n in names)


#: The reference's README statements (its only published numbers), spelled
#: the way a REPL user types them.
REPL_SUMS = (
    Op("repl_sum_float", "repl", "SELECT sum(float) FROM types"),
    Op("repl_sum_arrow_cpu", "repl", "SELECT sum_arrow_cpu(float) FROM types"),
    Op("repl_sum_cudarc", "repl", "SELECT sum_cudarc(float) FROM types"),
)

SQL_INTERACTIVE = Workload(
    name="sql_interactive",
    why=(
        "How the reference is used: short SQL and REPL sums in one session, where "
        "per-call fixed costs (load, Catalyst, short-job dispatch) dominate; no "
        "iterative or write paths."
    ),
    sf=0.01,
    types_rows=1_000_000,
    cache_types=True,
    warm_passes=2,
    ops=_collect(
        "tpch_q1_pricing_summary",
        "tpch_q3_shipping_priority",
        "tpch_q5_local_supplier",
        "tpch_q6_forecast_revenue",
        "tpch_q10_returned_items",
        "tpch_q12_priority_pivot",
        "tpch_q14_promo_share",
        "join_semi_exists",
        "agg_rollup",
        "window_ranking",
        "fn_datetime_pack",
        "custom_sum_f32_grouped",
    )
    + REPL_SUMS,
)

PIPELINE_GRAPH = Workload(
    name="pipeline_graph",
    why=(
        "Pipeline operators that write parquet and read it back, streaming, and "
        "iterative PageRank: executor compute, shuffle, the Arrow Python boundary, "
        "writes and job dispatch dominate."
    ),
    sf=0.01,
    types_rows=1024,
    cache_types=False,
    warm_passes=2,
    ops=_write(
        "dedup_exact",
        "text_quality",
        "text_pii_redact",
        "sim_topk_vectorized",
        "pipeline_end_to_end",
        "retrieval_bm25",
    )
    + _collect(
        "io_merge_upsert",
        "io_incremental_agg",
        "io_roundtrip_parquet_zstd",
        "streaming_dedup_keys",
        "graph_pagerank",
    ),
)

WORKLOADS = {w.name: w for w in (SQL_INTERACTIVE, PIPELINE_GRAPH)}
