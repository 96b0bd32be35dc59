"""Query catalog — the engine's demonstrated SQL/operator surface.

Every entry here is one row of SURVEY.md §2's operator inventory, expressed
twice: a Spark implementation (DataFrame API or Spark SQL) and, where the
semantics are ANSI-SQL-expressible, a DuckDB oracle string. The driver runs
both sides at sf=0.01 and hash-compares results — so every aggregate /
computed column is aliased identically on both sides, floats that can pick
up cross-engine accumulation-order noise are rounded/cast identically on
both sides, and every ORDER BY used under a LIMIT carries a unique
tiebreaker.
"""

from __future__ import annotations

import functools
import json
import re
from collections.abc import Callable
from pathlib import Path
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession

from datafusion_gpu_spark.aggregates import register_aggregates
from datafusion_gpu_spark.context import register_tables

QueryFn = Callable[[SparkSession, str], DataFrame]


def load(spark: SparkSession, sf_dir: str) -> SparkSession:
    """Make the star schema + custom aggregates available for a query run.

    Registers once per (session, ``sf_dir``); a warm call only checks the
    JVM catalog and re-registers just what is missing or was replaced — a
    dropped or shadowed view, a dropped or re-registered sum, every view
    when ``sf_dir`` changes. The session time zone is pinned to UTC on
    every call. See ``context._SESSION_STATE``.
    """
    register_tables(spark, sf_dir)
    register_aggregates(spark)
    return spark


def sql_query(statement: str) -> QueryFn:
    """Wrap a Spark SQL string as a (spark, sf_dir) -> DataFrame callable."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        load(spark, sf_dir)
        return spark.sql(statement)

    return run


# Driver coverage closed in round 5: the union of CORRECTNESS_r01-r05 is all
# 224 registered queries, every row green. The driver gate checks at most 50
# queries per round in registry order, so from round 6 on the ordering is a
# STALENESS ROTATION: each round's 50 slots go to the rows whose last driver
# check is OLDEST (the engine underneath an r1-checked row has been refactored
# for four rounds — local pytest covers it, but a driver re-check is the
# stronger evidence; VERDICT r5, ask #3). Brand-new queries rank as if last
# checked between r2 and r3 (_NEVER_CHECKED_RANK).
#
# The check history is read from the driver records committed at the repo
# root (CORRECTNESS_r{N}.json), so a new round's record reorders the
# rotation by itself; only the pins below are edited by hand.
_RECORDS_DIR = Path(__file__).resolve().parents[2]

#: Rows whose IMPLEMENTATION changed after their most recent driver check
#: (VERDICT r10, "What's wrong" #1: a row rewired after its last check
#: would otherwise wait for its turn in the staleness queue). These jump
#: the queue: rank 0, ahead of every stale tranche. Pin a row when the
#: spelling of an existing query, or the machinery under it, changes;
#: unpin it when its post-change driver row is committed.
_CHANGED_SINCE_CHECK: tuple[str, ...] = (
    # r16 changed _signatures_of_shingles under both (set sizes fused
    # into the signature pass); last driver-green in r15.
    "dedup_incremental_minhash", "streaming_incremental_minhash",
    # the survival family now builds on one shared risk-set substrate
    # (operators/events.py); these rows' optimized plans changed (same
    # values), the five whose plans stayed identical are not pinned
    "events_survival_km", "events_survival_greenwood", "events_competing_risks",
    "events_survival_median", "events_survival_rmst", "events_logrank_k",
    "events_logrank_weighted", "events_life_table", "events_survival_diff_72h",
    # the near-dup pair family now builds on one candidate-and-verify
    # substrate (operators/dedup.py); these rows' optimized plans changed
    # (same rows), the ones whose plans stayed identical are not pinned
    "dedup_ngram_jaccard", "dedup_containment", "dedup_minhash_lsh",
    "dedup_embedding_lsh", "dedup_incremental_embedding",
    "dedup_embedding_cosine", "dedup_semantic", "dedup_substring_spans",
    "join_fuzzy_blocked",
)


class _DriverHistory(NamedTuple):
    """The fold of every committed CORRECTNESS_r{N}.json."""

    #: name -> round of its most recent green driver row
    last_round: dict[str, int]
    #: name -> how many distinct rounds have checked it green
    check_count: dict[str, int]
    #: how many round records were folded
    rounds: int


def _driver_checked(record: dict) -> bool:
    """A driver row is evidence unless a match field failed or it errored;
    the by-design rows-only entries (err ``no_oracle``) still count."""
    matches = (v for k, v in record.items() if k.endswith("_match"))
    return False not in matches and record.get("err") in (None, "no_oracle")


@functools.cache
def _driver_history() -> _DriverHistory:
    """Fold the committed driver records in round order (once per process)."""
    records = sorted(
        (int(re.search(r"_r(\d+)", path.name).group(1)), path)
        for path in _RECORDS_DIR.glob("CORRECTNESS_r*.json")
    )
    last_round: dict[str, int] = {}
    check_count: dict[str, int] = {}
    for rnd, path in records:
        for name, record in json.loads(path.read_text()).items():
            if _driver_checked(record):
                last_round[name] = rnd
                check_count[name] = check_count.get(name, 0) + 1
    return _DriverHistory(last_round, check_count, len(records))


#: Gate-slot economics (VERDICT r12 ask #6): at ~396 rows and 50 driver
#: slots/round a flat rotation re-checks everything every ~8 rounds, and
#: the cycle stretches as the registry grows. The driver's gate size is
#: not ours to raise, so staleness is EVIDENCE-WEIGHTED instead: a row
#: that has been driver-green in >= _TIER_CHECKS distinct rounds (the
#: frozen core — tpch, scalar packs, joins, windows, all spelled once
#: and re-checked green across at least one engine-refactor cycle) ages
#: one round slower than a row with thinner evidence from the same
#: tranche, so the scarce slots prefer rows with ONE green row over
#: rows with two. The tier is computed from the driver records
#: themselves (no manual list to rot), and a pin in
#: _CHANGED_SINCE_CHECK still outranks EVERYTHING — changed code beats
#: any amount of old green evidence.
_TIER_CHECKS = 2
_TIER_BONUS = 1.0

#: Never-driver-checked entries rank 2.5, as if last checked between r2
#: and r3. Every checked row was last green after r2, so a new
#: query lands right behind the pins and gets its first driver row in the
#: next gate.
_NEVER_CHECKED_RANK = 2.5


def _staleness_rank(name: str) -> float:
    """Effective staleness rank: smaller = checked sooner. Pins rank 0,
    never-checked rows 2.5, checked rows their last green round plus the
    evidence-tier bonus (rows green in >= _TIER_CHECKS distinct rounds
    age _TIER_BONUS rounds slower — see the gate-slot economics note)."""
    if name in _CHANGED_SINCE_CHECK:
        return 0.0
    history = _driver_history()
    if name not in history.last_round:
        return _NEVER_CHECKED_RANK
    bonus = _TIER_BONUS if history.check_count[name] >= _TIER_CHECKS else 0.0
    return history.last_round[name] + bonus


def _staleness_rotation(registry: dict) -> dict:
    """Order so the driver's 50-query/round gate always lands on the rows
    with the least-recent driver evidence — except changed-code rows
    (:data:`_CHANGED_SINCE_CHECK`), which outrank every stale tranche:
    a row whose spelling changed after its last driver check has WEAKER
    evidence than any merely-old green row, whatever its age. Python's
    sort is stable, so registry (module) order breaks ties within a
    tranche — the '50 oldest' cut is deterministic round to round."""
    ordered = sorted(registry, key=_staleness_rank)
    return {k: registry[k] for k in ordered}


def all_queries() -> dict[str, QueryFn]:
    registry: dict[str, QueryFn] = {}
    for mod in _modules():
        registry.update(mod.QUERIES)
    return _staleness_rotation(registry)


def all_oracles() -> dict[str, str]:
    registry: dict[str, str] = {}
    for mod in _modules():
        registry.update(mod.ORACLES)
    return _staleness_rotation(registry)


def _modules():
    from datafusion_gpu_spark.queries import (
        aggregates_q,
        custom_agg,
        io_q,
        pipeline,
        reference_tables,
        relational,
        scalar_fns,
        tpch,
        tpch_extra,
        tpch_full,
        windows,
    )

    return (
        tpch,
        tpch_extra,
        tpch_full,
        relational,
        aggregates_q,
        windows,
        scalar_fns,
        custom_agg,
        pipeline,
        reference_tables,
        io_q,
    )
