"""Shared operator utilities: the stats barrier and the per-call cut
owner — every lineage cut an operator makes goes through :func:`cuts`
inside an :func:`owns_cuts` call, which picks the cut policy, reads the
round's statistics in the cut's own job, and releases the cuts the
returned DataFrame does not read (their blocks, or on the reliable path
their checkpoint files)."""

from __future__ import annotations

import functools
import re
import threading
from collections.abc import Callable
from typing import Any, TypeVar

from py4j.protocol import Py4JError
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

_Fn = TypeVar("_Fn", bound=Callable[..., Any])


def stats_barrier(df: DataFrame) -> DataFrame:
    """Rebuild ``df`` on its own (already materialized) internal RDD,
    DROPPING the logical plan's inherited size statistics.

    Why this exists: ``checkpoint``/``localCheckpoint`` truncate the
    plan but PRESERVE the origin plan's Catalyst ``sizeInBytes`` (a
    BigInt). Catalyst's join-size visitor multiplies children's sizes,
    so an iterative operator whose round references the previous
    round's checkpoint in k >= 2 join branches compounds the stat
    GEOMETRICALLY: digits(r) ~ 19 * k^r, and after ~a dozen rounds the
    driver spends minutes in BigInteger.multiply (Toom-Cook range)
    just *estimating* plan sizes — measured on louvain pass 3/round 1:
    87 s of pure stats arithmetic on a 43k-edge graph (jstack:
    SizeInBytesOnlyStatsPlanVisitor.visitJoin -> BigInt product).
    Linear-chain iteratives (pagerank, components, bellman_ford) only
    grow the stat ~19 digits/round and never feel it.

    The barrier costs nothing at runtime (reuses the checkpointed
    RDD); its one side effect is that the relation's size becomes the
    default (8 EiB), so Catalyst will never AUTO-broadcast it — use it
    in operators that broadcast-hint explicitly."""
    spark = df.sparkSession
    jdf = df._jdf
    new_jdf = spark._jsparkSession.internalCreateDataFrame(
        jdf.queryExecution().toRdd(), jdf.schema(), False
    )
    return DataFrame(new_jdf, spark)


class _Call:
    """What one operator call cut or persisted, until its return."""

    def __init__(self) -> None:
        self.spark: SparkSession | None = None
        self.cut_ids: list[int] = []  # localCheckpointed RDDs
        self.checkpoint_ids: list[int] = []  # reliably checkpointed RDDs
        self.persisted: list[DataFrame] = []

    def settle(self, out: Any) -> None:
        if not (self.cut_ids or self.checkpoint_ids or self.persisted):
            return
        outs = out if isinstance(out, tuple) else (out,)
        frames = [x for x in outs if isinstance(x, DataFrame)]
        read = set().union(*(_read_rdds(df) for df in frames))
        from datafusion_gpu_spark.context import _remove_checkpoint_files, session_state

        jsc = self.spark.sparkContext._jsc
        try:
            for i in self.cut_ids:
                if i not in read:
                    jsc.sc().unpersistRDD(i, False)
            _remove_checkpoint_files(
                self.spark, [i for i in self.checkpoint_ids if i not in read]
            )
            for df in self.persisted:
                if not any(df is f for f in frames):
                    df.unpersist(blocking=False)
        except Py4JError:
            return  # session stopped: nothing left to release
        kept = [i for i in self.cut_ids if i in read]
        kept_files = [i for i in self.checkpoint_ids if i in read]
        if kept or kept_files:
            state = session_state(self.spark)
            state.cuts.extend(kept)
            state.checkpoints.extend(kept_files)


_RDD_ID = re.compile(r"RDD\d?\[(\d+)\] at ")


def _read_rdds(df: DataFrame) -> set[int]:
    """Ids of every RDD the analyzed plan of ``df`` reads: each
    ``LogicalRDD`` leaf's RDD and its dependencies (through
    :func:`stats_barrier`'s wrapper down to the cut underneath), from
    one ``toDebugString`` per leaf."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    ids: set[int] = set()
    for i in range(leaves.length()):
        leaf = leaves.apply(i)
        if leaf.nodeName() == "LogicalRDD":
            ids.update(map(int, _RDD_ID.findall(leaf.rdd().toDebugString())))
    return ids


_ACTIVE = threading.local()


def owns_cuts(fn: _Fn) -> _Fn:
    """Mark an operator as the owner of the cuts it makes through
    :func:`cuts`. At its return, the cuts and handed-in persists that the
    returned DataFrame(s) — the return value, or the DataFrames in a
    returned tuple — do not read are released; the cuts they read are
    filed with the session. A call nested in another owner's call (e.g.
    ``boruvka_mst`` calling ``connected_components``) joins the
    enclosing owner, so only the outermost return settles."""

    @functools.wraps(fn)
    def call(*args: Any, **kwargs: Any) -> Any:
        if getattr(_ACTIVE, "call", None) is not None:
            return fn(*args, **kwargs)
        owner = _ACTIVE.call = _Call()
        out: Any = ()  # on an exception nothing is returned, so all is released
        try:
            out = fn(*args, **kwargs)
            return out
        finally:
            _ACTIVE.call = None
            owner.settle(out)

    return call  # type: ignore[return-value]


class Cuts:
    """One operator call's lineage cut, its policy chosen once; made by
    :func:`cuts`."""

    def __init__(self, call: _Call, df: DataFrame, reset_stats: bool, reuse_only: bool):
        self._call = call
        spark = call.spark = call.spark or df.sparkSession
        self._reliable = bool(spark.sparkContext.getCheckpointDir())
        self._identity = reuse_only and not self._reliable
        self._reset_stats = reset_stats
        #: the DataFrame whose job ran the latest cut (the observed frame
        #: when statistics were read) — its executed plan is that job's
        self.last_run: DataFrame | None = None

    def __call__(self, df: DataFrame) -> DataFrame:
        """``df`` materialized and lineage-cut."""
        return df if self._identity else self._cut(df)

    def observed(self, df: DataFrame, **aggs: Column) -> tuple[DataFrame, dict[str, Any]]:
        """``df`` cut, plus the named aggregates over it, read in the
        cut's own job: ``dist, seen = cut.observed(df, s=F.sum("cost"))``
        (always an eager cut, also under ``reuse_only``)."""
        obs = Observation()
        out = self._cut(df.observe(obs, *[c.alias(k) for k, c in aggs.items()]))
        return out, obs.get

    def counted(self, df: DataFrame) -> tuple[DataFrame, int]:
        """``df`` cut, plus its row count read in the cut's own job."""
        out, seen = self.observed(df, n=F.count(F.lit(1)))
        return out, seen["n"]

    def persist(self, df: DataFrame) -> DataFrame:
        """``df.persist()``, unpersisted at the owner's return unless it is
        itself returned (then it is the caller's to unpersist)."""
        self._call.persisted.append(df.persist())
        return df

    def _cut(self, df: DataFrame) -> DataFrame:
        self.last_run = df
        if self._reliable:
            out = df.checkpoint(eager=True)
            ids = self._call.checkpoint_ids
        else:
            out = df.localCheckpoint(eager=True)
            ids = self._call.cut_ids
        ids.append(out._jdf.logicalPlan().rdd().id())
        return stats_barrier(out) if self._reset_stats else out


def cuts(df: DataFrame, reset_stats: bool = False, reuse_only: bool = False) -> Cuts:
    """The calling operator's cut (it must be an :func:`owns_cuts` call),
    for relations of ``df``'s session: reliable ``checkpoint`` when a
    checkpoint dir is set (the cluster spelling, fault-tolerant across
    executor loss), ``localCheckpoint`` otherwise (right for local mode,
    lost if an executor dies). One policy, chosen once per call, for
    every operator.

    ``reset_stats=True`` applies :func:`stats_barrier` after each cut —
    REQUIRED for operators whose round references the previous cut in
    several join branches (see its geometric-compounding note); leave
    it False where auto-broadcast of small cut relations is wanted.

    ``reuse_only=True`` is for a cut that is a REUSE optimization, not a
    correctness or planner need: with a checkpoint dir (the cluster
    spelling) the relation is reliably checkpointed, because at scale
    re-running a data-sized construction once per consuming join branch
    dwarfs one write; WITHOUT one (local mode — the bench/driver
    profile) it is the IDENTITY: the r15 driver bench measured the eager
    localCheckpoint variants of cox_ph (+25%) and hits (+15%) SLOWER at
    sf0.1 than the lazy spellings, because the extra synchronous job and
    pinned blocks cost more than the re-execution they remove — AQE
    exchange reuse already collapses the repeated data-sized exchange
    in-plan."""
    call = getattr(_ACTIVE, "call", None)
    if call is None:
        raise RuntimeError("cuts() outside an @owns_cuts operator call")
    return Cuts(call, df, reset_stats, reuse_only)
