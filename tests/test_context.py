"""Context/bootstrap tests: types generator determinism, CSV inference
(SURVEY §5.2 items 2 and 4), REPL parity queries."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from datafusion_gpu_spark.context import make_types_df, register_test_csv
from datafusion_gpu_spark.queries.reference_tables import TEST_CSV
from tests.conftest import SF_DIR


def test_types_schema(spark):
    df = make_types_df(spark, 100)
    assert [(f.name, str(f.dataType)) for f in df.schema.fields] == [
        ("string", "StringType()"),
        ("float", "FloatType()"),
        ("int", "IntegerType()"),
    ]


def test_types_deterministic_and_partition_invariant(spark):
    a = make_types_df(spark, 1000, seed=7).toPandas()
    b = make_types_df(spark, 1000, seed=7).repartition(13).toPandas()
    key = lambda d: d.sort_values(["int", "float", "string"]).reset_index(drop=True)  # noqa: E731
    assert key(a).equals(key(b))
    c = make_types_df(spark, 1000, seed=8).toPandas()
    assert not key(a).equals(key(c))


def test_types_value_ranges(spark):
    row = (
        make_types_df(spark, 5000)
        .agg(
            F.min("float").alias("fmin"),
            F.max("float").alias("fmax"),
            F.countDistinct("string").alias("letters"),
        )
        .collect()[0]
    )
    assert 0.0 <= row.fmin and row.fmax < 1.0
    assert row.letters == 26  # 'a'..='z' (src/lib.rs:65)


def test_csv_inference(spark):
    df = register_test_csv(spark, TEST_CSV)
    assert len(df.columns) == 13 and df.count() == 100
    dtypes = dict(df.dtypes)
    assert dtypes["c1"] == "string"
    assert dtypes["c2"] == "int"
    assert dtypes["c6"] == "bigint"
    assert dtypes["c11"] == "double"
    assert dtypes["c13"] == "string"


def test_readme_parity_queries_run_verbatim(spark):
    """The reference's manual correctness procedure (README.md:71-75)."""
    from datafusion_gpu_spark.context import build_ctx

    build_ctx(spark, types_table_length=100_000)
    base = spark.sql("SELECT sum(float) AS s FROM types").collect()[0].s
    for q in (
        "SELECT sum_cudarc(float) FROM types",
        "SELECT sum_cubecl(float) FROM types",
    ):
        got = spark.sql(q).collect()[0][0]
        assert abs(base - got) / abs(base) < 1e-4


def test_codegen_cache_holds_an_interleaved_working_set(spark):
    """Warm queries reuse their compiled classes: 64 distinct shapes (2
    generated classes each, 128 entries, beyond Spark's default cache of
    100) run between two runs of shape 0, whose second run then compiles
    nothing. Back-to-back repeats of one shape would pass at any size."""
    from datafusion_gpu_spark.context import CODEGEN_CACHE_ENTRIES

    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES
    )
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles = metrics.METRIC_COMPILATION_TIME().getCount

    def shape(i):
        spark.range(4).select((F.col("id") * 3 + F.lit(i)).alias("x")).collect()

    for i in range(64):
        shape(i)
    before = compiles()
    shape(0)
    assert compiles() == before


def test_scan_cache_sweeps_stopped_sessions_and_clear_hook(tmp_path):
    """ADVICE r10 #1: the per-session registration state must not accrete
    dead sessions (swept on touch via the _jsc liveness probe) and must
    expose a clear hook for callers that rewrite parquet at a registered
    path mid-session. Dropping a session's state, by sweep or clear, also
    removes its scratch root and unpersists its counted relations."""
    import tempfile

    from datafusion_gpu_spark import context as ctx

    class _FakeSC:
        def __init__(self, stopped):
            self._jsc = None if stopped else object()

    class _FakeSession:
        def __init__(self, stopped=False):
            self._sc = _FakeSC(stopped)

    class _Counted:
        is_cached = True

        def unpersist(self, blocking):
            self.is_cached = False

    def state(session, **scans):
        return ctx._SessionState(
            session,
            scans={f"{p}.parquet": df for p, df in scans.items()},
            views={
                f"v_{p}": ctx._View(f"{p}.parquet", df, "entry") for p, df in scans.items()
            },
            aggregates={"sum_cudarc": ("ident", "entry")},
            scratch=tempfile.mkdtemp(dir=tmp_path),
            counted=[_Counted()],
        )

    dead, live = _FakeSession(stopped=True), _FakeSession()
    try:
        dead_state = ctx._SESSION_STATE[id(dead)] = state(dead, p="dead-df")
        ctx._SESSION_STATE[id(live)] = state(live, p="live-df", q="other-df")
        # touch through the cache with the live session: cached path short-
        # circuits before any real read, and the dead entry is swept —
        # scans, views, aggregates, scratch root and counted relations
        assert ctx._cached_scan(live, "p.parquet") == "live-df"
        assert id(dead) not in ctx._SESSION_STATE
        assert not os.path.exists(dead_state.scratch)
        assert not dead_state.counted[0].is_cached
        assert ctx.session_state(live) is ctx._SESSION_STATE[id(live)]
        # per-path clear drops that plan and the views over it, nothing else
        ctx.clear_scan_cache(live, "p.parquet")
        live_state = ctx._SESSION_STATE[id(live)]
        assert live_state.scans == {"q.parquet": "other-df"}
        assert list(live_state.views) == ["v_q"]
        assert list(live_state.aggregates) == ["sum_cudarc"]
        assert os.path.isdir(live_state.scratch) and live_state.counted[0].is_cached
        # per-session clear drops all of it; no-arg clear drops every session
        ctx.clear_scan_cache(live)
        assert id(live) not in ctx._SESSION_STATE
        assert not os.path.exists(live_state.scratch)
        assert not live_state.counted[0].is_cached
        live_state = ctx._SESSION_STATE[id(live)] = state(live, p="live-df")
        ctx.clear_scan_cache()
        assert ctx._SESSION_STATE == {}
        assert not os.path.exists(live_state.scratch)
        assert not live_state.counted[0].is_cached
    finally:
        ctx._SESSION_STATE.pop(id(dead), None)
        ctx._SESSION_STATE.pop(id(live), None)


@pytest.fixture
def registration_calls(spark, monkeypatch):
    """Counts createOrReplaceTempView / udf.register calls by name."""
    from pyspark.sql.udf import UDFRegistration

    calls: list[str] = []
    frame_cls = type(spark.range(1))
    create_view = frame_cls.createOrReplaceTempView
    register = UDFRegistration.register

    def counting_create_view(self, name):
        calls.append(name)
        return create_view(self, name)

    def counting_register(self, name, f, *args, **kwargs):
        calls.append(name)
        return register(self, name, f, *args, **kwargs)

    monkeypatch.setattr(frame_cls, "createOrReplaceTempView", counting_create_view)
    monkeypatch.setattr(UDFRegistration, "register", counting_register)
    return calls


def _view_dirs(spark, names):
    """The directory each view scans, as absolute local paths."""
    from urllib.parse import urlparse

    return {
        os.path.dirname(urlparse(f).path)
        for name in names
        for f in spark.table(name).inputFiles()
    }


def test_release_of_a_stopped_session_skips_its_kept_cuts(tmp_path):
    # the stopped-session sweep releases a dead session's state: its
    # scratch root goes, but its kept cuts went with its SparkContext
    # (``_jsc`` is None), so nothing reaches for the JVM
    from types import SimpleNamespace

    from datafusion_gpu_spark.context import _release, _SessionState

    root = tmp_path / "dgs_session_x"
    root.mkdir()
    stopped = SimpleNamespace(_sc=SimpleNamespace(_jsc=None))
    _release(_SessionState(stopped, scratch=str(root), cuts=[7]))
    assert not root.exists()


def test_persist_counted_keeps_a_rebuilt_plan_cached(spark):
    # a query rebuilt after _COUNTED_KEEP - 1 others persists the same
    # plan as its oldest handle; evicting that handle must not uncache
    # the entry the rebuilt query's consumers read
    from pyspark import StorageLevel

    from datafusion_gpu_spark.context import (
        _COUNTED_KEEP,
        clear_scan_cache,
        persist_counted,
    )

    session = spark.newSession()
    try:
        def plan(i):
            return session.range(10).withColumn("k", F.col("id") + i)

        persist_counted(session, plan(0))
        for i in range(1, _COUNTED_KEEP):
            persist_counted(session, plan(i))
        again = persist_counted(session, plan(0))
        assert again.storageLevel != StorageLevel.NONE
    finally:
        clear_scan_cache(session)
    assert again.storageLevel == StorageLevel.NONE


def test_ensure_parallelism_decides_from_the_plan(spark, tmp_path):
    # a one-partition scan is spread over the cores; a shuffled input
    # keeps the partitioning its exchange set, and deciding so runs none
    # of its shuffle stages
    from datafusion_gpu_spark.context import ensure_parallelism

    sc = spark.sparkContext

    def jobs() -> int:
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        return jsc.dagScheduler().numTotalJobs()

    path = str(tmp_path / "one_file")
    spark.range(100).coalesce(1).write.parquet(path)
    scan = spark.read.parquet(path)
    assert scan.rdd.getNumPartitions() == 1
    spread = ensure_parallelism(scan)
    assert spread.rdd.getNumPartitions() == sc.defaultParallelism
    grouped = scan.groupBy((F.col("id") % 7).alias("k")).count()
    before = jobs()
    assert ensure_parallelism(grouped) is grouped
    assert jobs() == before


def test_warm_load_registers_nothing(spark, registration_calls):
    from datafusion_gpu_spark.context import TESTDATA_TABLES
    from datafusion_gpu_spark.queries import load

    load(spark, SF_DIR)  # repairs whatever earlier tests left behind
    registration_calls.clear()
    load(spark, SF_DIR)
    load(spark, SF_DIR)
    assert registration_calls == []
    assert _view_dirs(spark, TESTDATA_TABLES) == {os.path.abspath(SF_DIR)}
    assert spark.sql("SELECT sum_cudarc(r_regionkey) AS s FROM region").collect()[0].s == 10.0


def test_load_restores_shadowed_and_dropped_views(spark, registration_calls):
    from datafusion_gpu_spark.queries import load

    load(spark, SF_DIR)
    orders = spark.table("orders").count()
    customers = spark.table("customer").count()
    spark.range(3).createOrReplaceTempView("orders")
    spark.catalog.dropTempView("customer")
    registration_calls.clear()
    load(spark, SF_DIR)
    # only the two damaged views are re-created, nothing else
    assert sorted(registration_calls) == ["customer", "orders"]
    assert spark.table("orders").count() == orders
    assert spark.table("customer").count() == customers
    registration_calls.clear()
    load(spark, SF_DIR)
    assert registration_calls == []


def test_load_repoints_every_view_on_new_sf_dir(spark, tmp_path, registration_calls):
    import shutil

    from datafusion_gpu_spark.context import TESTDATA_TABLES
    from datafusion_gpu_spark.queries import load

    for name in TESTDATA_TABLES:
        shutil.copy(f"{SF_DIR}/{name}.parquet", tmp_path / f"{name}.parquet")
    load(spark, SF_DIR)
    registration_calls.clear()
    try:
        load(spark, str(tmp_path))
        assert sorted(registration_calls) == sorted(TESTDATA_TABLES)
        assert _view_dirs(spark, TESTDATA_TABLES) == {str(tmp_path)}
    finally:
        load(spark, SF_DIR)
    assert _view_dirs(spark, TESTDATA_TABLES) == {os.path.abspath(SF_DIR)}


@pytest.mark.parametrize("damage", ["drop", "replace"])
def test_load_restores_dropped_or_replaced_sum(spark, registration_calls, damage):
    from datafusion_gpu_spark.aggregates import SQL_AGGREGATES
    from datafusion_gpu_spark.queries import load

    load(spark, SF_DIR)
    if damage == "drop":
        spark.sql("DROP TEMPORARY FUNCTION sum_cudarc")
    else:
        spark.udf.register("sum_cudarc", F.udf(lambda v: 0.0, "float"))
    registration_calls.clear()
    load(spark, SF_DIR)
    assert sorted(registration_calls) == sorted(SQL_AGGREGATES)
    assert spark.sql("SELECT sum_cudarc(r_regionkey) AS s FROM region").collect()[0].s == 10.0


def test_gate_staleness_rotation_orders_oldest_first():
    # the driver checks the FIRST 50 registry entries each round; with
    # coverage closed (r5), ordering is a staleness rotation — the rank
    # of each query's last driver check must be non-decreasing along
    # the registry, with never-checked entries slotted between the r2
    # and r3 tranches
    from collections import Counter

    from datafusion_gpu_spark.queries import (
        _CHANGED_SINCE_CHECK,
        _NEVER_CHECKED_RANK,
        _RECORDS_DIR,
        _TIER_BONUS,
        _TIER_CHECKS,
        _driver_history,
        _staleness_rank,
        all_oracles,
        all_queries,
    )

    history = _driver_history()
    # every committed driver record is folded: a broken records path
    # must fail here, not silently rank every row "never checked"
    assert history.rounds == len(list(_RECORDS_DIR.glob("CORRECTNESS_r*.json")))
    assert history.rounds >= 16
    names = list(all_queries())
    rank = _staleness_rank
    ranks = [rank(n) for n in names]
    assert ranks == sorted(ranks)
    # evidence tier (gate-slot economics, VERDICT r12 #6): a row green in
    # >= _TIER_CHECKS distinct rounds ages _TIER_BONUS slower than a
    # same-round row with thinner evidence; pins still outrank everything
    for n in names:
        if n in _CHANGED_SINCE_CHECK:
            assert rank(n) == 0.0
        elif n in history.last_round:
            want = history.last_round[n] + (
                _TIER_BONUS if history.check_count[n] >= _TIER_CHECKS else 0.0
            )
            assert rank(n) == want
    # changed-code rows (spelling or shared machinery changed after their
    # last driver check — VERDICT r10 #1) jump the staleness queue: ALL of
    # them sit inside the gate head, ahead of every merely-stale tranche
    assert set(names[: len(_CHANGED_SINCE_CHECK)]) == set(_CHANGED_SINCE_CHECK)
    assert len(_CHANGED_SINCE_CHECK) <= 50
    # The head's 50 slots must be exactly the 50 smallest staleness
    # ranks. Sortedness above already guarantees the cut; here we pin
    # the head *composition*: for every rank r fully inside the head,
    # ALL entries of that rank are in the head; the boundary rank fills
    # the remainder in registry order.
    head_ranks = ranks[:50]
    total_by_rank = Counter(ranks)
    head_by_rank = Counter(head_ranks)
    boundary = head_ranks[-1]
    for r, c in head_by_rank.items():
        if r < boundary:
            assert c == total_by_rank[r], f"rank {r} split across the head cut"
    # never-checked entries (new ops awaiting their first driver row)
    # sort between the r2 and r3 tranches — any overflow past the head
    # queues immediately after it, ahead of every staler-than-2.5
    # re-check, bounding first-check latency at one extra round
    n_never = total_by_rank.get(_NEVER_CHECKED_RANK, 0)
    n_never_in_head = head_by_rank.get(_NEVER_CHECKED_RANK, 0)
    if n_never_in_head < n_never:
        overflow = names[50 : 50 + (n_never - n_never_in_head)]
        assert all(n not in history.last_round for n in overflow)
    # every query has an oracle unless deliberately rows-only (driver
    # looks oracles up by key, so only membership matters, not order)
    rows_only = {"explain_plan", "agg_approximate"}
    assert set(names) - set(all_oracles()) == rows_only


@pytest.fixture
def records_through_r16(tmp_path):
    """The rotation folded over CORRECTNESS_r01..r16 only, with the pins
    set for the round-17 gate — a fixed input whose head was computed by
    hand, unaffected by records and pins committed later."""
    import shutil

    from datafusion_gpu_spark import queries

    for rnd in range(1, 17):
        name = f"CORRECTNESS_r{rnd:02d}.json"
        shutil.copy(queries._RECORDS_DIR / name, tmp_path / name)
    saved = queries._RECORDS_DIR, queries._CHANGED_SINCE_CHECK
    queries._RECORDS_DIR = tmp_path
    queries._CHANGED_SINCE_CHECK = (
        "dedup_incremental_minhash", "streaming_incremental_minhash",
    )
    queries._driver_history.cache_clear()
    try:
        yield queries
    finally:
        queries._RECORDS_DIR, queries._CHANGED_SINCE_CHECK = saved
        queries._driver_history.cache_clear()


def test_gate_rotation_r17_head(records_through_r16):
    import json

    queries = records_through_r16
    history = queries._driver_history()
    assert history.rounds == 16
    rank = queries._staleness_rank
    # tier example: graph_bfs (green in r7 only) ranks ahead of
    # join_cross (green in r7 and earlier rounds)
    assert history.last_round["graph_bfs"] == history.last_round["join_cross"] == 7
    assert history.check_count["graph_bfs"] == 1
    assert history.check_count["join_cross"] >= queries._TIER_CHECKS
    assert rank("graph_bfs") < rank("join_cross")
    # hand-computed head: the 2 pins, then the 16 rows whose only green
    # round is r7, then 32 of the 61 rank-8 rows (last green r8 with one
    # green round, or r7 with several) in registry order
    only_r7 = {
        "dedup_prefix_filter", "events_changepoint_cusum", "events_sliding_distinct",
        "graph_bellman_ford", "graph_bfs", "graph_condensation",
        "graph_delta_stepping", "graph_harmonic_exact", "graph_harmonic_hyperball",
        "graph_resource_allocation", "graph_scc", "graph_toposort",
        "join_fuzzy_blocked", "join_geo_radius", "multimodal_phash",
        "text_unicode_clean",
    }
    names = list(queries.all_queries())
    rank_8 = [
        n for n in names
        if (history.last_round.get(n), history.check_count.get(n, 0) > 1)
        in ((8, False), (7, True))
    ]
    assert len(rank_8) == 61
    head = names[:50]
    assert set(head[:2]) == set(queries._CHANGED_SINCE_CHECK)
    assert set(head[2:18]) == only_r7
    assert head[18:] == rank_8[:32]
    # so no row that r16 already checked green spends a slot
    r16 = json.loads((queries._RECORDS_DIR / "CORRECTNESS_r16.json").read_text())
    assert not [n for n in head if n in r16 and queries._driver_checked(r16[n])]


def test_driver_record_counts_only_green_rows():
    from datafusion_gpu_spark.queries import _driver_checked

    green = {
        "rows_match": True, "schema_match": True, "hash_match": True,
        "spark_rows": 5, "oracle_rows": 5, "err": None,
    }
    assert _driver_checked(green)
    # rows-only by design: no oracle, no match fields set
    assert _driver_checked({
        "rows_match": None, "schema_match": None, "hash_match": None,
        "spark_rows": 1, "oracle_rows": None, "err": "no_oracle",
    })
    assert not _driver_checked({**green, "hash_match": False})
    assert not _driver_checked({**green, "rows_match": False})
    assert not _driver_checked({
        **green, "hash_match": None, "err": "TypeError: unhashable type: 'list'",
    })


def test_family_reexport_collision_raises():
    # ADVICE r12 #2: the pipeline family-module re-export merge must
    # RAISE on a same-name/different-body helper across family modules
    # (a silent skip would hand import sites whichever merged first),
    # while tolerating identical shared objects and keeping the host
    # module's own pre-existing names authoritative.
    import types

    import pytest

    from datafusion_gpu_spark.queries.pipeline import _merge_family_exports

    def mk(name, **names):
        m = types.ModuleType(name)
        m.QUERIES, m.ORACLES = {}, {}
        for k, v in names.items():
            setattr(m, k, v)
        return m

    shared = object()
    # identical object in both modules: fine (shared import pattern)
    tgt = {"QUERIES": {}, "ORACLES": {}, "host_name": "authoritative"}
    _merge_family_exports(tgt, (mk("a", h=shared), mk("b", h=shared)))
    assert tgt["h"] is shared
    # host-module name is never clobbered and never treated as a collision
    tgt2 = {"QUERIES": {}, "ORACLES": {}, "host_name": "authoritative"}
    _merge_family_exports(tgt2, (mk("a", host_name="x"), mk("b", host_name="y")))
    assert tgt2["host_name"] == "authoritative"
    # different bodies under one name across two family modules: ImportError
    with pytest.raises(ImportError, match="collision.*helper"):
        _merge_family_exports(
            {"QUERIES": {}, "ORACLES": {}},
            (mk("mod_a", helper=object()), mk("mod_b", helper=object())),
        )


def test_group_sequential_guard_keyed_to_cn():
    # ADVICE r12 #1: the _GROUP_SEQ int64-headroom guard must be keyed
    # to cn (bounding BOTH z-numerator products: 100*cd since cd<=cn,
    # and 18*cn) and must guard zk at its DEFINITION so the latch
    # window's ABS(zk) cannot force the overflowing arithmetic.
    from datafusion_gpu_spark.queries.pipeline_stats import _GROUP_SEQ

    assert "CAST(cd AS DOUBLE)" not in _GROUP_SEQ
    assert _GROUP_SEQ.count("CAST(cn AS DOUBLE) * 100 < 9e18") == 2
    assert "CAST(cn AS DOUBLE) * 100 >= 9e18" in _GROUP_SEQ
    # the zk definition itself is guarded (CASE WHEN precedes the fold)
    z_cte = _GROUP_SEQ.split("z AS (")[1].split("),")[0]
    assert "CASE WHEN CAST(cn AS DOUBLE) * 100 < 9e18" in z_cte
