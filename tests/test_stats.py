"""Round-8 statistical-testing family: each SQL entry is validated here
against an INDEPENDENT numpy/pandas computation of the same statistic from
the raw parquet (a third implementation besides Spark and the DuckDB
oracle), plus closed-form sanity cases."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from tests.conftest import SF_DIR


def _events_values(duck):
    df = duck.execute(
        "SELECT event_type, CAST(ROUND(value * 100, 0) AS BIGINT) AS c "
        "FROM events WHERE event_type IN ('click','purchase') "
        "AND value IS NOT NULL"
    ).df()
    a = df[df.event_type == "click"].c.to_numpy()
    b = df[df.event_type == "purchase"].c.to_numpy()
    return a, b


def test_mann_whitney_matches_numpy(spark, duck):
    from datafusion_gpu_spark.queries.pipeline import _agg_mann_whitney

    row = _agg_mann_whitney(spark, SF_DIR).collect()[0]
    a, b = _events_values(duck)
    n_a, n_b = len(a), len(b)
    pooled = np.concatenate([a, b])
    ranks = pd.Series(pooled).rank(method="average").to_numpy()
    r_a = ranks[:n_a].sum()
    u_a = r_a - n_a * (n_a + 1) / 2
    _, t_counts = np.unique(pooled, return_counts=True)
    tie3 = int((t_counts**3 - t_counts).sum())
    n = n_a + n_b
    sigma = np.sqrt(n_a * n_b / 12 * ((n + 1) - tie3 / (n * (n - 1))))
    z = (u_a - n_a * n_b / 2) / sigma
    assert row.n_a == n_a and row.n_b == n_b
    assert row.u2_a == int(round(2 * u_a))
    assert row.tie3 == tie3
    assert abs(row.z_stat - z) < 1e-3


def test_ks_matches_numpy(spark, duck):
    from datafusion_gpu_spark.queries.pipeline import _events_ks_test

    row = _events_ks_test(spark, SF_DIR).collect()[0]
    a, b = _events_values(duck)
    support = np.unique(np.concatenate([a, b]))
    ca = np.searchsorted(np.sort(a), support, side="right")
    cb = np.searchsorted(np.sort(b), support, side="right")
    m = int(np.max(np.abs(ca * len(b) - cb * len(a))))
    d = m / (len(a) * len(b))
    assert row.d_num == m
    assert abs(row.d_stat - d) < 1e-6
    crit = 1.358 * np.sqrt((len(a) + len(b)) / (len(a) * len(b)))
    assert bool(row.reject_05) == bool(d > crit)


def test_spearman_matches_pandas(spark, duck):
    from datafusion_gpu_spark.queries.pipeline import _agg_spearman

    got = {r.brand: r for r in _agg_spearman(spark, SF_DIR).collect()}
    parts = duck.execute(
        "SELECT p_brand AS brand, "
        "CAST(ROUND(p_retailprice * 100, 0) AS BIGINT) AS x, p_size AS y "
        "FROM part"
    ).df()
    checked = 0
    for brand, g in parts.groupby("brand"):
        if g.x.nunique() < 2 or g.y.nunique() < 2:
            assert brand not in got
            continue
        expect = g.x.rank(method="average").corr(g.y.rank(method="average"))
        assert abs(got[brand].rho - expect) < 1e-6, brand
        assert got[brand].n_parts == len(g)
        checked += 1
    assert checked >= 3


def test_spearman_closed_form(spark):
    """Runs the actual _SPEARMAN SQL on a tiny shadowed `part` view:
    perfect monotone -> rho=1.0 exactly; reversed -> rho=-1.0 exactly;
    a zero-variance group is filtered by the integer predicate."""
    from datafusion_gpu_spark.queries.pipeline import _SPEARMAN

    rows = []
    for i, price in enumerate([1.0, 5.0, 9.0, 40.0]):
        rows.append(("up", price, i + 1))  # increasing size with price
        rows.append(("down", price, 100 - i))  # decreasing
        rows.append(("flat", price, 7))  # zero y-variance -> filtered
    tiny = spark.createDataFrame(
        rows, "p_brand string, p_retailprice double, p_size int"
    )
    tiny.createOrReplaceTempView("part")
    try:
        got = {r.brand: r for r in spark.sql(_SPEARMAN).collect()}
    finally:
        spark.catalog.dropTempView("part")
    assert got["up"].rho == 1.0 and got["up"].n_parts == 4
    assert got["down"].rho == -1.0
    assert "flat" not in got


def test_benford_digits(spark, duck):
    from datafusion_gpu_spark.queries.pipeline import _agg_benford

    rows = {r.digit: r for r in _agg_benford(spark, SF_DIR).collect()}
    assert set(rows) == set(range(1, 10))
    cents = duck.execute(
        "SELECT CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS c "
        "FROM orders WHERE o_totalprice > 0"
    ).df()["c"]
    lead = cents.astype(str).str[0].astype(int)
    counts = lead.value_counts().to_dict()
    total = len(cents)
    for d in range(1, 10):
        assert rows[d].n_obs == counts.get(d, 0)
        assert abs(rows[d].p_obs - counts.get(d, 0) / total) < 1e-6
    assert abs(sum(r.p_obs for r in rows.values()) - 1.0) < 1e-5
    # the embedded constants are log10(1 + 1/d) to 6dp
    for d in range(1, 10):
        assert abs(rows[d].p_benford - round(np.log10(1 + 1 / d), 6)) < 1e-12


def test_bollinger_matches_numpy(spark, duck):
    from datafusion_gpu_spark.queries.pipeline import _window_bollinger

    got = (
        _window_bollinger(spark, SF_DIR)
        .toPandas()
        .sort_values("h")
        .reset_index(drop=True)
    )
    hourly = duck.execute(
        "SELECT DATE_TRUNC('hour', ts) AS h, "
        "CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents "
        "FROM events WHERE event_type = 'purchase' AND value IS NOT NULL "
        "GROUP BY 1 ORDER BY 1"
    ).df()
    x = hourly.cents.to_numpy(dtype=np.int64)
    n_up = n_dn = 0
    for i in range(len(x)):
        lo = max(0, i - 23)
        w = x[lo : i + 1]
        if len(w) < 24:
            assert not got.break_upper[i] and not got.break_lower[i]
            continue
        mu, sd = w.mean(), w.std()  # population std, matching n*s2-s1^2
        up = x[i] > mu and (x[i] - mu) ** 2 > 4 * sd * sd
        dn = x[i] < mu and (x[i] - mu) ** 2 > 4 * sd * sd
        assert bool(got.break_upper[i]) == bool(up), i
        assert bool(got.break_lower[i]) == bool(dn), i
        n_up += up
        n_dn += dn
    # the breakout machinery is exercised in at least one direction
    assert n_up + n_dn >= 1


def test_bollinger_exact_boundary():
    """The squared-inequality spelling is strict: a point exactly ON the
    2-sigma band must NOT flag (integer equality, no float epsilon)."""
    # window [0,0,8,8,...] scaled so that (n*x - s1)^2 == 4*(n*s2 - s1^2)
    # x=c, others... construct directly: values v, n=4: x=3, rest [1,1,1]
    # s1=6, s2=12; (4*3-6)^2 = 36; 4*(4*12-36) = 48 -> 36 < 48 no flag.
    # exact-boundary pair: x=2, rest [0,0,0]: s1=2, s2=4;
    # (8-2)^2=36; 4*(16-4)=48 -> under. Use x=3, rest [0,0,0]: s1=3, s2=9,
    # (12-3)^2=81; 4*(36-9)=108 -> under: mean 0.75, sd_pop=1.299*2=2.598<2.25?
    # Simply assert the algebra identity on integers:
    for vals, x in [((0, 0, 0), 3), ((1, 1, 1), 3), ((5, 5, 5, 5), 25)]:
        w = np.array(vals + (x,), dtype=np.int64)
        n, s1, s2 = len(w), w.sum(), (w**2).sum()
        lhs = (n * x - s1) ** 2
        rhs = 4 * (n * s2 - s1**2)
        mu, sd = w.mean(), w.std()
        assert (lhs > rhs) == ((x - mu) ** 2 > 4 * sd * sd)


def test_bucketed_cumsum_matches_global_window(spark):
    """bucketed_cumsum == one global window, bit-identical, at several
    bucket counts including degenerate n_buckets=1 (one bucket == the
    single-window spelling) and n_buckets >> distinct values."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from datafusion_gpu_spark.operators.stats import bucketed_cumsum

    # adversarial domain: negative values, gaps, clusters
    vals = [(v, v % 7 + 1, (v * v) % 11) for v in
            [-1000, -999, -500, -3, -2, -1, 0, 1, 2, 5, 99, 100, 101,
             10_000, 10_001, 999_983]]
    df = spark.createDataFrame(vals, "c long, x long, y long")
    w = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, 0)
    want = {
        r.c: (r.cx, r.cy)
        for r in df.select(
            "c", F.sum("x").over(w).alias("cx"), F.sum("y").over(w).alias("cy")
        ).collect()
    }
    for n_buckets in (1, 4, 64, 10_000):
        got = {
            r.c: (r.cum_x, r.cum_y)
            for r in bucketed_cumsum(df, "c", ("x", "y"), n_buckets).collect()
        }
        assert got == want, n_buckets


def test_bucketed_cumsum_full_span_int64_domain(spark):
    """Value domains spanning the entire signed-64 range (raw xxhash64
    keys: min/max int64 both present) must not wrap the bucket-width
    arithmetic — the quartered-domain spelling keeps every intermediate
    inside int64 (offset <= 2^62 - 1; width <= 2^62 even at n_buckets=1)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from datafusion_gpu_spark.operators.stats import bucketed_cumsum

    lo, hi = -(2**63), 2**63 - 1
    vals = [(v, 1, v % 5 + 1) for v in
            [lo, lo + 1, lo // 3, -7, 0, 11, hi // 2, hi - 1, hi]]
    df = spark.createDataFrame(vals, "c long, x long, y long")
    w = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, 0)
    want = {
        r.c: (r.cx, r.cy)
        for r in df.select(
            "c", F.sum("x").over(w).alias("cx"), F.sum("y").over(w).alias("cy")
        ).collect()
    }
    for n_buckets in (1, 4, 1024):
        got = {
            r.c: (r.cum_x, r.cum_y)
            for r in bucketed_cumsum(df, "c", ("x", "y"), n_buckets).collect()
        }
        assert got == want, n_buckets


def test_cumsum_auto_routes_by_n_distinct(spark):
    """cumsum_auto is the stats family's documented runtime default:
    at or below the threshold the physical plan is ONE global ordered
    window (no __bucket partition spec anywhere); above it the
    two-level plan appears (windows partitioned by __bucket). Results
    are bit-identical on both routes."""
    from datafusion_gpu_spark.operators.stats import cumsum_auto

    df = spark.createDataFrame(
        [(v, v % 3 + 1) for v in range(200)], "c long, x long"
    )
    small = cumsum_auto(df, "c", ("x",), threshold=10_000)
    plan_small = small._jdf.queryExecution().executedPlan().toString()
    assert "__bucket" not in plan_small
    big = cumsum_auto(df, "c", ("x",), threshold=10)
    plan_big = big._jdf.queryExecution().executedPlan().toString()
    assert "__bucket" in plan_big
    rows_small = {r.c: r.cum_x for r in small.collect()}
    rows_big = {r.c: r.cum_x for r in big.collect()}
    assert rows_small == rows_big


def test_mann_whitney_default_auto_routes(spark):
    """The default n_buckets=None on the MW/KS operators engages
    cumsum_auto: on gate-sized data (distinct cents << threshold) the
    plan takes the single-window route and the statistics equal the
    forced two-level spelling."""
    from pyspark.sql import functions as F

    from datafusion_gpu_spark.operators.stats import mann_whitney_u
    from datafusion_gpu_spark.queries import load

    load(spark, SF_DIR)
    ev = spark.table("events").select(
        "event_type", F.round(F.col("value") * 100, 0).cast("long").alias("c")
    )
    auto = mann_whitney_u(ev, "event_type", "c", "click", "purchase")
    plan = auto._jdf.queryExecution().executedPlan().toString()
    assert "__bucket" not in plan  # sf0.001 cents << 65_536 threshold
    [got] = auto.collect()
    [want] = mann_whitney_u(
        ev, "event_type", "c", "click", "purchase", n_buckets=64
    ).collect()
    assert got == want


def test_mann_whitney_bucketed_parity_with_sql(spark):
    """stats.mann_whitney_u (two-level) returns the identical row —
    exact integers AND the terminal floats — as the _MANN_WHITNEY
    single-window SQL on the same events data."""
    from pyspark.sql import functions as F

    from datafusion_gpu_spark.operators.stats import mann_whitney_u
    from datafusion_gpu_spark.queries import load
    from datafusion_gpu_spark.queries.pipeline import _MANN_WHITNEY

    load(spark, SF_DIR)
    [want] = spark.sql(_MANN_WHITNEY).collect()
    ev = spark.table("events").select(
        "event_type", F.round(F.col("value") * 100, 0).cast("long").alias("c")
    )
    for n_buckets in (1, 16, 1024):
        [got] = mann_whitney_u(
            ev, "event_type", "c", "click", "purchase", n_buckets=n_buckets
        ).collect()
        assert (got.n_a, got.n_b, got.u2_a, got.tie3) == (
            want.n_a, want.n_b, want.u2_a, want.tie3,
        ), n_buckets
        assert got.z_stat == want.z_stat, n_buckets


def test_ks_bucketed_parity_with_sql(spark):
    from pyspark.sql import functions as F

    from datafusion_gpu_spark.operators.stats import ks_two_sample
    from datafusion_gpu_spark.queries import load
    from datafusion_gpu_spark.queries.pipeline import _KS_TEST

    load(spark, SF_DIR)
    [want] = spark.sql(_KS_TEST).collect()
    ev = spark.table("events").select(
        "event_type", F.round(F.col("value") * 100, 0).cast("long").alias("c")
    )
    for n_buckets in (1, 16, 1024):
        [got] = ks_two_sample(
            ev, "event_type", "c", "click", "purchase", n_buckets=n_buckets
        ).collect()
        assert (got.n_a, got.n_b, got.d_num) == (want.n_a, want.n_b, want.d_num)
        assert got.d_stat == want.d_stat
        assert got.reject_05 == want.reject_05


def test_welch_ttest_matches_numpy(spark, duck):
    from datafusion_gpu_spark.queries.pipeline import _agg_welch_ttest

    [row] = _agg_welch_ttest(spark, SF_DIR).collect()
    a, b = _events_values(duck)
    n_a, n_b = len(a), len(b)
    va, vb = a.var(ddof=1), b.var(ddof=1)
    se2 = va / n_a + vb / n_b
    t = (a.mean() - b.mean()) / np.sqrt(se2)
    df = se2**2 / ((va / n_a) ** 2 / (n_a - 1) + (vb / n_b) ** 2 / (n_b - 1))
    assert row.n_a == n_a and row.n_b == n_b
    assert abs(row.mean_diff_cents - (a.mean() - b.mean())) < 1e-4
    assert abs(row.t_stat - t) < 1e-3
    assert abs(row.df - df) < 0.05


def test_welch_ttest_degenerate_guard(spark):
    """Both groups constant (one distinct value each) -> t/df NULL via
    the nv integer predicate, never a 0-divide under ANSI."""
    from datafusion_gpu_spark.queries.pipeline import _WELCH_T

    ev = spark.createDataFrame(
        [("click", 3.0)] * 3 + [("purchase", 5.0)] * 3,
        "event_type string, value double",
    )
    ev.createOrReplaceTempView("events")
    try:
        [row] = spark.sql(_WELCH_T).collect()
    finally:
        spark.catalog.dropTempView("events")
    assert row.n_a == 3 and row.n_b == 3
    assert row.mean_diff_cents == -200.0
    assert row.t_stat is None and row.df is None


def test_chi2_independence_matches_numpy(spark, duck):
    from datafusion_gpu_spark.queries.pipeline import _agg_chi2_independence

    [row] = _agg_chi2_independence(spark, SF_DIR).collect()
    ct = duck.execute(
        "SELECT o_orderpriority AS r, o_orderstatus AS c, COUNT(*) AS n "
        "FROM orders GROUP BY 1, 2"
    ).df()
    pivot = ct.pivot_table(index="r", columns="c", values="n", fill_value=0)
    obs = pivot.to_numpy(dtype=np.float64)
    n = obs.sum()
    exp = obs.sum(axis=1, keepdims=True) * obs.sum(axis=0, keepdims=True) / n
    chi2 = ((obs - exp) ** 2 / exp).sum()  # classic form, ALL cells
    assert row.df == (obs.shape[0] - 1) * (obs.shape[1] - 1)
    assert abs(row.chi2 - chi2) < 1e-3
    assert row.n_cells == int((pivot.to_numpy() > 0).sum())


def test_chi2_independence_planted_independent(spark):
    """A perfectly independent 2x2 table -> chi2 == 0.0 exactly (the
    identity's quantized fold hits 1e12 * n_cells ratios that sum to
    exactly the margin product)."""
    from datafusion_gpu_spark.queries.pipeline import _CHI2_INDEP

    rows = []
    # obs[r][c] = rowweight*colweight -> exp == obs everywhere
    for r, rw in (("1-URGENT", 2), ("2-HIGH", 3)):
        for c, cw in (("F", 4), ("O", 1)):
            rows += [(r, c)] * (rw * cw)
    df = spark.createDataFrame(rows, "o_orderpriority string, o_orderstatus string")
    df.createOrReplaceTempView("orders")
    try:
        [row] = spark.sql(_CHI2_INDEP).collect()
    finally:
        spark.catalog.dropTempView("orders")
    assert row.df == 1 and row.n_cells == 4
    assert row.chi2 == 0.0


def _all_group_values(duck):
    df = duck.execute(
        "SELECT event_type, CAST(ROUND(value * 100, 0) AS BIGINT) AS c "
        "FROM events WHERE value IS NOT NULL"
    ).df()
    return {g: sub.c.to_numpy() for g, sub in df.groupby("event_type")}


def test_kruskal_wallis_matches_numpy(spark, duck):
    from datafusion_gpu_spark.queries.pipeline import _agg_kruskal_wallis

    [row] = _agg_kruskal_wallis(spark, SF_DIR).collect()
    groups = _all_group_values(duck)
    pooled = np.concatenate(list(groups.values()))
    n = len(pooled)
    ranks = pd.Series(pooled).rank(method="average").to_numpy()
    h = 0.0
    i = 0
    for g, vals in groups.items():
        r = ranks[i : i + len(vals)]
        i += len(vals)
        h += r.sum() ** 2 / len(vals)
    h = 12 / (n * (n + 1)) * h - 3 * (n + 1)
    _, t_counts = np.unique(pooled, return_counts=True)
    tie3 = (t_counts**3 - t_counts).sum()
    h /= 1 - tie3 / (n**3 - n)
    assert row.n_total == n and row.k_groups == len(groups)
    assert row.df == len(groups) - 1
    assert row.tie3 == int(tie3)
    assert abs(row.h_stat - h) < 1e-3


def test_anova_f_matches_numpy(spark, duck):
    from datafusion_gpu_spark.queries.pipeline import _agg_anova_f

    [row] = _agg_anova_f(spark, SF_DIR).collect()
    groups = list(_all_group_values(duck).values())
    k = len(groups)
    n = sum(len(g) for g in groups)
    grand = np.concatenate(groups).mean()
    ssb = sum(len(g) * (g.mean() - grand) ** 2 for g in groups)
    ssw = sum(((g - g.mean()) ** 2).sum() for g in groups)
    f = (ssb / (k - 1)) / (ssw / (n - k))
    assert row.n_total == n and row.k_groups == k
    assert (row.df_between, row.df_within) == (k - 1, n - k)
    assert abs(row.f_stat - f) < 1e-3


def test_brown_forsythe_matches_numpy(spark, duck):
    from datafusion_gpu_spark.queries.pipeline import _agg_brown_forsythe

    [row] = _agg_brown_forsythe(spark, SF_DIR).collect()
    # the SQL tests on z = |2c - 2*median| (exact ints); F is scale-
    # invariant so the numpy oracle uses plain |c - median|
    groups = [
        np.abs(g - np.median(g)) for g in _all_group_values(duck).values()
    ]
    k = len(groups)
    n = sum(len(g) for g in groups)
    grand = np.concatenate(groups).mean()
    ssb = sum(len(g) * (g.mean() - grand) ** 2 for g in groups)
    ssw = sum(((g - g.mean()) ** 2).sum() for g in groups)
    f = (ssb / (k - 1)) / (ssw / (n - k))
    assert row.n_total == n and row.k_groups == k
    assert abs(row.f_stat - f) < 1e-3


def test_anova_f_degenerate_all_constant(spark):
    """Every group constant -> SSW == 0; the integer nvg > k predicate
    emits NULL instead of a 0-divide."""
    from datafusion_gpu_spark.queries.pipeline import _ANOVA_F

    ev = spark.createDataFrame(
        [("click", 3.0)] * 3 + [("purchase", 5.0)] * 4,
        "event_type string, value double",
    )
    ev.createOrReplaceTempView("events")
    try:
        [row] = spark.sql(_ANOVA_F).collect()
    finally:
        spark.catalog.dropTempView("events")
    assert row.n_total == 7 and row.k_groups == 2
    assert row.f_stat is None


def test_equidepth_bins_match_numpy(spark, duck):
    from datafusion_gpu_spark.queries.pipeline import _agg_equidepth_bins

    rows = {r.bin: r for r in _agg_equidepth_bins(spark, SF_DIR).collect()}
    cents = np.sort(
        duck.execute(
            "SELECT CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS c FROM orders"
        ).df()["c"].to_numpy()
    )
    n = len(cents)
    assert set(rows) == set(range(1, 9))
    for j in range(1, 9):
        target = -(-j * n // 8)  # ceil
        assert rows[j].target_rank == target
        # edge is the target-th smallest value (1-indexed)
        assert rows[j].edge_cents == cents[target - 1]
        # count_le_edge is the full count of values <= edge
        assert rows[j].count_le_edge == int((cents <= cents[target - 1]).sum())
    assert rows[8].edge_cents == cents[-1]


def test_seasonal_anomaly_matches_numpy(spark, duck):
    from datafusion_gpu_spark.queries.pipeline import _events_seasonal_anomaly

    got = {
        r.bucket: r for r in _events_seasonal_anomaly(spark, SF_DIR).collect()
    }
    hourly = duck.execute(
        "SELECT date_trunc('hour', ts) AS b, "
        "CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS x "
        "FROM events WHERE event_type = 'purchase' AND value IS NOT NULL "
        "GROUP BY 1"
    ).df()
    hourly["h"] = hourly.b.dt.hour
    n_up = n_dn = 0
    for h, grp in hourly.groupby("h"):
        x = grp.x.to_numpy(dtype=np.int64)
        mu, sd = x.mean(), x.std()  # population
        for b, v in zip(grp.b, x):
            row = got[b]
            assert row.hour_of_day == h and row.cents == v
            up = len(x) >= 2 and v > mu and (v - mu) ** 2 > 4 * sd * sd
            dn = len(x) >= 2 and v < mu and (v - mu) ** 2 > 4 * sd * sd
            assert bool(row.break_upper) == bool(up), b
            assert bool(row.break_lower) == bool(dn), b
            n_up += up
            n_dn += dn
    assert len(got) == len(hourly)


def test_jsd_drift_matches_numpy(spark, duck):
    from datafusion_gpu_spark.queries.pipeline import _text_jsd_drift

    [row] = _text_jsd_drift(spark, SF_DIR).collect()
    df = duck.execute(
        r"""SELECT doc_id % 2 AS half,
                 unnest(string_split(regexp_replace(trim(lower(text)),
                        '\s+', ' ', 'g'), ' ')) AS word
          FROM documents"""
    ).df()
    ca = df[df.half == 0].word.value_counts()
    cb = df[df.half == 1].word.value_counts()
    vocab = sorted(set(ca.index) | set(cb.index))
    p = np.array([ca.get(w, 0) for w in vocab], dtype=float)
    q = np.array([cb.get(w, 0) for w in vocab], dtype=float)
    na, nb = p.sum(), q.sum()
    p, q = p / na, q / nb
    m = (p + q) / 2
    jsd = 0.5 * np.sum(np.where(p > 0, p * np.log(np.where(p > 0, p, 1) / m), 0)) \
        + 0.5 * np.sum(np.where(q > 0, q * np.log(np.where(q > 0, q, 1) / m), 0))
    assert row.n_words_a == int(na) and row.n_words_b == int(nb)
    assert row.vocab == len(vocab)
    assert abs(row.jsd_nats - jsd) < 1e-4
    assert 0.0 <= row.jsd_nats <= np.log(2) + 1e-9
    assert abs(row.jsd_norm - jsd / 0.693147) < 1e-4


def test_jsd_identical_halves_is_zero(spark):
    """Same text in both halves -> p == q == m -> every ln term is
    ln(1) == 0 and JSD == 0.0 exactly (the quantized fold sums zeros)."""
    from datafusion_gpu_spark.queries.pipeline import _JSD_SPARK

    docs = spark.createDataFrame(
        [(0, "alpha beta gamma"), (1, "alpha beta gamma"),
         (2, "beta gamma delta"), (3, "beta gamma delta")],
        "doc_id long, text string",
    )
    docs.createOrReplaceTempView("documents")
    try:
        [row] = spark.sql(_JSD_SPARK).collect()
    finally:
        spark.catalog.dropTempView("documents")
    assert row.jsd_nats == 0.0 and row.jsd_norm == 0.0
    assert row.n_words_a == row.n_words_b == 6


def test_mood_median_matches_numpy(spark, duck):
    from datafusion_gpu_spark.queries.pipeline import _agg_mood_median

    [row] = _agg_mood_median(spark, SF_DIR).collect()
    groups = _all_group_values(duck)
    pooled = np.concatenate(list(groups.values()))
    med = np.median(pooled)
    obs = np.array(
        [[(g > med).sum(), (g <= med).sum()] for g in groups.values()],
        dtype=np.float64,
    )
    n = obs.sum()
    exp = obs.sum(axis=1, keepdims=True) * obs.sum(axis=0, keepdims=True) / n
    chi2 = ((obs - exp) ** 2 / exp).sum()
    assert row.n_total == int(n)
    assert row.k_groups == len(groups)
    assert row.n_above == int(obs[:, 0].sum())
    assert row.df == len(groups) - 1
    assert abs(row.chi2 - chi2) < 1e-3


def test_auc_matches_sklearn_free_numpy(spark, duck):
    """AUC from the SQL rank identity == the pairwise-comparison
    definition P(score_pos > score_neg) + 0.5*P(tie), computed directly
    in numpy."""
    from datafusion_gpu_spark.queries.pipeline import _agg_auc_exact

    [row] = _agg_auc_exact(spark, SF_DIR).collect()
    a, b = _events_values(duck)  # a=click(neg), b=purchase(pos)
    pos, neg = b, a
    # O(n log n) pairwise probability via searchsorted
    sneg = np.sort(neg)
    less = np.searchsorted(sneg, pos, side="left").sum()
    ties = (np.searchsorted(sneg, pos, side="right")
            - np.searchsorted(sneg, pos, side="left")).sum()
    auc = (less + 0.5 * ties) / (len(pos) * len(neg))
    assert row.n_pos == len(pos) and row.n_neg == len(neg)
    assert abs(row.auc - auc) < 1e-6


def test_auc_closed_form(spark):
    """Perfectly separating scores -> AUC 1.0; anti-separating -> 0.0;
    all-tied -> 0.5 exactly."""
    from datafusion_gpu_spark.queries.pipeline import _AUC

    def run(rows):
        df = spark.createDataFrame(rows, "event_type string, value double")
        df.createOrReplaceTempView("events")
        try:
            [r] = spark.sql(_AUC).collect()
        finally:
            spark.catalog.dropTempView("events")
        return r

    perfect = run([("purchase", 10.0), ("purchase", 9.0),
                   ("click", 1.0), ("click", 2.0)])
    assert perfect.auc == 1.0
    inverted = run([("purchase", 1.0), ("click", 10.0), ("click", 9.0)])
    assert inverted.auc == 0.0
    tied = run([("purchase", 5.0), ("click", 5.0)])
    assert tied.auc == 0.5


def test_pr_at_threshold_matches_numpy(spark, duck):
    from datafusion_gpu_spark.queries.pipeline import _agg_pr_at_threshold

    [row] = _agg_pr_at_threshold(spark, SF_DIR).collect()
    a, b = _events_values(duck)  # a=click(neg), b=purchase(pos)
    tp = int((b >= 5000).sum())
    fp = int((a >= 5000).sum())
    fn = int((b < 5000).sum())
    tn = int((a < 5000).sum())
    assert (row.tp, row.fp, row.fn, row.tn) == (tp, fp, fn, tn)
    if tp + fp:
        assert abs(row.precision_ - tp / (tp + fp)) < 1e-6
    if tp + fn:
        assert abs(row.recall_ - tp / (tp + fn)) < 1e-6
    assert abs(row.f1 - 2 * tp / (2 * tp + fp + fn)) < 1e-6
    assert isinstance(row.f1, float)  # decimal-literal regression guard


def test_calibration_bins_partition_everything(spark, duck):
    from datafusion_gpu_spark.queries.pipeline import _agg_calibration_bins

    rows = _agg_calibration_bins(spark, SF_DIR).collect()
    a, b = _events_values(duck)
    total = len(a) + len(b)
    assert sum(r.n for r in rows) == total  # every row in exactly one bin
    assert sum(r.n_pos for r in rows) == len(b)
    for r in rows:
        assert 0 <= r.bin <= 9
        assert 0.0 <= r.obs_rate <= 1.0
        assert abs(r.obs_rate - r.n_pos / r.n) < 1e-6


def test_embedding_drift_matches_numpy(spark, duck):
    from datafusion_gpu_spark.queries.pipeline import _sim_embedding_drift

    [row] = _sim_embedding_drift(spark, SF_DIR).collect()
    df = duck.execute(
        "SELECT vec_id, embedding FROM embeddings"
    ).df()
    q = np.round(np.stack(df.embedding.to_numpy()).astype(np.float64) * 1000)
    half = (df.vec_id.to_numpy() % 2).astype(bool)
    sa = q[~half].sum(axis=0)
    sb = q[half].sum(axis=0)
    cos = sa @ sb / np.sqrt((sa @ sa) * (sb @ sb))
    assert row.n_dims == q.shape[1]
    assert row.dot == int(sa @ sb)
    assert row.na == int(sa @ sa) and row.nb == int(sb @ sb)
    assert abs(row.centroid_cosine - cos) < 1e-6


def test_proportion_ztest_matches_numpy(spark, duck):
    from datafusion_gpu_spark.queries.pipeline import _events_proportion_ztest

    [row] = _events_proportion_ztest(spark, SF_DIR).collect()
    df = duck.execute(
        "SELECT CASE WHEN CAST('0x' || SUBSTRING(MD5(CAST(user_id AS VARCHAR)),"
        " 1, 15) AS BIGINT) % 2 = 0 THEN 'a' ELSE 'b' END AS arm, "
        "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS conv "
        "FROM events WHERE event_type IN ('click', 'purchase')"
    ).df()
    a = df[df.arm == "a"].conv.to_numpy()
    b = df[df.arm == "b"].conv.to_numpy()
    p = (a.sum() + b.sum()) / (len(a) + len(b))
    z = (a.mean() - b.mean()) / np.sqrt(p * (1 - p) * (1 / len(a) + 1 / len(b)))
    assert (row.n_a, row.x_a, row.n_b, row.x_b) == (
        len(a), int(a.sum()), len(b), int(b.sum()))
    assert abs(row.z_stat - z) < 1e-3


def test_simpson_diversity_closed_form(spark):
    """Counts (3, 1): H = (9+1)/16 = 0.625; unbiased Gini-Simpson =
    1 - (10-4)/(4*3) = 0.5."""
    from datafusion_gpu_spark.queries.pipeline import _SIMPSON

    docs = spark.createDataFrame(
        [(i, "x", "s1") for i in range(3)] + [(9, "x", "s2")],
        "doc_id long, text string, source string",
    )
    docs.createOrReplaceTempView("documents")
    try:
        [r] = spark.sql(_SIMPSON).collect()
    finally:
        spark.catalog.dropTempView("documents")
    assert r.n_docs == 4 and r.n_sources == 2
    assert r.herfindahl == 0.625
    assert r.gini_simpson_unbiased == 0.5


def test_streaming_auc_equals_batch(spark):
    from datafusion_gpu_spark.queries.pipeline import _AUC, load
    from datafusion_gpu_spark.streaming import stream_auc_exact

    load(spark, SF_DIR)
    [want] = spark.sql(_AUC).collect()
    [got] = stream_auc_exact(spark, SF_DIR).collect()
    assert (got.n_pos, got.n_neg, got.u2, got.auc) == (
        want.n_pos, want.n_neg, want.u2, want.auc)


def test_lorenz_curve_matches_numpy(spark, duck):
    from datafusion_gpu_spark.queries.pipeline import _events_lorenz_curve

    rows = {r.decile: r for r in _events_lorenz_curve(spark, SF_DIR).collect()}
    spend = np.sort(
        duck.execute(
            "SELECT CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT)"
            " AS s FROM events WHERE event_type = 'purchase'"
            " AND value IS NOT NULL GROUP BY user_id"
        ).df()["s"].to_numpy()
    )
    n, total = len(spend), int(spend.sum())
    csum = np.cumsum(spend)
    assert set(rows) == set(range(1, 11))
    for d in range(1, 11):
        t = -(-d * n // 10)  # ceil
        assert rows[d].n_users_cum == t
        assert rows[d].cum_cents == int(csum[t - 1])
        assert abs(rows[d].spend_share - csum[t - 1] / total) < 1e-6
    assert rows[10].spend_share == 1.0
    # Lorenz curve is convex-ish / monotone and below the diagonal
    shares = [rows[d].spend_share for d in range(1, 11)]
    assert all(a <= b for a, b in zip(shares, shares[1:]))
    assert shares[4] <= 0.5 + 1e-9  # bottom half holds <= half the spend


def test_lorenz_bucketed_parity_with_single_window(spark):
    """The shipped two-level bucketed-cumsum spelling of
    events_lorenz_curve returns the bit-identical deciles — exact
    bigint interpolation AND terminal shares — as the single-window
    _LORENZ contract (which stays as the driver oracle)."""
    from datafusion_gpu_spark.queries import load
    from datafusion_gpu_spark.queries.pipeline import (
        _LORENZ,
        _events_lorenz_curve,
    )

    load(spark, SF_DIR)
    want = sorted(spark.sql(_LORENZ).collect())
    got = sorted(_events_lorenz_curve(spark, SF_DIR).collect())
    assert got == want


def test_anova_f_quantization_eats_subcent_ssw(spark):
    """Review-caught case: click cents {1,2} (true SSW = 0.5 rounds
    away: s1^2/n = 4.5 -> tq 5 == s2) + constant purchase group. The
    nvg-style guard would pass and 0-divide; the s2 > tq guard on the
    QUANTIZED divisor emits NULL on both engines."""
    from datafusion_gpu_spark.queries.pipeline import _ANOVA_F

    ev = spark.createDataFrame(
        [("click", 0.01), ("click", 0.02)] + [("purchase", 0.07)] * 3,
        "event_type string, value double",
    )
    ev.createOrReplaceTempView("events")
    try:
        [row] = spark.sql(_ANOVA_F).collect()
    finally:
        spark.catalog.dropTempView("events")
    assert row.n_total == 5 and row.k_groups == 2
    assert row.f_stat is None  # conservative NULL, never Inf/0-divide


def test_did_matches_numpy(spark, duck):
    from datafusion_gpu_spark.queries.pipeline import _events_did

    [row] = _events_did(spark, SF_DIR).collect()
    df = duck.execute(
        "SELECT CASE WHEN CAST('0x' || SUBSTRING(MD5(CAST(user_id AS VARCHAR)),"
        " 1, 15) AS BIGINT) % 2 = 0 THEN 'a' ELSE 'b' END AS arm, "
        "CAST(EPOCH_US(ts) AS BIGINT) AS us, "
        "CAST(ROUND(value * 100, 0) AS BIGINT) AS c "
        "FROM events WHERE event_type = 'purchase' AND value IS NOT NULL"
    ).df()
    mid = (df.us.min() + df.us.max()) // 2
    df["post"] = (df.us >= mid).astype(int)
    means = df.groupby(["arm", "post"]).c.mean()
    did = (means[("b", 1)] - means[("b", 0)]) - (means[("a", 1)] - means[("a", 0)])
    cells = df.groupby(["arm", "post"]).size()
    assert (row.n_a0, row.n_a1, row.n_b0, row.n_b1) == (
        cells[("a", 0)], cells[("a", 1)], cells[("b", 0)], cells[("b", 1)])
    assert abs(row.did_cents - did) < 1e-3


def _rank_blocks(duck):
    """Distinct-score blocks ordered by score DESCENDING with exclusive
    cumulative rows/positives — the ground-truth substrate for the
    round-10 ranking curves."""
    df = duck.execute(
        "SELECT CAST(ROUND(value * 100, 0) AS BIGINT) AS c, "
        "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos "
        "FROM events WHERE event_type IN ('click','purchase') "
        "AND value IS NOT NULL"
    ).df()
    g = (
        df.groupby("c")
        .agg(dp=("pos", "sum"), tc=("pos", "size"))
        .sort_index(ascending=False)
        .reset_index()
    )
    g["cu"] = g.tc.cumsum().shift(fill_value=0)
    g["cp"] = g.dp.cumsum().shift(fill_value=0)
    return g, int(g.tc.sum()), int(g.dp.sum())


def _interp_pos(g, t):
    """Interpolated positives among the top-t rows (uniform within the
    tied-score block holding rank t)."""
    blk = g[g.cu + g.tc >= t].iloc[0]
    return float(blk.cp) + (t - float(blk.cu)) * float(blk.dp) / float(blk.tc)


def test_gain_lift_curve_matches_numpy(spark, duck):
    from datafusion_gpu_spark.queries.pipeline import _agg_gain_lift_curve

    rows = {r.decile: r for r in _agg_gain_lift_curve(spark, SF_DIR).collect()}
    g, n, p = _rank_blocks(duck)
    assert set(rows) == set(range(1, 11))
    for d in range(1, 11):
        t = -(-d * n // 10)  # ceil
        assert rows[d].n_rows_cum == t
        pos = _interp_pos(g, t)
        assert abs(rows[d].gain - pos / p) < 1e-6
        assert abs(rows[d].lift - pos / p * 10 / d) < 1e-5
    # gain is monotone and ends at exactly 1; lift at decile 10 is 1
    gains = [rows[d].gain for d in range(1, 11)]
    assert all(a <= b + 1e-12 for a, b in zip(gains, gains[1:]))
    assert rows[10].gain == 1.0
    assert rows[10].lift == 1.0


def test_precision_at_k_matches_numpy(spark, duck):
    from datafusion_gpu_spark.queries.pipeline import _agg_precision_at_k

    rows = {r.top_k: r for r in _agg_precision_at_k(spark, SF_DIR).collect()}
    g, n, p = _rank_blocks(duck)
    assert set(rows) == {10, 100, 1000, 10000}
    for k in (10, 100, 1000, 10000):
        t = min(k, n)
        assert rows[k].n_eff == t
        pos = _interp_pos(g, t)
        assert abs(rows[k].p_at_k - pos / t) < 1e-6
    # k past the population degrades to the base rate exactly
    if n < 10000:
        assert abs(rows[10000].p_at_k - p / n) < 1e-6


def test_gain_lift_planted_perfect_separator(spark):
    """A score that perfectly separates positives (all positives score
    above all negatives, 10% positive rate) must show gain(1) == 1.0
    and lift(1) == 10 — the textbook ceiling."""
    from datafusion_gpu_spark.queries.pipeline import _GAIN_LIFT_TAIL

    rows = [(float(1000 - i), "purchase" if i < 10 else "click")
            for i in range(100)]
    df = spark.createDataFrame(rows, "value double, event_type string")
    df.createOrReplaceTempView("events")
    try:
        from datafusion_gpu_spark.queries.pipeline import _rankcurve_cum

        _rankcurve_cum(spark)
        got = {r.decile: r for r in spark.sql(
            _GAIN_LIFT_TAIL.format(cum="__rankcurve_cum")).collect()}
    finally:
        spark.catalog.dropTempView("events")
    assert got[1].gain == 1.0 and got[1].lift == 10.0
    assert got[5].gain == 1.0 and got[5].lift == 2.0


def _confusion(duck, thr=5000):
    df = duck.execute(
        "SELECT CAST(ROUND(value * 100, 0) AS BIGINT) AS c, "
        "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos "
        "FROM events WHERE event_type IN ('click','purchase') "
        "AND value IS NOT NULL"
    ).df()
    pred = (df.c >= thr).to_numpy()
    pos = (df.pos == 1).to_numpy()
    tp = int((pred & pos).sum())
    fp = int((pred & ~pos).sum())
    fn = int((~pred & pos).sum())
    tn = int((~pred & ~pos).sum())
    return tp, fp, fn, tn


def test_mcc_matches_numpy(spark, duck):
    from datafusion_gpu_spark.queries.pipeline import _agg_mcc

    [row] = _agg_mcc(spark, SF_DIR).collect()
    tp, fp, fn, tn = _confusion(duck)
    assert (row.tp, row.fp, row.fn, row.tn) == (tp, fp, fn, tn)
    mcc = (tp * tn - fp * fn) / np.sqrt(
        float(tp + fp) * (tp + fn) * (tn + fp) * (tn + fn))
    assert abs(row.mcc - mcc) < 1e-6


def test_cohen_kappa_matches_numpy(spark, duck):
    from datafusion_gpu_spark.queries.pipeline import _agg_cohen_kappa

    [row] = _agg_cohen_kappa(spark, SF_DIR).collect()
    tp, fp, fn, tn = _confusion(duck)
    n = tp + fp + fn + tn
    po = (tp + tn) / n
    pe = ((tp + fp) * (tp + fn) + (fn + tn) * (fp + tn)) / n / n
    kappa = (po - pe) / (1 - pe)
    assert abs(row.kappa - kappa) < 1e-6


def test_cramers_v_matches_numpy(spark, duck):
    from datafusion_gpu_spark.queries.pipeline import _agg_cramers_v

    [row] = _agg_cramers_v(spark, SF_DIR).collect()
    df = duck.execute(
        "SELECT o_orderpriority AS r, o_orderstatus AS c FROM orders"
    ).df()
    obs = pd.crosstab(df.r, df.c).to_numpy(dtype=float)
    n = obs.sum()
    exp = np.outer(obs.sum(1), obs.sum(0)) / n
    chi2 = ((obs - exp) ** 2 / exp)[exp > 0].sum()
    k_min = min(obs.shape[0] - 1, obs.shape[1] - 1)
    assert row.k_min == k_min
    assert abs(row.cramers_v - np.sqrt(chi2 / (n * k_min))) < 1e-5


def test_ndcg_matches_numpy(spark, duck):
    from datafusion_gpu_spark.queries.pipeline import _agg_ndcg_at_k

    [row] = _agg_ndcg_at_k(spark, SF_DIR).collect()
    df = duck.execute(
        "SELECT event_id, CAST(ROUND(value * 100, 0) AS BIGINT) AS c, "
        "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS rel "
        "FROM events WHERE event_type IN ('click','purchase') "
        "AND value IS NOT NULL"
    ).df().sort_values(["c", "event_id"], ascending=[False, True])
    k = min(100, len(df))
    rel = df.rel.to_numpy()[:k]
    disc = 1.0 / np.log2(np.arange(1, k + 1) + 1)
    dcg = float((rel * disc).sum())
    npos = int(df.rel.sum())
    idcg = float(disc[: min(k, npos)].sum())
    assert row.k_eff == k and row.n_pos == npos
    assert abs(row.ndcg_at_k - dcg / idcg) < 1e-5


def test_ndcg_perfect_ranking_is_one(spark):
    """All positives scored above all negatives -> NDCG@k == 1.0."""
    from datafusion_gpu_spark.queries.pipeline import _NDCG

    rows = [(i, float(1000 - i), "purchase" if i < 30 else "click")
            for i in range(300)]
    df = spark.createDataFrame(
        rows, "event_id long, value double, event_type string")
    df.createOrReplaceTempView("events")
    try:
        [row] = spark.sql(_NDCG).collect()
    finally:
        spark.catalog.dropTempView("events")
    assert row.ndcg_at_k == 1.0 and row.n_pos == 30


def test_mrr_matches_pandas(spark, duck):
    from datafusion_gpu_spark.queries.pipeline import _agg_mrr

    [row] = _agg_mrr(spark, SF_DIR).collect()
    df = duck.execute(
        "SELECT user_id, event_id, CAST(ROUND(value * 100, 0) AS BIGINT) AS c, "
        "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS rel "
        "FROM events WHERE event_type IN ('click','purchase') "
        "AND value IS NOT NULL"
    ).df().sort_values(["user_id", "c", "event_id"],
                       ascending=[True, False, True])
    df["rnk"] = df.groupby("user_id").cumcount() + 1
    firsts = df[df.rel == 1].groupby("user_id").rnk.min()
    n_users = df.user_id.nunique()
    mrr = float((1.0 / firsts).sum()) / n_users
    assert row.n_users == n_users and row.n_hit == len(firsts)
    assert abs(row.mrr - mrr) < 1e-6


def test_theil_matches_numpy(spark, duck):
    from datafusion_gpu_spark.queries.pipeline import _events_theil_index

    [row] = _events_theil_index(spark, SF_DIR).collect()
    s = duck.execute(
        "SELECT CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS s "
        "FROM events WHERE event_type = 'purchase' AND value IS NOT NULL "
        "GROUP BY user_id"
    ).df()["s"].to_numpy(dtype=float)
    s = s[s > 0]
    r = s / s.mean()
    theil = float((r * np.log(r)).mean())
    assert row.n_users == len(s)
    assert abs(row.theil_t - theil) < 1e-6
    assert abs(row.theil_norm - theil / np.log(len(s))) < 1e-6
    # bounds: 0 <= T <= ln N
    assert -1e-9 <= row.theil_t <= np.log(len(s)) + 1e-9


def test_theil_constant_spend_is_zero(spark):
    """Equal spend for everyone -> Theil T == 0 exactly (every ratio is
    1, ln 1 = 0, the quantized fold sums zeros)."""
    from datafusion_gpu_spark.queries.pipeline import _THEIL

    rows = [(u, "purchase", 25.0, u, "2024-01-01 00:00:00")
            for u in range(50)]
    df = spark.createDataFrame(
        rows, "user_id long, event_type string, value double, "
              "event_id long, ts string")
    df.createOrReplaceTempView("events")
    try:
        [row] = spark.sql(_THEIL).collect()
    finally:
        spark.catalog.dropTempView("events")
    assert row.theil_t == 0.0 and row.theil_norm == 0.0


def test_brier_matches_numpy(spark, duck):
    from datafusion_gpu_spark.queries.pipeline import _agg_brier_score

    [row] = _agg_brier_score(spark, SF_DIR).collect()
    df = duck.execute(
        "SELECT CAST(ROUND(value * 100, 0) AS BIGINT) AS c, "
        "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos "
        "FROM events WHERE event_type IN ('click','purchase') "
        "AND value IS NOT NULL"
    ).df()
    lo, hi = df.c.min(), df.c.max()
    p = (df.c - lo) / (hi - lo)
    bs = float(((p - df.pos) ** 2).mean())
    base = df.pos.mean() * (1 - df.pos.mean())
    assert row.n == len(df) and row.np == int(df.pos.sum())
    assert abs(row.brier - bs) < 1e-6
    assert abs(row.brier_ref - base) < 1e-6
    assert abs(row.brier_skill - (1 - bs / base)) < 1e-5


def test_power_analysis_matches_closed_form(spark, duck):
    from datafusion_gpu_spark.queries.pipeline import _events_power_analysis

    [row] = _events_power_analysis(spark, SF_DIR).collect()
    p_a, p_b = row.rate_a, row.rate_b
    n_tot = row.n_a + row.n_b
    # replay Fleiss from the emitted (already-validated-exact) counts
    duckdf = duck.execute(
        "SELECT CASE WHEN CAST(('0x' || SUBSTRING(MD5(CAST(user_id AS "
        "VARCHAR)), 1, 15)) AS BIGINT) % 2 = 0 THEN 'a' ELSE 'b' END AS arm,"
        " CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS conv "
        "FROM events WHERE event_type IN ('click','purchase')"
    ).df()
    g = duckdf.groupby("arm").conv.agg(["sum", "size"])
    pa = g.loc["a", "sum"] / g.loc["a", "size"]
    pb = g.loc["b", "sum"] / g.loc["b", "size"]
    pbar = duckdf.conv.sum() / len(duckdf)
    assert row.n_a == g.loc["a", "size"] and row.n_b == g.loc["b", "size"]
    assert abs(p_a - pa) < 1e-6 and abs(p_b - pb) < 1e-6
    want = np.ceil(
        (1.959964 * np.sqrt(2 * pbar * (1 - pbar))
         + 0.841621 * np.sqrt(pa * (1 - pa) + pb * (1 - pb))) ** 2
        / (pa - pb) ** 2)
    assert row.n_per_arm_80pct == int(want)
    # a tiny observed difference needs MANY samples: sanity direction
    assert row.n_per_arm_80pct > n_tot or abs(pa - pb) > 0.01


def test_gmean_hmean_matches_numpy(spark, duck):
    from datafusion_gpu_spark.queries.pipeline import _agg_gmean_hmean

    [row] = _agg_gmean_hmean(spark, SF_DIR).collect()
    c = duck.execute(
        "SELECT CAST(ROUND(value * 100, 0) AS BIGINT) AS c FROM events "
        "WHERE event_type = 'purchase' AND value IS NOT NULL AND value > 0"
    ).df()["c"].to_numpy(dtype=float)
    assert row.n == len(c)
    assert abs(row.amean - c.mean() / 100) < 1e-6
    assert abs(row.gmean - np.exp(np.log(c).mean()) / 100) < 1e-5
    assert abs(row.hmean - len(c) / (1.0 / c).sum() / 100) < 1e-5
    # AM >= GM >= HM, strictly unless all values equal
    assert row.amean >= row.gmean >= row.hmean


def test_burstiness_matches_pandas(spark, duck):
    from datafusion_gpu_spark.queries.pipeline import _text_burstiness

    got = {r.word: r for r in _text_burstiness(spark, SF_DIR).collect()}
    assert len(got) == 20
    df = duck.execute(
        r"""SELECT doc_id,
                 unnest(string_split(regexp_replace(trim(lower(text)),
                        '\s+', ' ', 'g'), ' ')) AS word
          FROM '%s/documents.parquet'""" % SF_DIR
    ).df()
    df = df[df.word != ""]
    nd = df.doc_id.nunique()
    tf = df.groupby(["word", "doc_id"]).size().rename("f").reset_index()
    m = tf.groupby("word").f.agg(s1="sum", s2=lambda x: int((x**2).sum()),
                                 nw="size")
    m = m[m.s1 >= 5]
    m["vmr"] = (nd * m.s2 - m.s1**2) / (nd * m.s1)
    top = m.sort_values(["vmr", "word"], ascending=[False, True]).head(20)
    for word, r in top.iterrows():
        assert word in got, word
        assert got[word].n_occurrences == r.s1
        assert got[word].n_docs_with == r.nw
        assert abs(got[word].vmr - r.vmr) < 1e-5


def test_burstiness_planted_cases(spark):
    """A word occurring exactly once in every doc has VMR == 0 (zero
    dispersion); a word with all its mass in one doc out of nd has
    VMR == (nd*f^2 - f^2)/(nd*f) = f*(nd-1)/nd — maximal burstiness."""
    from datafusion_gpu_spark.queries.pipeline import _BURSTINESS_SPARK

    docs = [(d, "uniform " + ("bursty " * 10 if d == 0 else "") + "pad")
            for d in range(10)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    df.createOrReplaceTempView("documents")
    try:
        got = {r.word: r for r in spark.sql(_BURSTINESS_SPARK).collect()}
    finally:
        spark.catalog.dropTempView("documents")
    assert got["uniform"].vmr == 0.0 and got["pad"].vmr == 0.0
    assert got["bursty"].vmr == round(10 * 9 / 10, 6)  # f=10, nd=10


def test_dup_rate_by_source_planted(spark):
    """Duplicates — including WHITESPACE-VARIANT duplicates, which pin
    the normalize-then-hash contract — raise the per-source rate;
    clean sources stay at 0."""
    from datafusion_gpu_spark.queries.pipeline import _DUP_RATE_BY_SOURCE

    docs = [
        (1, "alpha beta", "en", "dirty", 10),
        (2, "alpha   beta ", "en", "dirty", 13),  # same after normalize
        (3, "ALPHA BETA", "en", "dirty", 10),     # same after lower
        (4, "gamma", "en", "dirty", 5),
        (5, "one", "en", "clean", 3),
        (6, "two", "en", "clean", 3),
    ]
    df = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, "
              "n_chars long")
    df.createOrReplaceTempView("documents")
    try:
        got = {r.source: r for r in spark.sql(_DUP_RATE_BY_SOURCE).collect()}
    finally:
        spark.catalog.dropTempView("documents")
    assert got["dirty"].n_docs == 4 and got["dirty"].n_distinct == 2
    assert got["dirty"].n_removable == 2 and got["dirty"].dup_rate == 0.5
    assert got["clean"].dup_rate == 0.0


def test_tukey_fences_matches_numpy(spark, duck):
    from datafusion_gpu_spark.queries.pipeline import _agg_tukey_fences

    [row] = _agg_tukey_fences(spark, SF_DIR).collect()
    c = np.sort(duck.execute(
        "SELECT CAST(ROUND(value * 100, 0) AS BIGINT) AS c FROM events "
        "WHERE event_type = 'purchase' AND value IS NOT NULL"
    ).df()["c"].to_numpy())
    n = len(c)
    q1 = int(c[-(-1 * n // 4) - 1])  # min value whose cum count >= ceil(n/4)
    q3 = int(c[-(-3 * n // 4) - 1])
    assert (row.n, row.q1, row.q3) == (n, q1, q3)
    iqr = q3 - q1
    below = int((2 * c < 5 * q1 - 3 * q3).sum())
    above = int((2 * c > 5 * q3 - 3 * q1).sum())
    assert (row.n_below, row.n_above) == (below, above)
    assert abs(row.outlier_rate - (below + above) / n) < 1e-6
    assert iqr == row.iqr >= 0


def test_max_drawdown_matches_pandas(spark, duck):
    from datafusion_gpu_spark.queries.pipeline import _events_max_drawdown

    got = {r.user_id: r for r in
           _events_max_drawdown(spark, SF_DIR).collect()}
    df = duck.execute(
        "SELECT user_id, ts, event_id, "
        "CAST(ROUND(value * 100, 0) AS BIGINT) AS c FROM events "
        "WHERE event_type = 'purchase' AND value IS NOT NULL"
    ).df().sort_values(["user_id", "ts", "event_id"])
    for uid, g in df.groupby("user_id"):
        peak = g.c.cummax()
        dd = int((peak - g.c).max())
        assert got[uid].n_events == len(g)
        assert got[uid].max_drawdown_cents == dd, uid
        assert abs(got[uid].max_drawdown_frac - dd / int(peak.max())) < 1e-6


def test_max_drawdown_planted_path(spark):
    """Path 10 -> 30 -> 12 -> 25 -> 5: peak 30, worst trough after it
    is 5 -> max drawdown 25 (NOT 30-12=18 or 25-5=20)."""
    from pyspark.sql import functions as F

    from datafusion_gpu_spark.queries.pipeline import _MAX_DRAWDOWN

    vals = [10.0, 30.0, 12.0, 25.0, 5.0]
    rows = [(7, f"2024-01-01 00:0{i}:00", i, "purchase", v)
            for i, v in enumerate(vals)]
    df = spark.createDataFrame(
        rows, "user_id long, ts string, event_id long, event_type string, "
              "value double").withColumn("ts", F.to_timestamp("ts"))
    df.createOrReplaceTempView("events")
    try:
        [row] = spark.sql(_MAX_DRAWDOWN).collect()
    finally:
        spark.catalog.dropTempView("events")
    assert row.max_drawdown_cents == 2500
    assert row.peak_cents == 3000
    assert row.max_drawdown_frac == round(2500 / 3000, 6)


def test_bootstrap_ci_matches_hashlib_replay(spark, duck):
    """Full exact replay: rebuild every md5-derived Poisson weight in
    Python, fold the 32 replicate means, and compare the quantized
    moments path bit-for-bit (same centering + 1e-3 quantization)."""
    import hashlib

    from datafusion_gpu_spark.queries.pipeline import (
        _BOOTSTRAP_B,
        _POIS_T,
        _events_bootstrap_ci,
    )

    [row] = _events_bootstrap_ci(spark, SF_DIR).collect()
    df = duck.execute(
        "SELECT event_id, CAST(ROUND(value * 100, 0) AS BIGINT) AS c "
        "FROM events WHERE event_type = 'purchase' AND value IS NOT NULL"
    ).df()
    ids = df.event_id.to_numpy()
    c = df.c.to_numpy(dtype=np.int64)
    n, sc = len(c), int(c.sum())
    assert row.n == n
    assert abs(row.mean_value - sc / n / 100) < 1e-6
    mqs = []
    for b in range(_BOOTSTRAP_B):
        u = np.array([
            int(hashlib.md5(f"{i}_{b}".encode()).hexdigest()[:15], 16) % 10**6
            for i in ids
        ])
        w = sum((u >= t).astype(np.int64) for t in _POIS_T)
        if int(w.sum()) > 0:
            mqs.append(round(
                (float((w * c).sum()) / float(w.sum()) - sc / n) * 1e3))
    assert row.n_replicates == len(mqs) == _BOOTSTRAP_B
    mq = np.array(mqs, dtype=np.int64)
    k = len(mq)
    se = np.sqrt((k * (mq * mq).sum() - mq.sum() ** 2) / (k * (k - 1))) / 1e3
    assert abs(row.boot_se - se / 100) < 1e-5
    assert abs(row.ci_lo - (sc / n - 1.959964 * se) / 100) < 1e-4
    assert abs(row.ci_hi - (sc / n + 1.959964 * se) / 100) < 1e-4
    # statistical sanity: bootstrap SE tracks sd/sqrt(n) within 2x
    theory = c.std(ddof=1) / np.sqrt(n) / 100
    assert theory / 2 < row.boot_se < theory * 2


def test_class_balance_planted(spark):
    """Two classes of 5 and 3 docs: both keep exactly 3; kept ids are
    the top-3 by md5(doc_id) rank, replayed with hashlib."""
    import hashlib
    from functools import reduce

    from datafusion_gpu_spark.queries.pipeline import _CLASS_BALANCE

    docs = [(i, f"text {i}", "en", "s", 6) for i in range(5)]
    docs += [(10 + i, f"text {10+i}", "fr", "s", 7) for i in range(3)]
    df = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, "
              "n_chars long")
    df.createOrReplaceTempView("documents")
    try:
        got = {r.lang: r for r in spark.sql(_CLASS_BALANCE).collect()}
    finally:
        spark.catalog.dropTempView("documents")
    assert got["en"].n_total == 5 and got["en"].n_kept == 3
    assert got["fr"].n_total == 3 and got["fr"].n_kept == 3
    en_ids = sorted(range(5), key=lambda i: (
        hashlib.md5(str(i).encode()).hexdigest(), i))[:3]
    assert got["en"].kept_xor == reduce(lambda a, b: a ^ b, en_ids)
    assert got["fr"].kept_xor == 10 ^ 11 ^ 12


def test_pacf_matches_numpy(spark, duck):
    """Durbin-Levinson replay from the same hourly series and the same
    per-lag Pearson r definition (each lag's own pair set)."""
    from datafusion_gpu_spark.queries.pipeline import _events_pacf

    got = {r.event_type: r for r in _events_pacf(spark, SF_DIR).collect()}
    hourly = duck.execute(
        "SELECT event_type, date_trunc('hour', ts) AS b, "
        "CAST(SUM(CAST(ROUND(value*100,0) AS BIGINT)) AS BIGINT) AS v "
        "FROM events WHERE value IS NOT NULL GROUP BY 1,2 ORDER BY 1,2"
    ).df()
    for et, g in hourly.groupby("event_type"):
        v = g.sort_values("b").v.to_numpy(dtype=float)
        def pear(k):
            x, y = v[:-k], v[k:]
            if x.std() == 0 or y.std() == 0:
                return None
            return float(np.corrcoef(x, y)[0, 1])
        r1, r2, r3 = pear(1), pear(2), pear(3)
        assert abs(got[et].pacf1 - r1) < 1e-5, et
        phi22 = (r2 - r1 * r1) / (1 - r1 * r1)
        assert abs(got[et].pacf2 - phi22) < 1e-5, et
        phi21 = r1 * (1 - phi22)
        pacf3 = (r3 - phi21 * r2 - phi22 * r1) / (1 - phi21 * r1 - phi22 * r2)
        assert abs(got[et].pacf3 - pacf3) < 1e-5, et


def test_pacf_degenerate_guard(spark):
    """A perfectly alternating series has r1 == -1, so 1 - r1^2 == 0:
    pacf2/pacf3 must emit NULL (guard), pacf1 == -1 exactly."""
    from pyspark.sql import functions as F

    from datafusion_gpu_spark.queries.pipeline import _PACF

    rows = []
    for h in range(24):
        rows.append((1000 + h, "flip", f"2024-01-01 {h:02d}:30:00",
                     10.0 if h % 2 == 0 else 30.0))
    df = spark.createDataFrame(
        rows, "event_id long, event_type string, ts string, value double"
    ).withColumn("ts", F.to_timestamp("ts")).withColumn(
        "user_id", F.lit(1))
    df.createOrReplaceTempView("events")
    try:
        [row] = spark.sql(_PACF).collect()
    finally:
        spark.catalog.dropTempView("events")
    assert row.pacf1 == -1.0
    assert row.pacf2 is None and row.pacf3 is None


def test_median_ci_matches_numpy(spark, duck):
    from datafusion_gpu_spark.queries.pipeline import _agg_median_ci

    [row] = _agg_median_ci(spark, SF_DIR).collect()
    c = np.sort(duck.execute(
        "SELECT CAST(ROUND(value * 100, 0) AS BIGINT) AS c FROM events "
        "WHERE event_type = 'purchase' AND value IS NOT NULL"
    ).df()["c"].to_numpy())
    n = len(c)
    lo = max(int(np.ceil((n - 1.959964 * np.sqrt(n)) / 2)), 1)
    hi = min(int(np.ceil((n + 1.959964 * np.sqrt(n)) / 2)), n)
    mid = int(np.ceil(n / 2))
    assert row.n == n
    assert row.median_value == round(c[mid - 1] / 100, 2)
    assert row.ci_lo == round(c[lo - 1] / 100, 2)
    assert row.ci_hi == round(c[hi - 1] / 100, 2)
    assert row.ci_lo <= row.median_value <= row.ci_hi


def test_runs_test_matches_numpy(spark, duck):
    from datafusion_gpu_spark.queries.pipeline import _events_runs_test

    got = {r.event_type: r for r in _events_runs_test(spark, SF_DIR).collect()}
    hourly = duck.execute(
        "SELECT event_type, date_trunc('hour', ts) AS b, "
        "CAST(SUM(CAST(ROUND(value*100,0) AS BIGINT)) AS BIGINT) AS v "
        "FROM events WHERE value IS NOT NULL GROUP BY 1,2 ORDER BY 1,2"
    ).df()
    for et, g in hourly.groupby("event_type"):
        v = g.sort_values("b").v.to_numpy()
        m2 = int(round(2 * np.median(v)))
        keep = 2 * v != m2
        up = (2 * v[keep] > m2).astype(int)
        n1, n2 = int(up.sum()), int((1 - up).sum())
        runs = 1 + int((up[1:] != up[:-1]).sum())
        assert (got[et].n1, got[et].n2, got[et].runs) == (n1, n2, runs), et
        mu = 1 + 2 * n1 * n2 / (n1 + n2)
        sig = np.sqrt(2 * n1 * n2 * (2 * n1 * n2 - n1 - n2)
                      / ((n1 + n2) ** 2 * (n1 + n2 - 1)))
        assert abs(got[et].z_stat - (runs - mu) / sig) < 1e-3, et


def test_runs_test_planted_extremes(spark):
    """Alternating series -> maximal runs (z >> 0); sorted-halves
    series -> exactly 2 runs (z << 0)."""
    from pyspark.sql import functions as F

    from datafusion_gpu_spark.queries.pipeline import _RUNS_TEST

    rows = []
    for h in range(20):  # alternating around the median
        rows.append((h, "alt", f"2024-01-01 {h:02d}:00:00",
                     10.0 if h % 2 == 0 else 30.0))
    for h in range(20):  # two regimes: 10 low hours then 10 high hours
        rows.append((100 + h, "regime", f"2024-01-02 {h:02d}:00:00",
                     10.0 if h < 10 else 30.0))
    df = spark.createDataFrame(
        rows, "event_id long, event_type string, ts string, value double"
    ).withColumn("ts", F.to_timestamp("ts")).withColumn("user_id", F.lit(1))
    df.createOrReplaceTempView("events")
    try:
        got = {r.event_type: r for r in spark.sql(_RUNS_TEST).collect()}
    finally:
        spark.catalog.dropTempView("events")
    assert got["alt"].runs == 20 and got["alt"].z_stat > 3
    assert got["regime"].runs == 2 and got["regime"].z_stat < -3


def test_seasonality_strength_matches_numpy(spark, duck):
    from datafusion_gpu_spark.queries.pipeline import (
        _events_seasonality_strength,
    )

    [row] = _events_seasonality_strength(spark, SF_DIR).collect()
    df = duck.execute(
        "SELECT CAST(EXTRACT(HOUR FROM ts) AS BIGINT) AS h, "
        "CAST(ROUND(value*100,0) AS BIGINT) AS c FROM events "
        "WHERE event_type = 'purchase' AND value IS NOT NULL"
    ).df()
    sst = ((df.c - df.c.mean()) ** 2).sum()
    ssb = sum(len(g) * (g.c.mean() - df.c.mean()) ** 2
              for _, g in df.groupby("h"))
    assert row.n_events == len(df)
    assert abs(row.eta_squared - ssb / sst) < 1e-5
    assert 0 <= row.eta_squared <= 1


def test_bootstrap_plan_single_scan(spark):
    """Regression pin for the CTE-inlining plan bug: the bootstrap must
    fold all 32 replicates in ONE aggregation over ONE events scan —
    exactly one shuffle Exchange, never the 33 the UNION-ALL-unpivot
    spelling audited (Spark inlines multiply-referenced CTEs)."""
    import re

    from datafusion_gpu_spark.queries.pipeline import _events_bootstrap_ci

    plan = (
        _events_bootstrap_ci(spark, SF_DIR)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert len(re.findall(r"Exchange (?:hash|range|Single)", plan)) == 1


def test_atr_matches_pandas(spark, duck):
    from datafusion_gpu_spark.queries.pipeline import _window_atr

    got = {(r.event_type, r.bucket): r
           for r in _window_atr(spark, SF_DIR).collect()}
    raw = duck.execute(
        "SELECT event_type, date_trunc('hour', ts) AS b, ts, event_id, "
        "CAST(ROUND(value*100,0) AS BIGINT) AS v FROM events "
        "WHERE value IS NOT NULL ORDER BY event_type, b, ts, event_id"
    ).df()
    bars = (
        raw.groupby(["event_type", "b"])
        .agg(h=("v", "max"), l=("v", "min"), c=("v", "last"))
        .reset_index()
    )
    checked = 0
    for et, g in bars.groupby("event_type"):
        g = g.sort_values("b").reset_index(drop=True)
        prev_c = g.c.shift(1)
        tr = np.where(prev_c.isna(), g.h - g.l,
                      np.maximum(g.h - g.l,
                                 np.maximum((g.h - prev_c).abs(),
                                            (g.l - prev_c).abs())))
        for i in range(len(g)):
            key = (et, g.b[i].to_pydatetime())
            r = got[key]
            assert r.true_range_cents == int(tr[i]), key
            lo = max(0, i - 13)
            assert r.n_bars == i - lo + 1
            assert abs(r.atr - tr[lo:i + 1].mean() / 100) < 5e-4, key
            checked += 1
    assert checked > 100


def test_mix_kl_planted(spark):
    """Skewed 3-source mix (6/2/2 of 10 docs): KL vs uniform =
    0.6 ln 1.8 + 0.4 ln 0.6 exactly; a perfectly uniform mix gives 0."""
    from datafusion_gpu_spark.queries.pipeline import _MIX_KL

    docs = [(i, f"d{i}", "en", "a" if i < 6 else ("b" if i < 8 else "c"), 2)
            for i in range(10)]
    df = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, "
              "n_chars long")
    df.createOrReplaceTempView("documents")
    try:
        [row] = spark.sql(_MIX_KL).collect()
    finally:
        spark.catalog.dropTempView("documents")
    want = 0.6 * np.log(0.6 * 3) + 0.2 * np.log(0.2 * 3) * 2
    assert row.n_sources == 3 and row.n_docs == 10
    assert abs(row.kl_nats - want) < 1e-6
    assert abs(row.kl_norm - want / np.log(3)) < 1e-6
    assert 0 < row.kl_norm < 1


def test_pav_isotonic_pools_adjacent_violators(spark):
    """Hand-checkable case: rates [0.1, 0.4, 0.3, 0.2, 0.5] with equal
    bin sizes — PAV pools the middle three violators to their mean 0.3
    and leaves the monotone ends alone."""
    from datafusion_gpu_spark.operators.stats import pav_isotonic

    bins = spark.createDataFrame(
        [(0, 10, 1), (1, 10, 4), (2, 10, 3), (3, 10, 2), (4, 10, 5)],
        "bin long, n long, s long",
    )
    got = {r.bin: r.yhat for r in pav_isotonic(bins).collect()}
    assert got == {0: 0.1, 1: 0.3, 2: 0.3, 3: 0.3, 4: 0.5}


def test_pav_isotonic_matches_stack_replica_weighted(spark):
    """The minimax spelling equals the classic PAV stack algorithm
    (exact-Fraction replica, no numpy/sklearn) on unequal bin sizes,
    including a violation chain that must cascade backwards; the fit is
    monotone and preserves the weighted mean (PAV invariants)."""
    from fractions import Fraction

    from datafusion_gpu_spark.operators.stats import pav_isotonic

    rows = [  # (bin, n, s) — rates 0.9, 0.2, 0.5, 0.45, 0.8, 0.1, 0.7
        (0, 10, 9), (1, 5, 1), (2, 20, 10), (3, 20, 9),
        (5, 5, 4), (7, 10, 1), (9, 10, 7),
    ]

    def pav_stack(blocks):
        stack = []  # (sum_s, sum_n) pooled blocks
        for _, n, s in blocks:
            cur = (Fraction(s), Fraction(n))
            while stack and stack[-1][0] * cur[1] >= cur[0] * stack[-1][1]:
                ps, pn = stack.pop()
                cur = (cur[0] + ps, cur[1] + pn)
            stack.append(cur)
        # expand the pooled blocks back over the input blocks
        fits, i = [], 0
        for s_sum, n_sum in stack:
            # consume input blocks until their n adds up to n_sum
            acc = Fraction(0)
            while acc < n_sum:
                acc += rows[i][1]
                fits.append(s_sum / n_sum)
                i += 1
        return fits

    expected = pav_stack(rows)
    bins = spark.createDataFrame(rows, "bin long, n long, s long")
    got = [r.yhat for r in pav_isotonic(bins).collect()]
    got = [y for _, y in sorted(zip([r.bin for r in bins.collect()], got))]
    assert len(got) == len(expected)
    for g, e in zip(got, expected):
        assert abs(g - float(e)) < 1e-12, (g, e)
    # invariants: monotone nondecreasing; weighted mean preserved
    assert all(a <= b + 1e-12 for a, b in zip(got, got[1:]))
    total_s = sum(s for _, _, s in rows)
    total_n = sum(n for _, n, _ in rows)
    assert abs(sum(y * n for y, (_, n, _) in zip(got, rows)) - total_s) < 1e-9
    assert total_n == 80


def test_conformal_quantile_order_statistic_and_coverage(spark):
    """conformal_quantile returns EXACTLY the ceil((n+1)(1-alpha))-th
    smallest calibration residual, and on an exchangeable planted
    residual mix (two deterministic pseudo-random components) the
    held-out empirical coverage meets the distribution-free guarantee."""
    import random

    from datafusion_gpu_spark.operators.stats import conformal_quantile

    rng = random.Random(20260815)
    # residual mix: 80% "inlier" geometric-ish small residuals, 20%
    # heavy tail — same law for calibration and test (exchangeable)
    def draw():
        if rng.random() < 0.8:
            return rng.randrange(0, 50)
        return rng.randrange(50, 2000)

    cal = [draw() for _ in range(2000)]
    tst = [draw() for _ in range(2000)]
    alpha = 0.1
    got = conformal_quantile(
        spark.createDataFrame([(r,) for r in cal], "res long"),
        "res",
        alpha=alpha,
    ).collect()
    assert len(got) == 1
    row = got[0]
    k = -(-(len(cal) + 1) * 9 // 10)  # ceil((n+1)*0.9) in exact ints
    assert row.n_cal == len(cal)
    assert row.k_rank == k
    assert row.q_res == sorted(cal)[k - 1]  # the exact order statistic
    coverage = sum(1 for r in tst if r <= row.q_res) / len(tst)
    # the marginal guarantee is P(cover) >= 1 - alpha; one planted draw
    # of n=2000 concentrates within a few sigma (~0.007) of its mean
    assert coverage >= 1 - alpha - 0.02, coverage


def test_cvm_identical_zero_and_disjoint_rejects(spark):
    """Identical group distributions -> every ECDF gap is exactly zero
    (T = 0, no rejection); disjoint supports -> T matches the exact
    Python replica of the quantized fold and rejects at 5%."""
    from datafusion_gpu_spark.operators.stats import cvm_two_sample

    same = [("click", c) for c in range(1, 21)] + [
        ("purchase", c) for c in range(1, 21)
    ]
    df = spark.createDataFrame(same, "event_type string, cents long")
    [row] = cvm_two_sample(df, "event_type", "cents", "click", "purchase").collect()
    assert (row.n_a, row.n_b, row.s_q) == (20, 20, 0)
    assert row.t_stat == 0.0 and row.reject_05 is False

    lo = [("click", c) for c in range(1, 31)]
    hi = [("purchase", c) for c in range(1000, 1030)]
    df = spark.createDataFrame(lo + hi, "event_type string, cents long")
    [row] = cvm_two_sample(df, "event_type", "cents", "click", "purchase").collect()
    # replica: inclusive ECDF over the 60 distinct values, one quantized
    # squared-gap term per value, tc == 1 everywhere
    n_a = n_b = 30
    s_q = 0
    ca = cb = 0
    for c in sorted([c for _, c in lo] + [c for _, c in hi]):
        if c < 1000:
            ca += 1
        else:
            cb += 1
        r = float(ca * n_b - cb * n_a) / (float(n_a) * n_b)
        s_q += int(round(1e12 * r * r))
    t = n_a * n_b / float((n_a + n_b) ** 2) * (s_q / 1e12)
    assert row.s_q == s_q
    assert row.t_stat == round(t, 6)
    assert row.reject_05 is True  # fully separated samples


def test_ece_exact_integer_identity(spark):
    """The n_b weights cancel exactly against the min-max normalized
    confidence: ECE == sum|s_b*span - sc_b + n_b*lo|/(span*N). Planted
    10 one-cent bins (lo=0, hi=9, wd == 1 by construction): conf_b =
    b/9, half the bins 50% observed, half 100% -> ece_num = 45,
    ece = 45/(9*20) = 0.25."""
    from datafusion_gpu_spark.queries.pipeline import _ECE

    rows = []
    for k in range(10):
        if k < 5:
            rows += [("purchase", k / 100.0), ("click", k / 100.0)]
        else:
            rows += [("purchase", k / 100.0), ("purchase", k / 100.0)]
    spark.createDataFrame(
        rows, "event_type string, value double"
    ).createOrReplaceTempView("events")
    try:
        [row] = spark.sql(_ECE).collect()
    finally:
        spark.catalog.dropTempView("events")
    assert (row.n, row.n_bins, row.ece_num) == (20, 10, 45)
    assert row.ece == 0.25


def test_ece_normalized_confidence_above_one_dollar(spark):
    """ADVICE r11 #5's failure scenario: values past $1 made the raw
    cents/100 confidence leave [0,1]. With the min-max normalization a
    perfectly calibrated-by-construction corner relation (all mass at
    the span ends, observed rate == normalized confidence) has ECE 0
    whatever the dollar scale."""
    from datafusion_gpu_spark.queries.pipeline import _ECE

    # lo = 0 cents (all clicks, conf 0, obs 0), hi = 900 cents (all
    # purchases, conf 1, obs 1) — calibrated exactly, $9 values
    rows = [("click", 0.0)] * 4 + [("purchase", 9.0)] * 4
    spark.createDataFrame(
        rows, "event_type string, value double"
    ).createOrReplaceTempView("events")
    try:
        [row] = spark.sql(_ECE).collect()
    finally:
        spark.catalog.dropTempView("events")
    assert (row.n, row.ece_num, row.ece) == (8, 0, 0.0)


def test_pinball_loss_exact_quantile_and_fold(spark):
    """N=10 equally spaced purchase values: the 0.9-quantile is the 9th
    order statistic ($9.00) and the 9/1-weighted integer fold gives
    pinball = 0.45 dollars exactly."""
    from datafusion_gpu_spark.queries.pipeline import _PINBALL

    rows = [("purchase", c / 100.0) for c in range(100, 1001, 100)]
    spark.createDataFrame(
        rows, "event_type string, value double"
    ).createOrReplaceTempView("events")
    try:
        [row] = spark.sql(_PINBALL).collect()
    finally:
        spark.catalog.dropTempView("events")
    assert (row.n, row.k_rank, row.q_value) == (10, 9, 9.0)
    assert row.pinball_num == 4500
    assert row.pinball == 0.45


def test_page_hinkley_planted_shift_alarms_exactly(spark):
    """Planted hourly series: 48 flat hours at $100, then a +$90 jump.
    Every (gq, mt, ph, alarm) matches a Decimal HALF_UP replica of the
    quantized fold; the flat phase never alarms and the shift trips the
    $100 lambda within two post-shift hours."""
    from decimal import ROUND_HALF_UP, Decimal

    from pyspark.sql import functions as F

    from datafusion_gpu_spark.queries.pipeline import _PAGE_HINKLEY

    vals = [100.0] * 48 + [190.0] * 10
    rows = [
        ("a", f"2024-01-{1 + i // 24:02d} {i % 24:02d}:30:00", v)
        for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(
        rows, "event_type string, ts string, value double"
    ).withColumn("ts", F.to_timestamp("ts"))
    df.createOrReplaceTempView("events")
    try:
        got = {
            r.t: r for r in spark.sql(_PAGE_HINKLEY).collect()
        }
    finally:
        spark.catalog.dropTempView("events")
    assert len(got) == len(vals)
    sx = mt = 0
    minm = 0
    for t, v in enumerate(vals, start=1):
        x = round(v * 100)
        sx += x
        gq = int(
            Decimal(1e6 * (float(x) - float(sx) / t)).quantize(
                Decimal(1), rounding=ROUND_HALF_UP
            )
        )
        mt += gq
        minm = min(minm, mt)
        r = got[t]
        assert (r.x, r.gq, r.mt) == (x, gq, mt), t
        assert r.ph == mt - minm, t
        assert r.alarm == (mt - minm > 10_000_000_000), t
    assert all(got[t].alarm is False for t in range(1, 49))
    assert got[50].alarm is True  # second post-shift hour trips $100


def test_hosmer_lemeshow_perfectly_calibrated_is_zero(spark):
    """Planted perfect calibration on the unit-width bins (c = 0..9 ->
    wd == 1, e_b = k exactly): every non-degenerate bin's term is 0, the
    two degenerate bins (e == 0, e == n) are skipped by the visible
    CASE, and HL == 0 with no rejection."""
    from pyspark.sql import functions as F  # noqa: F811

    from datafusion_gpu_spark.queries.pipeline import _HOSMER_LEMESHOW

    rows = []
    for k in range(10):
        rows += [("purchase", k / 100.0)] * k + [("click", k / 100.0)] * (9 - k)
    spark.createDataFrame(
        rows, "event_type string, value double"
    ).createOrReplaceTempView("events")
    try:
        [row] = spark.sql(_HOSMER_LEMESHOW).collect()
    finally:
        spark.catalog.dropTempView("events")
    assert (row.n, row.n_bins, row.hl_q) == (90, 10, 0)
    assert row.hl_stat == 0.0 and row.reject_05 is False


def test_theil_u2_matches_exact_replica(spark):
    """ssf/ssn are exact bigints matching a Python replica that follows
    the SQL arithmetic step for step (integer Holt kernels, the two
    deterministic HALF_UP roundings of the forecast, integer residual
    squares); a trending series beats naive (U2 < 1) in steady state."""
    from decimal import ROUND_HALF_UP, Decimal

    from pyspark.sql import functions as F  # noqa: F811

    from datafusion_gpu_spark.operators.events import holt_weights
    from datafusion_gpu_spark.queries.pipeline import _theil_u2_sql

    span, scale = 4, 100
    vals = [10.0 + 2.0 * i + (0.25 if i % 3 == 0 else -0.5) for i in range(30)]
    rows = [
        ("purchase", 1, i, f"2024-01-01 {i // 60:02d}:{i % 60:02d}:00", v)
        for i, v in enumerate(vals)
    ]
    spark.createDataFrame(
        rows, "event_type string, user_id long, event_id long, ts string, value double"
    ).withColumn("ts", F.to_timestamp("ts")).createOrReplaceTempView("events")
    try:
        [row] = spark.sql(_theil_u2_sql(span=span, scale=scale)).collect()
    finally:
        spark.catalog.dropTempView("events")

    def r6(x):  # SQL ROUND(x, 6) on a double
        return float(Decimal(x).quantize(Decimal("0.000001"), ROUND_HALF_UP))

    w1, w2 = holt_weights(span)
    cents = [round(v * scale) for v in vals]
    fq = []
    for i in range(len(cents)):
        n1 = sum(cents[i - k] * w1[k] for k in range(span) if i - k >= 0)
        d1 = sum(w1[k] for k in range(span) if i - k >= 0)
        n2 = sum(cents[i - j] * w2[j] for j in range(2 * span - 1) if i - j >= 0)
        d2 = sum(w2[j] for j in range(2 * span - 1) if i - j >= 0)
        f = r6((3.0 * (n1 / d1) - 2.0 * (n2 / d2)) / float(scale))
        fq.append(
            int(Decimal(f * 100).quantize(Decimal(1), ROUND_HALF_UP))
        )
    ssf = sum((cents[i] - fq[i - 1]) ** 2 for i in range(1, len(cents)))
    ssn = sum((cents[i] - cents[i - 1]) ** 2 for i in range(1, len(cents)))
    assert (row.n, row.ssf, row.ssn) == (len(cents) - 1, ssf, ssn)
    assert row.theil_u2 == round((ssf / ssn) ** 0.5, 6)
    assert row.theil_u2 < 1.0  # the smoother beats naive on a trend


def test_cliff_delta_closed_forms(spark):
    """Fully separated groups -> delta = +/-1 ('large'); identical
    groups -> 0 ('negligible'); a hand case with ties matches the
    pair-enumeration definition exactly."""
    from datafusion_gpu_spark.operators.stats import cliff_delta

    sep = [("click", 100 + i) for i in range(5)] + [
        ("purchase", i) for i in range(5)
    ]
    df = spark.createDataFrame(sep, "event_type string, cents long")
    [r] = cliff_delta(df, "event_type", "cents", "click", "purchase").collect()
    assert (r.gt, r.lt, r.cliff_delta, r.magnitude) == (25, 0, 1.0, "large")

    same = [("click", i % 3) for i in range(6)] + [
        ("purchase", i % 3) for i in range(6)
    ]
    df = spark.createDataFrame(same, "event_type string, cents long")
    [r] = cliff_delta(df, "event_type", "cents", "click", "purchase").collect()
    assert (r.cliff_delta, r.magnitude) == (0.0, "negligible")

    a, b = [1, 2, 2, 5], [2, 3, 3]
    rows = [("click", v) for v in a] + [("purchase", v) for v in b]
    df = spark.createDataFrame(rows, "event_type string, cents long")
    [r] = cliff_delta(df, "event_type", "cents", "click", "purchase").collect()
    gt = sum(1 for x in a for y in b if x > y)
    lt = sum(1 for x in a for y in b if x < y)
    assert (r.gt, r.lt) == (gt, lt)
    assert r.cliff_delta == round((gt - lt) / (len(a) * len(b)), 6)


def test_cohens_d_matches_closed_form(spark):
    """Two planted groups: d and Hedges' g match the textbook pooled-sd
    closed forms computed in Python."""
    import math

    from datafusion_gpu_spark.queries.pipeline import _COHENS_D

    a = [1.00, 2.00, 3.00, 4.00, 5.00]        # cents 100..500
    b = [2.00, 4.00, 6.00]                     # cents 200..600
    rows = [("click", v) for v in a] + [("purchase", v) for v in b]
    spark.createDataFrame(
        rows, "event_type string, value double"
    ).createOrReplaceTempView("events")
    try:
        [r] = spark.sql(_COHENS_D).collect()
    finally:
        spark.catalog.dropTempView("events")
    ca, cb = [v * 100 for v in a], [v * 100 for v in b]
    ma, mb = sum(ca) / len(ca), sum(cb) / len(cb)
    ssa = sum(x * x for x in ca) - sum(ca) ** 2 / len(ca)
    ssb = sum(x * x for x in cb) - sum(cb) ** 2 / len(cb)
    sp = math.sqrt((ssa + ssb) / (len(ca) + len(cb) - 2))
    d = (ma - mb) / sp
    assert (r.n_a, r.n_b) == (5, 3)
    assert r.mean_diff == round((ma - mb) / 100, 4)
    assert abs(r.cohens_d - d) < 1e-6  # SQL rounds to 6 dp
    assert abs(r.hedges_g - d * (1 - 3 / (4 * 8 - 9))) < 1e-6


def test_missing_mass_exact_counts(spark):
    """Planted corpus: 'a a b c' + 'b  d' -> N=6, V=4, hapaxes {c, d},
    doubletons {a, b} -> missing mass 2/6, GT-adjusted hapax count 2."""
    from datafusion_gpu_spark.queries.pipeline import _text_missing_mass
    from tests.conftest import SF_DIR

    docs = spark.createDataFrame(
        [(1, "A a b C"), (2, "b  \t d a c")],
        "doc_id long, text string",
    )
    # _text_missing_mass reads via _docs(spark, sf_dir); patch the name
    # in its DEFINING module (pipeline_eval since the round-12 split —
    # the pipeline re-export is a separate binding, patching it no-ops)
    from datafusion_gpu_spark.queries import pipeline_eval as P

    orig = P._docs
    try:
        P._docs = lambda s, d: docs
        [r] = _text_missing_mass(spark, SF_DIR).collect()
    finally:
        P._docs = orig
    # tokens: a a b c | b d a c -> counts a:3 b:2 c:2 d:1
    assert (r.n_tokens, r.vocab, r.n1, r.n2) == (8, 4, 1, 2)
    assert r.missing_mass == round(1 / 8, 6)
    assert r.gt_adjusted_r1 == 4.0


def test_ks_uniform_exact_uniform_and_clumped(spark):
    """A perfectly uniform lattice (each value once over 0..n-1) has
    the closed-form D = 1/n (the ECDF step overhang, realized on BOTH
    sides: post-step at v=0, pre-step at v=n-1) and never rejects; a
    hard clump rejects at 5% wherever it sits — including at the TOP
    of the range, which only the pre-step (D-) side of the discrete KS
    can see (the regression this test pins: a one-sided max scored the
    top clump d_stat ~ 1/n and never rejected)."""
    from datafusion_gpu_spark.operators.stats import ks_uniform

    n = 200
    df = spark.createDataFrame([(i,) for i in range(n)], "cents long")
    [r] = ks_uniform(df, "cents").collect()
    assert (r.n, r.lo, r.hi) == (n, 0, n - 1)
    assert r.d_num == n - 1  # the step overhang, both ends
    assert r.d_stat == round(1 / n, 6)
    assert r.reject_05 is False

    mid = [(0,), (n - 1,)] + [((n - 1) // 2,)] * (n - 2)
    df = spark.createDataFrame(mid, "cents long")
    [r] = ks_uniform(df, "cents").collect()
    assert r.reject_05 is True

    # mass clumped at the TOP: ECDF hugs zero until hi, so the gap is
    # entirely on the pre-step side — D- = (n-1)/n just below hi
    top = [(0,)] + [(n - 1,)] * (n - 1)
    df = spark.createDataFrame(top, "cents long")
    [r] = ks_uniform(df, "cents").collect()
    assert r.d_num == (n - 1) * (n - 1)  # |(cc-tc)*span - n*(hi-lo)|
    assert r.d_stat == round((n - 1) / n, 6)
    assert r.reject_05 is True


def test_window_donchian_closed_form(spark):
    """Monotone ramp: the 20-event channel low is exactly 19 steps back
    (once full), the close rides the channel top (pos == 1.0), and the
    warm-up rows use however many rows exist."""
    from pyspark.sql import functions as F  # noqa: F811

    from datafusion_gpu_spark.queries.pipeline import _DONCHIAN

    rows = [
        ("purchase", 1, i, f"2024-01-01 00:{i:02d}:00", float(i + 1))
        for i in range(30)
    ]
    spark.createDataFrame(
        rows,
        "event_type string, user_id long, event_id long, ts string, value double",
    ).withColumn("ts", F.to_timestamp("ts")).createOrReplaceTempView("events")
    try:
        got = {r.event_id: r for r in spark.sql(_DONCHIAN).collect()}
    finally:
        spark.catalog.dropTempView("events")
    for i in range(30):
        r = got[i]
        c = (i + 1) * 100
        lo = (max(0, i - 19) + 1) * 100
        assert (r.c, r.hi20, r.lo20) == (c, c, lo), i
        assert r.n_win == min(i + 1, 20), i
        if i >= 1:
            assert r.pos_in_channel == 1.0, i
        else:
            assert r.pos_in_channel is None  # one-row channel has no width


def test_its_segmented_planted_break_exact(spark):
    """Two planted linear regimes (one event per hour): OLS on each
    side recovers the exact slopes and the level jump at the cutpoint —
    the moment folds are exact integers, so equality is to the 6-dp
    terminal round, not a tolerance."""
    from pyspark.sql import functions as F  # noqa: F811

    from datafusion_gpu_spark.queries.pipeline import _ITS_SEGMENTED

    rows = []
    for t in range(48):
        cents = 1000 + 50 * t if t < 24 else 5000 + 120 * t
        day, hour = divmod(t, 24)
        rows.append(
            ("purchase", f"2024-01-{day + 1:02d} {hour:02d}:15:00", cents / 100.0)
        )
    spark.createDataFrame(
        rows, "event_type string, ts string, value double"
    ).withColumn("ts", F.to_timestamp("ts")).createOrReplaceTempView("events")
    try:
        [r] = spark.sql(_ITS_SEGMENTED).collect()
    finally:
        spark.catalog.dropTempView("events")
    assert (r.n_pre, r.n_post, r.t0) == (24, 24, 24)
    assert r.slope_pre == 0.5
    assert r.slope_post == 1.2
    assert r.slope_change == 0.7
    # level at t0=24: (5000 + 120*24) - (1000 + 50*24) = 5680 cents
    assert r.level_change_at_t0 == 56.8


def test_token_hhi_planted_exact(spark):
    """Counts a:3 b:2 c:2 d:1 -> N=8, V=4, sum cnt^2 = 18; HHI and the
    effective vocabulary follow exactly."""
    from datafusion_gpu_spark.queries.pipeline import _text_token_hhi

    # patch _docs in its defining module (pipeline_forecast post-split)
    from datafusion_gpu_spark.queries import pipeline_forecast as P
    from tests.conftest import SF_DIR

    docs = spark.createDataFrame(
        [(1, "A a b C"), (2, "b  \t d a c")], "doc_id long, text string"
    )
    orig = P._docs
    try:
        P._docs = lambda s, d: docs
        [r] = _text_token_hhi(spark, SF_DIR).collect()
    finally:
        P._docs = orig
    assert (r.n_tokens, r.vocab, r.max_cnt, r.hhi_num) == (8, 4, 3, 18)
    assert r.hhi == round(18 / 64, 9)
    assert r.effective_vocab == round(64 / 18, 4)


def test_tost_equivalence_planted_both_ways(spark):
    """Two groups with means 2 cents apart and tiny spread: TOST
    declares equivalence at the $0.50 margin; shift one group by $2 and
    it must refuse."""
    from datafusion_gpu_spark.queries.pipeline import _TOST

    base = [1000 + (i % 5) for i in range(200)]  # mean ~1002, sd ~1.4
    close = [(("click", v / 100.0)) for v in base] + [
        ("purchase", (v + 2) / 100.0) for v in base
    ]
    spark.createDataFrame(
        close, "event_type string, value double"
    ).createOrReplaceTempView("events")
    try:
        [r] = spark.sql(_TOST).collect()
    finally:
        spark.catalog.dropTempView("events")
    assert r.equivalent_05 is True and abs(r.mean_diff) == 0.02

    far = [("click", v / 100.0) for v in base] + [
        ("purchase", (v + 200) / 100.0) for v in base
    ]
    spark.createDataFrame(
        far, "event_type string, value double"
    ).createOrReplaceTempView("events")
    try:
        [r] = spark.sql(_TOST).collect()
    finally:
        spark.catalog.dropTempView("events")
    assert r.equivalent_05 is False


def test_sprt_planted_crossings(spark):
    """Wald SPRT closed forms: with the quantized constants
    (Aq = 287682072452, Bq = -60624621816, Uq = 2944438979166) an
    all-success stream needs ceil(Uq/Aq) = 11 successes to accept H1
    and an all-failure stream needs ceil(Uq/|Bq|) = 49 failures to
    accept H0 — at hourly granularity the decision lands on the first
    CLOSED hour whose cumulative count covers the crossing."""
    from datetime import datetime, timedelta

    from datafusion_gpu_spark.queries.pipeline_stats import _SPRT

    t0 = datetime(2024, 1, 1)

    def plant(counts_per_hour, etype):
        rows, eid = [], 0
        for h, cnt in enumerate(counts_per_hour):
            for i in range(cnt):
                rows.append(
                    (eid, t0 + timedelta(hours=h, minutes=i), eid, etype, 1.0, "")
                )
                eid += 1
        return spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, "
            "event_type string, value double, props string",
        )

    # all purchases, 5/hour: llr after hours = 5A, 10A, 15A; 10A < Uq <= 15A
    plant([5, 5, 5], "purchase").createOrReplaceTempView("events")
    got = {r.cn: r.decision for r in spark.sql(_SPRT).collect()}
    assert got == {5: "continue", 10: "continue", 15: "accept_h1"}

    # all views, 20/hour: |llr| after hours = 20|B|, 40|B|, 60|B|; 49 fails
    plant([20, 20, 20], "view").createOrReplaceTempView("events")
    got = {r.cn: r.decision for r in spark.sql(_SPRT).collect()}
    assert got == {20: "continue", 40: "continue", 60: "accept_h0"}


def test_sprt_decision_latches(spark):
    """Sequential means SEQUENTIAL: once H1 is accepted at the first
    upper crossing, a later lower crossing must not flip the decision."""
    from datetime import datetime, timedelta

    from datafusion_gpu_spark.queries.pipeline_stats import _SPRT

    t0 = datetime(2024, 1, 1)
    rows = []
    for i in range(15):  # hour 0: 15 purchases -> 15A >= Uq, accept_h1
        rows.append((i, t0 + timedelta(minutes=i), i, "purchase", 1.0, ""))
    for i in range(200):  # hour 1: 200 views -> llr <= -Uq by count 215
        rows.append(
            (100 + i, t0 + timedelta(hours=1, minutes=i % 60, seconds=i // 60),
             i, "view", 1.0, "")
        )
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string",
    ).createOrReplaceTempView("events")
    got = {r.cn: r.decision for r in spark.sql(_SPRT).collect()}
    assert got[15] == "accept_h1"
    assert got[215] == "accept_h1"  # latched, despite llr <= -Uq at 215


def test_forecast_backtest_planted_winners(spark):
    """Rolling-origin backtest closed forms: a pure hour-of-day pattern
    is forecast EXACTLY by additive Holt-Winters once the seasonal index
    converges (per-user rmse_hw == 0.0, winner 'hw'), and a pure linear
    ramp is forecast exactly by Holt's trend extrapolation (rmse_holt ==
    0.0, winner 'holt', naive trails by exactly the slope)."""
    from datetime import datetime, timedelta

    from datafusion_gpu_spark.queries.pipeline_forecast import _backtest_sql

    t0 = datetime(2024, 1, 1)
    rows = []
    pat = [50 + 15 * ((h % 24) % 8) for h in range(24)]
    for i in range(240):  # user 1: strong seasonality, zero noise
        ts = t0 + timedelta(hours=i)
        rows.append((i, ts, 1, "purchase", float(pat[ts.hour]), ""))
    for i in range(240):  # user 2: steep ramp, zero noise
        ts = t0 + timedelta(hours=i)
        rows.append((1000 + i, ts, 2, "purchase", 10.0 + 2.0 * i, ""))
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string",
    ).createOrReplaceTempView("events")
    got = {r.user_id: r for r in spark.sql(_backtest_sql()).collect()}
    assert got[1].n_folds == 4 and got[2].n_folds == 4
    assert got[1].rmse_hw == 0.0 and got[1].winner == "hw"
    assert got[1].rmse_naive > 30  # the pattern's step size dominates
    assert got[2].rmse_holt == 0.0 and got[2].winner == "holt"
    assert got[2].rmse_naive == 2.0  # exactly the hourly slope


def test_friedman_planted_and_degenerate(spark):
    """Friedman closed form: with a consistent treatment order across n
    complete blocks and no ties, R2_j = 2jn so Q = (k-1)*40n^2/(40n) =
    4n (k = 5); n = 4 blocks gives Q = 16 > 9.487729. All-tied blocks
    have zero rank variance and must emit NULL, not 0/0."""
    from datetime import datetime, timedelta

    from datafusion_gpu_spark.queries.pipeline_stats import _FRIEDMAN

    t0 = datetime(2024, 1, 1)
    types = ["view", "click", "signup", "error", "purchase"]

    def plant(value_fn):
        rows = []
        for u in range(4):
            for j, et in enumerate(types):
                rows.append(
                    (u * 10 + j, t0 + timedelta(minutes=j), u, et,
                     value_fn(u, j), "")
                )
        return spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, "
            "event_type string, value double, props string",
        )

    # consistent order: type j worth (j+1) dollars for every user
    plant(lambda u, j: float(j + 1)).createOrReplaceTempView("events")
    got = spark.sql(_FRIEDMAN).collect()[0]
    assert got.n == 4
    assert got.sn == 40 * 16 and got.sd == 40 * 4
    assert got.q_stat == 16.0 and got.reject_05 is True

    # all cells equal -> every r2 = 6, zero denominator -> NULL
    plant(lambda u, j: 7.0).createOrReplaceTempView("events")
    got = spark.sql(_FRIEDMAN).collect()[0]
    assert got.sd == 0 and got.q_stat is None and got.reject_05 is None


def test_mcnemar_planted(spark):
    """McNemar closed forms: 10 yes->no vs 0 no->yes discordant users
    give chi2 = 100/10 = 10 (reject); zero discordant pairs must emit
    NULL, not 0/0."""
    from datetime import datetime

    from datafusion_gpu_spark.queries.pipeline_stats import _MCNEMAR

    d1, d2 = datetime(2024, 1, 15, 12), datetime(2024, 1, 16, 12)

    def plant(n_b, n_c, n_both):
        rows, eid = [], 0
        uid = 0
        for _ in range(n_b):  # purchased day 1 only
            rows.append((eid, d1, uid, "purchase", 1.0, "")); eid += 1
            rows.append((eid, d2, uid, "view", 1.0, "")); eid += 1
            uid += 1
        for _ in range(n_c):  # purchased day 2 only
            rows.append((eid, d1, uid, "view", 1.0, "")); eid += 1
            rows.append((eid, d2, uid, "purchase", 1.0, "")); eid += 1
            uid += 1
        for _ in range(n_both):
            rows.append((eid, d1, uid, "purchase", 1.0, "")); eid += 1
            rows.append((eid, d2, uid, "purchase", 1.0, "")); eid += 1
            uid += 1
        return spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, "
            "event_type string, value double, props string",
        )

    plant(10, 0, 5).createOrReplaceTempView("events")
    got = spark.sql(_MCNEMAR).collect()[0]
    assert (got.b, got.c, got.both_halves) == (10, 0, 5)
    assert got.chi2_mcnemar == 10.0 and got.reject_05 is True

    plant(0, 0, 8).createOrReplaceTempView("events")
    got = spark.sql(_MCNEMAR).collect()[0]
    assert got.chi2_mcnemar is None and got.reject_05 is None


def test_cmh_planted(spark):
    """CMH closed forms: strata with within-stratum OR = 1 but very
    different margins give chi2 == 0 and OR_MH == 1 exactly (integer
    cancellation through the 1e-9 quantization); two strata of the
    9/1/1/9 table give the hand-computed chi-square and OR_MH = 81."""
    from datetime import datetime

    from datafusion_gpu_spark.queries.pipeline_stats import _CMH

    d_conv = datetime(2024, 1, 16, 12)

    def plant(strata_tables):
        # strata_tables: {stratum: (a, b, c, d)}; pick user ids so that
        # uid % 3 == stratum and uid % 2 == exposure x, with a
        # 'purchase' event on the conversion day iff outcome y = 1
        rows = []
        next_uid = {}
        for s, (a, b, c, d) in strata_tables.items():
            for x, y, cnt in ((1, 1, a), (1, 0, b), (0, 1, c), (0, 0, d)):
                for _ in range(cnt):
                    base = next_uid.get((s, x), 0)
                    uid = None
                    m = base
                    while True:
                        if m % 3 == s and m % 2 == x:
                            uid = m
                            break
                        m += 1
                    next_uid[(s, x)] = uid + 1
                    et = "purchase" if y else "view"
                    rows.append((len(rows), d_conv, uid, et, 1.0, ""))
        return spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, "
            "event_type string, value double, props string",
        )

    # OR = 1 in both strata, different margins -> no association
    plant({0: (5, 5, 5, 5), 1: (2, 8, 2, 8)}).createOrReplaceTempView("events")
    got = spark.sql(_CMH).collect()[0]
    assert got.n_strata == 2 and got.sa == 7
    assert got.chi2_cmh == 0.0 and got.reject_05 is False
    assert got.or_mh == 1.0

    # strong association, OR = 81 homogeneous across strata
    plant({0: (9, 1, 1, 9), 1: (9, 1, 1, 9)}).createOrReplaceTempView("events")
    got = spark.sql(_CMH).collect()[0]
    # hand fold: per stratum E = 5, V = 10^4/(400*19); R = 81/20, S = 1/20
    from decimal import ROUND_HALF_UP, Decimal

    def rhu(x):
        return int(Decimal(x).quantize(Decimal(1), rounding=ROUND_HALF_UP))

    eq = rhu(1e9 * (10.0 * 10 / 20.0))
    vq = rhu(1e9 * (10.0 * 10 * 10 * 10 / (20.0 * 20 * 19.0)))
    rq, sq = rhu(1e9 * (9.0 * 9 / 20.0)), rhu(1e9 * (1.0 * 1 / 20.0))
    e1, v = 2 * eq / 1e9, 2 * vq / 1e9
    chi2 = (18 - e1) * (18 - e1) / v
    assert got.sa == 18
    assert got.e_sum == round(e1, 6)
    assert got.chi2_cmh == round(chi2, 6)
    assert got.reject_05 is True
    assert got.or_mh == round((2 * rq) / (2 * sq), 6) == 81.0
    # RBG (1986) CI, replayed with the same quantized folds:
    # per stratum P = (a+d)/n = 0.9, Q = 0.1, R = 4.05, S = 0.05
    import math

    prq = rhu(1e9 * (0.9 * (9.0 * 9 / 20.0)))
    psqrq = rhu(1e9 * (0.9 * (1.0 * 1 / 20.0) + 0.1 * (9.0 * 9 / 20.0)))
    qsq = rhu(1e9 * (0.1 * (1.0 * 1 / 20.0)))
    srq, ssq = 2 * rq, 2 * sq
    var = (
        (2 * prq) / (2.0 * srq * (srq / 1e9))
        + (2 * psqrq) / (2.0 * srq * (ssq / 1e9))
        + (2 * qsq) / (2.0 * ssq * (ssq / 1e9))
    )
    lo = math.exp(math.log(srq / ssq) - 1.959964 * math.sqrt(var))
    hi = math.exp(math.log(srq / ssq) + 1.959964 * math.sqrt(var))
    assert got.or_ci_lo == round(lo, 6)
    assert got.or_ci_hi == round(hi, 6)
    assert got.or_ci_lo > 1.0  # the strong association excludes OR = 1


def test_cochran_q_planted_and_degenerate(spark):
    """Cochran's Q closed form: 6 users converting on day 1 only give
    Q = 2*(3*36 - 36)/(3*6 - 6) = 12 > 5.991465; users converting on
    ALL probe days have zero within-block variance -> NULL."""
    from datetime import datetime

    from datafusion_gpu_spark.queries.pipeline_stats import _COCHRAN_Q

    days = [datetime(2024, 1, 10, 9), datetime(2024, 1, 11, 9),
            datetime(2024, 1, 12, 9)]

    def plant(pattern_by_user):
        rows = []
        for uid, pat in enumerate(pattern_by_user):
            for j, y in enumerate(pat):
                et = "purchase" if y else "view"
                rows.append((len(rows), days[j], uid, et, 1.0, ""))
        return spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, "
            "event_type string, value double, props string",
        )

    plant([(1, 0, 0)] * 6).createOrReplaceTempView("events")
    got = spark.sql(_COCHRAN_Q).collect()[0]
    assert (got.c1, got.c2, got.c3, got.nt) == (6, 0, 0, 6)
    assert got.q_stat == 12.0 and got.reject_05 is True

    plant([(1, 1, 1)] * 5).createOrReplaceTempView("events")
    got = spark.sql(_COCHRAN_Q).collect()[0]
    assert got.q_stat is None and got.reject_05 is None


def test_kendall_tau_closed_forms_and_brute_force(spark):
    """Kendall tau-b closed forms: a strictly monotone hour/value plant
    gives tau_b == 1.0 exactly and reversed gives -1.0; a tie-heavy
    plant must match a brute-force itertools pair count replayed in
    Python (nc, nd, tie counts and tau_b digit-for-digit)."""
    import itertools
    import math
    from collections import Counter
    from datetime import datetime, timedelta

    from datafusion_gpu_spark.queries.pipeline_stats import _KENDALL_TAU

    t0 = datetime(2024, 1, 1)

    def plant(hv_pairs):
        rows = [
            (i, t0 + timedelta(hours=int(h), minutes=i % 60), i,
             "purchase", float(v) / 100.0, "")
            for i, (h, v) in enumerate(hv_pairs)
        ]
        return spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, "
            "event_type string, value double, props string",
        )

    plant([(h, 1000 + h) for h in range(6)]).createOrReplaceTempView("events")
    got = spark.sql(_KENDALL_TAU).collect()[0]
    assert (got.nc, got.nd) == (15, 0) and got.tau_b == 1.0

    plant([(h, 1000 - h) for h in range(6)]).createOrReplaceTempView("events")
    got = spark.sql(_KENDALL_TAU).collect()[0]
    assert (got.nc, got.nd) == (0, 15) and got.tau_b == -1.0

    # tie-heavy: few hours, repeated values — brute-force replication
    pairs = [(h % 3, 1000 + (i * 7) % 5 * 10) for i, h in enumerate(range(24))]
    plant(pairs).createOrReplaceTempView("events")
    got = spark.sql(_KENDALL_TAU).collect()[0]
    nc = nd = 0
    for (h1, v1), (h2, v2) in itertools.combinations(pairs, 2):
        if (h1 < h2 and v1 < v2) or (h1 > h2 and v1 > v2):
            nc += 1
        elif (h1 < h2 and v1 > v2) or (h1 > h2 and v1 < v2):
            nd += 1
    tx = sum(t * (t - 1) // 2 for t in Counter(h for h, _ in pairs).values())
    ty = sum(t * (t - 1) // 2 for t in Counter(v for _, v in pairs).values())
    n = len(pairs)
    n0 = n * (n - 1) // 2
    tau = (nc - nd) / math.sqrt((n0 - tx) * (n0 - ty))
    assert (got.n, got.nc, got.nd) == (n, nc, nd)
    assert (got.ties_x, got.ties_y) == (tx, ty)
    assert got.tau_b == round(tau, 6)


def test_breslow_day_planted(spark):
    """Breslow-Day closed forms: two strata with the SAME OR = 81 give
    chi2 == 0.0 exactly (psi = 81 exactly from the quantized MH folds;
    the quadratic's discriminant 81/16 has an exact binary sqrt, so
    A = 9 = a); two strata with ORs 81 and 1/81 give psi = 1 (the
    linear-limit branch) and chi2 = 2 * 16 * 0.8 = 25.6 exactly on
    1 df — reject."""
    from datetime import datetime

    from datafusion_gpu_spark.queries.pipeline_stats import _BRESLOW_DAY

    d_conv = datetime(2024, 1, 16, 12)

    def plant(strata_tables):
        rows, next_uid = [], {}
        for s, (a, b, c, d) in strata_tables.items():
            for x, y, cnt in ((1, 1, a), (1, 0, b), (0, 1, c), (0, 0, d)):
                for _ in range(cnt):
                    m = next_uid.get((s, x), 0)
                    while not (m % 3 == s and m % 2 == x):
                        m += 1
                    next_uid[(s, x)] = m + 1
                    et = "purchase" if y else "view"
                    rows.append((len(rows), d_conv, m, et, 1.0, ""))
        return spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, "
            "event_type string, value double, props string",
        )

    plant({0: (9, 1, 1, 9), 1: (9, 1, 1, 9)}).createOrReplaceTempView("events")
    got = spark.sql(_BRESLOW_DAY).collect()[0]
    assert (got.k_used, got.df) == (2, 1)
    assert got.chi2_bd == 0.0 and got.reject_05 is False
    assert got.chi2_tarone == 0.0  # a == A exactly -> zero correction

    plant({0: (9, 1, 1, 9), 1: (1, 9, 9, 1)}).createOrReplaceTempView("events")
    got = spark.sql(_BRESLOW_DAY).collect()[0]
    # psi = (81/20 + 1/20) / (1/20 + 81/20) = 1 -> linear branch, A = 5;
    # per stratum (9-5)^2 * (4/5) = 12.8 -> chi2 = 25.6 on 1 df
    assert got.chi2_bd == 25.6 and got.reject_05 is True
    # Tarone correction: sum(a - A) = (9-5) + (1-5) = 0 -> correction 0
    assert got.chi2_tarone == 25.6


def test_group_sequential_planted(spark):
    """O'Brien-Fleming closed forms: a stream at EXACTLY p0 = 0.18
    (9 purchases per 50 events each hour) gives z == 0.0 at every look
    and accept_h0 at the fixed horizon; an all-purchase stream crosses
    at look 1 (z = 82*sqrt(cn)/sqrt(1476) >> the 4.56 early boundary)
    and the rejection latches; boundaries decrease to 2.040407."""
    from datetime import datetime, timedelta

    from datafusion_gpu_spark.queries.pipeline_stats import _GROUP_SEQ

    t0 = datetime(2024, 1, 1)

    def plant(purchases_per_hour, views_per_hour, hours):
        rows, eid = [], 0
        for h in range(hours):
            for i in range(purchases_per_hour):
                rows.append((eid, t0 + timedelta(hours=h, minutes=i), eid,
                             "purchase", 1.0, "")); eid += 1
            for i in range(views_per_hour):
                rows.append((eid, t0 + timedelta(hours=h, minutes=10 + i), eid,
                             "view", 1.0, "")); eid += 1
        return spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, "
            "event_type string, value double, props string",
        )

    plant(9, 41, 5).createOrReplaceTempView("events")  # exactly 18%
    got = {r.look: r for r in spark.sql(_GROUP_SEQ).collect()}
    assert len(got) == 5
    for k in range(1, 6):
        assert got[k].z == 0.0
    assert [got[k].decision for k in range(1, 6)] == [
        "continue", "continue", "continue", "continue", "accept_h0"
    ]
    bounds = [got[k].boundary for k in range(1, 6)]
    assert bounds == sorted(bounds, reverse=True)
    assert bounds[4] == 2.040407

    plant(20, 0, 5).createOrReplaceTempView("events")  # all purchases
    got = {r.look: r for r in spark.sql(_GROUP_SEQ).collect()}
    assert all(got[k].decision == "reject_h0" for k in range(1, 6))
    assert got[1].n_at_look == 20  # look 1 at exactly 20% of 100


def test_forecast_backtest_out_of_domain_value_fails_loudly(spark):
    """The Holt kernel's documented input domain is ~$84k at span=20
    (num2 <= den2 * max_cents inside int64 — operators/events.py); a
    $40M value must FAIL LOUDLY (ANSI long-overflow) in the kernel
    fold, never silently wrap into a wrong forecast. (The scoring
    tail's own n*max_err^2 guard therefore trips only in the large-n
    regime — and its all-or-nothing spelling NULLs a user whose ANY
    fold is guarded, because a SUM-skips-NULL mean would divide the
    surviving folds by the full fold count.)"""
    from datetime import datetime, timedelta

    import pytest
    from py4j.protocol import Py4JJavaError

    from datafusion_gpu_spark.queries.pipeline_forecast import _backtest_sql

    t0 = datetime(2024, 1, 1)
    rows = []
    for i in range(240):
        v = 4.0e7 if i == 150 else 10.0 + 2.0 * i
        rows.append((i, t0 + timedelta(hours=i), 2, "purchase", v, ""))
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string",
    ).createOrReplaceTempView("events")
    with pytest.raises((Py4JJavaError, Exception), match="(?i)overflow"):
        spark.sql(_backtest_sql()).collect()


def test_group_sequential_pocock_early_stop_tradeoff(spark):
    """The alpha-spending contrast made visible (VERDICT r12 ask #4):
    plant 5 hours of 1000 events with hour 1 at 216 purchases
    (z1 = (21600-18000)/sqrt(1476000) = 2.963) and hours 2-5 at exactly
    p0 = 0.18 (180/1000, so the cumulative z decays: 2.10, 1.71, 1.48,
    1.33). Pocock's constant 2.413 boundary REJECTS at look 1 and
    latches; O'Brien-Fleming's look-1 boundary 4.5625 HOLDS and the
    fixed horizon accepts H0 — the early-vs-late spending trade-off in
    one relation. Both gates share _GS_FOLD verbatim."""
    from datetime import datetime, timedelta

    from datafusion_gpu_spark.queries.pipeline_stats import (
        _GROUP_SEQ,
        _GROUP_SEQ_POCOCK,
        _GS_FOLD,
    )

    assert _GROUP_SEQ.startswith(_GS_FOLD)
    assert _GROUP_SEQ_POCOCK.startswith(_GS_FOLD)

    t0 = datetime(2024, 1, 1)
    rows, eid = [], 0
    for h in range(5):
        n_purch = 216 if h == 0 else 180
        for i in range(1000):
            et = "purchase" if i < n_purch else "view"
            rows.append(
                (eid, t0 + timedelta(hours=h, seconds=i), eid, et, 1.0, "")
            )
            eid += 1
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string",
    ).createOrReplaceTempView("events")

    got = {r.look: r for r in spark.sql(_GROUP_SEQ_POCOCK).collect()}
    assert len(got) == 5
    assert got[1].n_at_look == 1000 and got[1].d_at_look == 216
    assert abs(got[1].z - 2.963188) < 1e-6
    assert got[1].boundary_pocock == 2.413
    assert abs(got[1].boundary_obf - 4.562489) < 1e-6
    # Pocock crosses at look 1 and LATCHES; OBF never crosses
    assert [got[k].decision_pocock for k in range(1, 6)] == ["reject_h0"] * 5
    assert [got[k].decision_obf for k in range(1, 6)] == [
        "continue", "continue", "continue", "continue", "accept_h0"
    ]
    # z decays toward p0 but stays above 0; OBF's final bound 2.0404
    # exceeds z5 = 1.33 while Pocock's flat 2.413 already spent its alpha
    zs = [got[k].z for k in range(1, 6)]
    assert zs == sorted(zs, reverse=True)
    assert zs[4] > 0
    # the OBF gate on the same plant agrees with the shared-fold contract
    obf = {r.look: r for r in spark.sql(_GROUP_SEQ).collect()}
    for k in range(1, 6):
        assert obf[k].z == got[k].z
        assert obf[k].decision == got[k].decision_obf


def _phi_upper_2sided(z):
    """Zelen & Severo 26.2.17 two-sided p, the _BH_FDR spelling."""
    import math

    a = abs(z)
    t = 1.0 / (1.0 + 0.2316419 * a)
    pdf = math.exp(-(a * a) / 2.0) / 2.5066282746310002
    poly = ((((1.330274429 * t - 1.821255978) * t + 1.781477937) * t
             - 0.356563782) * t + 0.319381530) * t
    return min(1.0, 2.0 * (pdf * poly))


def test_bh_fdr_phi_approximation_anchors():
    # the portable normal-tail approximation must hit the standard
    # anchors within its documented 7.5e-8 error: p(1.959964) ~ 0.05,
    # p(2.575829) ~ 0.01, p(0) == 1
    assert abs(_phi_upper_2sided(1.959964) - 0.05) < 1e-6
    assert abs(_phi_upper_2sided(2.575829) - 0.01) < 1e-6
    # at z = 0 the rational polynomial is 7.5e-8-accurate, not exact
    assert abs(_phi_upper_2sided(0.0) - 1.0) < 1e-7


def test_bh_fdr_step_up_planted(spark):
    """BH semantics on a planted battery, including the monotone
    envelope: category 'c' sits ABOVE its own threshold but is rejected
    because category 'd' at a later rank crosses ITS threshold — the
    defining difference between BH step-up and naive per-rank cuts."""
    from datetime import datetime, timedelta

    from datafusion_gpu_spark.queries.pipeline_stats import _BH_FDR

    t0 = datetime(2024, 1, 1)
    rows, eid = [], 0
    # (type, n, x): x of n events in hours 0-11
    plant = [
        ("a", 400, 200),   # z = 0, p = 1                -> never rejected
        ("b", 400, 210),   # z = 1, p ~ 0.317            -> not rejected
        ("c", 400, 231),   # z = 3.1, p ~ 1.9e-3
        ("d", 400, 236),   # z = 3.6, p ~ 3.2e-4
        ("e", 400, 260),   # z = 6, p ~ 2e-9             -> smallest p
    ]
    for et, n, x in plant:
        for i in range(n):
            hr = 3 if i < x else 15
            rows.append(
                (eid, t0 + timedelta(days=i // 4, hours=hr, seconds=eid % 60),
                 eid, et, 1.0, "")
            )
            eid += 1
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string",
    ).createOrReplaceTempView("events")
    got = {r.event_type: r for r in spark.sql(_BH_FDR).collect()}
    assert len(got) == 5 and got["e"].p_rank == 1
    # replay: p-values via the same approximation, BH at q=0.05 over m=5
    import math

    ps = sorted(
        (_phi_upper_2sided((2 * x - n) / math.sqrt(n)), et)
        for et, n, x in plant
    )
    k_max = max(
        (i + 1 for i, (p, _) in enumerate(ps) if p <= 0.05 * (i + 1) / 5),
        default=None,
    )
    for i, (p, et) in enumerate(ps):
        assert got[et].p_value == round(p, 6)
        assert got[et].p_rank == i + 1
        assert got[et].rejected is (k_max is not None and i + 1 <= k_max)
    # the battery rejects exactly {c, d, e}
    assert {et for et in got if got[et].rejected} == {"c", "d", "e"}
    assert got["a"].rejected is False and got["b"].rejected is False


def test_rate_ratio_exposure_matters(spark):
    """The reason the rate test exists: cohort 1 has MORE purchases
    only because it is observed twice as long — per-exposure rates are
    equal, so the conditional-binomial z must be ~0 under the
    exposure-share null (while a naive proportion-of-counts test
    would reject). Hand-checked: k1=200, e1=2000h, k0=100, e0=1000h
    -> p0 = 2/3, E[k1] = 300 * 2/3 = 200 -> z = 0 exactly."""
    from datetime import datetime, timedelta

    from datafusion_gpu_spark.queries.pipeline_stats import _RATE_RATIO_SPARK

    t0 = datetime(2024, 1, 1)
    rows, eid = [], 0
    # cohort 1 (odd users): 10 users, ~200h span each, 20 purchases each
    # cohort 0 (even users): 10 users, ~100h span each, 10 purchases each
    for u in range(20):
        odd = u % 2 == 1
        span_h, k = (200, 20) if odd else (100, 10)
        for i in range(k):
            rows.append(
                (eid, t0 + timedelta(hours=(span_h - 1) * i / max(k - 1, 1)),
                 u, "purchase", 1.0, "")
            )
            eid += 1
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string",
    ).createOrReplaceTempView("events")
    got = spark.sql(_RATE_RATIO_SPARK).collect()[0]
    assert (got.k1, got.k0) == (200, 100)
    assert (got.exposure_h_1, got.exposure_h_0) == (2000, 1000)
    assert got.rate_ratio == 1.0
    assert got.z_rate == 0.0 and got.reject_05 is False


def test_rate_ratio_small_k_guard(spark):
    """Below the k*p0 >= 10 normal-approximation floor the test must
    report NULL, not an untrustworthy z."""
    from datetime import datetime, timedelta

    from datafusion_gpu_spark.queries.pipeline_stats import _RATE_RATIO_SPARK

    t0 = datetime(2024, 1, 1)
    rows = [
        (0, t0, 0, "purchase", 1.0, ""),
        (1, t0 + timedelta(hours=99), 0, "purchase", 1.0, ""),
        (2, t0, 1, "purchase", 1.0, ""),
        (3, t0 + timedelta(hours=99), 1, "purchase", 1.0, ""),
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string",
    ).createOrReplaceTempView("events")
    got = spark.sql(_RATE_RATIO_SPARK).collect()[0]
    assert got.z_rate is None and got.reject_05 is None
    assert got.rate_ratio == 1.0  # the point estimate still reports


def test_eb_shrinkage_small_n_loses_to_evidence(spark):
    """The motivating example: a 2-of-2 user's raw rate (1.0) beats a
    180-of-400 user (0.45), but after beta-binomial shrinkage the
    heavy-evidence user must rank higher; moments replayed on the same
    1e-4 grid."""
    from datetime import datetime, timedelta
    from decimal import ROUND_HALF_UP, Decimal

    from datafusion_gpu_spark.queries.pipeline_stats import _EB_SHRINK

    def rhu(x):
        return int(Decimal(x).quantize(Decimal(1), rounding=ROUND_HALF_UP))

    t0 = datetime(2024, 1, 1)
    rows, eid = [], 0
    # population: 30 users with 100 events each, purchase counts spread
    # 5..34 (rates 0.05..0.34); user 100: 2/2; user 101: 180/400
    plant = [(u, 100, 5 + u) for u in range(30)] + [(100, 2, 2), (101, 400, 180)]
    for u, n, x in plant:
        for i in range(n):
            et = "purchase" if i < x else "view"
            rows.append((eid, t0 + timedelta(minutes=i), u, et, 1.0, ""))
            eid += 1
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string",
    ).createOrReplaceTempView("events")
    got = {r.user_id: r for r in spark.sql(_EB_SHRINK).collect()}
    assert 100 in got and 101 in got
    assert got[100].raw_rate == 1.0 and got[101].raw_rate == 0.45
    assert got[101].shrunk_rate > got[100].shrunk_rate
    # replay the moment fit on the 1e-4 grid
    r4 = [rhu(1e4 * (x / n)) for _, n, x in plant]
    m, sr, sr2 = len(r4), sum(r4), sum(v * v for v in r4)
    pbar = sr / (1e4 * m)
    s2 = (sr2 / 1e8 - (sr / 1e4) * (sr / 1e4) / m) / (m - 1)
    M = pbar * (1.0 - pbar) / s2 - 1.0
    alpha, beta = pbar * M, (1.0 - pbar) * M
    assert got[100].alpha == round(alpha, 6)
    assert got[100].shrunk_rate == round((2 + alpha) / (2 + alpha + beta), 6)
    assert got[101].shrunk_rate == round(
        (180 + alpha) / (400 + alpha + beta), 6
    )


def test_eb_shrinkage_degenerate_dispersion(spark):
    """All users at the identical rate: s^2 = 0 -> no finite prior;
    shrunk rates and alpha/beta must surface NULL, never divide by
    zero."""
    from datetime import datetime, timedelta

    from datafusion_gpu_spark.queries.pipeline_stats import _EB_SHRINK

    t0 = datetime(2024, 1, 1)
    rows, eid = [], 0
    for u in range(10):
        for i in range(10):
            et = "purchase" if i < 5 else "view"
            rows.append((eid, t0 + timedelta(minutes=i), u, et, 1.0, ""))
            eid += 1
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string",
    ).createOrReplaceTempView("events")
    for r in spark.sql(_EB_SHRINK).collect():
        assert r.raw_rate == 0.5
        assert r.shrunk_rate is None and r.alpha is None


def test_cuped_variance_reduction_planted(spark):
    """CUPED on a plant where post = pre + small idiosyncrasy + a true
    cohort effect: theta ~ 1, the realized variance reduction is large
    (rho^2-sized), and the adjusted z DETECTS the effect the raw Welch
    z also sees but with a far larger |z| — replayed exactly, cent
    quantization included."""
    import math
    from datetime import datetime, timedelta
    from decimal import ROUND_HALF_UP, Decimal

    from datafusion_gpu_spark.queries.pipeline_stats import _CUPED_SPARK

    def rhu(x):
        return int(Decimal(x).quantize(Decimal(1), rounding=ROUND_HALF_UP))

    t0 = datetime(2024, 1, 1)
    rows, eid = [], 0
    users = []
    for u in range(200):
        g = u % 2
        x = 1000 + 137 * (u % 50)          # pre-period cents
        y = x + 200 * (u % 7) + (500 if g == 1 else 0)  # post + effect
        users.append((g, x, y))
        rows.append((eid, t0 + timedelta(hours=1), u, "purchase", x / 100.0, ""))
        eid += 1
        rows.append(
            (eid, t0 + timedelta(days=10), u, "purchase", y / 100.0, "")
        )
        eid += 1
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string",
    ).createOrReplaceTempView("events")
    got = spark.sql(_CUPED_SPARK).collect()[0]

    n = len(users)
    sx = sum(x for _, x, _ in users)
    sy = sum(y for _, _, y in users)
    sxy = sum(x * y for _, x, y in users)
    sxx = sum(x * x for _, x, _ in users)
    xbar = sx / n
    theta = (sxy - sx * sy / n) / (sxx - sx * sx / n)
    assert got.theta == round(theta, 6)

    def coh(g, vals):
        v = [val for gg, val in vals if gg == g]
        m = sum(v) / len(v)
        var = (sum(x * x for x in v) - sum(v) ** 2 / len(v)) / (len(v) - 1)
        return len(v), m, var

    raw = [(g, y) for g, _, y in users]
    adj = [(g, rhu(y - theta * (x - xbar))) for g, x, y in users]
    n1, my1, vy1 = coh(1, raw)
    n0, my0, vy0 = coh(0, raw)
    _, ma1, va1 = coh(1, adj)
    _, ma0, va0 = coh(0, adj)
    assert got.diff_unadj == round((my1 - my0) / 100.0, 6)
    assert got.z_unadj == round((my1 - my0) / math.sqrt(vy1 / n1 + vy0 / n0), 6)
    assert got.diff_cuped == round((ma1 - ma0) / 100.0, 6)
    assert got.z_cuped == round((ma1 - ma0) / math.sqrt(va1 / n1 + va0 / n0), 6)
    assert got.var_reduction == round(1.0 - (va1 + va0) / (vy1 + vy0), 6)
    # the plant's point, twice over: (1) pre explains most post
    # variance, so the adjusted test is far sharper; (2) the parity
    # cohorts are PRE-IMBALANCED (u%2 interacts with the u%50 spend
    # pattern), so the raw difference ($6.41) overstates the true $5
    # effect while CUPED recovers it — covariate adjustment corrects
    # pre-existing imbalance as well as shrinking variance
    assert got.var_reduction > 0.9
    assert abs(got.z_cuped) > 2 * abs(got.z_unadj)
    assert abs(got.diff_cuped - 5.0) < 0.1
    assert got.diff_unadj > 6.0


def test_cuped_degenerate_pre_period(spark):
    """Constant pre-period spend: var(X) = 0 -> theta = 0 by the guard
    and the adjusted metric equals the raw metric exactly (variance
    reduction 0)."""
    from datetime import datetime, timedelta

    from datafusion_gpu_spark.queries.pipeline_stats import _CUPED_SPARK

    t0 = datetime(2024, 1, 1)
    rows, eid = [], 0
    for u in range(40):
        rows.append((eid, t0 + timedelta(hours=1), u, "purchase", 10.0, ""))
        eid += 1
        rows.append(
            (eid, t0 + timedelta(days=10), u, "purchase",
             20.0 + (u % 5), "")
        )
        eid += 1
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string",
    ).createOrReplaceTempView("events")
    got = spark.sql(_CUPED_SPARK).collect()[0]
    assert got.theta == 0.0
    assert got.diff_cuped == got.diff_unadj
    assert got.z_cuped == got.z_unadj
    assert got.var_reduction == 0.0


def test_hurst_rs_regimes(spark):
    """Directional contract across the three canonical regimes, using
    planted hourly series: a strongly TRENDING series (cumulative
    positive drift) gives H near 1; a strictly ALTERNATING series
    (maximal mean reversion) gives H near 0; an iid-like scrambled
    series sits near the random-walk 0.5 (small-sample R/S bias keeps
    it in [0.4, 0.75])."""
    from datetime import datetime, timedelta

    from datafusion_gpu_spark.queries.pipeline_forecast import _HURST_SPARK

    t0 = datetime(2024, 1, 1)

    def plant(vals):
        rows = []
        for h, v in enumerate(vals):
            rows.append((h, t0 + timedelta(hours=h), h, "purchase",
                         v / 100.0, ""))
        spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, "
            "event_type string, value double, props string",
        ).createOrReplaceTempView("events")
        out = spark.sql(_HURST_SPARK).collect()
        assert len(out) == 3
        assert [r.block_size for r in out] == [16, 64, 256]
        return out[0]

    trend = plant([1000 + 50 * h + (h % 3) for h in range(512)])
    assert trend.hurst > 0.85

    alt = plant([1000 if h % 2 else 2000 for h in range(512)])
    assert alt.hurst < 0.15

    import hashlib

    iid = plant([
        1000 + int(hashlib.md5(str(h).encode()).hexdigest()[:4], 16)
        for h in range(512)
    ])
    assert 0.4 < iid.hurst < 0.75


def test_hurst_rs_block_replay(spark):
    """One 16-block replayed exactly: K*D_i = K*P_i - i*SumV integer
    cumulative deviations, population sd, 1e-9-quantized block mean."""
    import math
    from datetime import datetime, timedelta
    from decimal import ROUND_HALF_UP, Decimal

    from datafusion_gpu_spark.queries.pipeline_forecast import _HURST_SPARK

    def rhu(x):
        return int(Decimal(x).quantize(Decimal(1), rounding=ROUND_HALF_UP))

    t0 = datetime(2024, 1, 1)
    vals = [1000 + (h * 37) % 211 for h in range(32)]  # exactly two 16-blocks
    rows = [
        (h, t0 + timedelta(hours=h), h, "purchase", v / 100.0, "")
        for h, v in enumerate(vals)
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string",
    ).createOrReplaceTempView("events")
    got = {r.block_size: r for r in spark.sql(_HURST_SPARK).collect()}
    srsq = 0
    for b in range(2):
        block = vals[16 * b : 16 * (b + 1)]
        sv, svv, k = sum(block), sum(v * v for v in block), 16
        p = 0
        kds = []
        for i, v in enumerate(block, start=1):
            p += v
            kds.append(k * p - i * sv)
        rk = max(kds) - min(kds)
        var = svv / k - (sv / k) * (sv / k)
        srsq += rhu(1e9 * ((rk / k) / math.sqrt(var)))
    assert got[16].n_blocks == 2
    assert got[16].mean_rs == round(srsq / 1e9 / 2, 6)
    # 64/256 blocks don't fit in 32 hours: absent from rs -> no rows
    assert 64 not in got and 256 not in got


def test_cv_auc_perfect_separation_and_replay(spark):
    """Perfect score separation gives every fold AUC exactly 1 (mean 1,
    sd exactly 0); a mixed plant is replayed per fold with the md5
    fold assignment and the tie-averaged rank identity."""
    import hashlib
    from datetime import datetime, timedelta

    from datafusion_gpu_spark.queries.pipeline_eval import _CV_AUC_SPARK

    t0 = datetime(2024, 1, 1)

    def fold_of(eid):
        h = hashlib.md5(f"cv-v1:{eid}".encode()).hexdigest()[:15]
        return int(h, 16) % 5

    rows = []
    for eid in range(400):
        pos = eid % 2
        val = (100 + (eid % 7)) if pos else (10 + (eid % 7))
        rows.append((eid, t0 + timedelta(minutes=eid), eid,
                     "purchase" if pos else "click", val / 100.0, ""))
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string",
    ).createOrReplaceTempView("events")
    out = spark.sql(_CV_AUC_SPARK).collect()
    assert len(out) == 5
    assert all(r.auc == 1.0 for r in out)
    assert out[0].cv_mean_auc == 1.0 and out[0].cv_sd_auc == 0.0

    # mixed plant: replay each fold's tie-averaged rank-sum AUC
    rows = []
    for eid in range(600):
        pos = eid % 3 == 0
        val = (eid * 17) % 50 + (25 if pos else 0)  # overlapping scores
        rows.append((eid, t0 + timedelta(minutes=eid), eid,
                     "purchase" if pos else "click", val / 100.0, ""))
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string",
    ).createOrReplaceTempView("events")
    out = {r.fold: r for r in spark.sql(_CV_AUC_SPARK).collect()}
    for f in range(5):
        ev = [
            ((eid * 17) % 50 + (25 if eid % 3 == 0 else 0), eid % 3 == 0)
            for eid in range(600)
            if fold_of(eid) == f
        ]
        pos_scores = sorted(s for s, p in ev if p)
        neg_scores = sorted(s for s, p in ev if not p)
        u = 0.0
        for p in pos_scores:
            for ng in neg_scores:
                u += 1.0 if p > ng else (0.5 if p == ng else 0.0)
        auc = u / (len(pos_scores) * len(neg_scores))
        assert out[f].auc == round(auc, 6), (f, out[f].auc, auc)


def test_jackknife_ratio_replay_and_homogeneous_zero(spark):
    """LOO jackknife replayed exactly (1e-9 relative-deviation
    quantization included) on a heterogeneous plant; identical users
    make every LOO ratio equal the full ratio -> SE exactly 0."""
    import math
    from datetime import datetime, timedelta
    from decimal import ROUND_HALF_UP, Decimal

    from datafusion_gpu_spark.queries.pipeline_stats import _JACKKNIFE

    def rhu(x):
        return int(Decimal(x).quantize(Decimal(1), rounding=ROUND_HALF_UP))

    t0 = datetime(2024, 1, 1)

    def plant(users):
        rows, eid = [], 0
        for u, (y_cents, n_ev) in enumerate(users):
            per = y_cents // n_ev
            rem = y_cents - per * (n_ev - 1)
            for i in range(n_ev):
                cents = rem if i == n_ev - 1 else per
                rows.append((eid, t0 + timedelta(minutes=eid), u,
                             "purchase", cents / 100.0, ""))
                eid += 1
        spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, "
            "event_type string, value double, props string",
        ).createOrReplaceTempView("events")
        return spark.sql(_JACKKNIFE).collect()[0]

    users = [(1000 + 317 * (u % 13), 1 + u % 9) for u in range(60)]
    got = plant(users)
    sy = sum(y for y, _ in users)
    sn = sum(n for _, n in users)
    theta = sy / sn
    rqs = [
        rhu(1e9 * (((sy - y) / (sn - n)) / theta - 1.0)) for y, n in users
    ]
    m = len(users)
    srq, srq2 = sum(rqs), sum(q * q for q in rqs)
    se = (theta / 100.0) * math.sqrt(
        (m - 1) / m * (srq2 / 1e18 - (srq / 1e9) ** 2 / m)
    )
    assert got.n_users == m
    assert got.revenue_per_event == round(theta / 100.0, 6)
    assert got.se_jackknife == round(se, 6)
    assert got.ci_lo == round(theta / 100.0 - 1.959964 * se, 6)
    assert got.ci_hi == round(theta / 100.0 + 1.959964 * se, 6)
    assert got.se_jackknife > 0

    same = plant([(2400, 4)] * 30)
    assert same.se_jackknife == 0.0
    assert same.ci_lo == same.revenue_per_event == same.ci_hi == 6.0


def test_cumsum_auto_handles_belong_to_their_session(spark):
    # the relations cumsum_auto keeps persisted are per session: another
    # session's calls cannot evict them, and clearing that session
    # unpersists its own
    from datafusion_gpu_spark.context import (
        _COUNTED_KEEP,
        clear_scan_cache,
        session_state,
    )
    from datafusion_gpu_spark.operators.stats import cumsum_auto

    schema = "c long, x long"
    cumsum_auto(spark.createDataFrame([(v, 1) for v in range(20)], schema), "c", ("x",))
    held = session_state(spark).counted[-1]
    other = spark.newSession()
    try:
        for _ in range(_COUNTED_KEEP + 1):
            theirs = other.createDataFrame([(v, 1) for v in range(20)], schema)
            cumsum_auto(theirs, "c", ("x",))
        counted = list(session_state(other).counted)
        assert len(counted) == _COUNTED_KEEP
        assert held.is_cached and any(df is held for df in session_state(spark).counted)
    finally:
        clear_scan_cache(other)
    assert not any(df.is_cached for df in counted)
