"""Distributed statistical-test kernels: the two-level bucketed-cumsum
spelling of the distinct-value cumulative window.

The round-8 statistical family (``agg_mann_whitney``, ``events_ks_test``
in queries/pipeline.py) runs its rank/ECDF cumulatives as ONE ordered
window over the DISTINCT-VALUE relation — bounded by the value domain,
not the row count, so a single-partition window is fine up to a few
million distinct values. This module is the documented fallback for when
the domain outgrows that (SCALE.md "two-level spelling"): split the
ordered cumulative sum into

  level 1: per-bucket partial cumsums — ``Window.partitionBy(bucket)
           .orderBy(value)`` runs every bucket in parallel;
  level 2: per-bucket totals (a tiny ``n_buckets``-row relation), an
           exclusive cumsum over THAT, broadcast back as bucket offsets.

Buckets are fixed-width ranges of the (integer) value domain computed
from one min/max aggregate, so bucket order == value order and the
recombination ``cum = partial + offset`` is exactly the global cumsum.
All summed columns are exact bigints, addition is associative, so the
two spellings are bit-identical — asserted by tests/test_stats.py parity
tests and the A/B probe in tools/stats_window_probe.py.

Reference parity: the reference engine (datafusion-gpu) exposes no
statistical tests; this family is part of the training-data-pipeline
surface (drift gates between corpus snapshots). Formulas are the
textbook ones (Mann & Whitney 1947; Kolmogorov 1933/Smirnov 1939).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: Runtime routing threshold for :func:`cumsum_auto`. Measured
#: (tools/stats_window_probe.py, local[32], wide-domain worst case —
#: every distinct value survives to the window): the two-level spelling
#: won at EVERY probed size (100k: 1.6s vs 5.4s; 500k: 1.3 vs 2.2;
#: 1M: 1.5 vs 2.5; 3M: 1.7 vs 4.0; 10M: 2.6 vs 9.3), so the "crossover"
#: is below the smallest probe and this constant just bounds where the
#: single window is KNOWN harmless: below ~64k distinct values the gap
#: is well under a second and the single window skips one min/max
#: aggregate + one extra shuffle of a tiny relation.
CUMSUM_ROUTE_THRESHOLD = 65_536


def bucketed_cumsum(
    distinct_values: DataFrame,
    value_col: str,
    sum_cols: tuple[str, ...],
    n_buckets: int = 1024,
) -> DataFrame:
    """Inclusive cumulative sums of ``sum_cols`` ordered by ``value_col``
    over a DISTINCT-VALUE relation, without a single global window.

    ``value_col`` must be integer-typed and unique per row (the
    value-level aggregate guarantees both); any bigint domain is safe,
    including raw xxhash64 values spanning the full signed range.
    Output adds ``cum_<c>`` per summed column; input columns pass
    through.

    Scale shape: one broadcast-scalar min/max, one window per bucket
    (parallel across ``n_buckets`` range buckets), one ``n_buckets``-row
    window, one broadcast join. No stage touches more than
    ``|distinct values| / n_buckets`` rows in a single ordered task.
    """
    rng = distinct_values.agg(
        F.min(value_col).cast("long").alias("__lo"),
        F.max(value_col).cast("long").alias("__hi"),
    )
    # Fixed-width range buckets over the QUARTERED domain: every operand
    # is first `div 4`-ed so no intermediate ever leaves int64 even when
    # hi - lo itself would wrap (full-span domains like raw xxhash64):
    # the shifted offset (v/4 - lo/4) tops out at 2^62 - 1 and the width
    # (span/4) div n + 1 at 2^62 even for n_buckets=1. `div` truncates
    # toward zero, which is still monotone nondecreasing in v, so
    # quartering preserves value order; bucket assignment only needs
    # order-preservation, never exact widths. Exact integer arithmetic
    # throughout (a double division would lose exactness past 2^53).
    bucketed = (
        distinct_values.join(F.broadcast(rng))
        .withColumn(
            "__bucket",
            F.expr(
                f"((CAST(`{value_col}` AS BIGINT) div 4) - (__lo div 4))"
                f" div (((__hi div 4) - (__lo div 4)) div {n_buckets} + 1)"
            ),
        )
        .drop("__lo", "__hi")
    )
    w_in = (
        Window.partitionBy("__bucket")
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    partial = bucketed.select(
        "*", *[F.sum(c).over(w_in).alias(f"__part_{c}") for c in sum_cols]
    )
    totals = bucketed.groupBy("__bucket").agg(
        *[F.sum(c).alias(f"__tot_{c}") for c in sum_cols]
    )
    # exclusive cumsum over the tiny bucket relation: offset for bucket k
    # is the sum of totals of buckets < k
    w_off = (
        Window.orderBy("__bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        "__bucket",
        *[
            F.coalesce(F.sum(f"__tot_{c}").over(w_off), F.lit(0)).alias(f"__off_{c}")
            for c in sum_cols
        ],
    )
    out = partial.join(F.broadcast(offsets), "__bucket")
    for c in sum_cols:
        out = out.withColumn(f"cum_{c}", F.col(f"__part_{c}") + F.col(f"__off_{c}"))
    return out.drop(
        "__bucket", *[f"__part_{c}" for c in sum_cols], *[f"__off_{c}" for c in sum_cols]
    )


def cumsum_auto(
    distinct_values: DataFrame,
    value_col: str,
    sum_cols: tuple[str, ...],
    n_buckets: int = 1024,
    threshold: int | None = None,
) -> DataFrame:
    """Runtime-routed distinct-value cumulative sum. NOTE: plan
    construction is EAGER here — the relation is counted at call time
    to pick the spelling, so building a caller's plan executes the
    upstream value-level aggregation once. To make that single
    execution also serve the downstream read (rather than assuming
    Spark shuffle reuse), the input is persisted (MEMORY_AND_DISK)
    before the count and released on a bounded per-session FIFO
    (``context.persist_counted``): the count
    materializes the blocks, the cumsum consumes them, and upstream
    work runs ONCE per invocation by construction.

    Routing: at or below ``threshold`` (default
    :data:`CUMSUM_ROUTE_THRESHOLD`) distinct values, one global ordered
    window — fine for a bounded domain like cent values, and skips the
    min/max + offset machinery. Above it, :func:`bucketed_cumsum` —
    no single task ever orders more than ``n / n_buckets`` rows. The
    two spellings are bit-identical on exact-integer inputs, so
    routing is purely a physical-plan decision."""
    from pyspark import StorageLevel

    from datafusion_gpu_spark.context import persist_counted

    limit = CUMSUM_ROUTE_THRESHOLD if threshold is None else threshold
    distinct_values = persist_counted(
        distinct_values.sparkSession, distinct_values, StorageLevel.MEMORY_AND_DISK
    )
    if distinct_values.count() <= limit:
        w = Window.orderBy(value_col).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        return distinct_values.select(
            "*", *[F.sum(c).over(w).alias(f"cum_{c}") for c in sum_cols]
        )
    return bucketed_cumsum(distinct_values, value_col, sum_cols, n_buckets)


def _two_group_values(
    df: DataFrame, group_col: str, value_col: str, group_a: str, group_b: str
) -> DataFrame:
    """Value-level aggregate (da = group-a rows, db = group-b rows,
    tc = total rows per distinct integer value) — the shared substrate
    of both tests."""
    t = df.where(
        F.col(group_col).isin(group_a, group_b) & F.col(value_col).isNotNull()
    ).select(
        F.col(value_col).alias("c"),
        F.when(F.col(group_col) == group_a, F.lit(1)).otherwise(F.lit(0)).alias("ia"),
    )
    return t.groupBy("c").agg(
        F.sum("ia").cast("long").alias("da"),
        (F.count(F.lit(1)) - F.sum("ia")).cast("long").alias("db"),
        F.count(F.lit(1)).cast("long").alias("tc"),
    )


def mann_whitney_u(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a: str,
    group_b: str,
    n_buckets: int | None = None,
) -> DataFrame:
    """Tie-corrected Mann-Whitney U via the two-level bucketed cumsum —
    result-identical to queries/pipeline.py's ``_MANN_WHITNEY`` SQL
    (same doubled-rank integer algebra, same terminal float expression
    via ``F.expr`` so the IEEE spelling matches token-for-token), but
    the cumulative-below count comes from the distinct-value cumsum
    machinery instead of one global window. With the default
    ``n_buckets=None`` the spelling is RUNTIME-ROUTED by
    :func:`cumsum_auto` (single window at or below
    :data:`CUMSUM_ROUTE_THRESHOLD` distinct values, two-level above);
    an explicit integer forces the two-level plan with that many
    buckets. ``value_col`` must be pre-quantized to integers by the
    caller."""
    pv = _two_group_values(df, group_col, value_col, group_a, group_b)
    if n_buckets is None:
        cum = cumsum_auto(pv, "c", ("tc",))
    else:
        cum = bucketed_cumsum(pv, "c", ("tc",), n_buckets=n_buckets)
    cw = cum.select(
        "da", "tc", (F.col("cum_tc") - F.col("tc")).alias("cumb")
    )
    s = cw.agg(
        F.sum("da").cast("long").alias("n_a"),
        F.sum(F.col("tc") - F.col("da")).cast("long").alias("n_b"),
        F.sum(F.col("da") * (2 * F.col("cumb") + F.col("tc") + 1))
        .cast("long")
        .alias("r2_a"),
        F.sum(F.col("tc") * F.col("tc") * F.col("tc") - F.col("tc"))
        .cast("long")
        .alias("tie3"),
        F.count(F.lit(1)).cast("long").alias("nv"),
    )
    # terminal float expression — identical text to _MANN_WHITNEY
    return s.select(
        "n_a",
        "n_b",
        F.expr("r2_a - n_a * (n_a + 1)").alias("u2_a"),
        "tie3",
        F.expr(
            """
            CASE WHEN n_a > 0 AND n_b > 0 AND nv > 1
            THEN
            ROUND(((CAST(r2_a - n_a * (n_a + 1) AS DOUBLE)
                    - CAST(n_a AS DOUBLE) * n_b) / 2)
                  / SQRT(CAST(n_a AS DOUBLE) * n_b / 12.0
                         * (CAST(n_a + n_b + 1 AS DOUBLE)
                            - CAST(tie3 AS DOUBLE)
                              / (CAST(n_a + n_b AS DOUBLE) * (n_a + n_b - 1)))),
                  4) END
            """
        ).alias("z_stat"),
    )


def ks_two_sample(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a: str,
    group_b: str,
    n_buckets: int | None = None,
) -> DataFrame:
    """Two-sample KS distance via the two-level bucketed cumsum —
    result-identical to ``_KS_TEST`` (exact integer numerator
    ``m = max|ca*n_b - cb*n_a|``, cross-multiplied alpha=.05 decision),
    with both ECDF cumulatives runtime-routed exactly as
    :func:`mann_whitney_u` (``n_buckets=None`` -> :func:`cumsum_auto`;
    explicit integer -> forced two-level)."""
    pv = _two_group_values(df, group_col, value_col, group_a, group_b)
    if n_buckets is None:
        cum = cumsum_auto(pv, "c", ("da", "db"))
    else:
        cum = bucketed_cumsum(pv, "c", ("da", "db"), n_buckets=n_buckets)
    nn = pv.agg(
        F.sum("da").cast("long").alias("n_a"), F.sum("db").cast("long").alias("n_b")
    )
    mx = (
        cum.join(F.broadcast(nn))
        .agg(
            F.max(
                F.abs(F.col("cum_da") * F.col("n_b") - F.col("cum_db") * F.col("n_a"))
            )
            .cast("long")
            .alias("m")
        )
        .join(F.broadcast(nn))
    )
    return mx.select(
        "n_a",
        "n_b",
        F.col("m").alias("d_num"),
        F.expr(
            """
            CASE WHEN n_a > 0 AND n_b > 0 THEN
              ROUND(CAST(m AS DOUBLE) / (CAST(n_a AS DOUBLE) * n_b), 6)
            END
            """
        ).alias("d_stat"),
        F.expr(
            """
            CASE WHEN n_a > 0 AND n_b > 0 THEN
              (CAST(m AS DOUBLE) * m
                 > 1.844164 * (n_a + n_b) * CAST(n_a AS DOUBLE) * n_b)
            END
            """
        ).alias("reject_05"),
    )


def pav_isotonic(
    bins: DataFrame,
    bin_col: str = "bin",
    n_col: str = "n",
    s_col: str = "s",
) -> DataFrame:
    """Isotonic regression of the rate ``s/n`` over ``bin_col`` order —
    the pool-adjacent-violators fit, spelled distributively through the
    minimax characterization (Robertson/Wright/Dykstra 1988; Ayer et
    al. 1955 for PAV itself):

        yhat_i = max_{j <= i} min_{k >= i} (S_k - S_{j-1}) / (N_k - N_{j-1})

    over exact-bigint cumulative sums S (label sums) and N (counts):

    1. inclusive cumsum over the bin relation (ONE ordered window over
       B rows — the bin domain is bounded by construction, so a global
       window is the documented-safe spelling; see CUMSUM_ROUTE_THRESHOLD);
    2. block averages for every (prefix boundary j-1, end k) pair via a
       broadcast range self-join — B(B+1)/2 rows, tiny for bounded B;
    3. running min over k DESC per boundary (min_{k >= i});
    4. max per end bin (max_{j <= i}).

    The only floats are the block-average ratios of exact bigints —
    both engines derive identical IEEE doubles from identical integers,
    so the minimax result is cross-engine deterministic. ``bin_col``
    must be integer and >= 0 (the empty-prefix sentinel is -1); bins
    absent from the input are simply not fitted (PAV over present bins).
    Adds ``yhat`` (unrounded double); input columns pass through.
    """
    w = Window.orderBy("k").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = bins.select(
        F.col(bin_col).cast("long").alias("k"),
        F.col(n_col).cast("long").alias("n"),
        F.col(s_col).cast("long").alias("s"),
    ).select(
        "k", "n", "s",
        F.sum("n").over(w).alias("cn"),
        F.sum("s").over(w).alias("cs"),
    )
    pre = cum.select(
        F.col("k").alias("j"), F.col("cn").alias("cnj"), F.col("cs").alias("csj")
    ).unionAll(
        cum.sparkSession.sql(
            "SELECT CAST(-1 AS BIGINT) j, CAST(0 AS BIGINT) cnj, CAST(0 AS BIGINT) csj"
        )
    )
    pairs = cum.join(F.broadcast(pre), F.col("j") < F.col("k")).select(
        "j", "k",
        ((F.col("cs") - F.col("csj")).cast("double")
         / (F.col("cn") - F.col("cnj"))).alias("avgjk"),
    )
    w_min = (
        Window.partitionBy("j")
        .orderBy(F.col("k").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    rmin = pairs.select("j", "k", F.min("avgjk").over(w_min).alias("m"))
    fit = rmin.groupBy("k").agg(F.max("m").alias("yhat"))
    return bins.join(
        F.broadcast(fit),
        F.col(bin_col).cast("long") == F.col("k"),
    ).drop("k")


def conformal_quantile(
    residuals: DataFrame,
    res_col: str = "res",
    alpha: float = 0.1,
    n_buckets: int = 1024,
) -> DataFrame:
    """Split-conformal score quantile (Vovk et al. 2005; Lei et al.
    2018): the ceil((n+1)(1-alpha))-th smallest calibration residual —
    the distribution-free radius that covers a fresh exchangeable point
    with probability >= 1-alpha. The order statistic is picked off the
    DISTINCT-VALUE cumulative (:func:`cumsum_auto` — runtime-routed to
    the two-level bucketed spelling past the threshold), i.e. the
    agg_median_ci rank-bound machinery generalized to any alpha: no
    global sort of the residual relation, ever.

    The rank is computed in EXACT integer arithmetic (ADVICE r11 #4):
    1 - alpha is lifted to a rational num/den via Fraction, and
    ceil((n+1) * num / den) is spelled ((n+1)*num + den-1) DIV den on
    bigints — positive operands, so Spark's truncating DIV and
    floor-division engines agree, and a 1-ulp-high DOUBLE product can
    never push CEIL off by one at an exact-integer boundary.

    ``res_col`` must be integer (pre-quantized residuals). Returns one
    row: n_cal, k_rank, q_res (exact bigints) — spelled as a GLOBAL
    aggregate (n_cal/k_rank are constants from the one-row rank fold,
    so max() over the qualifying rows returns them unchanged and the
    executed plan's build side is provably one row — the audited-exempt
    BNLJ class). On an EMPTY calibration relation (or k_rank > n_cal —
    fewer than 1/alpha - 1 residuals, where the conformal set is the
    whole line) the result is ZERO rows, matching the GROUP-BY spelling
    of the same fold (the all-NULL global-agg row is filtered).
    """
    from fractions import Fraction

    frac = Fraction(1.0 - alpha).limit_denominator(1_000_000)
    num, den = frac.numerator, frac.denominator
    v = residuals.groupBy(res_col).agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    cum = cumsum_auto(v, res_col, ("cnt",), n_buckets=n_buckets)
    k = v.agg(F.sum("cnt").cast("long").alias("n_cal")).select(
        "n_cal",
        F.expr(
            f"CAST(((n_cal + 1) * {num} + {den - 1}) DIV {den} AS BIGINT)"
        ).alias("k_rank"),
    )
    return (
        cum.join(F.broadcast(k), F.col("cum_cnt") >= F.col("k_rank"))
        .agg(
            F.max("n_cal").alias("n_cal"),
            F.max("k_rank").alias("k_rank"),
            F.min(res_col).cast("long").alias("q_res"),
        )
        # a global agg over ZERO qualifying rows yields one all-NULL row;
        # drop it so the empty/degenerate case is zero rows — matching
        # the GROUP-BY spelling any SQL twin of this fold produces
        .where(F.col("n_cal").isNotNull())
    )


def cvm_two_sample(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a: str,
    group_b: str,
    n_buckets: int | None = None,
) -> DataFrame:
    """Two-sample Cramér-von Mises statistic (Anderson 1962) — the
    whole-curve companion to :func:`ks_two_sample` on the SAME
    distinct-value cumulative machinery: where KS takes the max ECDF
    gap, CvM integrates the SQUARED gap over the pooled sample,

        T = (n_a * n_b / N^2) * sum_x tc_x * (F_a(x) - F_b(x))^2 ,

    so it sees broad mid-distribution drift KS underweights. The gap
    numerator D = ca*n_b - cb*n_a is an exact bigint; each squared
    relative gap quantizes ONCE to a 1e12 bigint (identical IEEE
    division/multiply/round in both engines), and the tc-weighted fold
    sums bigints exactly. VISIBLE headroom guard: sum(tc * term_q) <=
    N * 1e12, so past N >= 9e6 pooled rows the statistic reports NULL
    (shrink the quantum to trade precision for population — the
    round-10 guard discipline). reject_05 uses the asymptotic 5%
    critical value 0.461 of the limiting omega^2 distribution
    (Anderson & Darling 1952). Routing as :func:`mann_whitney_u`:
    ``n_buckets=None`` -> :func:`cumsum_auto`, explicit -> forced
    two-level."""
    pv = _two_group_values(df, group_col, value_col, group_a, group_b)
    if n_buckets is None:
        cum = cumsum_auto(pv, "c", ("da", "db"))
    else:
        cum = bucketed_cumsum(pv, "c", ("da", "db"), n_buckets=n_buckets)
    nn = pv.agg(
        F.sum("da").cast("long").alias("n_a"), F.sum("db").cast("long").alias("n_b")
    )
    s = (
        cum.join(F.broadcast(nn))
        .agg(
            F.sum(
                F.col("tc")
                * F.expr(
                    "CAST(ROUND(1e12 * "
                    "(CAST(cum_da * n_b - cum_db * n_a AS DOUBLE)"
                    " / (CAST(n_a AS DOUBLE) * n_b))"
                    " * (CAST(cum_da * n_b - cum_db * n_a AS DOUBLE)"
                    " / (CAST(n_a AS DOUBLE) * n_b)), 0) AS BIGINT)"
                )
            )
            .cast("long")
            .alias("s_q")
        )
        .join(F.broadcast(nn))
    )
    return s.select(
        "n_a",
        "n_b",
        # the raw fold is sum(tc * term_q) <= N * 1e12 — past the guard
        # bound it can wrap on Spark (and error in DuckDB), so the exposed
        # fold column goes NULL under the SAME guard as the terminal stat
        # (ADVICE r11 #2), never showing a possibly-wrapped bigint
        F.expr(
            "CASE WHEN n_a > 0 AND n_b > 0 AND n_a + n_b < 9000000"
            " THEN s_q END"
        ).alias("s_q"),
        F.expr(
            """
            CASE WHEN n_a > 0 AND n_b > 0 AND n_a + n_b < 9000000 THEN
              ROUND(CAST(n_a AS DOUBLE) * n_b
                    / ((CAST(n_a AS DOUBLE) + n_b) * (CAST(n_a AS DOUBLE) + n_b))
                    * (CAST(s_q AS DOUBLE) / 1e12), 6)
            END
            """
        ).alias("t_stat"),
        F.expr(
            """
            CASE WHEN n_a > 0 AND n_b > 0 AND n_a + n_b < 9000000 THEN
              (CAST(n_a AS DOUBLE) * n_b
                 / ((CAST(n_a AS DOUBLE) + n_b) * (CAST(n_a AS DOUBLE) + n_b))
                 * (CAST(s_q AS DOUBLE) / 1e12) > 0.461)
            END
            """
        ).alias("reject_05"),
    )


def cliff_delta(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a: str,
    group_b: str,
    n_buckets: int | None = None,
) -> DataFrame:
    """Cliff's delta ordinal effect size (Cliff 1993):
    delta = (#{a > b} - #{a < b}) / (n_a * n_b) — the magnitude readout
    that pairs with the Mann-Whitney SIGNIFICANCE test, computed off
    the SAME distinct-value cumulative (no pair enumeration ever):
    #{a > b} = sum_v da_v * (#b strictly below v), and the strict-below
    counts are the inclusive cumsums minus the own-value counts. All
    counts exact bigints; VISIBLE guard NULLs delta when n_a * n_b
    nears int64. Magnitude labels per Romano et al. 2006 thresholds
    (0.147 / 0.33 / 0.474). Routing as :func:`mann_whitney_u`."""
    pv = _two_group_values(df, group_col, value_col, group_a, group_b)
    if n_buckets is None:
        cum = cumsum_auto(pv, "c", ("da", "db"))
    else:
        cum = bucketed_cumsum(pv, "c", ("da", "db"), n_buckets=n_buckets)
    nn = pv.agg(
        F.sum("da").cast("long").alias("n_a"), F.sum("db").cast("long").alias("n_b")
    )
    s = cum.agg(
        F.sum(F.col("da") * (F.col("cum_db") - F.col("db")))
        .cast("long")
        .alias("gt"),
        F.sum(F.col("db") * (F.col("cum_da") - F.col("da")))
        .cast("long")
        .alias("lt"),
    ).join(F.broadcast(nn))
    d = s.select(
        "n_a",
        "n_b",
        # gt/lt are bounded by n_a * n_b — past the guard bound the folds
        # can wrap on Spark (and error in DuckDB), so the exposed columns
        # go NULL under the SAME guard as the terminal delta (ADVICE r11
        # #2), never showing a possibly-wrapped bigint
        F.expr(
            "CASE WHEN n_a > 0 AND n_b > 0"
            " AND CAST(n_a AS DOUBLE) * n_b < 9e18 THEN gt END"
        ).alias("gt"),
        F.expr(
            "CASE WHEN n_a > 0 AND n_b > 0"
            " AND CAST(n_a AS DOUBLE) * n_b < 9e18 THEN lt END"
        ).alias("lt"),
        F.expr(
            """
            CASE WHEN n_a > 0 AND n_b > 0
                      AND CAST(n_a AS DOUBLE) * n_b < 9e18 THEN
              ROUND(CAST(gt - lt AS DOUBLE) / (CAST(n_a AS DOUBLE) * n_b), 6)
            END
            """
        ).alias("cliff_delta"),
    )
    return d.select(
        "*",
        F.expr(
            """
            CASE WHEN cliff_delta IS NULL THEN NULL
                 WHEN ABS(cliff_delta) < 0.147 THEN 'negligible'
                 WHEN ABS(cliff_delta) < 0.33 THEN 'small'
                 WHEN ABS(cliff_delta) < 0.474 THEN 'medium'
                 ELSE 'large' END
            """
        ).alias("magnitude"),
    )


def ks_uniform(
    df: DataFrame,
    value_col: str,
    n_buckets: int | None = None,
) -> DataFrame:
    """One-sample Kolmogorov-Smirnov distance against the UNIFORM law on
    the observed [lo, hi] span — the PIT-style uniformity check for
    min-max normalized scores (a calibrated probabilistic score should
    be uniform; clumping shows up here before the binned reliability
    curve resolves it). Exact integer numerator off the distinct-value
    cumulative — the DISCRETE one-sample KS takes the max over BOTH
    sides of every ECDF step (the post-step gap F(v) - U(v) AND the
    pre-step gap U(v) - F(v-), Conover 1999; a one-sided max misses
    mass clumped at the TOP of the range, where the ECDF approaches
    the uniform line from below):

        D = max_v max(|cum_v * span - n * (v - lo)|,
                      |(cum_v - tc_v) * span - n * (v - lo)|)
            / (n * span)

    with all counts exact bigints and the max taken over exact
    integers; d_stat and the cross-multiplied 5% decision
    (c(.05) = 1.358 -> m^2 > 1.844164 * n * span^2, squared in DOUBLE)
    are terminal. Cumulative via :func:`cumsum_auto` (two-level past
    the threshold); ``value_col`` must be integer."""
    pv = df.where(F.col(value_col).isNotNull()).groupBy(
        F.col(value_col).alias("c")
    ).agg(F.count(F.lit(1)).cast("long").alias("tc"))
    if n_buckets is None:
        cum = cumsum_auto(pv, "c", ("tc",))
    else:
        cum = bucketed_cumsum(pv, "c", ("tc",), n_buckets=n_buckets)
    nn = pv.agg(
        F.sum("tc").cast("long").alias("n"),
        F.min("c").cast("long").alias("lo"),
        F.max("c").cast("long").alias("hi"),
    )
    m = (
        cum.join(F.broadcast(nn))
        .where(F.col("hi") > F.col("lo"))
        .agg(
            F.max(
                F.greatest(
                    F.abs(
                        F.col("cum_tc") * (F.col("hi") - F.col("lo"))
                        - F.col("n") * (F.col("c") - F.col("lo"))
                    ),
                    F.abs(
                        (F.col("cum_tc") - F.col("tc"))
                        * (F.col("hi") - F.col("lo"))
                        - F.col("n") * (F.col("c") - F.col("lo"))
                    ),
                )
            )
            .cast("long")
            .alias("m")
        )
        .join(F.broadcast(nn))
    )
    # VISIBLE headroom guard (ADVICE r11 #1): the exact fold's terms are
    # bounded by n * span, so past CAST(n AS DOUBLE) * (hi - lo) >= 9e18
    # the bigint products can wrap on Spark (and error in DuckDB) —
    # every output derived from the fold goes NULL there (shrink the
    # value quantum to trade precision for population, as the siblings).
    return m.select(
        "n",
        "lo",
        "hi",
        F.expr(
            """
            CASE WHEN CAST(n AS DOUBLE) * (hi - lo) < 9e18 THEN m END
            """
        ).alias("d_num"),
        F.expr(
            """
            CASE WHEN n > 0 AND hi > lo
                      AND CAST(n AS DOUBLE) * (hi - lo) < 9e18 THEN
              ROUND(CAST(m AS DOUBLE) / (CAST(n AS DOUBLE) * (hi - lo)), 6)
            END
            """
        ).alias("d_stat"),
        F.expr(
            """
            CASE WHEN n > 0 AND hi > lo
                      AND CAST(n AS DOUBLE) * (hi - lo) < 9e18 THEN
              (CAST(m AS DOUBLE) * m
                 > 1.844164 * n * (CAST(hi - lo AS DOUBLE) * (hi - lo)))
            END
            """
        ).alias("reject_05"),
    )
