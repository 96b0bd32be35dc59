"""Dedup scale probe: measures end-to-end MinHash+LSH+verify throughput
on synthetic corpora far larger than the driver's sf tables.

Corpus: n docs x 60 words from a 100k-word vocabulary (wide vocabulary
matters — a toy vocab collapses the shingle space and LSH bands collide
quadratically); every odd doc is a near-duplicate of its predecessor,
so exactly n/2 true pairs exist and recall is checkable.

Usage: python tools/scale_probe.py [n ...]   (default 5000 50000 200000)
Prints one line per n: pairs found, wall time, docs/sec.
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, ".")


def corpus(spark, n: int, exact_dups: bool = False):
    from pyspark.sql import functions as F

    base = spark.range(n).withColumn(
        "words",
        F.transform(
            F.sequence(F.lit(0), F.lit(59)),
            lambda i: F.concat(
                F.lit("w"),
                (
                    F.xxhash64((F.col("id") / 2).cast("long") * 1000 + i)
                    .bitwiseAND(F.lit(0x7FFFFFFF))
                    % 100000
                ),
            ),
        ),
    )
    # curate mode: odd ids are EXACT copies of the even sibling (tests the
    # dedup stage) and every doc opens with the en stopword profile so the
    # language gate keeps it; minhash mode keeps the near-dup " tail" delta
    tail = F.lit("") if exact_dups else F.lit("tail")
    body = F.concat_ws(" ", F.lit("the a of and is"), F.col("words"))
    return base.select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, body)
        .otherwise(F.concat_ws(" ", body, tail))
        .alias("text"),
    ).repartition(32).cache()


CHAIN = 8  # planted chain length for the components probe (diameter 7)


def chain_edges(spark, n: int):
    """Planted union of n/CHAIN disjoint chain graphs over nodes
    0..n-1: edge (i, i+1) unless i closes a chain. Diameter is CHAIN-1
    at EVERY n, so rounds-to-fixpoint must not grow with |E| — only
    per-round cost may, and it must stay linear."""
    from pyspark.sql import functions as F

    return (
        spark.range(n - 1)
        .where((F.col("id") % CHAIN) != CHAIN - 1)
        .select(F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b"))
        .repartition(32)
    )


def probe_components(spark, sizes: list[int]) -> None:
    import time as _t

    from pyspark.sql import functions as F

    from datafusion_gpu_spark.operators.dedup import connected_components

    rounds_seen = []
    for n in sizes:
        edges = chain_edges(spark, n).cache()
        n_edges = edges.count()
        stats: dict = {}
        t0 = _t.perf_counter()
        labels = connected_components(edges, stats=stats)
        n_comp = labels.select("component").distinct().count()
        dt = _t.perf_counter() - t0
        # every chain must collapse to exactly one component labeled by
        # its min node; a non-multiple n leaves one partial tail chain
        expected = -(-n // CHAIN)
        bad = labels.where(
            F.col("component") != (F.col("node") - F.col("node") % CHAIN)
        ).count()
        print(
            f"n={n} edges={n_edges} components={n_comp} (expected {expected}) "
            f"rounds={stats['rounds']} time={dt:.1f}s "
            f"per_round={dt / stats['rounds']:.2f}s "
            f"edges_per_round_sec={n_edges * stats['rounds'] / dt:.0f}",
            flush=True,
        )
        assert stats["converged"], stats
        assert n_comp == expected and bad == 0, (n_comp, expected, bad)
        rounds_seen.append(stats["rounds"])
        edges.unpersist()
    # rounds == diameter+1, independent of |E|
    assert len(set(rounds_seen)) == 1, rounds_seen


def probe_shuffle(spark, sizes: list[int]) -> None:
    """deterministic_shuffle at growing n: the order must be a total
    permutation, identical across re-runs AND across input partitioning
    (the property that makes the training order reproducible on any
    cluster layout)."""
    import time as _t

    from pyspark.sql import functions as F

    from datafusion_gpu_spark.operators.curation import deterministic_shuffle

    for n in sizes:
        docs = spark.range(n).select(F.col("id").alias("doc_id")).cache()
        docs.count()
        t0 = _t.perf_counter()
        a = deterministic_shuffle(docs).select("doc_id", "shuffle_pos")
        stat = a.agg(
            F.count("*").alias("n"),
            F.count_distinct("shuffle_pos").alias("d"),
            F.min("shuffle_pos").alias("lo"),
            F.max("shuffle_pos").alias("hi"),
        ).collect()[0]
        dt = _t.perf_counter() - t0
        assert (stat.n, stat.d, stat.lo, stat.hi) == (n, n, 0, n - 1), stat
        # re-run on a DIFFERENT partitioning; sample-compare positions
        b = deterministic_shuffle(docs.repartition(7)).select(
            "doc_id", F.col("shuffle_pos").alias("pos_b")
        )
        mismatch = (
            a.where(F.col("doc_id") % 97 == 0)
            .join(b, "doc_id")
            .where(F.col("shuffle_pos") != F.col("pos_b"))
            .count()
        )
        assert mismatch == 0, mismatch
        print(
            f"n={n} permutation-ok partitioning-invariant "
            f"time={dt:.1f}s rate={n / dt:.0f} rows/s",
            flush=True,
        )
        docs.unpersist()


def probe_pagerank(spark, sizes: list[int]) -> None:
    """pagerank at growing |E| with FIXED iterations: wall time must
    scale ~linearly in |E| (per-round cost is one edge join + one hash
    agg), and on a dangling-free graph total mass stays 1 at every
    size (sum check doubles as a correctness invariant the synthetic
    graph makes exact)."""
    import time as _t

    from pyspark.sql import functions as F

    from datafusion_gpu_spark.operators.graph import pagerank

    for n in sizes:
        # ring + fixed chord: out-degree exactly 2, no dangling nodes
        base = spark.range(n)
        edges = (
            base.select(F.col("id").alias("src"), ((F.col("id") + 1) % n).alias("dst"))
            .unionAll(
                base.select(
                    F.col("id").alias("src"), ((F.col("id") * 7 + 3) % n).alias("dst")
                )
            )
            .repartition(32)
        )
        t0 = _t.perf_counter()
        ranks = pagerank(edges, iterations=5)
        mass = ranks.agg(F.sum("rank")).collect()[0][0]
        dt = _t.perf_counter() - t0
        n_edges = 2 * n
        print(
            f"n={n} edges={n_edges} mass={mass:.6f} "
            f"time={dt:.1f}s rate={n_edges / dt:.0f} edges/s",
            flush=True,
        )
        assert abs(mass - 1.0) < 1e-6, mass


def probe_merge(spark, sizes: list[int]) -> None:
    """merge_upsert at growing |base|: one full-outer shuffle join, so
    wall must scale ~linearly; the exact result count is computable
    (base keys 0..n-1, changes keys = multiples of 3 below 1.2n, so the
    merged table holds n + the multiples of 3 in [n, 1.2n))."""
    import time as _t

    from pyspark.sql import functions as F

    from datafusion_gpu_spark.operators.layout import merge_upsert

    for n in sizes:
        base = spark.range(n).select(
            F.col("id").alias("k"),
            (F.col("id") % 97).cast("double").alias("v"),
        )
        hi = int(n * 1.2)
        changes = (
            spark.range(0, hi, 3)
            .select(F.col("id").alias("k"), F.lit(-1.0).alias("v"))
        )
        t0 = _t.perf_counter()
        merged = merge_upsert(base, changes, "k")
        got = merged.count()
        n_updated = merged.where("v = -1.0").count()
        dt = _t.perf_counter() - t0
        inserts = len(range(((n + 2) // 3) * 3, hi, 3))
        expected = n + inserts
        expected_updated = len(range(0, hi, 3))
        print(
            f"n={n} merged={got} (expected {expected}) "
            f"updated+inserted={n_updated} (expected {expected_updated}) "
            f"time={dt:.1f}s rate={n / dt:.0f} base_rows/s",
            flush=True,
        )
        assert got == expected, (got, expected)
        assert n_updated == expected_updated, (n_updated, expected_updated)


def probe_bloom_dedup(spark, sizes: list[int]) -> None:
    """incremental_dedup vs its Bloom-prefiltered spelling at growing
    history size: outputs must be IDENTICAL (no false negatives), and
    the probe reports how much of the batch the filter keeps away from
    the anti-join (the point of the optimization: at mostly-novel
    ingest only false positives + true dups reach the join)."""
    import time as _t

    from pyspark.sql import functions as F

    from datafusion_gpu_spark.operators.dedup import (
        incremental_dedup,
        incremental_dedup_bloom,
    )

    for n in sizes:
        history = spark.range(n).select(
            F.col("id").alias("doc_id"),
            F.concat(F.lit("seen doc "), F.col("id")).alias("text"),
        )
        n_batch = n // 5
        # 10% dups of history, 90% novel
        batch = spark.range(n_batch).select(
            (F.col("id") + 10_000_000).alias("doc_id"),
            F.when(
                F.col("id") % 10 == 0,
                F.concat(F.lit("seen doc "), F.col("id")),
            ).otherwise(
                F.concat(F.lit("novel doc "), F.col("id"))
            ).alias("text"),
        )
        t0 = _t.perf_counter()
        exact = incremental_dedup(history, batch)
        n_exact = exact.count()
        t_exact = _t.perf_counter() - t0
        t0 = _t.perf_counter()
        bloom = incremental_dedup_bloom(history, batch)
        n_bloom = bloom.count()
        t_bloom = _t.perf_counter() - t0
        assert n_exact == n_bloom, (n_exact, n_bloom)
        diff = exact.join(bloom, ["content_key", "doc_id"], "left_anti").count()
        assert diff == 0, diff
        expected = n_batch - (n_batch + 9) // 10  # novel batch rows
        assert n_exact == expected, (n_exact, expected)
        print(
            f"n_history={n} n_batch={n_batch} survivors={n_exact} "
            f"(expected {expected}) exact={t_exact:.1f}s bloom={t_bloom:.1f}s",
            flush=True,
        )


def probe_funnel(spark, sizes: list[int]) -> None:
    """funnel_counts + transition_counts at growing |events| with a
    planted per-user cycle (view, click, purchase, error, scroll, ...):
    every user owns n/u consecutive sequence slots, so every user
    completes the full funnel and the expected stage counts are exactly
    u at EVERY size — wall time must scale ~linearly (one keyed shuffle
    each), and the transition total is exactly n - u."""
    import time as _t

    from pyspark.sql import functions as F

    from datafusion_gpu_spark.operators.events import (
        funnel_counts,
        transition_counts,
    )

    types = F.array(
        F.lit("view"), F.lit("click"), F.lit("purchase"),
        F.lit("error"), F.lit("scroll"),
    )
    for n in sizes:
        u = max(n // 100, 1)
        seq = F.col("id") / F.lit(u)
        ev = (
            spark.range(n)
            .select(
                (F.col("id") % u).alias("user_id"),
                F.col("id").alias("event_id"),
                F.timestamp_seconds((seq.cast("long") * 60)).alias("ts"),
                F.element_at(
                    types, (seq.cast("long") % 5 + 1).cast("int")
                ).alias("event_type"),
            )
            .repartition(32)
            .cache()
        )
        ev.count()
        t0 = _t.perf_counter()
        got = {
            r["stage"]: r["users"]
            for r in funnel_counts(
                ev, steps=["view", "click", "purchase"]
            ).collect()
        }
        dt_f = _t.perf_counter() - t0
        t0 = _t.perf_counter()
        total = transition_counts(ev).agg(F.sum("n")).collect()[0][0]
        dt_t = _t.perf_counter() - t0
        print(
            f"n={n} users={u} funnel={got} funnel_time={dt_f:.1f}s "
            f"transitions={total} trans_time={dt_t:.1f}s "
            f"rate={n / (dt_f + dt_t):.0f} events/s",
            flush=True,
        )
        assert got == {"view": u, "click": u, "purchase": u}, got
        assert total == n - u, (total, n - u)
        ev.unpersist()


def probe_pca(spark, sizes: list[int]) -> None:
    """pca_fit at growing corpus size with a PLANTED covariance: axis j
    of the synthetic d=64 cloud has variance ~ (d - j)^2 factor, so the
    fitted eigenvalue ORDER is known at every size and the top
    component must align with axis 0. Wall time must scale ~linearly
    (the fit is one mapInPandas scan + a driver-side d x d eigh)."""
    import time as _t

    import numpy as np
    from pyspark.sql import functions as F

    from datafusion_gpu_spark.operators.decomposition import pca_fit

    d, k = 64, 8
    for n in sizes:
        # deterministic pseudo-gaussian via sum of 4 hashed uniforms,
        # scaled per-axis so axis j has stddev (d - j) / d
        base = spark.range(n).select(
            F.transform(
                F.sequence(F.lit(0), F.lit(d - 1)),
                lambda j: sum(
                    (
                        F.pmod(
                            F.xxhash64(F.col("id") * d * 4 + j * 4 + r),
                            F.lit(100000),
                        ).cast("double")
                        / 100000.0
                        - 0.5
                    )
                    for r in range(4)
                )
                * ((F.lit(d).cast("double") - j) / d),
            ).alias("embedding")
        ).repartition(32).cache()
        base.count()
        t0 = _t.perf_counter()
        model = pca_fit(base, k)
        dt = _t.perf_counter() - t0
        top_axis = int(np.abs(model.components[:, 0]).argmax())
        print(
            f"n={n} d={d} fit_time={dt:.1f}s rate={n / dt:.0f} vecs/s "
            f"top_axis={top_axis} eigvals_desc="
            f"{bool((np.diff(model.eigvals) <= 1e-12).all())}",
            flush=True,
        )
        assert top_axis == 0, top_axis
        assert (np.diff(model.eigvals) <= 1e-12).all()
        base.unpersist()


def probe_bfs(spark, sizes: list[int]) -> None:
    """Frontier BFS on random graphs: per-size wall clock, nodes
    reached, and the hop radius actually paid (max dist == executed
    rounds, the early-stop guarantee). Degree ~8 keeps the giant
    component >99% of nodes, so the frontier sweep touches the whole
    graph — the worst case for the visited anti-join."""
    import time as _t

    from pyspark.sql import functions as F

    from datafusion_gpu_spark.operators.graph import bfs_distances

    for n_edges in sizes:
        n_nodes = max(n_edges // 4, 10)
        edges = (
            spark.range(n_edges)
            .select(
                (F.xxhash64("id").bitwiseAND(F.lit(0x7FFFFFFF)) % n_nodes).alias("a"),
                (F.xxhash64("id", F.lit(1)).bitwiseAND(F.lit(0x7FFFFFFF)) % n_nodes).alias("b"),
            )
            .where(F.col("a") != F.col("b"))
            .repartition(32)
            .cache()
        )
        edges.count()
        seeds = spark.range(3).select((F.col("id") * 7919 % n_nodes).alias("node"))
        t0 = _t.perf_counter()
        out = bfs_distances(edges, seeds, rounds=30)
        stats = out.agg(
            F.count(F.lit(1)).alias("visited"), F.max("dist").alias("radius")
        ).collect()[0]
        dt = _t.perf_counter() - t0
        print(
            f"edges={n_edges} nodes~{n_nodes} visited={stats['visited']} "
            f"radius={stats['radius']} (of 30 allowed) time={dt:.1f}s",
            flush=True,
        )
        edges.unpersist()


def probe_louvain(spark, sizes: list[int]) -> None:
    """Louvain on planted-partition graphs beyond gate scale: per-size
    wall, the Q trajectory (monotone by construction), realized
    community count vs planted, and the contraction ratio — the
    property that makes pass p+1 geometrically cheaper than pass p."""
    import time as _t

    from pyspark.sql import functions as F

    from datafusion_gpu_spark.operators.graph import louvain

    for n_nodes in sizes:
        n_comm = max(n_nodes // 250, 4)  # planted communities of ~250
        # ring + two chords inside each residue-class community, sparse
        # bridges between consecutive keys across community borders
        ids = spark.range(n_nodes)
        edges = None
        for stride in (n_comm, 2 * n_comm):
            e = ids.where(F.col("id") + stride < n_nodes).select(
                F.col("id").alias("a"), (F.col("id") + stride).alias("b")
            )
            edges = e if edges is None else edges.unionAll(e)
        bridges = ids.where(
            (F.col("id") % 89 == 0) & (F.col("id") + 1 < n_nodes)
        ).select(F.col("id").alias("a"), (F.col("id") + 1).alias("b"))
        edges = edges.unionAll(bridges).repartition(32).cache()
        n_edges = edges.count()
        t0 = _t.perf_counter()
        assign, qs = louvain(edges, passes=2, move_rounds=4)
        n_found = assign.select("comm").distinct().count()
        dt = _t.perf_counter() - t0
        print(
            f"nodes={n_nodes} edges={n_edges} planted={n_comm} "
            f"found={n_found} q={'->'.join(f'{q:.3f}' for q in qs)} "
            f"time={dt:.1f}s",
            flush=True,
        )
        edges.unpersist()


def probe_deltastep(spark, sizes: list[int]) -> None:
    """Delta-stepping vs plain Bellman-Ford A/B on WIDE-weight random
    graphs (w in 1..100, delta=20): both compute the exact seed-set
    shortest paths; the A/B compares wall clock and, more importantly
    at scale, the relaxation WORK — Bellman-Ford re-relaxes every
    labeled node every round, delta-stepping only the active bucket's
    frontier, which is the published work bound that matters when the
    weight spread stretches the fixpoint over many rounds."""
    import time as _t

    from pyspark.sql import functions as F

    from datafusion_gpu_spark.operators.graph import bellman_ford, delta_stepping

    for n_edges in sizes:
        n_nodes = max(n_edges // 4, 10)
        edges = (
            spark.range(n_edges)
            .select(
                (F.xxhash64("id").bitwiseAND(F.lit(0x7FFFFFFF)) % n_nodes).alias("a"),
                (F.xxhash64("id", F.lit(1)).bitwiseAND(F.lit(0x7FFFFFFF)) % n_nodes).alias("b"),
                (F.xxhash64("id", F.lit(2)).bitwiseAND(F.lit(0x7FFFFFFF)) % 100 + 1).alias("w"),
            )
            .where(F.col("a") != F.col("b"))
            .repartition(32)
            .cache()
        )
        edges.count()
        seeds = spark.range(3).select((F.col("id") * 7919 % n_nodes).alias("node"))
        w_bf: dict = {}
        w_ds: dict = {}
        t0 = _t.perf_counter()
        bf = bellman_ford(edges, seeds, rounds=40, work=w_bf)
        n_bf, sum_bf = bf.agg(F.count(F.lit(1)), F.sum("cost")).collect()[0]
        t_bf = _t.perf_counter() - t0
        t0 = _t.perf_counter()
        ds = delta_stepping(edges, seeds, delta=20, max_buckets=64, work=w_ds)
        n_ds, sum_ds = ds.agg(F.count(F.lit(1)), F.sum("cost")).collect()[0]
        t_ds = _t.perf_counter() - t0
        assert (n_bf, sum_bf) == (n_ds, sum_ds), ((n_bf, sum_bf), (n_ds, sum_ds))
        print(
            f"edges={n_edges} nodes~{n_nodes} labeled={n_ds} | "
            f"bellman_ford {t_bf:.1f}s rounds={w_bf.get('rounds')} "
            f"relaxed_rows={w_bf.get('relaxed_rows'):,} | "
            f"delta_stepping {t_ds:.1f}s rounds={w_ds.get('rounds')} "
            f"relaxed_rows={w_ds.get('relaxed_rows'):,} "
            f"(identical costs, sum={sum_ds})",
            flush=True,
        )
        edges.unpersist()


def probe_ivm(spark, sizes: list[int]) -> None:
    """Incremental view maintenance vs full recompute as the base fact
    history grows with a FIXED 200k-row delta. The claim under test:
    maintenance cost is O(|delta| + |view keys|) — it never rescans the
    fact history — while recompute is O(|facts|). The view is cached
    (the stored-MV analogue) before timing."""
    import time as _t

    from pyspark.sql import functions as F

    from datafusion_gpu_spark.context import scratch_dir
    from datafusion_gpu_spark.operators.layout import incremental_agg

    import shutil as _shutil

    d_rows = 200_000
    for n in sizes:
        # FIXED view size: the claim is about history growth with the
        # view and delta held constant — scaling keys with n would
        # conflate the two
        n_keys = 50_000
        # the fact HISTORY lives on storage (parquet), as it would in a
        # lake — recompute must pay the scan; maintenance must not
        fact_dir = scratch_dir(spark, f"ivm_facts_{n}")
        spark.range(n).select(
            (F.col("id") % n_keys).alias("k"),
            (F.col("id") % 1000).cast("long").alias("v"),
        ).write.mode("overwrite").parquet(fact_dir)
        facts = spark.read.parquet(fact_dir)
        view = (
            facts.groupBy("k")
            .agg(F.count(F.lit(1)).alias("cnt"), F.sum("v").alias("total"))
            .cache()
        )
        view.count()  # materialize the stored view
        # half inserts of brand-new facts, half deletes of existing ones
        delta = spark.range(d_rows).select(
            (F.col("id") % n_keys).alias("k"),
            (F.col("id") % 1000).cast("long").alias("v"),
            F.when(F.col("id") % 2 == 0, F.lit(1)).otherwise(F.lit(-1)).alias("sign"),
        ).repartition(32).cache()
        delta.count()
        # checksum-collect, NOT .count(): counting an aggregate lets
        # Catalyst prune the aggregate payload columns entirely (the
        # recompute collapses to a distinct over one RLE column and
        # reads as free) — summing the outputs forces both plans to
        # actually compute the view
        t0 = _t.perf_counter()
        r = (
            incremental_agg(view, delta, "k", "v")
            .agg(F.count(F.lit(1)).alias("nk"), F.sum("total").alias("chk"))
            .collect()[0]
        )
        n_keys_out = r["nk"]
        t_ivm = _t.perf_counter() - t0
        t0 = _t.perf_counter()
        (
            facts.groupBy("k")
            .agg(F.count(F.lit(1)).alias("cnt"), F.sum("v").alias("total"))
            .agg(F.count(F.lit(1)), F.sum("total"))
            .collect()
        )
        t_full = _t.perf_counter() - t0
        print(
            f"facts={n} keys={n_keys} delta={d_rows}: ivm={t_ivm:.2f}s "
            f"({n_keys_out} keys) recompute={t_full:.2f}s "
            f"ratio={t_full / t_ivm:.1f}x",
            flush=True,
        )
        view.unpersist(); delta.unpersist()
        _shutil.rmtree(fact_dir, ignore_errors=True)


def probe_geo(spark, sizes: list[int]) -> None:
    """Grid-bucketed radius join vs the theta spelling. The grid join
    runs at every size; the theta join (ON haversine <= r, which Spark
    plans as a nested loop) runs only at the SMALLEST size as the
    blowup exhibit — n x m pair enumeration is exactly what the grid
    key exists to avoid."""
    import time as _t

    from pyspark.sql import functions as F

    from datafusion_gpu_spark.operators.geo import haversine_km, radius_join

    def points(n, mult_a, mult_b, idc):
        return spark.range(n).select(
            F.col("id").alias(idc),
            (((F.col("id") * mult_a) % 12000) / 100.0 - 60.0).alias("lat"),
            (((F.col("id") * mult_b) % 12000) / 100.0 - 60.0).alias("lon"),
        ).repartition(32).cache()

    for i, n in enumerate(sizes):
        left = points(n, 37, 61, "id")
        right = points(max(n // 10, 1000), 53, 29, "rid")
        left.count(); right.count()
        t0 = _t.perf_counter()
        pairs = radius_join(left, right, radius_km=25.0).count()
        dt = _t.perf_counter() - t0
        print(f"grid n={n} m={right.count()}: {pairs} pairs in {dt:.1f}s",
              flush=True)
        if i == 0:
            t0 = _t.perf_counter()
            theta = (
                left.crossJoin(right.withColumnRenamed("lat", "lat_r")
                               .withColumnRenamed("lon", "lon_r"))
                .where(haversine_km(F.col("lat"), F.col("lon"),
                                    F.col("lat_r"), F.col("lon_r")) <= 25.0)
                .count()
            )
            dt2 = _t.perf_counter() - t0
            print(f"theta n={n} m={right.count()}: {theta} pairs in "
                  f"{dt2:.1f}s ({dt2 / dt:.0f}x the grid join; agree="
                  f"{theta == pairs})", flush=True)
        left.unpersist(); right.unpersist()


def probe_hyperball(spark, sizes: list[int]) -> None:
    """HyperBall harmonic centrality on random degree-8 graphs: wall
    clock and state size vs the exact multi-source BFS, whose state is
    the SUM OF BALL SIZES (quadratic on a connected graph — it stops
    being runnable where HyperBall keeps cruising at |V| x 4 KiB)."""
    import time as _t

    from pyspark.sql import functions as F

    from datafusion_gpu_spark.operators.graph import harmonic_hyperball

    for n_edges in sizes:
        n_nodes = max(n_edges // 4, 10)
        edges = (
            spark.range(n_edges)
            .select(
                (F.xxhash64("id").bitwiseAND(F.lit(0x7FFFFFFF)) % n_nodes).alias("a"),
                (F.xxhash64("id", F.lit(1)).bitwiseAND(F.lit(0x7FFFFFFF)) % n_nodes).alias("b"),
            )
            .where(F.col("a") != F.col("b"))
            .repartition(32)
            .cache()
        )
        edges.count()
        t0 = _t.perf_counter()
        stats = (
            harmonic_hyperball(edges, max_dist=6)
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.avg("ball")).alias("avg_ball"),
                F.round(F.avg("harmonic"), 1).alias("avg_h"),
            )
            .collect()[0]
        )
        dt = _t.perf_counter() - t0
        print(
            f"edges={n_edges} nodes={stats['n']} avg_ball={stats['avg_ball']} "
            f"avg_harmonic={stats['avg_h']} time={dt:.1f}s "
            f"(exact state would be ~{int(stats['n'] * stats['avg_ball'])} rows)",
            flush=True,
        )
        edges.unpersist()



def probe_scc(spark, sizes: list[int]) -> None:
    """SCC at synthetic scale with CHECKABLE ground truth: nodes are
    partitioned into directed 8-rings (each ring = one SCC of size 8),
    and ring 0 points at every other ring (star cross edges). The
    coloring trajectory is then deterministic: round 1 colors the whole
    graph with ring 0's min label but can only peel ring 0 backward
    (cross edges do not reverse), round 2 peels every now-isolated
    ring — 2 outer rounds regardless of n, ~8 forward + ~8 backward
    hops each. Asserts n/8 SCCs, all of size exactly 8."""
    import time as _t

    from pyspark.sql import functions as F

    from datafusion_gpu_spark.operators.graph import strongly_connected_components

    for n_nodes in sizes:
        n_nodes -= n_nodes % 8
        rings = n_nodes // 8
        ring_edges = spark.range(n_nodes).select(
            F.col("id").alias("src"),
            ((F.col("id") - F.col("id") % 8) + (F.col("id") + 1) % 8).alias("dst"),
        )
        cross = (
            spark.range(1, rings)
            .select(F.lit(0).cast("long").alias("src"),
                    (F.col("id") * 8).alias("dst"))
        )
        edges = ring_edges.unionAll(cross).repartition(32).cache()
        edges.count()
        t0 = _t.perf_counter()
        out = strongly_connected_components(edges)
        sizes_df = out.groupBy("scc_id").agg(F.count(F.lit(1)).alias("sz"))
        stats = sizes_df.agg(
            F.count(F.lit(1)).alias("n_sccs"),
            F.min("sz").alias("min_sz"),
            F.max("sz").alias("max_sz"),
        ).collect()[0]
        dt = _t.perf_counter() - t0
        ok = stats["n_sccs"] == rings and stats["min_sz"] == 8 == stats["max_sz"]
        print(
            f"nodes={n_nodes} rings={rings} sccs={stats['n_sccs']} "
            f"sizes=[{stats['min_sz']},{stats['max_sz']}] "
            f"exact={'OK' if ok else 'MISMATCH'} time={dt:.1f}s",
            flush=True,
        )
        edges.unpersist()



def probe_prefixfilter(spark, sizes: list[int]) -> None:
    """Exact prefix-filter set-similarity join vs MinHash-LSH on the
    SAME planted corpus (odd doc = near-dup of its predecessor, so n/2
    true pairs exist): wall clock and pairs found for both paths. The
    exact path's selling point is NO false negatives; the probe shows
    what that costs (and that candidates stay bounded — the AllPairs
    prefix theorem — instead of exploding quadratically)."""
    import time as _t

    from datafusion_gpu_spark.operators.dedup import (
        minhash_lsh_pairs,
        prefix_filter_pairs,
    )

    for n in sizes:
        docs = corpus(spark, n).cache()
        docs.count()
        t0 = _t.perf_counter()
        exact = prefix_filter_pairs(docs, threshold=0.5).count()
        t_exact = _t.perf_counter() - t0
        t0 = _t.perf_counter()
        approx = minhash_lsh_pairs(docs, threshold=0.5).count()
        t_lsh = _t.perf_counter() - t0
        print(
            f"docs={n} planted~{n // 2} prefix_exact={exact} ({t_exact:.1f}s) "
            f"minhash_lsh={approx} ({t_lsh:.1f}s)",
            flush=True,
        )
        docs.unpersist()


def probe_mst(spark, sizes: list[int]) -> None:
    """Borůvka at synthetic scale with checkable ground truth: a
    heap-shaped planted tree (weight = child index) plus 2n random
    strictly-heavier edges. MST must be exactly the tree: n-1 edges,
    total weight n(n-1)/2."""
    import time as _t

    from pyspark.sql import functions as F

    from datafusion_gpu_spark.operators.graph import boruvka_mst

    for n in sizes:
        tree = spark.range(1, n).select(
            F.col("id").alias("a"),
            ((F.col("id") - 1) / 2).cast("long").alias("b"),
            F.col("id").alias("w"),
        )
        heavy = spark.range(2 * n).select(
            (F.xxhash64("id").bitwiseAND(F.lit(0x7FFFFFFF)) % n).alias("a"),
            (F.xxhash64("id", F.lit(1)).bitwiseAND(F.lit(0x7FFFFFFF)) % n).alias("b"),
            (F.lit(10_000_000) + F.col("id")).alias("w"),
        ).where(F.col("a") != F.col("b"))
        edges = tree.unionAll(heavy).repartition(32).cache()
        edges.count()
        t0 = _t.perf_counter()
        mst = boruvka_mst(edges)
        stats = mst.agg(
            F.count(F.lit(1)).alias("n_e"), F.sum("w").alias("tw")
        ).collect()[0]
        dt = _t.perf_counter() - t0
        ok = stats["n_e"] == n - 1 and stats["tw"] == n * (n - 1) // 2
        print(
            f"nodes={n} mst_edges={stats['n_e']} total_w={stats['tw']} "
            f"exact={'OK' if ok else 'MISMATCH'} time={dt:.1f}s",
            flush=True,
        )
        edges.unpersist()


def main() -> int:
    args = sys.argv[1:]
    op = "minhash"
    if args and args[0] in ("minhash", "curate", "components", "shuffle", "pagerank", "merge", "bloom", "funnel", "pca", "bfs", "ivm", "geo", "hyperball", "deltastep", "louvain", "scc", "prefixfilter", "mst"):
        op, args = args[0], args[1:]
    sizes = [int(a) for a in args] or [5_000, 50_000, 200_000]

    from datafusion_gpu_spark.context import get_spark
    from datafusion_gpu_spark.operators.curation import curate_corpus
    from datafusion_gpu_spark.operators.dedup import minhash_lsh_pairs

    spark = get_spark("scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    if op == "prefixfilter":
        probe_prefixfilter(spark, sizes if args else [5_000, 20_000])
        return 0
    if op == "mst":
        probe_mst(spark, sizes if args else [50_000, 200_000])
        return 0
    if op == "scc":
        probe_scc(spark, sizes if args else [40_000, 160_000])
        return 0
    if op == "components":
        probe_components(spark, sizes if args else [100_000, 400_000])
        return 0
    if op == "shuffle":
        probe_shuffle(spark, sizes if args else [100_000, 1_000_000])
        return 0
    if op == "pagerank":
        probe_pagerank(spark, sizes if args else [250_000, 1_000_000])
        return 0
    if op == "merge":
        probe_merge(spark, sizes if args else [1_000_000, 10_000_000])
        return 0
    if op == "bloom":
        probe_bloom_dedup(spark, sizes if args else [1_000_000, 5_000_000])
        return 0
    if op == "funnel":
        probe_funnel(spark, sizes if args else [1_000_000, 4_000_000])
        return 0
    if op == "pca":
        probe_pca(spark, sizes if args else [250_000, 1_000_000])
        return 0
    if op == "bfs":
        probe_bfs(spark, sizes if args else [500_000, 2_000_000])
        return 0
    if op == "louvain":
        probe_louvain(spark, sizes if args else [100_000, 500_000])
        return 0
    if op == "deltastep":
        probe_deltastep(spark, sizes if args else [200_000, 1_000_000])
        return 0
    if op == "ivm":
        probe_ivm(spark, sizes if args else [100_000_000, 1_000_000_000])
        return 0
    if op == "geo":
        probe_geo(spark, sizes if args else [100_000, 2_000_000])
        return 0
    if op == "hyperball":
        probe_hyperball(spark, sizes if args else [500_000, 2_000_000])
        return 0
    for n in sizes:
        docs = corpus(spark, n, exact_dups=op == "curate")
        docs.count()
        t0 = time.perf_counter()
        if op == "curate":
            kept = curate_corpus(docs, budget=2048, shards=64).count()
            dt = time.perf_counter() - t0
            expected = (n + 1) // 2  # odd ids are exact dups of evens
            print(
                f"n={n} kept={kept} (expected {expected}) "
                f"time={dt:.1f}s rate={n / dt:.0f} docs/s",
                flush=True,
            )
            assert kept == expected, (kept, expected)
        else:
            pairs = minhash_lsh_pairs(docs, threshold=0.5).count()
            dt = time.perf_counter() - t0
            expected = n // 2
            recall = pairs / expected if expected else 1.0
            print(
                f"n={n} pairs={pairs} (recall {recall:.3f}) "
                f"time={dt:.1f}s rate={n / dt:.0f} docs/s",
                flush=True,
            )
        docs.unpersist()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
