"""PageRank operator: analytic fixpoints, mass conservation, and the
merge/rollup/incremental-dedup operators added alongside it."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datafusion_gpu_spark.operators.graph import pagerank


@pytest.fixture
def owner_cuts(monkeypatch):
    """The counting seam over ``util.Cuts._cut``, the one lineage-cut
    path of the per-call cut owner: ``["n"]`` counts the cuts made,
    ``["reliable"]`` those on the reliable (checkpoint dir) path."""
    from datafusion_gpu_spark.operators import util

    calls = {"n": 0, "reliable": 0}
    real = util.Cuts._cut

    def counting(self, df):
        calls["n"] += 1
        calls["reliable"] += self._reliable
        return real(self, df)

    monkeypatch.setattr(util.Cuts, "_cut", counting)
    return calls


def _ranks(df):
    return {r.node: r.rank for r in df.collect()}


def test_pagerank_two_node_cycle_is_uniform(spark):
    # a <-> b: perfect symmetry, rank stays exactly 0.5 every iteration
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a")], "src string, dst string"
    )
    r = _ranks(pagerank(edges, iterations=3))
    assert r["a"] == pytest.approx(0.5, abs=1e-12)
    assert r["b"] == pytest.approx(0.5, abs=1e-12)


def test_pagerank_sink_authority_ordering_and_mass(spark):
    # star into "hub" with a back-edge: hub must outrank every leaf, and
    # with no dangling nodes total mass stays exactly 1
    edges = spark.createDataFrame(
        [("l1", "hub"), ("l2", "hub"), ("l3", "hub"),
         ("hub", "l1"), ("hub", "l2"), ("hub", "l3")],
        "src string, dst string",
    )
    ranks = pagerank(edges, iterations=10)
    r = _ranks(ranks)
    assert all(r["hub"] > r[leaf] for leaf in ("l1", "l2", "l3"))
    assert sum(r.values()) == pytest.approx(1.0, abs=1e-9)
    # symmetric leaves converge to identical rank
    assert r["l1"] == pytest.approx(r["l2"], abs=1e-12)


def test_pagerank_known_fixpoint_three_nodes(spark):
    # directed cycle a->b->c->a: uniform 1/3 is the exact fixpoint
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], "src string, dst string"
    )
    r = _ranks(pagerank(edges, iterations=7))
    for v in r.values():
        assert v == pytest.approx(1 / 3, abs=1e-12)


def test_pagerank_dangling_leak_documented_semantics(spark):
    # a->b with no out-edge from b: b's mass leaks (documented variant),
    # so total mass < 1 but both ranks stay positive and b > a
    edges = spark.createDataFrame([("a", "b")], "src string, dst string")
    r = _ranks(pagerank(edges, iterations=5))
    assert r["b"] > r["a"] > 0
    assert sum(r.values()) < 1.0


def test_pagerank_redistribute_conserves_mass_and_matches_numpy(spark):
    # dangling-heavy graph: a->b, a->c, b->c (c dangling). redistribute
    # mode must keep total mass exactly 1.0 and match the textbook
    # dense power iteration with uniform dangling redistribution.
    import numpy as np

    edges = [("a", "b"), ("a", "c"), ("b", "c")]
    nodes = ["a", "b", "c"]
    idx = {n: i for i, n in enumerate(nodes)}
    d, n = 0.85, len(nodes)
    rank = np.full(n, 1.0 / n)
    out = np.zeros(n)
    for s, _ in edges:
        out[idx[s]] += 1
    iters = 6
    for _ in range(iters):
        contrib = np.zeros(n)
        for s, t in edges:
            contrib[idx[t]] += rank[idx[s]] / out[idx[s]]
        m = rank[out == 0].sum()
        rank = (1 - d) / n + d * contrib + d * m / n
    got = _ranks(
        pagerank(
            spark.createDataFrame(edges, "src string, dst string"),
            iterations=iters,
            dangling="redistribute",
        )
    )
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)
    for node in nodes:
        assert got[node] == pytest.approx(rank[idx[node]], abs=1e-12)


def test_merge_upsert_update_insert_passthrough_and_null_update(spark):
    from datafusion_gpu_spark.operators.layout import merge_upsert

    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "k int, s string, v double",
    )
    changes = spark.createDataFrame(
        [(2, "B", None), (4, "d", 40.0)], "k int, s string, v double"
    )
    out = {r.k: (r.s, r.v) for r in merge_upsert(base, changes, "k").collect()}
    assert out[1] == ("a", 10.0)          # passthrough
    assert out[2] == ("B", None)          # update — NULL from changes WINS
    assert out[3] == ("c", 30.0)          # passthrough
    assert out[4] == ("d", 40.0)          # insert
    assert len(out) == 4


def test_merge_upsert_rejects_schema_mismatch(spark):
    from datafusion_gpu_spark.operators.layout import merge_upsert

    base = spark.createDataFrame([(1, "a")], "k int, s string")
    changes = spark.createDataFrame([(1,)], "k int")
    with pytest.raises(ValueError, match="schema mismatch"):
        merge_upsert(base, changes, "k")


def test_incremental_dedup_drops_history_and_batch_dups(spark):
    from datafusion_gpu_spark.operators.dedup import incremental_dedup

    history = spark.createDataFrame(
        [(1, "old news"), (2, "evergreen  text")], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [(10, "Evergreen text"),   # dup of history (normalization collapses)
         (11, "fresh content"),
         (12, "fresh content"),    # in-batch dup, keeper = min id 11
         (13, "also new")],
        "doc_id long, text string",
    )
    out = incremental_dedup(history, batch)
    survivors = sorted(r.doc_id for r in out.collect())
    assert survivors == [11, 13]


def test_multi_resolution_rollup_tiers_reaggregate_exactly(spark):
    from datafusion_gpu_spark.operators.events import multi_resolution_rollup

    ev = spark.createDataFrame(
        [("2024-01-01 10:00:30", "click", 1.0),
         ("2024-01-01 10:00:45", "click", 2.0),
         ("2024-01-01 10:59:00", "click", 4.0),
         ("2024-01-01 23:30:00", "view", 8.0),
         ("2024-01-02 00:00:01", "view", 16.0)],
        "ts_s string, event_type string, value double",
    ).select(F.col("ts_s").cast("timestamp").alias("ts"), "event_type", "value")
    rows = multi_resolution_rollup(ev).collect()
    by = {(r.resolution, str(r.bucket_start), r.event_type): (r.n_events, r.sum_value)
          for r in rows}
    # minute tier: two clicks collapse into 10:00
    assert by[("minute", "2024-01-01 10:00:00", "click")] == (2, 3.0)
    # hour tier reaggregates minute partials: 10:00 + 10:59
    assert by[("hour", "2024-01-01 10:00:00", "click")] == (3, 7.0)
    # day tier: clicks of Jan 1
    assert by[("day", "2024-01-01 00:00:00", "click")] == (3, 7.0)
    assert by[("day", "2024-01-01 00:00:00", "view")] == (1, 8.0)
    assert by[("day", "2024-01-02 00:00:00", "view")] == (1, 16.0)


def test_quantile_filter_exact_and_approx_agree_on_clean_data(spark):
    from datafusion_gpu_spark.operators.curation import quantile_threshold_filter

    docs = spark.createDataFrame(
        [(i, "s1" if i <= 8 else "s2", float(i)) for i in range(1, 13)],
        "doc_id int, source string, score double",
    )
    # s1 scores 1..8 -> q=0.25 exact threshold = 2.75; survivors 3..8
    exact = quantile_threshold_filter(docs, "score", "source", 0.25, exact=True)
    s1 = sorted(r.doc_id for r in exact.where("source = 's1'").collect())
    assert s1 == [3, 4, 5, 6, 7, 8]
    thr = exact.where("source = 's1'").select("threshold").first()[0]
    assert thr == pytest.approx(2.75, abs=1e-9)
    # the sketch path keeps at least the exact survivors' ORDER property:
    # every kept score >= its group threshold
    approx = quantile_threshold_filter(docs, "score", "source", 0.25)
    for r in approx.collect():
        assert r.score >= 0
    assert approx.count() >= 1


def test_pagerank_broadcast_and_shuffle_modes_agree(spark):
    # broadcast_ranks is a physical-plan knob only — results identical
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c")],
        "src string, dst string",
    )
    r_b = _ranks(pagerank(edges, iterations=4, broadcast_ranks=True))
    r_s = _ranks(pagerank(edges, iterations=4, broadcast_ranks=False))
    assert set(r_b) == set(r_s)
    for n in r_b:
        assert r_b[n] == pytest.approx(r_s[n], abs=1e-12)


def test_merge_upsert_algebraic_properties(spark):
    # empty changes is identity; re-applying the same changes is
    # idempotent — the two invariants a MERGE engine must satisfy
    from datafusion_gpu_spark.operators.layout import merge_upsert

    base = spark.createDataFrame(
        [(i, f"s{i}", float(i)) for i in range(20)], "k int, s string, v double"
    )
    empty = base.where("k < 0")
    ident = merge_upsert(base, empty, "k")
    assert sorted(map(tuple, ident.collect())) == sorted(map(tuple, base.collect()))

    changes = spark.createDataFrame(
        [(5, "x", 50.0), (25, "y", 250.0)], "k int, s string, v double"
    )
    once = merge_upsert(base, changes, "k")
    twice = merge_upsert(once, changes, "k")
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


def test_merge_upsert_null_key_rows_insert_and_duplicates_raise(spark):
    from datafusion_gpu_spark.operators.layout import merge_upsert

    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], "k int, s string, v double"
    )
    # NULL-key changes rows match nothing -> inserted with payload intact
    ch = spark.createDataFrame(
        [(None, "x", 1.0), (2, "B", None)], "k int, s string, v double"
    )
    rows = {(r.k, r.s, r.v) for r in merge_upsert(base, ch, "k").collect()}
    assert rows == {(1, "a", 10.0), (2, "B", None), (None, "x", 1.0)}
    # duplicate non-NULL keys fail at execution, like Delta's
    # "multiple source rows matched"
    dup = spark.createDataFrame(
        [(2, "p", 1.0), (2, "q", 2.0)], "k int, s string, v double"
    )
    with pytest.raises(Exception, match="multiple changes rows"):
        merge_upsert(base, dup, "k").collect()
    # ...unless the caller opts out
    n = merge_upsert(base, dup, "k", reject_duplicate_keys=False).count()
    assert n == 3  # 1 passthrough + 2 rows for the duplicated key
    # two NULL-key inserts never trip the duplicate check
    nn = spark.createDataFrame(
        [(None, "x", 1.0), (None, "y", 2.0)], "k int, s string, v double"
    )
    assert merge_upsert(base, nn, "k").count() == 4


def test_triangle_count_matches_brute_force_on_random_graphs(spark):
    import random
    from itertools import combinations

    from datafusion_gpu_spark.operators.graph import triangle_count

    random.seed(7)
    for _ in range(3):
        n = 12
        edges = [
            (i, j)
            for i in range(n)
            for j in range(i + 1, n)
            if random.random() < 0.35
        ]
        adj = set(edges)
        brute = sum(
            1
            for x, y, z in combinations(range(n), 3)
            if (x, y) in adj and (y, z) in adj and (x, z) in adj
        )
        # duplicates, reversed orientations and a self-loop must not
        # change the count
        noisy = edges + [(b, a) for a, b in edges[:5]] + [(3, 3)]
        got = triangle_count(
            spark.createDataFrame(noisy, "a long, b long")
        ).collect()[0]["n_triangles"]
        assert got == brute


def test_triangle_count_k4_and_triangle_free(spark):
    from datafusion_gpu_spark.operators.graph import triangle_count

    # K4 has exactly 4 triangles
    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    got = triangle_count(spark.createDataFrame(k4, "a long, b long")).collect()
    assert got[0]["n_triangles"] == 4
    # a star is triangle-free
    star = [(0, i) for i in range(1, 6)]
    got = triangle_count(spark.createDataFrame(star, "a long, b long")).collect()
    assert got[0]["n_triangles"] == 0


def test_degree_histogram_star_graph(spark):
    from datafusion_gpu_spark.operators.graph import degree_histogram

    star = [(0, i) for i in range(1, 6)]
    rows = {
        r["degree"]: r["n_nodes"]
        for r in degree_histogram(
            spark.createDataFrame(star, "a long, b long")
        ).collect()
    }
    assert rows == {5: 1, 1: 5}


def test_kcore_matches_reference_peel(spark):
    import random

    from datafusion_gpu_spark.operators.graph import k_core

    def ref_kcore(edges, k):
        adj = {}
        for a, b in edges:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        changed = True
        while changed:
            changed = False
            for n in [n for n, nb in adj.items() if len(nb) < k]:
                for m in adj.pop(n):
                    adj[m].discard(n)
                changed = True
        return {n: len(nb) for n, nb in adj.items()}

    random.seed(11)
    n = 20
    edges = [
        (i, j)
        for i in range(n)
        for j in range(i + 1, n)
        if random.random() < 0.2
    ]
    for k in (2, 3):
        want = ref_kcore(edges, k)
        got = {
            r.node: r.degree
            for r in k_core(
                spark.createDataFrame(edges, "a long, b long"), k=k, rounds=n
            ).collect()
        }
        assert got == want


def test_kcore_monotone_rounds_converge(spark):
    from datafusion_gpu_spark.operators.graph import k_core

    # a triangle with a pendant chain: the chain peels away over
    # CASCADING rounds (one hop per round), the triangle is the 2-core
    edges = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 5)]
    df = spark.createDataFrame(edges, "a long, b long")
    # round 1 peels node 5 (degree 1); the output's own degree>=k filter
    # then also hides node 4, whose degree fell to 1 when 4-5 vanished
    r1 = {r.node for r in k_core(df, k=2, rounds=1).collect()}
    assert r1 == {0, 1, 2, 3}
    # converged: exactly the triangle, every degree 2
    done = {r.node: r.degree for r in k_core(df, k=2, rounds=4).collect()}
    assert done == {0: 2, 1: 2, 2: 2}
    # extra rounds after convergence are no-ops
    more = {r.node: r.degree for r in k_core(df, k=2, rounds=6).collect()}
    assert more == done


def test_kcore_early_stop_exits_at_cascade_depth(spark, owner_cuts):
    """The peel loop must exit when a round removes nothing — paying
    cascade-depth rounds, not the ``rounds`` upper bound. Counted via
    the cut owner's seam: 1 initial cut + 1 per executed round."""
    from datafusion_gpu_spark.operators.graph import k_core

    calls = owner_cuts
    # chain 0-1-2-3 peels from BOTH ends at once (round 1 drops nodes
    # 0 and 3, round 2 drops 1 and 2), the triangle is the 2-core;
    # round 3 removes nothing and breaks.
    edges = [(0, 1), (1, 2), (2, 3), (10, 11), (11, 12), (12, 10)]
    df = spark.createDataFrame(edges, "a long, b long")
    got = {r.node: r.degree for r in k_core(df, k=2, rounds=50).collect()}
    assert got == {10: 2, 11: 2, 12: 2}
    assert calls["n"] == 1 + 3  # initial cut + 3 executed rounds, not 50


def test_common_neighbors_square_and_hub_cap(spark):
    from datafusion_gpu_spark.operators.graph import common_neighbors

    # square 0-1-2-3-0: the two diagonals each share exactly 2 common
    # neighbors, jaccard = 2 / (2 + 2 - 2) = 1.0
    square = [(0, 1), (1, 2), (2, 3), (3, 0)]
    rows = {
        (r.a, r.b): (r.common, r.jaccard)
        for r in common_neighbors(
            spark.createDataFrame(square, "a long, b long"),
            max_degree=64,
            min_common=2,
        ).collect()
    }
    assert rows == {(0, 2): (2, 1.0), (1, 3): (2, 1.0)}
    # hub cap: wedges through a high-degree middle node are dropped —
    # with the hub (degree 4) over the cap, no pair remains
    star_plus = [(9, 0), (9, 1), (9, 2), (9, 3)]
    out = common_neighbors(
        spark.createDataFrame(star_plus, "a long, b long"),
        max_degree=3,
        min_common=1,
    )
    assert out.count() == 0


def test_common_neighbors_excludes_existing_edges(spark):
    from datafusion_gpu_spark.operators.graph import common_neighbors

    # triangle + one open wedge: 0-1, 0-2, 1-2 (closed), 2-3 -> the only
    # candidate is the open pair; adjacent pairs must not appear
    edges = [(0, 1), (0, 2), (1, 2), (2, 3)]
    rows = {
        (r.a, r.b)
        for r in common_neighbors(
            spark.createDataFrame(edges, "a long, b long"),
            max_degree=64,
            min_common=1,
        ).collect()
    }
    assert (0, 1) not in rows and (0, 2) not in rows and (1, 2) not in rows
    assert (0, 3) in rows and (1, 3) in rows


def test_time_travel_replay_equals_iterated_merge(spark):
    import random

    from pyspark.sql import functions as F

    from datafusion_gpu_spark.operators.layout import merge_upsert, time_travel

    random.seed(3)
    base_rows = [(k, float(k * 10)) for k in range(12)]
    base = spark.createDataFrame(base_rows, "k long, v double")
    # three versions of random inserts/updates/deletes, one op per key
    # per version
    log_rows, states = [], []
    state = dict(base_rows)
    for ver in (1, 2, 3):
        keys = random.sample(range(20), 6)
        for k in keys:
            if k in state and random.random() < 0.3:
                log_rows.append((ver, "delete", k, None))
                del state[k]
            elif k in state:
                nv = float(random.randint(0, 99))
                log_rows.append((ver, "update", k, nv))
                state[k] = nv
            else:
                nv = float(random.randint(100, 199))
                log_rows.append((ver, "insert", k, nv))
                state[k] = nv
        states.append(dict(state))
    log = spark.createDataFrame(
        log_rows, "version long, op string, k long, v double"
    )
    # version 0 is the base itself
    got0 = {r.k: r.v for r in time_travel(base, log, "k", 0).collect()}
    assert got0 == dict(base_rows)
    for ver in (1, 2, 3):
        got = {r.k: r.v for r in time_travel(base, log, "k", ver).collect()}
        assert got == states[ver - 1], f"version {ver}"
    # cross-check version 3 against iterated merge/delete application
    cur = base
    for ver in (1, 2, 3):
        batch = log.where(F.col("version") == ver)
        dels = {r.k for r in batch.where("op = 'delete'").collect()}
        cur = merge_upsert(
            cur, batch.where("op <> 'delete'").select("k", "v"), "k"
        ).where(~F.col("k").isin(dels) if dels else F.lit(True))
    assert {r.k: r.v for r in cur.collect()} == states[2]


def test_time_travel_rejects_missing_log_columns(spark):
    import pytest as _pytest

    from datafusion_gpu_spark.operators.layout import time_travel

    base = spark.createDataFrame([(1, 1.0)], "k long, v double")
    bad = spark.createDataFrame([(1, 1.0)], "k long, v double")
    with _pytest.raises(ValueError, match="log lacks columns"):
        time_travel(base, bad, "k", 1)


def test_bfs_distances_chain_and_early_stop(spark, owner_cuts):
    from datafusion_gpu_spark.operators.graph import bfs_distances

    calls = owner_cuts
    # chain 0-1-2-3-4 plus an unreachable pair (10, 11); seed = {0}
    edges = [(0, 1), (1, 2), (2, 3), (3, 4), (10, 11)]
    df = spark.createDataFrame(edges, "a long, b long")
    seeds = spark.createDataFrame([(0,)], "node long")
    got = {r.node: r.dist for r in bfs_distances(df, seeds, rounds=50).collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 3, 4: 4}
    # ckpt: adj + seed visited + per-round (nxt [+ visited union]) —
    # rounds 1..4 produce a frontier (2 cuts each), round 5 is empty
    # (1 cut, no union) and breaks; 50 never runs.
    assert calls["n"] == 2 + 4 * 2 + 1


def test_bpe_train_cuts_through_the_cut_owner(spark, owner_cuts, request):
    """bpe_train's every-8-rounds cut is the shared policy's, so a
    configured checkpoint dir puts it on the reliable path — and the
    owner deletes its files at return, since the merges it returns read
    no cut."""
    from datafusion_gpu_spark.operators.text import bpe_train

    texts = [
        "low low low low low lower lower",
        "newest newest newest newest widest widest lowest",
        "highest highest higher high low",
    ]
    docs = spark.createDataFrame([(t,) for t in texts], "text string")
    local = bpe_train(docs, num_merges=10)
    assert owner_cuts["n"] == 1  # 10 rounds: one cut, at round 8
    assert owner_cuts["reliable"] == 0
    ckdir = request.getfixturevalue("checkpoint_dir")
    assert bpe_train(docs, num_merges=10) == local
    assert owner_cuts["n"] == 2
    # the round-8 cut took the reliable path, and its files are gone
    assert owner_cuts["reliable"] == 1
    assert not list(ckdir.rglob("rdd-*"))


def test_reliable_cuts_keep_only_the_files_their_result_reads(spark, checkpoint_dir):
    """On the reliable path connected_components keeps the checkpoint
    files of the cuts its result reads and deletes the rest at return;
    clearing the session deletes the kept ones."""
    from datafusion_gpu_spark.context import clear_scan_cache
    from datafusion_gpu_spark.operators.dedup import connected_components
    from datafusion_gpu_spark.operators.util import _read_rdds

    session = spark.newSession()
    pairs = session.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (20, 21), (21, 22)],
        "doc_a long, doc_b long",
    )

    def files() -> set[int]:
        return {int(p.name[4:]) for p in checkpoint_dir.rglob("rdd-*")}

    labels = connected_components(pairs)
    kept = files()
    assert kept and kept <= _read_rdds(labels)
    assert {(r.node, r.component) for r in labels.collect()} == {
        (1, 1), (2, 1), (3, 1), (4, 1), (5, 1),
        (10, 10), (11, 10), (20, 20), (21, 20), (22, 20),
    }
    clear_scan_cache(session)
    assert files() == set()


def _persistent(session) -> set[int]:
    return set(session.sparkContext._jsc.getPersistentRDDs().keySet())


def test_bpe_train_releases_its_cuts_and_states(spark):
    """Every cut and persisted round state is released at return; with
    ``return_state`` only the returned state (and the cut it reads)
    stays, and clearing the session releases the cut."""
    from datafusion_gpu_spark.context import clear_scan_cache
    from datafusion_gpu_spark.operators.text import bpe_train
    from datafusion_gpu_spark.operators.util import _read_rdds

    session = spark.newSession()
    texts = [
        "low low low low low lower lower",
        "newest newest newest newest widest widest lowest",
        "highest highest higher high low",
    ]
    docs = session.createDataFrame([(t,) for t in texts], "text string")
    # ids, not a count: earlier tests' RDDs may be cleaned up meanwhile
    before = _persistent(session)
    merges = bpe_train(docs, num_merges=20)
    assert len(merges) >= 16  # the corpus runs out at 18: cuts at 8 and 16
    assert _persistent(session) - before == set()
    merges2, state = bpe_train(docs, num_merges=10, return_state=True)
    assert merges2 == merges[:10]
    kept = _persistent(session) - before
    # the returned state's own cache, plus the round-8 cut under it
    assert len(kept - _read_rdds(state)) == 1 and len(kept) == 2
    state.unpersist()
    clear_scan_cache(session)
    assert _persistent(session) - before == set()


def _fixture_graph(session):
    """300 nodes, 900 weighted edges (``random.seed(1)``), seed {0}."""
    import random

    random.seed(1)
    rows = [
        (random.randrange(300), random.randrange(300), random.randrange(1, 6))
        for _ in range(900)
    ]
    edges = session.createDataFrame(rows, "a long, b long, w long")
    return edges, session.createDataFrame([(0,)], "node long")


def test_early_stop_operators_jobs_and_released_cuts(spark):
    """The early-stop operators read their stop statistic in the job
    that cuts the round (construction-time jobs pinned at most at the
    counts measured when that landed: k_core 18, bellman_ford 24,
    components 24, scc 222, topo_layers 109, mst 154-159 (pinned at
    160), bfs 51 — with a separate action per round they were 28, 34,
    36, 280, 129, 209-211 and 57; delta_stepping 134, where its
    per-round ``take(1)`` emptiness probes gave 267), and keep only the
    cuts their result reads: a returned DataFrame collects twice, the
    same each call, and clearing the session releases what was kept."""
    from datafusion_gpu_spark.context import clear_scan_cache
    from datafusion_gpu_spark.operators import graph
    from datafusion_gpu_spark.operators.dedup import connected_components
    from datafusion_gpu_spark.operators.util import _read_rdds

    session = spark.newSession()
    sc = session.sparkContext
    edges, seeds = _fixture_graph(session)
    dag = edges.where(F.col("a") < F.col("b"))
    ops = {
        "k_core": (lambda: graph.k_core(edges), 18),
        "bellman_ford": (lambda: graph.bellman_ford(edges, seeds), 24),
        "components": (lambda: connected_components(edges, a="a", b="b"), 24),
        "scc": (
            lambda: graph.strongly_connected_components(edges, src="a", dst="b"),
            222,
        ),
        "topo_layers": (lambda: graph.topo_layers(dag, src="a", dst="b"), 109),
        "mst": (lambda: graph.boruvka_mst(edges), 160),
        "bfs": (lambda: graph.bfs_distances(edges, seeds), 51),
        "delta_stepping": (lambda: graph.delta_stepping(edges, seeds), 134),
    }
    before = _persistent(session)
    try:
        for name, (op, max_jobs) in ops.items():
            values = None
            for call in range(2):
                pre = _persistent(session)
                sc.setJobGroup(name, name)
                try:
                    df = op()
                finally:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                if call == 0:
                    jobs = len(sc.statusTracker().getJobIdsForGroup(name))
                    assert jobs <= max_jobs, (name, jobs)
                assert _persistent(session) - pre <= _read_rdds(df), name
                got = sorted(map(tuple, df.collect()))
                assert got == sorted(map(tuple, df.collect())), name
                assert values in (None, got), name
                values = got
    finally:
        clear_scan_cache(session)
    assert _persistent(session) - before == set()


def test_bfs_distances_min_hop_not_first_path(spark):
    from datafusion_gpu_spark.operators.graph import bfs_distances

    # two paths from seed to node 3: length 3 (0-1-2-3) and length 1
    # (0-3); BFS must report the minimum, and dist is per closest seed
    edges = [(0, 1), (1, 2), (2, 3), (0, 3), (5, 3)]
    df = spark.createDataFrame(edges, "a long, b long")
    seeds = spark.createDataFrame([(0,), (5,)], "node long")
    got = {r.node: r.dist for r in bfs_distances(df, seeds, rounds=6).collect()}
    assert got == {0: 0, 5: 0, 1: 1, 3: 1, 2: 2}


def test_bfs_distances_truncates_at_rounds(spark):
    from datafusion_gpu_spark.operators.graph import bfs_distances

    edges = [(0, 1), (1, 2), (2, 3), (3, 4)]
    df = spark.createDataFrame(edges, "a long, b long")
    seeds = spark.createDataFrame([(0,)], "node long")
    got = {r.node: r.dist for r in bfs_distances(df, seeds, rounds=2).collect()}
    assert got == {0: 0, 1: 1, 2: 2}  # 3 and 4 beyond the horizon


def test_harmonic_exact_path_graph_closed_form(spark):
    from datafusion_gpu_spark.operators.graph import harmonic_exact

    # path 0-1-2-3: end nodes see dists 1,2,3; middles see 1,1,2
    e = spark.createDataFrame([(0, 1), (1, 2), (2, 3)], "a long, b long")
    got = {r.node: r.harmonic for r in harmonic_exact(e, max_dist=6).collect()}
    end = round(1 + 1 / 2 + 1 / 3, 6)
    mid = round(1 + 1 + 1 / 2, 6)
    assert got == {0: end, 3: end, 1: mid, 2: mid}
    # truncation: at max_dist=1 only direct neighbors count
    got1 = {r.node: r.harmonic for r in harmonic_exact(e, max_dist=1).collect()}
    assert got1 == {0: 1.0, 3: 1.0, 1: 2.0, 2: 2.0}


def test_harmonic_hyperball_tracks_exact_on_random_graph(spark):
    import random

    from datafusion_gpu_spark.operators.graph import (
        harmonic_exact,
        harmonic_hyperball,
    )

    random.seed(7)
    edges = [(random.randrange(300), random.randrange(300)) for _ in range(1500)]
    df = spark.createDataFrame(edges, "a long, b long")
    ex = {r.node: r.harmonic for r in harmonic_exact(df, max_dist=4).collect()}
    hb = {r.node: r.harmonic for r in harmonic_hyperball(df, max_dist=4).collect()}
    assert set(hb) == set(ex)
    errs = [abs(hb[n] - ex[n]) / ex[n] for n in ex if ex[n] > 0]
    within = sum(e2 <= 0.25 for e2 in errs) / len(errs)
    assert within >= 0.95  # the published lg_k=12 accuracy, generously
    # ball estimates are monotone and end near |component|
    balls = {r.node: r.ball for r in
             harmonic_hyperball(df, max_dist=4).select("node", "ball").collect()}
    assert all(b >= 1.0 for b in balls.values())


def test_personalized_pagerank_mass_flows_to_seed_neighborhood(spark):
    from datafusion_gpu_spark.operators.graph import personalized_pagerank

    # two disconnected triangles; seeding one of them must leave the
    # other with EXACTLY zero rank (no global teleport)
    edges = [("a", "b"), ("b", "c"), ("c", "a"),
             ("x", "y"), ("y", "z"), ("z", "x")]
    df = spark.createDataFrame(edges, "src string, dst string")
    seeds = spark.createDataFrame([("a",)], "node string")
    r = {row.node: row.rank
         for row in personalized_pagerank(df, seeds, iterations=4).collect()}
    assert r["x"] == 0.0 and r["y"] == 0.0 and r["z"] == 0.0
    assert r["a"] > r["c"] > 0  # seed keeps teleport mass; b/c get flow only
    assert r["b"] > 0


def test_personalized_pagerank_matches_numpy_power_iteration(spark):
    import numpy as np

    from datafusion_gpu_spark.operators.graph import personalized_pagerank

    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"), ("c", "d")]
    nodes = ["a", "b", "c", "d"]
    idx = {n: i for i, n in enumerate(nodes)}
    d, iters = 0.85, 4
    p = np.zeros(len(nodes)); p[idx["a"]] = 1.0  # single seed
    out = np.zeros(len(nodes))
    for s, _ in edges:
        out[idx[s]] += 1
    rank = p.copy()
    for _ in range(iters):
        contrib = np.zeros(len(nodes))
        for s, t in edges:
            contrib[idx[t]] += rank[idx[s]] / out[idx[s]]
        rank = (1 - d) * p + d * contrib  # leak mode: dangling d loses mass
    seeds = spark.createDataFrame([("a",)], "node string")
    got = {row.node: row.rank for row in personalized_pagerank(
        spark.createDataFrame(edges, "src string, dst string"),
        seeds, iterations=iters).collect()}
    for n in nodes:
        assert abs(got[n] - rank[idx[n]]) < 1e-12, (n, got[n], rank[idx[n]])


def test_personalized_pagerank_ignores_out_of_graph_seeds(spark):
    # a seed absent from the edge list can receive no teleport mass, so
    # it must not count toward the 1/|S| normalization either — seeding
    # {a, zzz} must give EXACTLY the ranks of seeding {a} alone, not an
    # under-summing copy that leaked zzz's 1/2 share
    from datafusion_gpu_spark.operators.graph import personalized_pagerank

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a")], "src string, dst string"
    )
    alone = {r.node: r.rank for r in personalized_pagerank(
        edges, spark.createDataFrame([("a",)], "node string"),
        iterations=3).collect()}
    with_ghost = {r.node: r.rank for r in personalized_pagerank(
        edges, spark.createDataFrame([("a",), ("zzz",)], "node string"),
        iterations=3).collect()}
    assert with_ghost == alone
    # no dangling nodes here, so the ranks are a proper distribution
    assert abs(sum(with_ghost.values()) - 1.0) < 1e-12


def test_bellman_ford_prefers_cheap_long_path_and_truncates(spark):
    from datafusion_gpu_spark.operators.graph import bellman_ford

    # 0 -> 3 direct costs 10; the 3-edge detour 0-1-2-3 costs 3.
    # With rounds >= 3 the detour wins; with rounds=1 only the direct
    # edge is reachable.
    edges = [(0, 3, 10), (0, 1, 1), (1, 2, 1), (2, 3, 1)]
    df = spark.createDataFrame(edges, "a long, b long, w long")
    seeds = spark.createDataFrame([(0,)], "node long")
    full = {r.node: r.cost for r in bellman_ford(df, seeds, rounds=5).collect()}
    assert full == {0: 0, 1: 1, 2: 2, 3: 3}
    one = {r.node: r.cost for r in bellman_ford(df, seeds, rounds=1).collect()}
    assert one == {0: 0, 1: 1, 3: 10}  # detour not yet relaxed


def test_bellman_ford_early_stop_at_fixpoint(spark, owner_cuts):
    from datafusion_gpu_spark.operators.graph import bellman_ford

    calls = owner_cuts
    # path 0-1-2: labels stabilize after round 2; round 3 confirms and
    # breaks — rounds=50 never runs. ckpt: adj + seed + 3 rounds.
    edges = [(0, 1, 2), (1, 2, 2)]
    df = spark.createDataFrame(edges, "a long, b long, w long")
    seeds = spark.createDataFrame([(0,)], "node long")
    got = {r.node: r.cost for r in bellman_ford(df, seeds, rounds=50).collect()}
    assert got == {0: 0, 1: 2, 2: 4}
    assert calls["n"] == 2 + 3


def test_louvain_recovers_planted_cliques(spark):
    from datafusion_gpu_spark.operators.graph import louvain

    # two 6-cliques joined by one bridge: the planted partition is the
    # unique modularity optimum (~0.468); Louvain must find exactly it
    edges = []
    for base in (0, 100):
        for i in range(6):
            for j in range(i + 1, 6):
                edges.append((base + i, base + j))
    edges.append((0, 100))
    df = spark.createDataFrame(edges, "a long, b long")
    assign, qs = louvain(df, passes=2, move_rounds=4)
    rows = assign.collect()
    assert len(rows) == 12 and len({r.node for r in rows}) == 12
    comms: dict = {}
    for r in rows:
        comms.setdefault(r.comm, set()).add(r.node)
    assert sorted(map(len, comms.values())) == [6, 6]
    assert {frozenset(v) for v in comms.values()} == {
        frozenset(range(6)), frozenset(range(100, 106))
    }
    # per-pass modularity monotone by construction, ends near optimum
    assert all(qs[t + 1] >= qs[t] - 1e-12 for t in range(len(qs) - 1))
    assert qs[-1] > 0.45


def test_louvain_modularity_contract_on_clique_ring(spark):
    from datafusion_gpu_spark.operators.graph import louvain, modularity

    # 8 5-cliques in a ring — far from the resolution limit, so Louvain
    # should score close to the planted partition's Q (~0.74)
    edges = []
    for c in range(8):
        base = c * 10
        for i in range(5):
            for j in range(i + 1, 5):
                edges.append((base + i, base + j))
        edges.append((base, ((c + 1) % 8) * 10))  # ring bridge
    df = spark.createDataFrame(edges, "a long, b long")
    assign, qs = louvain(df, passes=2, move_rounds=4)
    assert all(qs[t + 1] >= qs[t] - 1e-12 for t in range(len(qs) - 1))
    assert qs[-1] >= 0.55
    assert assign.count() == 40


def test_louvain_weighted_merges_across_heavy_bridge(spark):
    from datafusion_gpu_spark.operators.graph import louvain

    # two triangles tied by a weight-100 bridge: the planted two-triangle
    # split scores Q ~ -0.44, while pairing the bridge endpoints (and the
    # triangle remnants) scores Q ~ +0.0355 — the weighted gain must pull
    # the heavy bridge's endpoints into ONE community, which the
    # unweighted reading of the same graph would never do
    edges = [(0, 1, 1.0), (1, 2, 1.0), (0, 2, 1.0),
             (10, 11, 1.0), (11, 12, 1.0), (10, 12, 1.0),
             (0, 10, 100.0)]
    df = spark.createDataFrame(edges, "a long, b long, w double")
    assign, qs = louvain(df, passes=3, move_rounds=4, weight="w")
    bridge_comms = {
        r.comm for r in assign.where(F.col("node").isin(0, 10)).collect()
    }
    assert len(bridge_comms) == 1  # the heavy bridge's endpoints unite
    assert all(qs[t + 1] >= qs[t] - 1e-12 for t in range(len(qs) - 1))
    assert qs[-1] > 0.0  # beats both the split (-0.44) and the full merge (0)


def test_delta_stepping_exact_on_wide_weight_random_graph(spark):
    # parity with the Bellman-Ford fixpoint on a seeded random graph
    # whose weight spread (1..12) exercises the light/heavy split
    import random

    from datafusion_gpu_spark.operators.graph import bellman_ford, delta_stepping

    random.seed(11)
    n = 40
    edges = [
        (random.randrange(n), random.randrange(n),
         random.choice([1, 2, 3, 4, 5, 9, 12]))
        for _ in range(100)
    ]
    edges = [e for e in edges if e[0] != e[1]]
    df = spark.createDataFrame(edges, "a long, b long, w long")
    seeds = spark.createDataFrame([(0,), (7,)], "node long")
    bf = {r.node: r.cost for r in bellman_ford(df, seeds, rounds=30).collect()}
    ds = {r.node: r.cost for r in delta_stepping(df, seeds, delta=4).collect()}
    assert ds == bf


def test_delta_stepping_cheap_detour_beyond_hop_bounds(spark):
    # 0 -> 3 direct costs 10 (heavy); the light 3-edge detour costs 3.
    # delta-stepping has no hop bound, so the detour must win — and the
    # heavy direct edge must still relax nodes the light graph misses
    from datafusion_gpu_spark.operators.graph import delta_stepping

    edges = [(0, 3, 10), (0, 1, 1), (1, 2, 1), (2, 3, 1), (3, 9, 20)]
    df = spark.createDataFrame(edges, "a long, b long, w long")
    seeds = spark.createDataFrame([(0,)], "node long")
    got = {r.node: r.cost for r in delta_stepping(df, seeds, delta=2).collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 3, 9: 23}


def test_stats_barrier_preserves_data_and_resets_size_stats(spark):
    # checkpoints PRESERVE origin sizeInBytes; operators whose rounds
    # reference the previous checkpoint in multiple join branches need
    # the barrier or the BigInt stat compounds geometrically (louvain
    # pass 3 measured 87 s of pure BigInteger stats arithmetic)
    from datafusion_gpu_spark.operators.util import stats_barrier

    df = spark.range(100).selectExpr("id", "id * 2 AS y").localCheckpoint()
    through = stats_barrier(df)
    assert through.schema == df.schema
    assert sorted(r.id for r in through.collect()) == list(range(100))
    ckpt_size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    reset_size = int(
        through._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    )
    assert ckpt_size < 1 << 20          # checkpoint kept the real (tiny) size
    assert reset_size > 1 << 60         # barrier reset to the default


def test_louvain_many_passes_terminate_quickly(spark):
    # regression for the geometric stats compounding: 5 passes x 4 move
    # rounds on a 2k-node planted graph must complete in seconds (the
    # unbarriered spelling stalls the PLANNER for minutes from ~round 12)
    import time

    from pyspark.sql import functions as F

    from datafusion_gpu_spark.operators.graph import louvain

    ids = spark.range(2000)
    e1 = ids.where(F.col("id") + 20 < 2000).select(
        F.col("id").alias("a"), (F.col("id") + 20).alias("b"))
    e2 = ids.where((F.col("id") % 89 == 0) & (F.col("id") + 1 < 2000)).select(
        F.col("id").alias("a"), (F.col("id") + 1).alias("b"))
    t0 = time.perf_counter()
    assign, qs = louvain(e1.unionAll(e2), passes=5, move_rounds=4)
    assert assign.count() == 2000
    assert all(qs[t + 1] >= qs[t] - 1e-12 for t in range(len(qs) - 1))
    assert time.perf_counter() - t0 < 120


def test_resource_allocation_discounts_hub_middles(spark):
    """Two candidate pairs with one common neighbor each: the pair whose
    middle has low degree scores higher, and the score is the exact
    nano-unit quantization of 1/deg."""
    from datafusion_gpu_spark.operators.graph import resource_allocation

    # middle 10 has degree 2 (wedge 1-10-2); middle 20 has degree 4
    # (wedge 3-20-4 plus two pendant edges)
    edges = [(1, 10), (2, 10), (3, 20), (4, 20), (5, 20), (6, 20)]
    df = spark.createDataFrame(edges, "a long, b long")
    got = {
        (r.a, r.b): (r.common, r.ra_units, r.ra)
        for r in resource_allocation(df, min_common=1).collect()
    }
    assert got[(1, 2)] == (1, round(1e9 / 2), 0.5)
    assert got[(3, 4)] == (1, round(1e9 / 4), 0.25)
    assert got[(1, 2)][2] > got[(3, 4)][2]


def test_resource_allocation_excludes_existing_edges_and_hubs(spark):
    from datafusion_gpu_spark.operators.graph import resource_allocation

    # 1-10, 2-10, and the direct edge 1-2: pair (1,2) is adjacent -> dropped.
    # hub 99 with degree 5 > max_degree=4 generates no wedges.
    edges = [(1, 10), (2, 10), (1, 2)] + [(i, 99) for i in range(20, 25)]
    df = spark.createDataFrame(edges, "a long, b long")
    got = resource_allocation(df, max_degree=4, min_common=1).collect()
    assert got == []


def test_scc_cycles_bridge_and_tail(spark):
    """Two 3-cycles joined by a ONE-WAY bridge plus an acyclic tail:
    the bridge must not merge the cycles, the tail nodes are
    singletons, ids are the min member."""
    from datafusion_gpu_spark.operators.graph import strongly_connected_components

    edges = [
        (1, 2), (2, 3), (3, 1),          # cycle A -> scc 1
        (10, 11), (11, 12), (12, 10),    # cycle B -> scc 10
        (3, 10),                         # one-way bridge A -> B
        (12, 20), (20, 21),              # acyclic tail
    ]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.scc_id for r in strongly_connected_components(df).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 21}


def test_scc_dag_is_all_singletons(spark):
    from datafusion_gpu_spark.operators.graph import strongly_connected_components

    edges = [(i, j) for i in range(6) for j in range(i + 1, 6)]  # complete DAG
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.scc_id for r in strongly_connected_components(df).collect()}
    assert got == {i: i for i in range(6)}


def test_scc_single_ring(spark):
    from datafusion_gpu_spark.operators.graph import strongly_connected_components

    df = spark.createDataFrame(
        [(i, (i + 1) % 8) for i in range(8)], "src long, dst long"
    )
    got = {r.node: r.scc_id for r in strongly_connected_components(df).collect()}
    assert got == {i: 0 for i in range(8)}


def test_topo_layers_longest_path_semantics(spark):
    """Diamond with a long side: layer = LONGEST path from a source
    (1 -> 2 -> 3 -> 5 beats 1 -> 4 -> 5's length for node 5)."""
    from datafusion_gpu_spark.operators.graph import topo_layers

    df = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 5), (1, 4), (4, 5), (6, 5)],
        "src long, dst long",
    )
    got = {r.node: r.layer for r in topo_layers(df).collect()}
    assert got == {1: 0, 6: 0, 2: 1, 4: 1, 3: 2, 5: 3}


def test_topo_layers_raises_on_cycle(spark):
    import pytest as _pytest

    from datafusion_gpu_spark.operators.graph import topo_layers

    df = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4)], "src long, dst long"
    )
    with _pytest.raises(ValueError, match="cycle"):
        topo_layers(df).collect()  # raise happens during construction;
        # .collect() keeps the assertion valid if it ever becomes lazy


def test_condensation_composition_layers_super_nodes(spark):
    """cycle {1,2,3} -> cycle {10,11} -> 20; isolated cycle {30,31}:
    condensation layers = 0, 1, 2 and isolated SCC at 0."""
    from datafusion_gpu_spark.operators.graph import (
        strongly_connected_components,
        topo_layers,
    )
    from pyspark.sql import functions as SF

    edges = [(1, 2), (2, 3), (3, 1), (3, 10), (10, 11), (11, 10),
             (11, 20), (30, 31), (31, 30)]
    e = spark.createDataFrame(edges, "src long, dst long")
    scc = strongly_connected_components(e)
    to_s = scc.select(SF.col("node").alias("src"), SF.col("scc_id").alias("cs"))
    to_d = scc.select(SF.col("node").alias("dst"), SF.col("scc_id").alias("cd"))
    ce = (
        e.join(to_s, "src").join(to_d, "dst")
        .where("cs <> cd")
        .select(SF.col("cs").alias("src"), SF.col("cd").alias("dst"))
        .distinct()
    )
    layers = {r.node: r.layer for r in topo_layers(ce).collect()}
    assert layers == {1: 0, 10: 1, 20: 2}  # isolated SCC 30 absent here
    assert {r.scc_id for r in scc.collect()} == {1, 10, 20, 30}


def test_boruvka_mst_known_graph(spark):
    # classic square + cheap diagonal: MST = {(1,2,1),(1,3,2),(2,4,3)}
    from datafusion_gpu_spark.operators.graph import boruvka_mst

    edges = [(1, 2, 1), (1, 3, 2), (2, 4, 3), (3, 4, 10), (1, 4, 9)]
    df = spark.createDataFrame(edges, "a long, b long, w long")
    got = {(r.lo, r.hi, r.w) for r in boruvka_mst(df).collect()}
    assert got == {(1, 2, 1), (1, 3, 2), (2, 4, 3)}


def test_boruvka_mst_spanning_forest_of_disconnected_graph(spark):
    from datafusion_gpu_spark.operators.graph import boruvka_mst

    edges = [(1, 2, 5), (2, 3, 1), (1, 3, 2),      # triangle -> 2 edges
             (10, 11, 7)]                            # separate pair
    df = spark.createDataFrame(edges, "a long, b long, w long")
    got = {(r.lo, r.hi, r.w) for r in boruvka_mst(df).collect()}
    assert got == {(2, 3, 1), (1, 3, 2), (10, 11, 7)}


def test_boruvka_mst_all_equal_weights_is_still_spanning(spark):
    # total-order tiebreak: equal weights must yield a cycle-free
    # spanning tree (n-1 edges, all nodes connected)
    from datafusion_gpu_spark.operators.graph import boruvka_mst

    n = 8
    edges = [(i, j, 1) for i in range(n) for j in range(i + 1, n)]
    df = spark.createDataFrame(edges, "a long, b long, w long")
    got = boruvka_mst(df).collect()
    assert len(got) == n - 1
    # union-find check: the edge set connects all n nodes
    parent = list(range(n))
    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for r in got:
        parent[find(r.lo)] = find(r.hi)
    assert len({find(i) for i in range(n)}) == 1


def test_local_clustering_triangle_with_pendant(spark):
    """Triangle 1-2-3 plus pendant 3-4: the triangle corners score 1.0
    (nodes 1, 2) and 1/3 (node 3, which has the pendant), the pendant
    scores 0 by the deg-1 convention."""
    from datafusion_gpu_spark.operators.graph import local_clustering

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4)], "a long, b long"
    )
    got = {r.node: r for r in local_clustering(edges).collect()}
    assert got[1].lcc == 1.0 and got[1].n_tri == 1 and got[1].deg == 2
    assert got[2].lcc == 1.0
    assert got[3].n_tri == 1 and got[3].deg == 3
    assert got[3].lcc == round(2 * 1 / (3 * 2), 6)
    assert got[4].lcc == 0.0 and got[4].n_tri == 0 and got[4].deg == 1


def test_local_clustering_k4_all_one(spark):
    """K4: every node sits in C(3,2) = 3 triangles, lcc exactly 1.0;
    duplicate and reversed input edges must not change anything."""
    from datafusion_gpu_spark.operators.graph import local_clustering

    pairs = [(a, b) for a in range(4) for b in range(4) if a != b]
    edges = spark.createDataFrame(pairs + pairs[:5], "a long, b long")
    rows = local_clustering(edges).collect()
    assert len(rows) == 4
    for r in rows:
        assert r.deg == 3 and r.n_tri == 3 and r.lcc == 1.0


def test_label_propagation_two_cliques_with_bridge(spark):
    """Two 4-cliques joined by one bridge edge: after 3 sync rounds
    every member carries its clique's minimum id; replay the sync
    recursion in Python to pin the exact per-round algebra."""
    from collections import Counter

    from datafusion_gpu_spark.operators.graph import label_propagation

    c1 = [(a, b) for a in range(4) for b in range(4) if a < b]
    c2 = [(a, b) for a in range(10, 14) for b in range(10, 14) if a < b]
    edges = c1 + c2 + [(3, 10)]
    df = spark.createDataFrame(edges, "a long, b long")
    got = {r.node: r.label for r in label_propagation(df, rounds=3).collect()}

    nbrs = {}
    for a, b in edges:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    labels = {n: n for n in nbrs}
    for _ in range(3):
        new = {}
        for n in nbrs:
            cnt = Counter(labels[m] for m in nbrs[n])
            top = max(cnt.values())
            new[n] = min(l for l, c in cnt.items() if c == top)
        labels = new
    assert got == labels
    assert len({got[n] for n in range(4)}) == 1  # clique 1 converged
    assert len({got[n] for n in range(10, 14)}) == 1  # clique 2 converged


def test_assortativity_star_is_minus_one(spark):
    """Every edge of a star is hub-leaf, so endpoint degrees are
    perfectly anti-correlated: r = -1 exactly."""
    from datafusion_gpu_spark.operators.graph import degree_assortativity

    edges = [(0, i) for i in range(1, 7)]
    df = spark.createDataFrame(edges, "a long, b long")
    row = degree_assortativity(df).collect()[0]
    assert row.n_edges == 6
    assert row.r == -1.0


def test_assortativity_regular_graph_degenerate(spark):
    """A cycle is 2-regular: zero degree variance -> r is NULL (0/0),
    never a fake 0."""
    from datafusion_gpu_spark.operators.graph import degree_assortativity

    n = 8
    df = spark.createDataFrame(
        [(i, (i + 1) % n) for i in range(n)], "a long, b long"
    )
    row = degree_assortativity(df).collect()[0]
    assert row.n_edges == n
    assert row.r is None


def test_assortativity_matches_numpy(spark):
    """r equals numpy's corrcoef over the both-orientation degree pairs
    on an irregular seeded graph (dedup + self-loop drop included)."""
    import numpy as np

    from datafusion_gpu_spark.operators.graph import degree_assortativity

    rng = np.random.default_rng(11)
    raw = {(int(x), int(y)) for x, y in rng.integers(0, 30, size=(120, 2))}
    und = {(min(x, y), max(x, y)) for x, y in raw if x != y}
    df = spark.createDataFrame(sorted(und), "a long, b long")
    row = degree_assortativity(df).collect()[0]
    deg = {}
    for x, y in und:
        deg[x] = deg.get(x, 0) + 1
        deg[y] = deg.get(y, 0) + 1
    dx = [deg[x] for x, y in und] + [deg[y] for x, y in und]
    dy = [deg[y] for x, y in und] + [deg[x] for x, y in und]
    expect = np.corrcoef(dx, dy)[0, 1]
    assert row.n_edges == len(und)
    assert abs(row.r - expect) < 1e-6


def test_reciprocity_closed_form(spark):
    """Directed triangle a->b, b->a, b->c: exactly the a/b pair is
    reciprocated -> 2 of 3 edges."""
    from datafusion_gpu_spark.queries.pipeline import _RECIPROCITY

    # build a lineitem shape whose succession edges are exactly
    # (1->2), (2->1), (2->3): orders (10: parts 1,2), (11: parts 2,1),
    # (12: parts 2,3) with quantities >= 40
    rows = [
        (10, 1, 1, 40.0), (10, 2, 2, 40.0),
        (11, 1, 2, 40.0), (11, 2, 1, 40.0),
        (12, 1, 2, 40.0), (12, 2, 3, 40.0),
    ]
    df = spark.createDataFrame(
        rows, "l_orderkey long, l_linenumber int, l_partkey long, l_quantity double"
    )
    df.createOrReplaceTempView("lineitem")
    try:
        [r] = spark.sql(_RECIPROCITY).collect()
    finally:
        spark.catalog.dropTempView("lineitem")
    assert r.n_edges == 3
    assert r.n_recip == 2
    assert abs(r.reciprocity - 2 / 3) < 1e-6
