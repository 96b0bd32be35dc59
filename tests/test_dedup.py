"""Dedup operator behavior on planted corpora: exact groups, LSH recall
on true near-duplicates, simhash on light edits, hot-shingle cap."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datafusion_gpu_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)

_BASE = (
    "the quick brown fox jumps over the lazy dog while the rain falls "
    "on the quiet green hills and the river runs to the sea"
)


@pytest.fixture(scope="module")
def planted(spark):
    docs = [
        (0, _BASE),
        (1, "  THE quick   brown fox jumps over the lazy dog while the rain "
            "falls on the quiet green hills and the river runs to the sea "),
        (2, _BASE.replace("lazy", "sleepy")),  # near-duplicate (1-word edit)
        (3, "completely different text about databases and distributed "
            "query engines running aggregations at petabyte scale"),
        (4, "yet another unrelated document mentioning spark catalyst "
            "optimizer partitions shuffles and broadcast joins"),
    ]
    return spark.createDataFrame(docs, "doc_id long, text string")


def test_exact_dedup_groups_whitespace_case_variants(planted):
    rows = {r.keep_id: r.n_copies for r in exact_dedup(planted).collect()}
    assert rows[0] == 2  # doc 1 normalizes to doc 0
    assert sum(rows.values()) == 5


def test_minhash_lsh_finds_planted_near_dup(planted):
    pairs = {(r.doc_a, r.doc_b) for r in minhash_lsh_pairs(planted, 0.5).collect()}
    assert (0, 1) in pairs  # exact after normalization, jaccard 1.0
    assert (0, 2) in pairs  # one-word edit keeps most shingles
    assert not any({a, b} & {3, 4} and {a, b} & {0, 1, 2} for a, b in pairs)


def test_minhash_equals_exact_jaccard(planted):
    lsh = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in minhash_lsh_pairs(planted, 0.3).collect()
    }
    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(planted, 0.3).collect()
    }
    assert lsh == exact  # banding lost nothing; verification adds nothing


def test_simhash_close_for_light_edit(planted):
    pairs = {(r.doc_a, r.doc_b): r.hamming for r in simhash_pairs(planted, 5).collect()}
    assert pairs.get((0, 1)) == 0  # identical after normalization
    assert (0, 2) in pairs  # light edit stays within hamming 5


def test_hot_shingle_cap_drops_ubiquitous_shingles(spark):
    # every doc shares one ubiquitous phrase; without the cap they all
    # pair up, with the cap only the genuinely similar pair survives
    common = "as seen on the world wide web"
    docs = [(i, f"{common} unique filler number {i} talks about topic {i * 7}")
            for i in range(8)]
    docs.append((100, docs[0][1] + " extra"))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    uncapped = ngram_jaccard_pairs(df, threshold=0.2)
    capped = ngram_jaccard_pairs(df, threshold=0.2, max_doc_freq=4)
    pairs_capped = {(r.doc_a, r.doc_b) for r in capped.collect()}
    assert (0, 100) in pairs_capped  # true near-dup survives
    # the ubiquitous-phrase-only pairs are gone
    assert len(pairs_capped) < uncapped.count()


def test_cap_none_keeps_exact_semantics(planted):
    a = {(r.doc_a, r.doc_b, r.jaccard) for r in ngram_jaccard_pairs(planted, 0.3).collect()}
    b = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in ngram_jaccard_pairs(planted, 0.3, max_doc_freq=10**6).collect()
    }
    assert a == b  # an unreachable cap must not change results


def test_connected_components_long_diameter_path(spark):
    # a 14-node path needs ~14 propagation rounds: every round's labels
    # must be lineage-truncated — the r15 persist-only first attempt
    # doubled the plan tree per round (labels referenced by both the
    # join and the union) and OOMed the driver on deep loops like this
    # (the graph_mst regression); this pins bounded-lineage behavior
    from datafusion_gpu_spark.operators.dedup import connected_components

    n = 14
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    stats: dict = {}
    comp = {
        r.node: r.component
        for r in connected_components(pairs, max_iter=25, stats=stats).collect()
    }
    assert comp == {i: 0 for i in range(n)}
    assert stats["converged"]
    assert stats["rounds"] >= n // 2  # genuinely a deep loop


def test_connected_components_label_broadcast_guard(spark, monkeypatch, request):
    # r16: in LOCAL mode the per-round label join is left to AQE, which
    # converts it to broadcast at runtime (the explicit hint measured
    # +6% at sf0.1 — one extra broadcast-build dispatch per round); on
    # the cluster path (checkpoint dir configured) the guarded explicit
    # hint fires, because there AQE could only convert after the edge
    # side's per-round shuffle write. Either way the executed round-1
    # plan must show a BroadcastHashJoin and never a sort-merge join,
    # and labels must be identical.
    from datafusion_gpu_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (3, 4)], "doc_a long, doc_b long"
    )
    expected = {0: 0, 1: 0, 2: 0, 3: 3, 4: 3}

    stats: dict = {}
    comp = {
        r.node: r.component
        for r in connected_components(pairs, stats=stats).collect()
    }
    assert comp == expected
    assert stats["label_join"] == "aqe"
    assert "BroadcastHashJoin" in stats["round1_plan"]
    assert "SortMergeJoin" not in stats["round1_plan"]

    request.getfixturevalue("checkpoint_dir")  # the cluster path from here on
    stats2: dict = {}
    comp2 = {
        r.node: r.component
        for r in connected_components(pairs, stats=stats2).collect()
    }
    assert comp2 == expected
    assert stats2["label_join"] == "broadcast-hint"
    assert "BroadcastHashJoin" in stats2["round1_plan"]
    assert "SortMergeJoin" not in stats2["round1_plan"]


def test_connected_components_collapse_transitive_chain(spark):
    # A~B and B~C but never A~C: the cluster must still collapse to one
    # keeper — the property pair-list dedup alone cannot deliver
    from datafusion_gpu_spark.operators.dedup import (
        connected_components,
        dedup_resolution,
    )

    pairs = spark.createDataFrame(
        [(10, 20), (20, 30), (40, 50)], "doc_a long, doc_b long"
    )
    comp = {r.node: r.component for r in connected_components(pairs).collect()}
    assert comp == {10: 10, 20: 10, 30: 10, 40: 40, 50: 40}

    docs = spark.createDataFrame(
        [(i, "t") for i in (10, 20, 30, 40, 50, 99)], "doc_id long, text string"
    )
    res = dedup_resolution(docs, pairs).collect()
    keepers = sorted(r.doc_id for r in res if r.is_keeper)
    assert keepers == [10, 40, 99]  # 99 has no pairs -> its own keeper


def test_semantic_dedup_drops_near_neighbor_in_cell(spark):
    from datafusion_gpu_spark.operators.dedup import semantic_dedup

    # centroids are vec 0 (x-axis) and vec 1 (y-axis). vec 2 is nearly
    # parallel to vec 0 (cos ~0.999 -> dropped, keeper is the lower id);
    # vec 3 lands in cell 1 but at cos ~0.71 to everything there -> kept
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.0]),
        (2, [0.99, 0.01, 0.0, 0.0]),
        (3, [0.1, 0.7, 0.7, 0.0]),
    ]
    embs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r.vec_id: r for r in semantic_dedup(embs, n_clusters=2, threshold=0.9).collect()}

    assert len(out) == 4  # every vector gets a verdict
    assert (out[0].cell, out[0].is_keeper) == (0, True)
    assert (out[2].cell, out[2].is_keeper) == (0, False)  # near-dup of 0
    assert (out[1].cell, out[1].is_keeper) == (1, True)
    assert (out[3].cell, out[3].is_keeper) == (1, True)  # similar but < 0.9


def test_semantic_dedup_keeps_lowest_id_per_duplicate_group(spark):
    from datafusion_gpu_spark.operators.dedup import semantic_dedup

    # three mutually-near vectors: only the lowest id survives
    base = [0.6, 0.8, 0.0, 0.0]
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 0.0, 1.0, 0.0]),
        (5, base),
        (6, [0.61, 0.79, 0.0, 0.0]),
        (7, [0.59, 0.81, 0.0, 0.0]),
    ]
    embs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = semantic_dedup(embs, n_clusters=2, threshold=0.95)
    keepers = {r.vec_id for r in out.where("is_keeper").collect()}
    assert 5 in keepers and 6 not in keepers and 7 not in keepers


def test_duplicated_spans_finds_maximal_planted_spans(spark):
    from datafusion_gpu_spark.operators.dedup import duplicated_spans

    shared1 = " ".join(f"s{i}" for i in range(30))   # 30-word passage
    shared2 = " ".join(f"t{i}" for i in range(15))   # second, separate passage
    uniq = lambda tag, n: " ".join(f"{tag}{i}" for i in range(n))
    rows = [
        (0, f"{uniq('a', 8)} {shared1} {uniq('b', 5)} {shared2}"),
        (1, f"{uniq('c', 3)} {shared1} {uniq('d', 12)} {shared2} {uniq('e', 4)}"),
        (2, uniq("f", 40)),  # no overlap
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = duplicated_spans(docs, n=10, max_doc_freq=None).collect()
    spans = {(r.doc_a, r.doc_b, r.span_words) for r in out}
    # exactly the two planted passages, merged to their full lengths
    assert spans == {(0, 1, 30), (0, 1, 15)}
    by_len = {r.span_words: r for r in out}
    assert by_len[30].start_a == 8 and by_len[30].start_b == 3
    assert by_len[15].start_a == 8 + 30 + 5 and by_len[15].start_b == 3 + 30 + 12


# -- line-level dedup (CCNet) -------------------------------------------------


@pytest.fixture(scope="module")
def lined(spark):
    """Three docs sharing a verbatim boilerplate line; doc 2 is all
    boilerplate, doc 3 is untouched."""
    boiler = "subscribe to our newsletter for updates"
    docs = [
        (0, f"unique opening thoughts\n{boiler}\nunique closing remarks"),
        (1, f"different first line\n{boiler}"),
        (2, boiler),
        (3, "entirely original content\nwith two original lines"),
    ]
    return spark.createDataFrame(docs, "doc_id long, text string")


def test_line_dedup_drops_shared_line_from_every_doc(lined):
    from datafusion_gpu_spark.operators.dedup import line_dedup, split_lines

    out = {r.doc_id: r for r in line_dedup(split_lines(lined)).collect()}
    assert (out[0].n_lines, out[0].n_kept) == (3, 2)
    assert (out[1].n_lines, out[1].n_kept) == (2, 1)
    assert (out[2].n_lines, out[2].n_kept) == (1, 0)  # all boilerplate
    assert (out[3].n_lines, out[3].n_kept) == (2, 2)  # untouched
    assert out[2].kept_fraction == 0.0 and out[3].kept_fraction == 1.0
    # empty survivor set has the canonical empty digest
    import hashlib

    assert out[2].kept_md5 == hashlib.md5(b"").hexdigest()
    # doc 3's kept text is its full normalized text
    full = "entirely original content with two original lines"
    assert out[3].kept_md5 == hashlib.md5(full.encode()).hexdigest()


def test_line_dedup_kept_md5_respects_position_order(spark):
    from datafusion_gpu_spark.operators.dedup import line_dedup, split_lines

    docs = spark.createDataFrame(
        [(0, "zebra first\napple second"), (1, "unrelated line here")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in line_dedup(split_lines(docs)).collect()}
    import hashlib

    # position order, NOT lexicographic: zebra line stays first
    assert out[0].kept_md5 == hashlib.md5(b"zebra first apple second").hexdigest()


def test_segment_lines_width_partitions_all_words(spark):
    from datafusion_gpu_spark.operators.dedup import segment_lines

    docs = spark.createDataFrame(
        [(0, " ".join(f"w{i}" for i in range(23)))], "doc_id long, text string"
    )
    segs = sorted(
        (r.pos, r.line) for r in segment_lines(docs, width=10).collect()
    )
    assert len(segs) == 3  # 10 + 10 + 3
    assert segs[0][1].split() == [f"w{i}" for i in range(10)]
    assert segs[2][1].split() == ["w20", "w21", "w22"]  # ragged tail kept


def test_connected_components_uses_cluster_checkpoint_dir(spark, checkpoint_dir):
    # with a checkpoint dir configured (the cluster spelling), rounds
    # checkpoint reliably to it instead of executor-local storage —
    # same labels, and the dir actually receives checkpoint data
    import os

    from datafusion_gpu_spark.operators.dedup import connected_components

    ckdir = str(checkpoint_dir)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22)],
        "doc_a long, doc_b long",
    )
    got = {
        (r.node, r.component) for r in connected_components(pairs).collect()
    }
    assert got == {
        (1, 1), (2, 1), (3, 1),
        (10, 10), (11, 10),
        (20, 20), (21, 20), (22, 20),
    }
    walked = [
        os.path.join(d, f) for d, _, fs in os.walk(ckdir) for f in fs
    ]
    assert walked, "checkpoint dir received no data"


def test_canonicalize_url_collapses_crawl_variants(spark):
    from datafusion_gpu_spark.operators.dedup import canonicalize_url

    urls = [
        (1, "https://WWW.Site.COM:443/a/b/?utm_source=x&page=2#frag"),
        (2, "https://www.site.com/a/b?page=2&utm_medium=y"),
        (3, "https://www.site.com/a/b?page=3"),       # different param value
        (4, "https://www.site.com/a/c?page=2"),       # different path
        (5, "https://www.site.com/a/b?utm_only=1"),   # all params tracked
    ]
    df = spark.createDataFrame(urls, "doc_id long, url string")
    got = {
        r.doc_id: r.c
        for r in df.select("doc_id", canonicalize_url("url").alias("c")).collect()
    }
    assert got[1] == got[2] == "www.site.com/a/b?page=2"
    assert got[3] == "www.site.com/a/b?page=3"
    assert got[4] == "www.site.com/a/c?page=2"
    assert got[5] == "www.site.com/a/b"


def test_containment_detects_quote_asymmetrically(spark):
    from datafusion_gpu_spark.operators.dedup import containment_pairs

    # doc 2 is a verbatim excerpt of doc 1: containment(2 in 1) = 1.0,
    # while 1-in-2 is far below; doc 3 is unrelated and pairs with no one
    long = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon")
    quote = "epsilon zeta eta theta iota kappa"
    other = "one two three four five six seven eight nine ten"
    docs = spark.createDataFrame(
        [(1, long), (2, quote), (3, other)], "doc_id long, text string"
    )
    got = {(r.doc_a, r.doc_b): r.containment
           for r in containment_pairs(docs, threshold=0.0).collect()}
    assert got[(2, 1)] == 1.0           # the excerpt is fully contained
    assert got[(1, 2)] < 0.25           # the long doc is not in the quote
    assert not any(3 in k for k in got)  # unrelated doc pairs with nobody
    # threshold keeps only the subset direction
    kept = {(r.doc_a, r.doc_b)
            for r in containment_pairs(docs, threshold=0.8).collect()}
    assert kept == {(2, 1)}


def test_blocked_edit_pairs_finds_typo_in_block(spark):
    from datafusion_gpu_spark.operators.dedup import blocked_edit_pairs

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta", "en"),
            (2, "alpha beta gamma delt", "en"),   # 1 deletion, same block
            (3, "alpha completely different words", "en"),
            (4, "zzzzz beta gamma delta", "en"),  # typo in the BLOCK token
        ],
        "doc_id long, text string, lang string",
    )
    got = {
        (r.doc_a, r.doc_b): r.dist
        for r in blocked_edit_pairs(
            docs, prefix_len=40, threshold=3, block_cols=("lang",)
        ).collect()
    }
    assert got == {(1, 2): 1}  # exact distance; (1,4) unreachable: blocking
    # recall tradeoff — the first-token typo moved doc 4 to another block


def test_blocked_edit_pairs_max_block_drops_hot_block(spark):
    from datafusion_gpu_spark.operators.dedup import blocked_edit_pairs

    rows = [(i, "hub word word word", "en") for i in range(5)]
    rows += [(10, "cold pair one", "en"), (11, "cold pair one x", "en")]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = blocked_edit_pairs(
        docs, prefix_len=40, threshold=5, block_cols=("lang",), max_block=4
    ).collect()
    assert {(r.doc_a, r.doc_b) for r in got} == {(10, 11)}  # hub block (5 docs) dropped


def test_blocked_edit_pairs_threshold_excludes_far_pairs(spark):
    from datafusion_gpu_spark.operators.dedup import blocked_edit_pairs

    docs = spark.createDataFrame(
        [(1, "same start then aaaa", "en"), (2, "same start then bbbb", "en")],
        "doc_id long, text string, lang string",
    )
    hit = blocked_edit_pairs(docs, threshold=4, block_cols=("lang",)).collect()
    miss = blocked_edit_pairs(docs, threshold=3, block_cols=("lang",)).collect()
    assert [(r.doc_a, r.doc_b, r.dist) for r in hit] == [(1, 2, 4)]
    assert miss == []


def _shingle_set(text, n=3):
    import re
    ws = re.sub(r"\s+", " ", text.strip().lower()).split(" ")
    return {" ".join(ws[i:i + n]) for i in range(len(ws) - n + 1)}


def test_prefix_filter_pairs_exact_jaccard_and_threshold(spark):
    from datafusion_gpu_spark.operators.dedup import prefix_filter_pairs

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h"),
            (2, "a b c d e f g x"),      # high overlap with 1
            (3, "p q r s t u v w"),      # disjoint
        ],
        "doc_id long, text string",
    )
    got = {(r.doc_a, r.doc_b): r.jaccard
           for r in prefix_filter_pairs(docs, threshold=0.5).collect()}
    s1, s2 = _shingle_set("a b c d e f g h"), _shingle_set("a b c d e f g x")
    jac = round(len(s1 & s2) / len(s1 | s2), 6)
    assert jac >= 0.5 and got == {(1, 2): jac}


def test_prefix_filter_pairs_complete_vs_bruteforce(spark):
    # deterministic pseudo-random corpus: output must equal the exact
    # brute-force answer (the no-false-negative claim)
    from datafusion_gpu_spark.operators.dedup import prefix_filter_pairs

    import random

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(30)]
    texts = []
    base = [rng.choice(vocab) for _ in range(12)]
    for i in range(20):
        t = list(base)
        for _ in range(rng.randrange(0, 8)):  # perturb 0-7 positions
            t[rng.randrange(len(t))] = rng.choice(vocab)
        texts.append(" ".join(t))
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {(r.doc_a, r.doc_b) for r in
           prefix_filter_pairs(docs, threshold=0.4).collect()}
    ref = set()
    sets = [_shingle_set(t) for t in texts]
    for i in range(len(texts)):
        for j in range(i + 1, len(texts)):
            if sets[i] and sets[j]:
                jac = len(sets[i] & sets[j]) / len(sets[i] | sets[j])
                if round(jac, 6) >= 0.4:
                    ref.add((i, j))
    assert got == ref and len(ref) > 0


def test_prefix_filter_exact_boundary_threshold(spark):
    # t=0.07 with |a|=100, |b|=7, all 7 shared: J = 7/100 = t exactly.
    # float ceil(0.07*100) = 8 would wrongly reject; the rational
    # bounds must keep the pair
    from datafusion_gpu_spark.operators.dedup import prefix_filter_pairs

    big_words = " ".join(f"w{i}" for i in range(102))     # 100 shingles
    small_words = " ".join(f"w{i}" for i in range(9))     # 7 shingles, all shared
    docs = spark.createDataFrame(
        [(1, big_words), (2, small_words)], "doc_id long, text string"
    )
    got = [(r.doc_a, r.doc_b, r.jaccard)
           for r in prefix_filter_pairs(docs, threshold=0.07).collect()]
    assert got == [(1, 2, 0.07)]


def test_incremental_minhash_finds_planted_cross_near_dup(planted):
    # history = {0, 2, 3}, batch = {1, 4}: the batch's whitespace/case
    # variant of doc 0 must surface as a cross-corpus near-dup; the
    # unrelated batch doc must not pair with anything; intra-side pairs
    # (0, 2) must NOT appear — incremental semantics are cross-only
    from datafusion_gpu_spark.operators.dedup import incremental_minhash_lsh

    history = planted.where(F.col("doc_id").isin(0, 2, 3))
    batch = planted.where(F.col("doc_id").isin(1, 4))
    pairs = {
        (r.hist_id, r.batch_id): r.jaccard
        for r in incremental_minhash_lsh(history, batch, threshold=0.5).collect()
    }
    assert pairs[(0, 1)] == 1.0  # normalization makes them identical
    assert (2, 1) in pairs  # one-word edit of the same base text
    assert all(b != 4 for _, b in pairs)  # unrelated batch doc is novel
    assert all(h in {0, 2, 3} and b in {1, 4} for h, b in pairs)


def test_incremental_minhash_matches_full_recompute(planted):
    # the A/B contract: probing the history band index with the batch
    # must return EXACTLY the cross-side slice of a full recompute over
    # history+batch — the persisted index and the full recompute must
    # band through the same spelling (a drift in its xxhash64 band seed
    # on either path breaks this equality)
    from datafusion_gpu_spark.operators.dedup import incremental_minhash_lsh

    hist_ids, batch_ids = {0, 2, 3}, {1, 4}
    history = planted.where(F.col("doc_id").isin(*hist_ids))
    batch = planted.where(F.col("doc_id").isin(*batch_ids))
    inc = {
        (r.hist_id, r.batch_id, r.jaccard)
        for r in incremental_minhash_lsh(history, batch, threshold=0.3).collect()
    }
    full = set()
    for r in minhash_lsh_pairs(planted, 0.3).collect():
        if r.doc_a in hist_ids and r.doc_b in batch_ids:
            full.add((r.doc_a, r.doc_b, r.jaccard))
        elif r.doc_b in hist_ids and r.doc_a in batch_ids:
            full.add((r.doc_b, r.doc_a, r.jaccard))
    assert inc == full and inc


def test_incremental_minhash_explicit_index_equals_inline(planted):
    # production passes the PERSISTED band index; the result must be
    # identical to banding history in-plan
    from datafusion_gpu_spark.operators.dedup import (
        incremental_minhash_lsh,
        minhash_band_index,
    )

    history = planted.where(F.col("doc_id").isin(0, 2, 3))
    batch = planted.where(F.col("doc_id").isin(1, 4))
    idx = minhash_band_index(history)
    a = {tuple(r) for r in incremental_minhash_lsh(history, batch).collect()}
    b = {
        tuple(r)
        for r in incremental_minhash_lsh(history, batch, index=idx).collect()
    }
    assert a == b and a


def test_incremental_minhash_construction_starts_no_job(planted):
    # building the probe only plans: the candidate relation is persisted
    # lazily, and no ensure_parallelism on the way runs its input's
    # shuffles (each would run again in the caller's action)
    from datafusion_gpu_spark.operators.dedup import (
        incremental_minhash_lsh,
        minhash_band_index,
    )

    jsc = planted.sparkSession.sparkContext._jsc.sc()

    def jobs() -> int:
        jsc.listenerBus().waitUntilEmpty()
        return jsc.dagScheduler().numTotalJobs()

    history = planted.where(F.col("doc_id").isin(0, 2, 3))
    batch = planted.where(F.col("doc_id").isin(1, 4))
    idx = minhash_band_index(history)
    before = jobs()
    pairs = incremental_minhash_lsh(history, batch, index=idx)
    assert jobs() == before
    assert (0, 1) in {(r.hist_id, r.batch_id) for r in pairs.collect()}


def test_incremental_minhash_candidates_are_released_by_the_session(planted):
    # one call per ingest batch persists that batch's candidate relation;
    # the session owns the handles: at most _COUNTED_KEEP stay cached,
    # and clearing the session releases them all
    from datafusion_gpu_spark.context import _COUNTED_KEEP, clear_scan_cache
    from datafusion_gpu_spark.operators.dedup import incremental_minhash_lsh

    session = planted.sparkSession.newSession()
    persistent = session.sparkContext._jsc.getPersistentRDDs
    # ids, not a count: earlier tests' RDDs may be cleaned up meanwhile
    before = set(persistent().keySet())

    def cached() -> int:
        return len(set(persistent().keySet()) - before)

    docs = session.createDataFrame(planted.collect(), planted.schema)
    history = docs.where(F.col("doc_id").isin(0, 2, 3))
    try:
        for i in range(_COUNTED_KEEP + 2):
            # a distinct batch per call: shifted ingest ids
            batch = docs.where(F.col("doc_id").isin(1, 4)).withColumn(
                "doc_id", F.col("doc_id") + 100 * (i + 1)
            )
            pairs = incremental_minhash_lsh(history, batch, threshold=0.5)
            assert (0, 100 * (i + 1) + 1) in {
                (r.hist_id, r.batch_id) for r in pairs.collect()
            }
            assert cached() <= _COUNTED_KEEP
    finally:
        clear_scan_cache(session)
    assert cached() == 0


def _emb_df(spark, rows):
    # rows: [(vec_id, numpy-able 64-dim vector)]
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>",
    )


def test_incremental_embedding_matches_full_recompute(spark):
    # the persisted-bucket probe must return EXACTLY the cross-side
    # slice of embedding_near_dup_lsh over history+batch — pins
    # embedding_bucket_index's hyperplanes to the full-recompute path
    import numpy as np

    from datafusion_gpu_spark.operators.dedup import (
        embedding_bucket_index,
        embedding_near_dup_lsh,
        incremental_embedding_lsh,
    )

    rng = np.random.default_rng(7)
    base = rng.normal(size=(6, 64))
    rows = [(i, base[i]) for i in range(6)]
    rows.append((10, base[2] + rng.normal(scale=0.01, size=64)))  # near-dup of 2
    rows.append((11, base[4] * 1.7))                              # scaled copy of 4
    df = _emb_df(spark, rows)
    hist_ids, batch_ids = {0, 1, 2, 3, 4, 5}, {10, 11}
    history = df.where(F.col("vec_id") < 10)
    batch = df.where(F.col("vec_id") >= 10)
    inc = {
        (r.hist_id, r.batch_id, r.cosine)
        for r in incremental_embedding_lsh(history, batch, threshold=0.2).collect()
    }
    full = set()
    for r in embedding_near_dup_lsh(df, threshold=0.2).collect():
        if r.vec_a in hist_ids and r.vec_b in batch_ids:
            full.add((r.vec_a, r.vec_b, r.cosine))
        elif r.vec_b in hist_ids and r.vec_a in batch_ids:
            full.add((r.vec_b, r.vec_a, r.cosine))
    assert inc == full
    # the two plants are cross-side near-dups and must be present
    assert any(h == 2 and b == 10 for h, b, _ in inc)
    assert any(h == 4 and b == 11 and c > 0.99 for h, b, c in inc)
    # explicit persisted index == inline banding
    idx = embedding_bucket_index(history)
    inc2 = {
        (r.hist_id, r.batch_id, r.cosine)
        for r in incremental_embedding_lsh(
            history, batch, threshold=0.2, index=idx
        ).collect()
    }
    assert inc2 == inc
