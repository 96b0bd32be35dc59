"""Dataset-curation operators: deterministic train/val/test splitting and
stratified sampling.

Both use a salted portable hash (md5-prefix, dedup.word_hash60 family)
instead of Spark's random sample(): the assignment of a document is a
pure function of (salt, key), so it survives reshards, re-runs, engine
changes, and backfills — the property a training pipeline actually needs
(a random split re-drawn per run silently leaks val into train). Pure
codegen column expressions: no shuffle, no Python, embarrassingly
parallel at any scale, and exactly replayable by the SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from datafusion_gpu_spark.operators.util import cuts, owns_cuts

#: hash-space granularity: assignments resolve to 1e-6 of probability
_BUCKETS = 1_000_000


def _hash_bucket(key: Column, salt: str) -> Column:
    """Uniform bucket in [0, 1e6) from the salted portable 60-bit hash
    (nonnegative by construction — 15 hex chars < 2^60)."""
    h = F.conv(
        F.substring(F.md5(F.concat_ws(":", F.lit(salt), key.cast("string"))), 1, 15),
        16,
        10,
    ).cast("long")
    return h % _BUCKETS


def hash_split(
    docs: DataFrame,
    key: str = "doc_id",
    weights: dict[str, float] | None = None,
    salt: str = "split-v1",
) -> DataFrame:
    """Assign every row a split label by cumulative hash-bucket ranges.

    weights default to {'train': 0.9, 'val': 0.05, 'test': 0.05}; they
    must sum to 1. Changing the salt re-draws the whole assignment;
    growing a split's weight only MOVES boundary buckets (monotone
    ranges), so e.g. raising train 0.9 -> 0.95 never flips train rows
    back out of train.
    """
    weights = weights or {"train": 0.9, "val": 0.05, "test": 0.05}
    total = sum(weights.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split weights must sum to 1, got {total}")
    bucket = _hash_bucket(F.col(key), salt)
    cum = 0.0
    expr = None
    for name, w in weights.items():
        cum += w
        bound = int(round(cum * _BUCKETS))
        cond = bucket < F.lit(bound)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(
            cond, F.lit(name)
        )
    # float-rounding safety net: the final range is half-open at 1e6
    return docs.withColumn("split", expr.otherwise(F.lit(list(weights)[-1])))


def stratified_sample(
    docs: DataFrame,
    rates: dict[str, float],
    strata_col: str = "lang",
    key: str = "doc_id",
    default_rate: float = 0.0,
    salt: str = "sample-v1",
) -> DataFrame:
    """Keep each row with its stratum's rate, deterministically.

    The per-stratum keep decision is ``hash_bucket(salt, key) <
    rate * 1e6`` — so a row kept at rate 0.1 is still kept at rate 0.2
    (nested samples for scaling-law runs), and two strata sampled at the
    same rate keep the SAME key subspace, which makes cross-stratum
    joins of sampled tables line up.
    """
    bucket = _hash_bucket(F.col(key), salt)
    rate = None
    for stratum, r in rates.items():
        cond = F.col(strata_col) == stratum
        rate = F.when(cond, F.lit(r)) if rate is None else rate.when(cond, F.lit(r))
    rate = rate.otherwise(F.lit(default_rate)) if rate is not None else F.lit(
        default_rate
    )
    return docs.where(bucket < (rate * _BUCKETS).cast("long"))


def mix_domains(
    docs: DataFrame,
    budget_frac: float = 0.5,
    source_col: str = "source",
    key: str = "doc_id",
    salt: str = "mix-v1",
) -> DataFrame:
    """Domain-mixing downsample: equalize source representation under a
    global document budget. With budget ``budget_frac * N`` docs split
    evenly across sources, each source keeps
    ``min(1, budget / n_sources / n_source)`` of its docs — head sources
    (CommonCrawl) get downsampled hard, tail sources (curated books)
    keep everything, which is the standard pretraining-mixture move.

    Rates derive from one tiny groupBy (sources are a dimension); the
    keep decision is the salted hash filter (deterministic, nested,
    replayable — see module docstring), applied map-side after a
    broadcast join of the per-source rate. No corpus-sized shuffle.
    Emits (key, source, keep_rate round(6)) for kept rows.
    """
    counts = docs.groupBy(source_col).agg(F.count(F.lit(1)).alias("n_s"))
    totals = counts.agg(
        F.sum("n_s").alias("n_total"), F.count(F.lit(1)).alias("n_sources")
    )
    rate = F.least(
        F.lit(1.0),
        F.lit(budget_frac)
        * F.col("n_total")
        / F.col("n_sources")
        / F.col("n_s"),
    )
    rates = counts.crossJoin(F.broadcast(totals)).select(
        source_col, rate.alias("keep_rate")
    )
    bucket = _hash_bucket(F.col(key), salt)
    return (
        docs.join(F.broadcast(rates), source_col)
        .where(bucket < (F.col("keep_rate") * _BUCKETS).cast("long"))
        .select(key, source_col, F.round("keep_rate", 6).alias("keep_rate"))
    )


def deterministic_shuffle(
    docs: DataFrame,
    key: str = "doc_id",
    salt: str = "shuffle-v1",
    coarse_bits: int = 8,
) -> DataFrame:
    """Deterministic global training order: every row gets a dense
    ``shuffle_pos`` in [0, N) by sorting on a salted hash — the
    reproducible equivalent of "shuffle the corpus once before
    training", stable across runs, reshards, and engines (same salt =
    same order).

    Scale spelling of the global ROW_NUMBER: the top ``coarse_bits`` of
    the 60-bit hash form an order-aligned coarse bucket, so position =
    (count of rows in earlier buckets) + (rank within bucket). The
    within-bucket window is a normal partitioned sort; the bucket counts
    are a 2^coarse_bits-row aggregate whose running sum is driver-tiny.
    No single-partition global window anywhere — raise coarse_bits with
    the corpus so each bucket stays executor-sized. Ties (hash
    collisions) break on the key, so the order is total.
    """
    from pyspark.sql import Window

    h = F.conv(
        F.substring(
            F.md5(F.concat_ws(":", F.lit(salt), F.col(key).cast("string"))), 1, 15
        ),
        16,
        10,
    ).cast("long")
    bucketed = docs.select(key, h.alias("h")).withColumn(
        "b", F.shiftright("h", 60 - coarse_bits)
    )
    within = F.row_number().over(
        Window.partitionBy("b").orderBy("h", key)
    )
    counts = bucketed.groupBy("b").agg(F.count(F.lit(1)).alias("n_b"))
    offsets = counts.select(
        "b",
        F.coalesce(
            F.sum("n_b").over(
                Window.orderBy("b").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        ).alias("offset"),
    )
    return (
        bucketed.withColumn("pos_in_bucket", within)
        .join(F.broadcast(offsets), "b")
        .select(
            key,
            (F.col("offset") + F.col("pos_in_bucket") - 1).alias(
                "shuffle_pos"
            ),
        )
    )


def pack_sequences(
    docs: DataFrame,
    token_col: str = "n_tokens",
    budget: int = 2048,
    shards: int = 64,
    key: str = "doc_id",
    salt: str = "pack-v1",
) -> DataFrame:
    """Assign documents to fixed-token-budget training bins (sequence
    packing): within a shard, documents are laid out in key order and a
    new bin starts whenever the running token total crosses the budget.

    bin = floor(tokens_before_this_doc / budget) — contiguous greedy
    packing in a deterministic order, the standard approximation of
    first-fit (bins overflow by at most one document rather than
    splitting documents). Sharding by salted hash keeps every window
    partition-sized — the cumulative sum never runs over more than
    corpus/shards rows, so the operator scales by raising ``shards``
    with the corpus (at 100 TB, thousands of shards keep each window's
    state executor-local; one shuffle total).
    """
    from pyspark.sql import Window

    shard = _hash_bucket(F.col(key), salt) % shards
    w = (
        Window.partitionBy("shard")
        .orderBy(key)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    out = docs.withColumn("shard", shard).withColumn(
        "tokens_before", F.coalesce(F.sum(token_col).over(w), F.lit(0))
    )
    return out.withColumn(
        "bin", (F.col("tokens_before") / budget).cast("long")
    ).drop("tokens_before")


def curate_corpus(
    docs: DataFrame,
    text_col: str = "text",
    min_quality: float = 0.35,
    lang: str = "en",
    budget: int = 512,
    shards: int = 8,
) -> DataFrame:
    """End-to-end corpus curation: quality gate -> language gate -> exact
    dedup -> token count -> sequence packing, fused into one plan.

    This is the composition a pretraining-data pipeline actually runs,
    expressed so Catalyst fuses the cheap stages: the quality score,
    predicted language, content key, and token count are all computed in
    a single codegen'd projection over the scan (no materialization
    between "stages"), the two gates become one pushed filter, and only
    the genuinely stateful steps shuffle — one window over ``content_key``
    for keep-lowest-id dedup and the salted-shard window inside
    :func:`pack_sequences`. Two exchanges total regardless of corpus
    size; at 100 TB the dedup window's per-key state is the duplicate
    count (tiny) and packing scales by ``shards``.

    The quality/lang gates filter on the ROUNDED score and the argmax
    formula of :func:`text.lang_id`/:func:`text.quality_features`, so the
    SQL oracle replays every boundary decision bit-for-bit.
    """
    from pyspark.sql import Window

    from datafusion_gpu_spark.context import ensure_parallelism
    from datafusion_gpu_spark.operators import text as text_ops
    from datafusion_gpu_spark.operators.dedup import normalize_text

    docs = ensure_parallelism(docs)
    c = F.col(text_col)
    norm = normalize_text(c)
    words = F.split(norm, " ")
    n_chars = F.length(c)
    n_words = F.size(words)
    punct = n_chars - F.length(F.regexp_replace(c, r"[^a-zA-Z0-9\s]", ""))
    stop = text_ops._marker_count(words, text_ops.LANG_MARKERS["en"])
    score = F.round(
        F.least(n_words / F.lit(100.0), F.lit(1.0)) * 0.4
        + (stop / n_words) * 0.4
        + (F.lit(1.0) - punct / n_chars) * 0.2,
        6,
    )
    staged = docs.select(
        "doc_id",
        score.alias("quality_score"),
        text_ops.lang_id(c).alias("lang_pred"),
        F.md5(norm).alias("content_key"),
        n_words.alias("n_tokens"),
    ).where(
        (F.col("quality_score") >= min_quality) & (F.col("lang_pred") == lang)
    )
    keep = Window.partitionBy("content_key").orderBy("doc_id")
    kept = (
        staged.withColumn("rn", F.row_number().over(keep))
        .where(F.col("rn") == 1)
        .select("doc_id", "n_tokens")
    )
    packed = pack_sequences(
        kept, token_col="n_tokens", budget=budget, shards=shards
    )
    return packed.select("doc_id", "n_tokens", "shard", "bin")


@owns_cuts
def dsir_weights(
    docs: DataFrame,
    target: Column,
    text_col: str = "text",
    buckets: int = 1024,
    smoothing: float = 1.0,
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, Data Selection via
    Importance Resampling): score every raw document by how target-like
    its hashed-unigram distribution is. log_weight(d) = sum over d's
    words of log p_target(bucket(w)) - log p_raw(bucket(w)), with
    add-``smoothing`` estimates over ``buckets`` hash buckets.

    ``target`` is a boolean Column over ``docs`` marking the target
    subcorpus (e.g. lang == 'en', source == 'wiki').

    Scale: one explode + (doc_id, bucket) count (single shuffle with
    map-side combine), the two bucket distributions are one
    ``buckets``-row aggregate each (broadcast back), one per-doc sum.
    The bucket hash is the portable md5-prefix (dedup.word_hash60), so
    the oracle replays scores bit-for-bit; log-weights are ROUNDED to 6
    decimals to absorb fold-order noise in the double sums.

    Respelled r15 (guide §2.3/§5): ONE explode feeds ONE
    map-side-combining groupBy(doc_id, is_target, bucket) — is_target
    is functionally dependent on doc_id, so the grouping is unchanged —
    and that counted relation (three ints + a count, strictly smaller
    than the word instances) is materialized once; the corpus bucket
    distribution is its exact re-aggregation (sum of cnt == count of
    instances, sum of cnt*is_target == sum of is_target), and the
    per-doc weight sum consumes the identical (doc_id, bucket, cnt)
    rows the lazy spelling built. The old spelling re-ran the scan +
    normalize + split + explode + md5 subtree for both distributions.
    """
    from datafusion_gpu_spark.context import ensure_parallelism
    from datafusion_gpu_spark.operators.dedup import normalize_text, word_hash60

    docs = ensure_parallelism(docs)
    ckpt = cuts(docs)
    doc_buckets = ckpt(
        docs.select(
            "doc_id",
            target.alias("is_target"),
            F.explode(
                F.split(normalize_text(F.col(text_col)), " ")
            ).alias("word"),
        )
        .select(
            "doc_id",
            "is_target",
            (word_hash60(F.col("word")) % buckets).alias("bucket"),
        )
        .groupBy("doc_id", "is_target", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    dist = (
        doc_buckets.groupBy("bucket")
        .agg(
            F.sum(
                F.col("is_target").cast("long") * F.col("cnt")
            ).alias("t_cnt"),
            F.sum("cnt").alias("r_cnt"),
        )
    )
    totals = dist.agg(
        F.sum("t_cnt").alias("t_tot"), F.sum("r_cnt").alias("r_tot")
    )
    log_ratio = (
        F.log((F.col("t_cnt") + smoothing) / (F.col("t_tot") + smoothing * buckets))
        - F.log((F.col("r_cnt") + smoothing) / (F.col("r_tot") + smoothing * buckets))
    ).alias("log_ratio")
    ratios = dist.crossJoin(F.broadcast(totals)).select("bucket", log_ratio)
    return (
        doc_buckets.join(F.broadcast(ratios), "bucket")
        .groupBy("doc_id")
        .agg(F.round(F.sum(F.col("cnt") * F.col("log_ratio")), 6).alias("log_weight"))
    )


def dsir_resample(
    docs: DataFrame,
    target: Column,
    n: int,
    text_col: str = "text",
    buckets: int = 1024,
    smoothing: float = 1.0,
    salt: str = "dsir-v1",
) -> DataFrame:
    """Select ``n`` raw documents by DSIR Gumbel-top-k resampling: key =
    log_weight + Gumbel noise, deterministically derived as
    -ln(-ln(u)) with u the salted hash uniform — so the draw is a pure
    function of (salt, doc_id) and replays across engines, reshards and
    reruns. Keys are ROUNDED to 6 decimals with doc_id as tiebreaker so
    boundary ordering is identical on both sides. TakeOrderedAndProject
    fuses the global top-n (no full sort at scale).
    """
    u = (_hash_bucket(F.col("doc_id"), salt) + 0.5) / _BUCKETS
    key = F.round(F.col("log_weight") - F.log(-F.log(u)), 6).alias("gumbel_key")
    return (
        dsir_weights(docs, target, text_col, buckets, smoothing)
        .select("doc_id", "log_weight", key)
        .orderBy(F.desc("gumbel_key"), "doc_id")
        .limit(n)
    )


def weighted_sample(
    docs: DataFrame,
    weight: Column,
    n: int,
    key: str = "doc_id",
    salt: str = "wsample-v1",
) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis-Spirakis 2006):
    the n rows with the largest u^(1/w) — spelled as ln(u)/w, which
    orders identically and is numerically safer — with u the salted
    hash uniform. Inclusion probability is proportional to ``weight``
    across the draw, yet fully deterministic and oracle-replayable.
    One scan, zero shuffle, TakeOrderedAndProject top-n.
    """
    from datafusion_gpu_spark.context import ensure_parallelism

    docs = ensure_parallelism(docs)
    u = (_hash_bucket(F.col(key), salt) + 0.5) / _BUCKETS
    es_key = F.round(F.log(u) / weight, 6).alias("es_key")
    return (
        docs.select(key, weight.alias("weight"), es_key)
        .where(F.col("weight") > 0)
        .orderBy(F.desc("es_key"), key)
        .limit(n)
    )


def weighted_sample_per_group(
    docs: DataFrame,
    weight: Column,
    n: int,
    group: str,
    key: str = "doc_id",
    salt: str = "wsample-v1",
) -> DataFrame:
    """Per-stratum weighted sampling without replacement: the ``n``
    rows with the largest Efraimidis-Spirakis keys WITHIN each
    ``group`` — the "k examples per domain/language/source" draw every
    mixture-building pipeline runs, deterministic and oracle-replayable
    like :func:`weighted_sample` (same salted hash uniform, same
    ln(u)/w ordering key).

    ONE hash shuffle on the group key; the rank-filter window is the
    shape Spark's WindowGroupLimit optimization turns into a
    per-partition top-n pushdown (rank <= literal), so a hot group
    costs a bounded heap per task, not a full sort of the group.
    Output is at most n x |groups| rows.
    """
    from pyspark.sql import Window

    u = (_hash_bucket(F.col(key), salt) + 0.5) / _BUCKETS
    es_key = F.round(F.log(u) / weight, 6).alias("es_key")
    w = Window.partitionBy(group).orderBy(F.desc("es_key"), key)
    return (
        docs.select(group, key, weight.alias("weight"), es_key)
        .where(F.col("weight") > 0)
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= n)
        .drop("rk")
    )


def temperature_mix(
    docs: DataFrame,
    alpha: float = 0.3,
    budget_frac: float = 0.5,
    source_col: str = "source",
    key: str = "doc_id",
    salt: str = "tmix-v1",
) -> DataFrame:
    """Temperature-scaled domain mixing (the multilingual-pretraining
    sampler, e.g. mBERT/XLM-R's alpha=0.3): target share of source s is
    n_s^alpha / sum(n^alpha) — alpha=1 keeps natural proportions,
    alpha=0 equalizes like :func:`mix_domains`, in between tail sources
    are UPweighted smoothly. Each source keeps
    min(1, budget * share_s / n_s) of its docs via the same salted-hash
    filter (deterministic, nested, replayable).

    Same shape as mix_domains: one dimension-sized aggregate, broadcast
    rates, map-side keep decision, no corpus shuffle. The hash-bucket
    threshold is an INTEGER (round(rate * 1e6)) so a 1-ulp cross-engine
    difference in pow() cannot flip a boundary document.
    """
    counts = docs.groupBy(source_col).agg(F.count(F.lit(1)).alias("n_s"))
    totals = counts.agg(
        F.sum("n_s").alias("n_total"),
        F.sum(F.pow("n_s", alpha)).alias("w_total"),
    )
    rate = F.least(
        F.lit(1.0),
        F.lit(budget_frac)
        * F.col("n_total")
        * (F.pow("n_s", alpha) / F.col("w_total"))
        / F.col("n_s"),
    )
    rates = counts.crossJoin(F.broadcast(totals)).select(
        source_col, rate.alias("keep_rate")
    )
    threshold = F.round(F.col("keep_rate") * _BUCKETS, 0).cast("long")
    bucket = _hash_bucket(F.col(key), salt)
    return (
        docs.join(F.broadcast(rates), source_col)
        .where(bucket < threshold)
        .select(key, source_col, F.round("keep_rate", 6).alias("keep_rate"))
    )


def quantile_threshold_filter(
    docs: DataFrame,
    score_col: str,
    group_col: str,
    q: float = 0.25,
    exact: bool = False,
    accuracy: int = 10000,
) -> DataFrame:
    """Keep rows at or above their GROUP's q-quantile of ``score_col`` —
    per-domain quality filtering (a fixed global threshold over-prunes
    clean domains and under-prunes noisy ones; the per-domain quantile
    is the standard fix).

    Scale path (default): ``approx_percentile`` — a mergeable sketch, so
    the per-group threshold is one map-side-combined aggregation pass
    regardless of group size. ``exact=True`` switches to the exact
    interpolated percentile (Spark collects the group's values on one
    reducer — right for oracle parity and modest group counts, wrong for
    a billion-row group). Thresholds are a tiny per-group table,
    broadcast back; the filter itself is pure codegen.
    """
    score = F.col(score_col).cast("double")
    thr = (
        F.percentile(score, F.lit(q))
        if exact
        else F.percentile_approx(score, F.lit(q), F.lit(accuracy))
    )
    thresholds = docs.groupBy(group_col).agg(thr.alias("__threshold__"))
    return (
        docs.join(F.broadcast(thresholds), group_col)
        .where(score >= F.col("__threshold__"))
        .withColumn("threshold", F.round(F.col("__threshold__"), 6))
        .drop("__threshold__")
    )


def pack_sequences_bestfit(
    docs: DataFrame,
    token_col: str = "n_tokens",
    budget: int = 2048,
    shards: int = 8,
    key: str = "doc_id",
    salt: str = "pack-v1",
) -> DataFrame:
    """(key, shard, bin_id, n_tokens) best-fit-decreasing sequence
    packing: within each shard, documents sorted by (tokens desc, key)
    are placed into the FULLEST bin that still fits, opening a new bin
    only when none does — Johnson's classic BFD, whose bins are
    asymptotically within 11/9 of optimal, vs the contiguous greedy of
    :func:`pack_sequences` that never looks back (BFD packs tighter;
    at pretraining scale a few percent fewer bins is the same percent
    less padding compute). Documents wider than the budget are
    EXCLUDED (they cannot pack; the caller chunks them first — see
    text.chunk_documents).

    BFD is inherently sequential, so it runs per shard inside ONE
    Arrow-batched applyInPandas pass — the same shard-bounded-state
    contract as pack_sequences' window (state = open-bin capacities,
    at most shard_tokens/1 bins; ``shards`` is the scale knob). Open
    bins are kept fill-sorted so each placement is a bisect
    (O(log bins) search + an O(bins) C-level memmove, not a Python
    scan of every open bin per doc); deterministic given the
    (tokens desc, key) order, ties on equal fill going to the
    rightmost bin in fill order. The output key column keeps the
    input's name and type (string ids pack as well as longs).
    """
    from bisect import bisect_right

    import pandas as pd

    key_type = docs.schema[key].dataType.simpleString()
    shard = (_hash_bucket(F.col(key), salt) % shards).alias("shard")
    base = docs.select(
        F.col(key), F.col(token_col).cast("long").alias("n_tokens"), shard
    ).where(F.col("n_tokens") <= budget)

    schema = f"{key} {key_type}, shard int, bin_id int, n_tokens long"

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["n_tokens", key], ascending=[False, True]
        ).reset_index(drop=True)
        fills: list[int] = []  # open-bin fills, ascending
        bins: list[int] = []   # bin ids, parallel to fills
        next_bin = 0
        bin_ids = []
        for t in pdf["n_tokens"]:
            t = int(t)
            # fullest bin that still fits = rightmost fill <= budget - t
            i = bisect_right(fills, budget - t) - 1
            if i >= 0:
                b = bins.pop(i)
                f = fills.pop(i) + t
            else:
                b, f = next_bin, t
                next_bin += 1
            pos = bisect_right(fills, f)
            fills.insert(pos, f)
            bins.insert(pos, b)
            bin_ids.append(b)
        pdf["bin_id"] = bin_ids
        return pdf[[key, "shard", "bin_id", "n_tokens"]]

    return base.groupBy("shard").applyInPandas(pack, schema)


def apportion_sample(
    docs: DataFrame,
    total: int,
    source_col: str = "source",
    key: str = "doc_id",
    salt: str = "apportion-v1",
) -> DataFrame:
    """EXACT-count proportional sampling by largest-remainder (Hamilton)
    apportionment: allocate exactly ``total`` sample slots across
    sources proportional to their sizes — floor of the exact rational
    quota per source, then the leftover slots go to the largest
    fractional remainders (tie by source name) — and pick each source's
    allocation deterministically by salted-hash rank.

    This is the missing integer counterpart of the rate-based samplers
    (:func:`mix_domains` / :func:`temperature_mix` keep a FRACTION and
    the realized count drifts binomially): when a curriculum spec says
    "exactly 250k docs, proportional by domain", apportionment is the
    standard answer (the same algebra as parliamentary seat allocation,
    Balinski-Young's classic treatment).

    PRECONDITION: ``total`` must not exceed the corpus size. The quota
    rule then guarantees every source's allocation is floor(quota) or
    ceil(quota) <= n_s, so each source can actually supply its slots
    and the output is EXACTLY ``total`` rows (property-tested). An
    oversubscribed budget (total > corpus) is unsatisfiable without
    replacement — sources run out and the result silently falls short;
    validate the budget upstream where the corpus size is known.

    Everything is integer arithmetic on (total * n_s) — quota floors,
    remainder numerators, the leftover count — so any engine replays
    the allocation exactly; no float ratio can flip a slot. Shape: one
    dimension-sized count aggregate + a |sources|-row window for the
    remainder ranking (driver-free, broadcast back), then one rank
    window per source with the rank filter pushed into WindowGroupLimit
    — the reservoir/stratified-sample plan shape.
    """
    from pyspark.sql import Window

    counts = docs.groupBy(source_col).agg(F.count(F.lit(1)).alias("n_s"))
    tot = counts.agg(F.sum("n_s").alias("n_docs"))
    q = counts.crossJoin(F.broadcast(tot)).select(
        source_col,
        "n_s",
        F.expr(f"CAST({int(total)} AS BIGINT) * n_s DIV n_docs").alias("fl"),
        ((F.lit(total) * F.col("n_s")) % F.col("n_docs")).alias("rem"),
    )
    w_rem = Window.orderBy(F.desc("rem"), source_col)
    w_all = Window.partitionBy()
    alloc = q.select(
        source_col,
        "n_s",
        (
            F.col("fl")
            + (
                F.row_number().over(w_rem)
                <= (F.lit(total) - F.sum("fl").over(w_all))
            ).cast("long")
        ).alias("alloc"),
    )
    w_pick = Window.partitionBy(source_col).orderBy(
        _hash_bucket(F.col(key), salt), key
    )
    return (
        docs.join(F.broadcast(alloc.select(source_col, "alloc")), source_col)
        .withColumn("rn", F.row_number().over(w_pick))
        .where(F.col("rn") <= F.col("alloc"))
        .select(key, source_col)
    )


def token_budget_prefix(
    docs: DataFrame,
    budget_tokens: int,
    key: str = "doc_id",
    group: str = "source",
    tokens_col: str = "n_tokens",
    salt: str = "budget-v1",
) -> DataFrame:
    """Per-group token-budget selection: shuffle each group's docs into
    the salted-hash order (the same portable md5 bucket every sampler
    here uses, so the pick is seed-stable and engine-independent), then
    keep the PREFIX whose running token count stays within the budget —
    how a training mix hits "N tokens per domain" targets exactly
    instead of rate-sampling toward them (rates drift binomially;
    prefixes are exact).

    Semantics: strict prefix — the first doc that would overflow the
    budget stops the group, even if a later smaller doc would still
    fit (bin-packing the tail is pack_sequences_bestfit's job). The
    running sum is an exact bigint cumsum over one (group ORDER BY
    bucket, key) window — one shuffle, and the window partitions by
    group so a hot domain shards no worse than its own row count.

    Returns the kept rows: (key, group, tokens_col, cum_tokens).
    """
    from pyspark.sql.window import Window as W

    b = _hash_bucket(F.col(key), salt).alias("__b")
    w = (
        W.partitionBy(group)
        .orderBy("__b", key)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        docs.select(key, group, tokens_col, b)
        .withColumn("cum_tokens", F.sum(tokens_col).over(w))
        .where(F.col("cum_tokens") <= budget_tokens)
        .select(key, group, tokens_col, "cum_tokens")
    )
