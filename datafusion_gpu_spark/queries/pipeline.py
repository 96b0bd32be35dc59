"""Training-data-pipeline operator queries — the correctness-gate surface
for datafusion_gpu_spark.operators.{dedup,similarity,text,multimodal,events}.

Every entry pairs the Spark operator with a DuckDB oracle that replays the
*same deterministic formula* in ANSI-ish SQL:

- text/quality/tokens/fingerprints/multimodal: direct expression mirrors;
- simhash: the word hash is the portable 60-bit md5 prefix
  (dedup.word_hash60), so the oracle rebuilds the full signature
  bit-for-bit and then checks ALL pairs (the Spark side's pigeonhole
  chunk join is an optimization, provably complete for
  max_hamming <= chunks-1, so results must be identical);
- minhash-LSH: the oracle computes the exact n-gram-Jaccard pair set at
  the same threshold — the Spark side verifies candidates with exact
  Jaccard, so equality means the banding lost nothing (recall check) and
  emitted nothing spurious (precision is guaranteed by construction);
- LSH ANN: the oracle inlines the same seeded +-1 hyperplanes and replays
  bucket assignment, candidate union and rerank exactly;
- rounding to 6 decimals on both sides quashes sub-1e-12 accumulation
  noise in double arithmetic (both engines fold the same order anyway).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datafusion_gpu_spark.operators import (
    curation,
    dedup,
    events,
    geo,
    graph,
    multimodal,
    retrieval,
    similarity,
    skew,
    text,
)
from datafusion_gpu_spark.queries import load
from datafusion_gpu_spark.queries.pipeline_common import (  # noqa: F401
    _AUDIO_BITS,
    _COS_RANK,
    _CUSUM_ORACLE,
    _KM_RUN,
    _LAG_MOMENTS,
    _LAGGED,
    _LIFE,
    _NEXT_PART,
    _NORM,
    _PER_T,
    _copurchase,
    _docs,
    _purchase_subjects,
    _sparse_copurchase_edges,
    _subj,
    _with,
)

# ---------------------------------------------------------------------------
# shared DuckDB SQL fragments
# ---------------------------------------------------------------------------



def _markers_sql(lang: str) -> str:
    inner = ", ".join(f"'{m}'" for m in text.LANG_MARKERS[lang])
    return f"len(list_filter(w, x -> list_contains([{inner}], x)))"


def _dot_sql(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(generate_series(1, len({a})), "
        f"i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE))"
    )


def _cos_sql(a: str, b: str) -> str:
    return (
        f"({_dot_sql(a, b)} / (sqrt({_dot_sql(a, a)}) * sqrt({_dot_sql(b, b)})))"
    )


#: exact n-gram (3-word) Jaccard pair CTE, parameterized by threshold —
#: mirrors dedup.word_shingles/ngram_jaccard_pairs and doubles as the
#: recall+precision oracle for the MinHash-LSH variant.
def _jaccard_pairs_sql(threshold: float, max_doc_freq: int | None = None) -> str:
    if max_doc_freq is None:
        filtered = """
sizes AS (SELECT doc_id, len(sh) AS n_sh FROM base),
ex AS (SELECT doc_id, unnest(sh) AS shingle FROM base),"""
    else:
        filtered = f"""
ex0 AS (SELECT doc_id, unnest(sh) AS shingle FROM base),
keep AS (SELECT shingle FROM ex0 GROUP BY shingle
         HAVING COUNT(*) <= {max_doc_freq}),
ex AS (SELECT ex0.doc_id, ex0.shingle FROM ex0 JOIN keep USING (shingle)),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM ex GROUP BY doc_id),"""
    return f"""
WITH base AS (
  SELECT doc_id,
         list_distinct(CASE WHEN len(w) >= 3
             THEN list_transform(generate_series(1, len(w) - 2),
                                 i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
             ELSE []::VARCHAR[] END) AS sh
  FROM (SELECT doc_id, string_split({_NORM}, ' ') AS w FROM documents)
),{filtered}
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT * FROM (
  SELECT doc_a, doc_b,
         ROUND(n_common / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
  FROM common
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
) WHERE jaccard >= {threshold}
"""


def _incremental_jaccard_sql(threshold: float) -> str:
    """Cross-side twin of _jaccard_pairs_sql for the incremental
    MinHash-LSH entry: exact 3-shingle Jaccard restricted to
    (history, batch) pairs under the doc_id % 10 ingest split — the
    recall+precision oracle for the persisted-band-index probe."""
    return f"""
WITH base AS (
  SELECT doc_id,
         list_distinct(CASE WHEN len(w) >= 3
             THEN list_transform(generate_series(1, len(w) - 2),
                                 i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
             ELSE []::VARCHAR[] END) AS sh
  FROM (SELECT doc_id, string_split({_NORM}, ' ') AS w FROM documents)
),
sizes AS (SELECT doc_id, len(sh) AS n_sh FROM base),
ex AS (SELECT doc_id, unnest(sh) AS shingle FROM base),
common AS (
  SELECT a.doc_id AS hist_id, b.doc_id AS batch_id, COUNT(*) AS n_common
  FROM ex a JOIN ex b ON a.shingle = b.shingle
   AND a.doc_id % 10 < 8 AND b.doc_id % 10 >= 8
  GROUP BY 1, 2
)
SELECT * FROM (
  SELECT hist_id, batch_id,
         ROUND(n_common / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
  FROM common
  JOIN sizes sa ON sa.doc_id = hist_id
  JOIN sizes sb ON sb.doc_id = batch_id
) WHERE jaccard >= {threshold}
"""


def _containment_pairs_sql(threshold: float, max_doc_freq: int | None = None) -> str:
    """Directional containment twin of _jaccard_pairs_sql: ordered
    pairs (a != b, both orders), C = n_common / |S(a)|."""
    if max_doc_freq is None:
        filtered = """
sizes AS (SELECT doc_id, len(sh) AS n_sh FROM base),
ex AS (SELECT doc_id, unnest(sh) AS shingle FROM base),"""
    else:
        filtered = f"""
ex0 AS (SELECT doc_id, unnest(sh) AS shingle FROM base),
keep AS (SELECT shingle FROM ex0 GROUP BY shingle
         HAVING COUNT(*) <= {max_doc_freq}),
ex AS (SELECT ex0.doc_id, ex0.shingle FROM ex0 JOIN keep USING (shingle)),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM ex GROUP BY doc_id),"""
    return f"""
WITH base AS (
  SELECT doc_id,
         list_distinct(CASE WHEN len(w) >= 3
             THEN list_transform(generate_series(1, len(w) - 2),
                                 i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
             ELSE []::VARCHAR[] END) AS sh
  FROM (SELECT doc_id, string_split({_NORM}, ' ') AS w FROM documents)
),{filtered}
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
  GROUP BY 1, 2
)
SELECT * FROM (
  SELECT doc_a, doc_b, ROUND(n_common / sa.n_sh, 6) AS containment
  FROM common JOIN sizes sa ON sa.doc_id = doc_a
) WHERE containment >= {threshold}
"""


def _simhash_oracle(max_hamming: int = 3, bits: int = 60) -> str:
    """Full signature replay (word_hash60 is engine-portable), then an
    all-pairs hamming check — tiny at oracle scale, and the Spark side's
    pigeonhole join is exactly equivalent for max_hamming <= chunks-1."""
    bit_sums = ",\n         ".join(
        f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN cnt ELSE -cnt END) AS b{i}"
        for i in range(bits)
    )
    sig_terms = "\n       + ".join(
        f"CASE WHEN b{i} > 0 THEN (1::BIGINT << {i}) ELSE 0::BIGINT END"
        for i in range(bits)
    )
    return f"""
WITH wc AS (
  SELECT doc_id, word, COUNT(*)::BIGINT AS cnt
  FROM (SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS word FROM documents)
  GROUP BY doc_id, word
),
hashed AS (
  SELECT doc_id, CAST('0x' || substring(md5(word), 1, 15) AS BIGINT) AS h, cnt
  FROM wc
),
bitsums AS (
  SELECT doc_id,
         {bit_sums}
  FROM hashed GROUP BY doc_id
),
sig AS (
  SELECT doc_id,
         {sig_terms} AS simhash
  FROM bitsums
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.simhash, b.simhash))::INT AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
"""


def _lsh_buckets_cte(
    planes: int = 6, num_tables: int = 2, dim: int = 64, seed: int = 42
) -> str:
    """(vec_id, tbl, bucket) relation replaying similarity.lsh_bucket
    with the same seeded hyperplanes, inlined as +-embedding[i] terms."""

    def bucket_expr(hp: list[list[float]]) -> str:
        cases = []
        for p, plane in enumerate(hp):
            terms = " ".join(
                ("+" if s > 0 else "-") + f" embedding[{i + 1}]::DOUBLE"
                for i, s in enumerate(plane)
            )
            cases.append(
                f"CASE WHEN (0.0 {terms}) > 0 "
                f"THEN (1::BIGINT << {p}) ELSE 0::BIGINT END"
            )
        return "(" + "\n   + ".join(cases) + ")"

    tables = [
        similarity._hyperplanes(dim, planes, seed + t) for t in range(num_tables)
    ]
    return "\nUNION ALL\n".join(
        f"SELECT vec_id, {t} AS tbl, {bucket_expr(hp)} AS bucket FROM embeddings"
        for t, hp in enumerate(tables)
    )


def _lsh_ann_oracle(
    k: int = 5, planes: int = 6, num_tables: int = 2, dim: int = 64, seed: int = 42
) -> str:
    """Replays similarity.lsh_ann_topk exactly: same bucket relation,
    same multi-table candidate union, same (cosine DESC, vec_id) rerank."""
    cos = _cos_sql("q.embedding", "c.embedding")
    return _with(
        f"""cb AS (
{_lsh_buckets_cte(planes, num_tables, dim, seed)}
),
qb AS (SELECT vec_id AS query_id, tbl, bucket FROM cb WHERE vec_id < 8),
cand AS (
  SELECT DISTINCT qb.query_id, cb.vec_id
  FROM qb JOIN cb ON qb.tbl = cb.tbl AND qb.bucket = cb.bucket
                 AND qb.query_id != cb.vec_id
),
scored AS (
  SELECT cand.query_id, cand.vec_id, {cos} AS cos
  FROM cand
  JOIN embeddings c ON c.vec_id = cand.vec_id
  JOIN embeddings q ON q.vec_id = cand.query_id
)""",
        _COS_RANK,
        f"""
SELECT query_id, vec_id, ROUND(cos, 6) AS cosine, "rank"::INT AS "rank" FROM r
WHERE "rank" <= {k}
""")


# ---------------------------------------------------------------------------
# Spark-side query callables
# ---------------------------------------------------------------------------


def _dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dedup(_docs(spark, sf_dir))


# the deterministic messy-URL generator for dedup_url: every casing /
# default-port / trailing-slash / tracking-param / fragment variant a
# crawler actually sees, derived from doc fields so both engines build
# the identical raw string (Spark spelling below, DuckDB spelling in the
# oracle). doc_id % 7 x % 3 gives 21 canonical pages per source against
# ~25 docs per source at sf0.01 — collisions guaranteed by pigeonhole.
_RAW_URL_SPARK = """
  concat('https://',
         CASE WHEN doc_id % 3 = 0 THEN upper(source) ELSE source END,
         '.Example.COM',
         CASE WHEN doc_id % 11 = 0 THEN ':8080'
              WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END,
         '/docs/', CAST(doc_id % 7 AS STRING),
         CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END,
         '?utm_source=feed&page=', CAST(doc_id % 3 AS STRING),
         CASE WHEN doc_id % 6 = 0 THEN '&utm_medium=mail' ELSE '' END,
         CASE WHEN doc_id % 5 = 0 THEN '#sec2' ELSE '' END)
"""


def _dedup_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level dedup (dedup.canonicalize_url): canonicalize crawl
    URLs — lowercase host, drop default port / fragment / utm_*
    tracking params, strip the trailing slash — then keep the lowest
    doc_id per canonical page. Canonicalization is a pure projection
    (parse_url + array higher-order functions, zero Python); the dedup
    is ONE hash aggregation on the canonical key. The oracle rebuilds
    the same canonical form with RE2 regexes + list_filter, so the
    parse_url algebra is graded against an independent parser."""
    load(spark, sf_dir)
    docs = spark.table("documents").selectExpr(
        "doc_id", f"{_RAW_URL_SPARK} AS url"
    )
    canon = docs.select(
        "doc_id", dedup.canonicalize_url("url").alias("canon_url")
    )
    return canon.groupBy("canon_url").agg(
        F.min("doc_id").alias("keep_id"),
        F.count(F.lit(1)).alias("n_docs"),
    )


def _dedup_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    # width-10 pseudo-lines (the corpus is a single-line word stream);
    # a line shared by >1 docs is boilerplate and dropped from all
    return dedup.line_dedup(
        dedup.segment_lines(_docs(spark, sf_dir), width=10), max_line_docs=1
    )


def _dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    # max_doc_freq exercises the hot-shingle skew cap through the gate;
    # the oracle replays the identical stopword-removal semantics
    return dedup.ngram_jaccard_pairs(
        _docs(spark, sf_dir), threshold=0.3, max_doc_freq=100
    )


def _dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle containment (dedup.containment_pairs):
    |S(a) ∩ S(b)| / |S(a)| — the quote/excerpt/subset-duplicate
    measure Jaccard misses (Broder's resemblance-vs-containment
    distinction). Ordered pairs, same bounded shingle-bucket join and
    hot-shingle cap as the Jaccard entry; the oracle replays the
    directional formula over the identical surviving shingle space."""
    return dedup.containment_pairs(
        _docs(spark, sf_dir), threshold=0.6, max_doc_freq=100
    )


def _dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_lsh_pairs(_docs(spark, sf_dir), threshold=0.5)


def _dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup ingest (VERDICT r14 ask #3): today's batch
    (doc_id % 10 >= 8, the incremental_dedup split convention) probed
    against the historical corpus' band index at MinHash-LSH
    granularity — the fuzzy twin of dedup_incremental, whose exact-hash
    anti-join misses every edited near-duplicate. Oracle = exact
    cross-side 3-shingle Jaccard (the same recall+precision contract as
    dedup_minhash_lsh: banding proposes, exact Jaccard disposes)."""
    docs = _docs(spark, sf_dir)
    history = docs.where(F.col("doc_id") % 10 < 8)
    batch = docs.where(F.col("doc_id") % 10 >= 8)
    return dedup.incremental_minhash_lsh(history, batch, threshold=0.5)


def _dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash_pairs(_docs(spark, sf_dir), max_hamming=3, chunks=6)


def _dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir)
    return dedup.embedding_near_dup_pairs(spark.table("embeddings"), threshold=0.2)


def _dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir)
    return dedup.embedding_near_dup_lsh(spark.table("embeddings"), threshold=0.2)


def _dedup_incremental_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-modality incremental near-dup ingest: new vectors
    (vec_id % 10 >= 8) probed against the historical corpus' persisted
    LSH bucket index (dedup.incremental_embedding_lsh), every candidate
    exact-cosine verified. The oracle replays the SAME seeded
    hyperplanes through the inlined +-embedding[i] bucket expression
    (the dedup_embedding_lsh machinery), restricted to cross-side
    pairs — so candidate generation AND verification are both graded."""
    load(spark, sf_dir)
    embs = spark.table("embeddings")
    history = embs.where(F.col("vec_id") % 10 < 8)
    batch = embs.where(F.col("vec_id") % 10 >= 8)
    return dedup.incremental_embedding_lsh(history, batch, threshold=0.2)


def _dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    # full pipeline: MinHash-LSH pairs -> connected components -> keeper
    # flag per document (the actual "dedup the corpus" deliverable)
    docs = _docs(spark, sf_dir)
    pairs = dedup.minhash_lsh_pairs(docs, threshold=0.5)
    return dedup.dedup_resolution(docs, pairs)


def _dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.duplicated_spans(_docs(spark, sf_dir), n=20, max_doc_freq=50)


def _dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir)
    return dedup.semantic_dedup(spark.table("embeddings"), n_clusters=16, threshold=0.2)


def _sim_topk_vectorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NumPy-GEMM twin of sim_topk_bruteforce — must be value-identical,
    # so it shares the same oracle (rank ties at 1e-16 are the only
    # theoretical divergence; adjacent-cosine spacing at this corpus
    # size is ~1e-5, ten orders of magnitude away)
    load(spark, sf_dir)
    embs = spark.table("embeddings")
    return similarity.cosine_topk_vectorized(embs, embs.where("vec_id < 8"), k=5)


def _sim_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir)
    return similarity.knn_graph(spark.table("embeddings"), k=5)


def _sim_bitext_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the two "languages" are the even/odd label halves of the corpus —
    # structurally two embedding shards, exactly the mining setup
    load(spark, sf_dir)
    embs = spark.table("embeddings")
    return similarity.mine_bitext(
        embs.where("label % 2 = 0"), embs.where("label % 2 = 1"), k=4,
        margin_threshold=1.0,
    )


def _sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir)
    embs = spark.table("embeddings")
    return similarity.cosine_topk_bruteforce(embs, embs.where("vec_id < 8"), k=5)


def _retrieval_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir)
    embs = spark.table("embeddings")
    return similarity.hard_negatives(embs, embs.where("vec_id < 8"), k=5)


def _sim_contrastive_triplets(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir)
    embs = spark.table("embeddings")
    return similarity.contrastive_triplets(embs, embs.where("vec_id < 8"))


def _sim_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir)
    embs = spark.table("embeddings")
    return similarity.lsh_ann_topk(
        embs, embs.where("vec_id < 8"), k=5, planes=6, num_tables=2
    )


def _sim_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir)
    embs = spark.table("embeddings")
    return similarity.ivf_topk(
        embs, embs.where("vec_id < 8"), k=5, n_clusters=16, n_probe=4
    )


def _sim_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversity rerank, graded by its output contract (the greedy
    argmax chain is not SQL-replayable): on a planted 8-cluster corpus
    (40 near-identical members each), vanilla top-5 drowns in the
    query's own cluster while MMR (lambda=0.3, pool=120 — the pool must
    exceed the 40-member cluster or there is nothing to diversify INTO)
    must keep the single most-relevant hit AND spread across clusters. Emits per query:
    exactly-k results, rank-1 == exact top-1, vanilla stuck in <= 2
    clusters, MMR covering >= 3, and strictly more than vanilla. The
    oracle is the planted expectation as literal VALUES."""
    import numpy as np

    dim = 16
    rng = np.random.default_rng(29)
    centers = rng.normal(size=(8, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    vecs = []
    for c in range(8):
        vecs.append(centers[c] + 0.15 * rng.normal(size=(40, dim)))
    all_vecs = np.concatenate(vecs)
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(all_vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    qids = [0, 85, 290]
    q = df.where(F.col("vec_id").isin(qids))
    cluster = (F.col("vec_id") / 40).cast("int")
    vanilla = similarity.cosine_topk_vectorized(df, q, k=5)
    mmr = similarity.mmr_rerank(df, q, k=5, lambda_=0.3, pool=120)
    v_stats = vanilla.groupBy("query_id").agg(
        F.count_distinct(cluster).alias("v_clusters"),
        F.max(F.when(F.col("rank") == 1, F.col("vec_id"))).alias("v_top1"),
    )
    m_stats = mmr.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_results"),
        F.count_distinct(cluster).alias("m_clusters"),
        F.max(F.when(F.col("rank") == 1, F.col("vec_id"))).alias("m_top1"),
    )
    return v_stats.join(F.broadcast(m_stats), "query_id").select(
        "query_id",
        "n_results",
        (F.col("m_top1") == F.col("v_top1")).alias("keeps_top1"),
        (F.col("v_clusters") <= 2).alias("vanilla_stuck"),
        (F.col("m_clusters") >= 3).alias("mmr_spreads"),
        (F.col("m_clusters") > F.col("v_clusters")).alias("diversity_gained"),
    )


def _sim_topk_ivf_kmeans_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means-centroid IVF, graded by its OUTPUT CONTRACT instead of a
    raw-result replay (k-means|| is iterative — no SQL oracle can replay
    the neighbor lists). The query plants a deterministic 8-cluster
    corpus (seeded NumPy, adversarial to the id-sample centroid mode:
    the 8 lowest ids sit in ONE near-identical blob), runs the k-means
    IVF, and emits per query: exactly-k results, cosine monotonically
    descending by rank, and recall vs the exact top-k >= 0.8 — a bar the
    id-sample baseline (~0.25 on this corpus) cannot clear. Clusters are
    0.15-noise-separated, so cluster recovery — hence every boolean — is
    stable under partitioning/seed arithmetic differences. The oracle is
    the planted expectation as literal VALUES."""
    import numpy as np

    dim = 16
    rng = np.random.default_rng(13)
    centers = rng.normal(size=(8, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    degenerate = centers[0] + 0.01 * rng.normal(size=(8, dim))
    vecs = [degenerate]
    for c in range(8):
        vecs.append(centers[c] + 0.15 * rng.normal(size=(40, dim)))
    all_vecs = np.concatenate(vecs)
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(all_vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    qids = [48, 128, 208]
    q = df.where(F.col("vec_id").isin(qids))
    approx = similarity.ivf_topk_kmeans(df, q, k=5, n_clusters=8, n_probe=2)
    exact = similarity.cosine_topk_vectorized(df, q, k=5)
    hits = (
        approx.join(exact.select("query_id", "vec_id"), ["query_id", "vec_id"])
        .groupBy("query_id")
        .agg(F.count("*").alias("hits"))
    )
    w = Window.partitionBy("query_id").orderBy("rank")
    flagged = approx.withColumn("prev_cos", F.lag("cosine").over(w))
    per_q = flagged.groupBy("query_id").agg(
        F.count("*").alias("n_results"),
        F.min(
            (F.col("prev_cos").isNull() | (F.col("cosine") <= F.col("prev_cos")))
            .cast("int")
        ).cast("boolean").alias("cosine_desc"),
    )
    return (
        per_q.join(hits, "query_id", "left")
        .select(
            "query_id",
            "n_results",
            "cosine_desc",
            (F.coalesce(F.col("hits"), F.lit(0)) >= 4).alias("recall_ok"),
        )
    )


def _sim_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir)
    embs = spark.table("embeddings")
    return similarity.pq_topk(
        embs, embs.where("vec_id < 8"), k=5, m=8, ksub=16, oversample=4
    )


def _text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.quality_features(_docs(spark, sf_dir))


def _text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return docs.select("doc_id", text.lang_id("text").alias("lang_pred"))


def _text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.token_counts(_docs(spark, sf_dir))


def _text_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.fingerprints(_docs(spark, sf_dir))


def _text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.redact_pii(_docs(spark, sf_dir))


def _pii_oracle() -> str:
    """Build the DuckDB mirror from the SAME PII_PATTERNS tuple so the
    two sides cannot drift (DuckDB needs the explicit 'g' flag; counts
    via len(regexp_extract_all) — all patterns are in the Java∩RE2
    subset)."""
    red = "text"
    for _, pat, token in text.PII_PATTERNS:
        red = f"regexp_replace({red}, '{pat}', '{token}', 'g')"
    counts = ",\n       ".join(
        f"len(regexp_extract_all(text, '{pat}'))::INT AS n_{kind}"
        for kind, pat, _ in text.PII_PATTERNS
    )
    return f"SELECT doc_id, {red} AS redacted,\n       {counts}\nFROM documents"


_SAMPLE_RATES = {"en": 0.5, "de": 0.25, "zh": 0.1}


def _text_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.winnowing_fingerprints(_docs(spark, sf_dir), n=3, window=4)


def _text_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.collocations(_docs(spark, sf_dir), min_count=5, top_n=50)


def _text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.repetition_features(_docs(spark, sf_dir))


def _text_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    bench = docs.where("doc_id % 37 = 0")
    corpus = docs.where("doc_id % 37 != 0")
    return text.contamination(corpus, bench, n=3, threshold=5)


def _text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.gopher_rules(_docs(spark, sf_dir))


def _text_c4_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    # layout-free corpus parameterization: width-10 pseudo-lines, line
    # rule = full-width segments only (ragged tails fail), punctuation
    # rules off (the corpus carries none)
    docs = _docs(spark, sf_dir)
    return text.c4_rules(
        docs,
        dedup.segment_lines(docs, width=10),
        min_line_words=10,
        require_terminal_punct=False,
        min_sentences=0,
    )


def _text_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.perplexity_filter(_docs(spark, sf_dir))


def _retrieval_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    return retrieval.bm25_topk(
        _docs(spark, sf_dir), ["table", "scan", "vector"], k=20
    )


def _retrieval_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return retrieval.tfidf_top_terms(_docs(spark, sf_dir), k=5, min_df=2)


def _text_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.chunk_documents(_docs(spark, sf_dir), chunk_tokens=64, stride=48)


def _curation_mix_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    return curation.mix_domains(_docs(spark, sf_dir), budget_frac=0.5)


def _curation_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    return curation.deterministic_shuffle(_docs(spark, sf_dir))


def _curation_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    return curation.hash_split(_docs(spark, sf_dir)).select("doc_id", "split")


def _curation_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    return curation.stratified_sample(_docs(spark, sf_dir), _SAMPLE_RATES).select(
        "doc_id", "lang"
    )


def _curation_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    # target distribution = the English subcorpus; per-lang word
    # frequencies differ, so weights genuinely rank docs by en-likeness
    return curation.dsir_resample(
        _docs(spark, sf_dir), F.col("lang") == "en", n=100, buckets=256
    )


def _curation_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    # inclusion probability proportional to document length
    return curation.weighted_sample(
        _docs(spark, sf_dir), F.col("n_chars").cast("double"), n=100
    )


def _curation_pack_bestfit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-fit-decreasing sequence packing
    (curation.pack_sequences_bestfit, budget 512, 8 shards) — BFD packs
    tighter than the contiguous greedy, and at pretraining scale fewer
    bins is directly less padding compute. CONTRACT query (BFD's bin
    ids are algorithmic state no other engine replays): the Spark side
    re-derives the packing's invariants from its own output — every
    doc placed exactly once, no bin over budget — and emits them with
    the packable doc/token totals; the oracle recomputes the totals
    and asserts the invariants literally TRUE."""
    docs = _docs(spark, sf_dir)
    from datafusion_gpu_spark.operators.dedup import normalize_text

    with_tokens = docs.select(
        "doc_id",
        F.size(F.split(normalize_text(F.col("text")), " ")).alias("n_tokens"),
    )
    packed = curation.pack_sequences_bestfit(
        with_tokens, budget=512, shards=8
    )
    bins = packed.groupBy("shard", "bin_id").agg(
        F.sum("n_tokens").alias("fill")
    )
    totals = packed.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        (F.count_distinct("doc_id") == F.count(F.lit(1))).alias("each_once"),
    )
    max_fill = bins.agg(F.max("fill").alias("max_fill"))
    return totals.crossJoin(F.broadcast(max_fill)).select(
        "n_docs",
        "total_tokens",
        (F.col("each_once") & (F.col("max_fill") <= 512)).alias("ok"),
    )


def _curation_reservoir_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source weighted reservoir (curation.weighted_sample_per_group):
    the 20 longest-weighted docs PER SOURCE under the deterministic
    Efraimidis-Spirakis draw — the k-per-domain mixture draw. One group
    shuffle, rank-filter window (WindowGroupLimit per-partition top-n),
    output bounded at 20 x |sources|."""
    return curation.weighted_sample_per_group(
        _docs(spark, sf_dir),
        F.col("n_chars").cast("double"),
        n=20,
        group="source",
    )


def _curation_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    return curation.temperature_mix(_docs(spark, sf_dir), alpha=0.3)


def _events_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir)
    return events.winsorize(spark.table("events"), p_lo=0.05, p_hi=0.95)


def _curation_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Morton interleave of two 8-bit keys + the curve-segment bucket a
    # range-partitioned layout write would use (operators.layout)
    from datafusion_gpu_spark.operators import layout

    load(spark, sf_dir)
    o = spark.table("orders").where("o_orderkey < 1000")
    a = (F.col("o_orderkey") % 256).alias("a")
    b = (F.col("o_custkey") % 256).alias("b")
    keyed = o.select(F.col("o_orderkey").alias("orderkey"), a, b)
    z = layout.z_value(F.col("a"), F.col("b"), bits=8)
    return keyed.select(
        "orderkey", "a", "b", z.alias("z"),
        F.floor(z / 4096).cast("int").alias("zbucket"),
    )


_ZORDER_BITS_SQL = " | ".join(
    f"(((a >> {i}) & 1) << {2 * i}) | (((b >> {i}) & 1) << {2 * i + 1})"
    for i in range(8)
)


def _bucket_sql(salt: str) -> str:
    """DuckDB mirror of curation._hash_bucket (portable md5-prefix hash)."""
    return (
        f"CAST('0x' || substring(md5('{salt}:' || CAST(doc_id AS VARCHAR)), 1, 15)"
        f" AS BIGINT) % 1000000"
    )


def _stratified_oracle() -> str:
    rate = "CASE " + " ".join(
        f"WHEN lang = '{s}' THEN {r}" for s, r in _SAMPLE_RATES.items()
    ) + " ELSE 0.0 END"
    return f"""
SELECT doc_id, lang FROM (
  SELECT doc_id, lang, {_bucket_sql('sample-v1')} AS b, {rate} AS rate
  FROM documents
) WHERE b < CAST(rate * 1000000 AS BIGINT)
"""


def _sim_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the gate projects qvec to a CSV string: the driver canonicalizer
    # sorts result columns with pandas, and a raw array<int> column is
    # unhashable there (the one red row in CORRECTNESS_r03). The operator
    # itself still returns the real array; tests round-trip it.
    load(spark, sf_dir)
    q = similarity.quantize_embeddings(spark.table("embeddings"))
    return q.select(
        "vec_id",
        "scale",
        F.array_join(F.col("qvec").cast("array<string>"), ",").alias("qvec_csv"),
    )


def _curation_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    with_tokens = docs.withColumn(
        "n_tokens", F.size(F.split(dedup.normalize_text(F.col("text")), " "))
    )
    packed = curation.pack_sequences(with_tokens, budget=512, shards=8)
    return packed.select("doc_id", "shard", "bin")


def _pipeline_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    return curation.curate_corpus(
        _docs(spark, sf_dir), min_quality=0.35, lang="en", budget=512, shards=8
    )


def _multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    return multimodal.extract_features(
        multimodal.attach_binary(_docs(spark, sf_dir))
    )


def _multimodal_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    return multimodal.sample_chunks(
        multimodal.attach_binary(_docs(spark, sf_dir)), chunk_bytes=64, stride=2
    )


def _events_salted_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir)
    df = skew.salted_sum(
        spark.table("events"), ["event_type"], "value", "event_id", buckets=32
    )
    return df.select(
        "event_type", F.round("sum_value", 2).alias("sum_value"), "n_rows"
    )


def _events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir)
    return events.tumbling_window_agg(spark.table("events"), "1 hour")


def _events_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir)
    return events.gap_fill(spark.table("events"), unit="hour")


def _events_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir)
    return events.rolling_anomalies(spark.table("events"), unit="hour")


def _events_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # intervals = the first 6 hours of every day in the span, derived
    # deterministically from the data; aggregate per interval/type
    load(spark, sf_dir)
    ev = spark.table("events")
    iv = (
        ev.select(F.date_trunc("day", F.col("ts")).alias("start_ts"))
        .distinct()
        .select(
            F.col("start_ts").alias("interval_id"),
            "start_ts",
            (F.col("start_ts") + F.expr("interval 6 hours")).alias("end_ts"),
        )
    )
    joined = events.interval_join_bucketed(ev, iv, unit="hour")
    return joined.groupBy("interval_id", "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


def _events_hopping(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir)
    return events.hopping_window_agg(spark.table("events"), "1 hour", "30 minutes")


def _events_session_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir)
    return events.session_window_agg(spark.table("events"), "30 minutes")


def _events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir)
    return events.sessionize(spark.table("events"), gap_minutes=30)


def _streaming_session_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked SESSION windows through the foreachBatch sink — the
    data-driven window state no tumbling grid expresses; graded by the
    batch twin's gaps-and-islands oracle (events_session_native)."""
    from datafusion_gpu_spark import streaming

    load(spark, sf_dir)
    return streaming.materialized_session_counts(spark, sf_dir)


def _streaming_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming through the idempotent foreachBatch parquet
    sink, graded by the SAME oracle as the batch twin (events_tumbling):
    stream == batch is checked by the driver gate itself, not only by
    pytest equality."""
    from datafusion_gpu_spark import streaming

    load(spark, sf_dir)
    return streaming.materialized_tumbling_counts(spark, sf_dir)


def _streaming_enriched_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join materialized through the append sink; must
    equal the plain batch join row-for-row."""
    from datafusion_gpu_spark import streaming

    load(spark, sf_dir)
    return streaming.materialized_enriched_purchases(spark, sf_dir)


def _streaming_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked streaming dedup materialized as its deterministic key
    set (survivor choice is arrival-order-dependent; the key set is not)."""
    from datafusion_gpu_spark import streaming

    load(spark, sf_dir)
    return streaming.materialized_dedup_keys(spark, sf_dir)


def _events_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir)
    ev = spark.table("events")
    left = ev.where("event_type = 'view'")
    # dedupe the right side on (user_id, ts) so the as-of pick is
    # well-defined in every engine (ties broken by max event_id)
    right = (
        ev.where("event_type = 'purchase'")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("event_id"))
    )
    return events.asof_join_prior(left, right, on="user_id")


def _dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup: today's batch (doc_id % 10 >= 8) is
    deduped against the already-ingested corpus (doc_id % 10 < 8) by an
    anti-join on the 32-hex content key — the daily-ingest shape where
    the history side is the persisted hash index, never re-read text."""
    load(spark, sf_dir)
    docs = spark.table("documents")
    history = docs.where(F.col("doc_id") % 10 < 8)
    batch = docs.where(F.col("doc_id") % 10 >= 8)
    return dedup.incremental_dedup(history, batch)


def _curation_quantile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality floor: keep documents at or above their
    source's 25th percentile of n_chars. exact=True here so the DuckDB
    quantile_cont oracle replays the identical interpolated threshold;
    the default approx_percentile spelling is the 100 TB path (mergeable
    sketch, no per-group value collection)."""
    load(spark, sf_dir)
    out = curation.quantile_threshold_filter(
        spark.table("documents").select("doc_id", "source", "n_chars"),
        score_col="n_chars",
        group_col="source",
        q=0.25,
        exact=True,
    )
    return out.select("doc_id", "source", "n_chars", "threshold")


def _events_multi_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate: minute tier scans raw
    events once; hour and day tiers reaggregate the minute/hour PARTIALS
    (sum-of-sums). Spark reuses the minute shuffle across tiers
    (ReusedExchange, plan-asserted in tests/test_plans.py)."""
    load(spark, sf_dir)
    return events.multi_resolution_rollup(spark.table("events"))


def _multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode in the gate: deterministic solid-color PPM
    payloads (width/height/color derived from doc_id) are encoded and
    decoded executor-side via the built-in pure-NumPy codec
    (multimodal.decode_image_array — no imaging library involved), and
    the decoded dimensions + exact channel means are graded against a
    DuckDB oracle that computes the same values arithmetically. A codec
    bug (padding, channel order, header parse) breaks the hash."""
    import pandas as pd

    from datafusion_gpu_spark.operators.multimodal import decode_features

    load(spark, sf_dir)
    docs = spark.table("documents").where(F.col("doc_id") < 300).select("doc_id")

    def encode(batches):
        for pdf in batches:
            rows = {"doc_id": [], "payload": []}
            for doc_id in pdf["doc_id"]:
                w = int(doc_id) % 13 + 2
                h = int(doc_id) % 7 + 2
                rgb = bytes([int(doc_id) % 256, (3 * int(doc_id)) % 256,
                             (7 * int(doc_id)) % 256])
                payload = (f"P6\n{w} {h}\n255\n".encode()) + rgb * (w * h)
                rows["doc_id"].append(int(doc_id))
                rows["payload"].append(payload)
            yield pd.DataFrame(rows)

    binary_df = docs.mapInPandas(encode, "doc_id long, payload binary")
    return decode_features(binary_df)


def _multimodal_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit perceptual image hash in the gate (multimodal.phash64):
    deterministic 16x16 gradient PPMs are encoded and REALLY decoded
    executor-side, then luma -> 2x2 mean-pool -> integer-quantized 8x8
    DCT-II -> median-threshold, all int64-exact (the DCT basis is a
    module-level integer constant table shared with the oracle, so no
    libm cosine runs at query time on either engine). The oracle
    rebuilds every pixel arithmetically and replays the transform
    through a 64-row coefficient relation — a codec, pooling, DCT or
    thresholding bug flips hash bits."""
    import pandas as pd

    from datafusion_gpu_spark.operators.multimodal import phash64

    load(spark, sf_dir)
    docs = spark.table("documents").where(F.col("doc_id") < 300).select("doc_id")

    def encode(batches):
        for pdf in batches:
            rows = {"doc_id": [], "payload": []}
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                pix = bytearray()
                for y in range(16):
                    for x in range(16):
                        pix += bytes(
                            (
                                (3 * d + 7 * x + 11 * y) % 256,
                                (d + 5 * x + 3 * y) % 256,
                                (2 * d + x + y) % 256,
                            )
                        )
                rows["doc_id"].append(d)
                rows["payload"].append(b"P6\n16 16\n255\n" + bytes(pix))
            yield pd.DataFrame(rows)

    binary_df = docs.mapInPandas(encode, "doc_id long, payload binary")
    return phash64(binary_df)


def _multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL nearest-neighbor image resize in the gate: deterministic
    GRADIENT PPM payloads (pixel (x,y) channel values are modular
    arithmetic in doc_id/x/y, so a resize bug shifts the sums) are
    encoded, decoded and index-mapped executor-side
    (multimodal.resize_nearest); the oracle recomputes the resized
    per-channel sums purely arithmetically via the same
    floor(x_out * w / out_w) index map."""
    import numpy as np
    import pandas as pd

    from datafusion_gpu_spark.operators.multimodal import resize_nearest

    load(spark, sf_dir)
    docs = spark.table("documents").where(F.col("doc_id") < 300).select("doc_id")

    def encode(batches):
        for pdf in batches:
            rows = {"doc_id": [], "payload": []}
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                w = d % 13 + 2
                h = d % 7 + 2
                y, x = np.mgrid[0:h, 0:w]
                px = np.stack(
                    [
                        (d + 3 * x + 5 * y) % 256,
                        (2 * d + 7 * x + y) % 256,
                        (5 * d + x + 11 * y) % 256,
                    ],
                    axis=-1,
                ).astype(np.uint8)
                payload = (f"P6\n{w} {h}\n255\n".encode()) + px.tobytes()
                rows["doc_id"].append(d)
                rows["payload"].append(payload)
            yield pd.DataFrame(rows)

    binary_df = docs.mapInPandas(encode, "doc_id long, payload binary")
    return resize_nearest(binary_df, out_w=4, out_h=3)


def _events_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width numeric histogram of the value distribution per
    event type (events.value_histogram) — one hash aggregation with
    map-side partials; output stays |types| x |buckets| at any input
    scale."""
    load(spark, sf_dir)
    return events.value_histogram(spark.table("events"), width=5.0)


def _events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-absolute-deviation outlier flags per event type
    (events.mad_anomalies) — the robust-statistics sibling of the
    rolling z-score entry. Two keyed aggregations + a broadcast of the
    |types|-row stats; the deviation rounds to 6 before the threshold
    so the oracle replays every flag decision."""
    load(spark, sf_dir)
    return events.mad_anomalies(spark.table("events"), k=3.0)


def _events_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user one-sided CUSUM drift detection (events.cusum_alarms,
    Page 1954) over the purchase value stream — the change-point
    monitor an ingest pipeline runs over per-source telemetry. The
    sequential-looking recursion S_i = max(0, S_{i-1} + y_i) is
    spelled via its exact closed form (cumsum minus running-min of
    cumsum), i.e. two window functions over (user ORDER BY ts,
    event_id) — fully parallel across users and replayed bit-for-bit
    by the oracle: values scale to integer cents and the per-user
    mean/k/h baseline quantizes ONCE to those integer units, so every
    cumulative sum, running min and alarm decision is bigint. The one
    accepted residual is the float stddev_pop feeding that single
    quantization — a last-ulp engine difference could in principle
    flip an integer rounding at an exact .5 boundary."""
    load(spark, sf_dir)
    purchases = spark.table("events").where(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    )
    return events.cusum_alarms(purchases)


def _curation_apportion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder (Hamilton) apportionment sampling
    (curation.apportion_sample): EXACTLY 250 docs allocated across
    sources proportional to size — quota floors and remainder ranks in
    pure integer arithmetic, per-source picks by salted-hash rank. The
    integer counterpart of the rate-based mixers, whose realized counts
    drift binomially; the oracle replays the allocation and the pick
    ranking term-for-term."""
    load(spark, sf_dir)
    return curation.apportion_sample(
        spark.table("documents"), total=250, source_col="source"
    )


def _events_ab_srm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch check for the deterministic 50/50 A/B hash
    assignment — the first gate every experimentation platform runs: if
    the realized split is improbably far from 50/50, the assignment or
    logging pipeline is broken and every downstream metric is invalid
    (Kohavi et al.'s trustworthy-experiments SRM test). The chi-square
    statistic for two equal-expectation cells reduces to
    (n_a - n_b)^2 / n — integer arithmetic until one division — and the
    decision compares against the CONSTANT 3.841 (chi2_0.95, df=1), so
    no libm p-value is ever computed. Assignment reuses the portable
    salted md5 bucket, replayed verbatim by the oracle."""
    load(spark, sf_dir)
    from datafusion_gpu_spark.operators.curation import _hash_bucket

    users = spark.table("events").select("user_id").distinct()
    v = (_hash_bucket(F.col("user_id"), "srm-v1") % 2).alias("v")
    agg = users.select(v).agg(
        F.sum(F.when(F.col("v") == 0, 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(F.col("v") == 1, 1).otherwise(0)).cast("long").alias("n_b"),
    )
    diff2 = (F.col("n_a") - F.col("n_b")) * (F.col("n_a") - F.col("n_b"))
    chi2 = F.round(diff2 / (F.col("n_a") + F.col("n_b")), 6)
    return agg.select(
        "n_a", "n_b", chi2.alias("chi2"), (chi2 > 3.841).alias("srm")
    )


def _streaming_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of events_ewma (streaming.stream_ewma):
    per-user bounded state (last 20 cents) in applyInPandasWithState,
    integer-only Python (cents quantized JVM-side with the batch
    twin's exact expression), presentation division in Spark after the
    sink. Graded by the BATCH oracle — the stream==batch contract."""
    load(spark, sf_dir)
    from datafusion_gpu_spark import streaming

    return streaming.stream_ewma(spark, sf_dir)


# OHLC candlestick downsample: the time-series compaction (open/high/
# low/close/volume per bucket) — one portable spelling on both engines;
# open/close pick by row_number with (ts, event_id) tiebreaks instead of
# min_by/max_by because composite ordering keys are not portable, and
# cents-integer values keep every aggregate exact until presentation.
_OHLC = """
WITH t AS (
  SELECT date_trunc('hour', ts) AS bucket, event_type,
         CAST(ROUND(value * 100, 0) AS BIGINT) AS v_c, ts, event_id
  FROM events WHERE value IS NOT NULL
),
r AS (
  SELECT *,
    ROW_NUMBER() OVER (PARTITION BY bucket, event_type
                       ORDER BY ts, event_id) AS rn_a,
    ROW_NUMBER() OVER (PARTITION BY bucket, event_type
                       ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM t
)
SELECT bucket, event_type,
  CAST(ROUND(MIN(CASE WHEN rn_a = 1 THEN v_c END) / 100.0, 2) AS DOUBLE) AS open,
  CAST(ROUND(MAX(v_c) / 100.0, 2) AS DOUBLE) AS high,
  CAST(ROUND(MIN(v_c) / 100.0, 2) AS DOUBLE) AS low,
  CAST(ROUND(MIN(CASE WHEN rn_d = 1 THEN v_c END) / 100.0, 2) AS DOUBLE) AS close,
  CAST(SUM(v_c) AS BIGINT) AS volume_cents,
  COUNT(*) AS n_trades
FROM r GROUP BY bucket, event_type
"""


def _events_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC (candlestick) downsample of the event value stream —
    the canonical time-series compaction for dashboards and archives.
    Single portable SQL (see _OHLC) run on Spark directly and replayed
    verbatim by DuckDB."""
    load(spark, sf_dir)
    return spark.sql(_OHLC)


def _events_interval_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands interval coalescing (events.merge_intervals):
    each purchase opens a validity range [ts, ts + round(value)
    minutes] and overlapping/touching ranges per user merge into
    maximal islands — the RANGE twin of gap sessionization (points
    merge by gap there; ranges merge by overlap here), the op behind
    validity-window compaction and coverage accounting. All bounds are
    bigint epoch-micros, the island flag is an integer comparison, so
    the oracle replays the two-window + one-aggregation plan
    bit-for-bit."""
    load(spark, sf_dir)
    ep = F.unix_micros(F.col("ts").cast("timestamp"))
    iv = (
        spark.table("events")
        .where((F.col("event_type") == "purchase") & F.col("value").isNotNull())
        .select(
            "user_id",
            "event_id",
            ep.alias("s"),
            (ep + F.round("value").cast("long") * 60_000_000).alias("e"),
        )
    )
    return events.merge_intervals(iv)


def _events_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user halflife-1 EWMA over the purchase value stream
    (events.ewma_halflife, span=20) — the smoother upstream of the
    events_changepoint_cusum drift monitor. Power-of-two weights make
    the weighted numerator and the adjusted normalizer exact bigints
    (the CUSUM arithmetic lesson applied to smoothing: no float window
    sum ever forms), spelled as 20 lag() pairs over ONE window spec;
    the oracle generates the identical 20-term expression. The only
    floats are the final two divisions, identical IEEE ops on both
    engines."""
    load(spark, sf_dir)
    purchases = spark.table("events").where(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    )
    return events.ewma_halflife(purchases, span=20, scale=100)


def _text_hashing_vectorizer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick bag-of-words featurization
    (text.hashing_vectorizer, dim=64): vocabulary-free fixed-dimension
    sparse term frequencies over the md5-derived portable word hash —
    one map-side-combined (doc, bucket) aggregation, no Python, no
    vocabulary broadcast. The oracle rebuilds every bucket id and
    count from the same normalize/split/md5 spelling."""
    load(spark, sf_dir)
    return text.hashing_vectorizer(spark.table("documents"), dim=64)


def _text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch-style readability scoring (text.readability) with the
    vowel-group syllable proxy — pure codegen expressions, no shuffle,
    every division rounded so the oracle replays the exact score."""
    load(spark, sf_dir)
    return text.readability(spark.table("documents"))


def _text_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM quality scoring (text.bigram_lm_score) — the
    transition-aware sibling of text_perplexity; bigram/context counts
    broadcast, one corpus-keyed shuffle for the per-doc average."""
    load(spark, sf_dir)
    return text.bigram_lm_score(spark.table("documents"))


def _text_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram scoring (text.kneser_ney_score,
    D=0.75) — the standard LM smoothing whose continuation probability
    (distinct left-contexts, not raw frequency) is what add-alpha lacks.
    Same broadcast-count / one-corpus-shuffle shape as text_bigram_lm;
    the oracle replays the full Chen-Goodman formula as CTEs."""
    load(spark, sf_dir)
    return text.kneser_ney_score(spark.table("documents"))


def _streaming_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of events_histogram: incremental complete-mode
    histogram state (|types| x |buckets| rows bounded regardless of
    stream length) through the idempotent sink; graded by the SAME
    oracle as the batch operator, so stream == batch is driver-checked."""
    from datafusion_gpu_spark import streaming

    load(spark, sf_dir)
    return streaming.materialized_value_histogram(spark, sf_dir)


def _sim_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss signed random projection 64 -> 8 dims
    (similarity.random_projection) using the same seeded +-1
    hyperplane generator as the LSH entries; the oracle replays the
    sign matrix term-for-term. Shuffle-free projection pass."""
    load(spark, sf_dir)
    return similarity.random_projection(
        spark.table("embeddings"), dim=64, k=8, seed=7
    )


def _graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (5 power iterations, d=0.85) over the bidirectional
    customer<->supplier trade graph from orders |x| lineitem — the
    link-authority quality prior of a crawl-curation pipeline, and the
    engine's second iterative operator family beside label-propagation
    components. The oracle unrolls the identical 5 iterations as chained
    CTEs; both sides round to 8 decimals (double accumulation noise is
    ~1e-18 at these magnitudes)."""
    load(spark, sf_dir)
    o = spark.table("orders")
    li = spark.table("lineitem")
    # long node ids inside the iteration (customer 2k, supplier 2k+1):
    # long-keyed joins/aggregations beat string keys by ~2x, and
    # pagerank() dedups the raw pair stream itself — the labeled string
    # spelling appears only in the final projection (and the oracle)
    cs = o.join(li, o["o_orderkey"] == li["l_orderkey"]).select(
        (F.col("o_custkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
    )
    edges = cs.unionAll(cs.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    ranks = graph.pagerank(edges, iterations=5, damping=0.85)
    node = F.col("node")
    label = F.when(
        node % 2 == 0, F.concat(F.lit("c"), F.shiftright(node, 1))
    ).otherwise(F.concat(F.lit("s"), F.shiftright(node, 1)))
    return ranks.select(label.alias("node"), F.round("rank", 8).alias("pr"))


def _events_match_recognize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-lite (the Flink/Trino row-pattern clause Spark
    lacks): encode each user's time-ordered event types as a symbol
    string and count non-overlapping regex matches of the pattern
    ``v+p`` (one-or-more views immediately followed by a purchase) —
    the sequence-motif spelling of funnel detection. One user-keyed
    shuffle; ordering is deterministic via an array_sort over
    (ts, event_id) structs (no sortWithinPartitions reliance). Honest
    scale bound: the per-user symbol string must fit in memory — at
    a 500k-event bot user this spelling buffers 500k chars where
    events_funnel's scalar-window rewrite stays O(1)/key, so funnel
    remains the scale path and THIS is the expressiveness demo (both
    Java regex and DuckDB RE2 scan left-to-right greedily, so the
    non-overlapping match counts agree engine-to-engine)."""
    load(spark, sf_dir)
    ev = spark.table("events")
    sym = (
        F.when(F.col("event_type") == "view", "v")
        .when(F.col("event_type") == "purchase", "p")
        .when(F.col("event_type") == "click", "c")
        .when(F.col("event_type") == "signup", "s")
        .otherwise("e")
    )
    seq = ev.select("user_id", "ts", "event_id", sym.alias("sym"))
    arr = F.array_sort(
        F.collect_list(F.struct(F.col("ts"), F.col("event_id"), F.col("sym")))
    )
    per_user = seq.groupBy("user_id").agg(
        F.array_join(F.transform(arr, lambda x: x["sym"]), "").alias("seq")
    )
    return per_user.select(
        "user_id",
        F.regexp_count(F.col("seq"), F.lit("v+p")).cast("int").alias("n_matches"),
        F.length("seq").alias("n_events"),
    )


def _graph_pagerank_personalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank (graph.personalized_pagerank, 3 rounds,
    d=0.85) over the same customer<->supplier trade graph as
    graph_pagerank, teleporting only to the round-number customers
    (custkey % 100 == 0) — proximity/trust relative to a seed set
    (Haveliwala's topic-sensitive PR / TrustRank shape). The oracle
    unrolls the identical 3 rounds as chained CTEs with the
    seed-restricted teleport; both sides round to 8 decimals."""
    load(spark, sf_dir)
    o = spark.table("orders")
    li = spark.table("lineitem")
    cs = o.join(li, o["o_orderkey"] == li["l_orderkey"]).select(
        (F.col("o_custkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
    )
    edges = cs.unionAll(
        cs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    # seed customers: custkey % 100 == 0 <=> node id % 200 == 0
    seeds = cs.select("src").where(F.col("src") % 200 == 0).distinct()
    ranks = graph.personalized_pagerank(edges, seeds, iterations=3)
    node = F.col("node")
    label = F.when(
        node % 2 == 0, F.concat(F.lit("c"), F.shiftright(node, 1))
    ).otherwise(F.concat(F.lit("s"), F.shiftright(node, 1)))
    return ranks.select(label.alias("node"), F.round("rank", 8).alias("pr"))


def _copurchase_edges(spark: SparkSession) -> DataFrame:
    """Shared edge list for the triangle/degree entries: the co-purchase
    part graph — parts linked when they ship in the same order (the
    items-bought-together graph every recommender starts from). One
    equality self-join on the order key; a < b halves the pair stream
    at the source."""
    li = spark.table("lineitem").select("l_orderkey", "l_partkey")
    a = li.alias("l")
    b = li.select(
        F.col("l_orderkey"), F.col("l_partkey").alias("r_partkey")
    ).alias("r")
    return (
        a.join(b, "l_orderkey")
        .where(F.col("l_partkey") < F.col("r_partkey"))
        .select(F.col("l_partkey").alias("a"), F.col("r_partkey").alias("b"))
    )


def _graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed triangle count (graph.triangle_count) of the
    co-purchase graph with degree-ordered orientation — the WWW'11
    "curse of the last reducer" algorithm whose wedge fan-out stays
    O(sqrt(m)) per node even on celebrity hubs. The oracle counts the
    SAME triangles by a structurally different plan (canonical lo<hi
    edges three-way joined x<y<z), so agreement cross-checks the
    orientation algebra, not just the arithmetic."""
    load(spark, sf_dir)
    return graph.triangle_count(_copurchase_edges(spark))


def _graph_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor / Jaccard link prediction (graph.common_neighbors)
    over the bulk-purchase co-purchase graph: parts never bought
    together whose neighborhoods overlap in >= 2 parts, i.e. the
    recommender's "customers who bought X also bought Y" candidate set.
    One keyed wedge self-join with the hub-cap guard (middle degree
    <= 64 — no-op on this subgraph, load-bearing at 100x skew), one
    anti-join against existing edges; the oracle replays the identical
    algebra in DuckDB."""
    load(spark, sf_dir)
    return graph.common_neighbors(
        _sparse_copurchase_edges(spark), max_degree=64, min_common=2
    )


def _graph_scc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strongly connected components
    (graph.strongly_connected_components, FW-BW-Trim + Orzan coloring)
    of the DIRECTED purchase-succession graph: within each bulk order,
    each line's part points at the next line's part, so a part cluster
    that keeps re-ordering in rotation forms a cycle. First directed-
    reachability gate row; the measured gate trajectory is ONE outer
    round (7 trim + 14 forward + 16 backward keyed hops) peeling 477
    SCCs including a 1480-node giant. The oracle computes mutual
    reachability from DuckDB's recursive transitive closure — exact,
    with no round budget to agree on — and labels each node with the
    min mutually-reachable id, exactly the operator's canonical id."""
    load(spark, sf_dir)
    w = Window.partitionBy("l_orderkey").orderBy("l_linenumber")
    e = (
        spark.table("lineitem")
        .where(F.col("l_quantity") >= 40)
        .select(
            F.col("l_partkey").alias("src"),
            F.lead("l_partkey").over(w).alias("dst"),
        )
        .where(F.col("dst").isNotNull() & (F.col("dst") != F.col("src")))
    )
    return graph.strongly_connected_components(e)


def _graph_mst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Borůvka minimum spanning tree (graph.boruvka_mst) over a graph
    with an EXACT-oracle construction: a heap-shaped spanning tree on
    the part keys (child idx -> parent (idx-1)//2, weight = child idx)
    plus the co-purchase pairs as strictly heavier edges (>= 10^12).
    The cut property then pins MST == the planted tree exactly — every
    non-tree edge is the heaviest in any cycle it closes — so a SQL
    oracle can state an iterative algorithm's full output, ties among
    heavy edges notwithstanding. Measured trajectory: round 1 chooses
    the entire tree (each singleton's lightest incident edge IS its
    parent edge), the merge collapses it through label propagation
    (~23 rounds on the ~22-diameter heap), round 2 certifies no live
    edges. The global row_number over part is dimension-sized
    (|part| rows) — the same documented exemption as every dimension
    window."""
    load(spark, sf_dir)
    wdw = Window.orderBy("p_partkey")
    idx = spark.table("part").select(
        F.col("p_partkey").alias("node"),
        (F.row_number().over(wdw) - 1).cast("long").alias("idx"),
    )
    child = idx.where(F.col("idx") >= 1)
    parent = idx.select(
        F.col("node").alias("pnode"), F.col("idx").alias("pidx")
    )
    tree = child.join(
        parent, parent["pidx"] == F.expr("(idx - 1) DIV 2")
    ).select(
        F.col("node").alias("a"),
        F.col("pnode").alias("b"),
        F.col("idx").alias("w"),
    )
    # heavy band floor 10^12: tree weights are the child indexes
    # (< |part|), so "strictly heavier" holds for any part table below
    # a trillion rows — the cut-property argument cannot silently break
    # at a bigger scale factor the way a 100k floor would
    heavy = _sparse_copurchase_edges(spark).select(
        F.col("a"),
        F.col("b"),
        (F.lit(10**12) + (F.col("a") + F.col("b")) % 997).cast("long").alias("w"),
    )
    return graph.boruvka_mst(tree.unionAll(heavy))


def _graph_condensation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Condensation DAG of the directed purchase-succession graph: SCCs
    contract to super-nodes (graph.strongly_connected_components), the
    inter-SCC edges form the provably-acyclic condensation, and Kahn
    layering (graph.topo_layers) assigns each super-node its scheduling
    wave — the textbook composition (Cormen et al. §22.5) that turns
    ANY directed graph into an executable dependency order, and the
    payoff for having both operators: cycle-safe dependency scheduling
    end-to-end. Isolated SCCs (no inter-SCC edge) sit at layer 0. The
    oracle recomputes both stages from the recursive closure."""
    load(spark, sf_dir)
    w = Window.partitionBy("l_orderkey").orderBy("l_linenumber")
    e = (
        spark.table("lineitem")
        .where(F.col("l_quantity") >= 40)
        .select(
            F.col("l_partkey").alias("src"),
            F.lead("l_partkey").over(w).alias("dst"),
        )
        .where(F.col("dst").isNotNull() & (F.col("dst") != F.col("src")))
    )
    scc_map = graph.strongly_connected_components(e)
    to_scc_s = scc_map.select(
        F.col("node").alias("src"), F.col("scc_id").alias("c_src")
    )
    to_scc_d = scc_map.select(
        F.col("node").alias("dst"), F.col("scc_id").alias("c_dst")
    )
    ce = (
        e.join(to_scc_s, "src")
        .join(to_scc_d, "dst")
        .where(F.col("c_src") != F.col("c_dst"))
        .select(F.col("c_src").alias("src"), F.col("c_dst").alias("dst"))
        .distinct()
    )
    layers = graph.topo_layers(ce)
    sizes = scc_map.groupBy("scc_id").agg(F.count(F.lit(1)).alias("n_members"))
    return sizes.join(
        layers.withColumnRenamed("node", "scc_id"), "scc_id", "left"
    ).select(
        "scc_id",
        F.coalesce(F.col("layer"), F.lit(0)).alias("layer"),
        "n_members",
    )


def _graph_toposort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topological layering (graph.topo_layers, Kahn peeling) of the
    purchase-succession graph ORIENTED by key order (src < dst — the
    standard acyclicity-by-construction trick), i.e. the scheduling
    waves of the dependency DAG: layer(v) = longest path from any
    source, rounds == DAG depth (8 here), every current source peels
    in the same round. The oracle replays longest-path-from-anywhere
    as a recursive CTE (UNION-distinct (node, depth) pairs, MAX per
    node — terminates because the DAG bounds depth)."""
    load(spark, sf_dir)
    w = Window.partitionBy("l_orderkey").orderBy("l_linenumber")
    e = (
        spark.table("lineitem")
        .where(F.col("l_quantity") >= 40)
        .select(
            F.col("l_partkey").alias("src"),
            F.lead("l_partkey").over(w).alias("dst"),
        )
        .where(F.col("dst").isNotNull() & (F.col("dst") > F.col("src")))
    )
    return graph.topo_layers(e)


def _graph_resource_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resource-Allocation link prediction (graph.resource_allocation,
    Zhou-Lü-Zhang 2009) over the same bulk co-purchase graph as
    graph_common_neighbors — the hub-discounting member of the
    common-neighbor family, and the one with an EXACT cross-engine
    oracle: each middle's 1/deg contribution quantizes once to bigint
    nano-units (single IEEE division + round on identical inputs), the
    per-pair sum is order-free integer arithmetic, one division at the
    end. Adamic-Adar's 1/ln weight is a one-line swap but its libm ln
    is not last-ulp-pinned across engines, so RA is the gate spelling."""
    load(spark, sf_dir)
    return graph.resource_allocation(
        _sparse_copurchase_edges(spark), max_degree=64, min_common=2
    )


def _graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core of the bulk-purchase co-purchase graph (graph.k_core,
    5 peel rounds — the cascade converges at round 4 on this graph, so
    the fixed-round result IS the exact core). The oracle unrolls the
    same 5 peel rounds as MATERIALIZED chained CTEs (each round
    references its predecessor three times; without materialization
    DuckDB's CTE inlining makes the plan exponential in the round
    count)."""
    load(spark, sf_dir)
    return graph.k_core(_sparse_copurchase_edges(spark), k=3, rounds=5)


def _graph_degree_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the co-purchase graph
    (graph.degree_histogram) — the power-law/skew diagnostic run before
    choosing a join strategy on any link graph. Two keyed
    aggregations."""
    load(spark, sf_dir)
    return graph.degree_histogram(_copurchase_edges(spark))


def _graph_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum-hop distances (graph.bfs_distances) from the bulk-buyer
    seed parts (partkey % 97 == 0) over the sparse co-purchase graph,
    truncated at 6 hops — the reachability primitive under influence
    propagation and contamination-spread analysis. Frontier-parallel
    BFS with per-round checkpoints and empty-frontier early stop; the
    oracle is a DuckDB RECURSIVE CTE bounded at the same depth, so the
    frontier algebra is graded against a path-enumeration spelling."""
    load(spark, sf_dir)
    e = _sparse_copurchase_edges(spark)
    seeds = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .where(F.col("node") % 97 == 0)
        .distinct()
    )
    return graph.bfs_distances(e, seeds, rounds=6)


def _events_sliding_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-24h distinct users per hour via mergeable HLL partials
    (sketches.hll_sliding_distinct) — the DAU-by-hour metric. The
    events are scanned ONCE into hour-sketches; each window unions at
    most 24 SKETCH rows, where the exact spelling rescans every event
    24 times (once per window it belongs to). CONTRACT query: the
    Spark side computes both paths and emits whether every one of the
    720 windows lands within 5% of exact (at these cardinalities
    HLL++'s sparse mode is exact, so the margin is generous); the
    oracle recomputes the bucket count and asserts the contract."""
    from datafusion_gpu_spark.operators import sketches

    load(spark, sf_dir)
    ev = spark.table("events")
    est = sketches.hll_sliding_distinct(ev, "ts", "user_id", window_hours=24)
    hours = ev.select(
        F.date_trunc("hour", F.col("ts")).alias("h"),
        F.col("user_id").alias("k"),
    ).where(F.col("k").isNotNull())
    covered = hours.select(
        "h", "k", F.explode(F.sequence(F.lit(0), F.lit(23))).alias("i")
    ).select(
        (F.col("h") + F.expr("make_interval(0, 0, 0, 0, i)")).alias("bucket"),
        "k",
    )
    real = hours.select(F.col("h").alias("bucket")).distinct()
    exact = (
        covered.join(real, "bucket", "left_semi")
        .groupBy("bucket")
        .agg(F.countDistinct("k").alias("ex"))
    )
    j = est.join(exact, "bucket")
    return j.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        (
            F.sum(
                (F.abs(F.col("est") - F.col("ex")) <= 0.05 * F.col("ex")).cast("int")
            )
            == F.count(F.lit(1))
        ).alias("ok"),
    )


def _text_unicode_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode cleaning pass (text.unicode_clean): NFC normalization
    (decomposed e+combining-acute fuses to one codepoint) plus
    zero-width/C0-control stripping, over a deterministic messy-text
    generator (both engines splice the same combining/zero-width/
    control characters onto the same substring by doc_id arithmetic).
    NFC is the repo's one new legitimate Python boundary this round —
    no Spark built-in exposes the Unicode database — as a single
    Arrow-batched mapInPandas pass; the strip stays JVM regexp. The
    oracle replays NFC with DuckDB's native nfc_normalize, so the gate
    cross-checks two independent Unicode implementations."""
    load(spark, sf_dir)
    docs = spark.table("documents")
    raw = F.concat(
        F.substring(F.col("text"), 1, 40),
        F.when(F.col("doc_id") % 3 == 0, F.lit("e\u0301")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 5 == 0, F.lit("\u200b")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 7 == 0, F.lit("\x01")).otherwise(F.lit("")),
    )
    out = text.unicode_clean(docs.select("doc_id", raw.alias("text")))
    return out.select(
        "doc_id",
        F.length("text").alias("n_raw"),
        F.length("clean").alias("n_clean"),
        F.md5("clean").alias("clean_md5"),
    )


def _graph_bellman_ford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-hop cheapest paths (graph.bellman_ford, 4 relaxation rounds)
    from the bulk-buyer seed parts over the sparse co-purchase graph
    with deterministic integer edge weights ((a+b) % 5 + 1) — the
    weighted sibling of graph_bfs. The oracle enumerates every path of
    <= 4 edges with a RECURSIVE CTE and takes the per-node minimum
    cost; integer weights keep both sides exact."""
    load(spark, sf_dir)
    e = _sparse_copurchase_edges(spark).select(
        "a", "b", ((F.col("a") + F.col("b")) % 5 + 1).cast("long").alias("w")
    )
    seeds = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .where(F.col("node") % 97 == 0)
        .distinct()
    )
    return graph.bellman_ford(e, seeds, rounds=4)


def _graph_delta_stepping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-stepping EXACT seed-set shortest paths
    (graph.delta_stepping, delta=3) over the sparse co-purchase graph
    with deterministic integer weights spread 1..9 ((a*7+b) % 9 + 1 —
    wide enough that the light/heavy split is exercised: w <= 3 relaxes
    iteratively inside the bucket, w > 3 once per bucket). Unlike
    graph_bellman_ford's k-hop bound, this runs to the settled
    fixpoint, so the oracle is the UNROLLED Bellman-Ford relaxation
    (generated chained CTEs, min-merge per round) taken far past the
    graph's hop radius — both sides exact on integer weights."""
    load(spark, sf_dir)
    e = _sparse_copurchase_edges(spark).select(
        "a", "b", ((F.col("a") * 7 + F.col("b")) % 9 + 1).cast("long").alias("w")
    )
    seeds = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .where(F.col("node") % 97 == 0)
        .distinct()
    )
    return graph.delta_stepping(e, seeds, delta=3)


def _graph_harmonic_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact harmonic centrality truncated at 4 hops
    (graph.harmonic_exact over graph.all_pairs_distances) on the sparse
    co-purchase graph — the crawl-frontier / corpus-quality centrality,
    computed by source-tagged multi-source BFS (state = sum of ball
    sizes, affordable at gate scale; the 100 TB spelling is
    graph_harmonic_hyperball). Oracle enumerates the same truncated
    min-hop pairs with a DuckDB RECURSIVE CTE and sums 1/dist; both
    sides round to 6 places so double accumulation order is not what
    is graded."""
    load(spark, sf_dir)
    return graph.harmonic_exact(_sparse_copurchase_edges(spark), max_dist=4)


def _graph_harmonic_hyperball(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperBall approximate harmonic centrality (Boldi-Vigna 2013:
    per-node HLL ball sketches, graph.harmonic_hyperball) CONTRACT
    query — the sketch path cannot be replayed by another engine, so
    the gate grades its published accuracy promise instead: the Spark
    side computes BOTH HyperBall (lg_k=12, ~1.6% register error) and
    the exact truncated harmonic, and emits the node count plus
    whether >= 95% of nodes land within 25% relative error. The
    oracle recomputes the node count and asserts the contract
    literally TRUE — a red row means the sketch algebra broke, the
    same pattern as agg_approx_error_bounded."""
    load(spark, sf_dir)
    edges = _sparse_copurchase_edges(spark)
    hb = graph.harmonic_hyperball(edges, max_dist=4).select(
        "node", F.col("harmonic").alias("hb")
    )
    ex = graph.harmonic_exact(edges, max_dist=4)
    j = hb.join(ex, "node")
    return j.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        (
            F.sum(
                (
                    F.abs(F.col("hb") - F.col("harmonic"))
                    <= 0.25 * F.col("harmonic")
                ).cast("int")
            )
            >= F.round(0.95 * F.count(F.lit(1)))
        ).alias("ok"),
    )


def _graph_louvain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Louvain-style community detection (graph.louvain: synchronous
    half-move local phase + contraction, Blondel et al. 2008) CONTRACT
    query — community labels are algorithmic state no other engine
    replays, so the gate grades the algorithm's promises instead
    (the agg_approx_error_bounded pattern): on a deterministic
    planted-partition graph over the customer keys (40 residue-class
    communities chained at strides 40 and 80, sparse k%89 bridges
    between neighbors), the Spark side emits the node count plus
    whether the per-pass modularity trajectory was monotone
    non-decreasing and the final Q beats a 0.5 planted floor (the
    planted partition itself scores ~0.97, so 0.5 tolerates
    resolution-limit splits/merges while failing any broken gain
    formula). The oracle recomputes the node count from the same
    relational edge spelling and asserts both contract booleans
    literally TRUE."""
    load(spark, sf_dir)
    c = spark.table("customer").select(F.col("c_custkey").alias("k"))

    def stride(s: int) -> DataFrame:
        return (
            c.alias("x")
            .join(c.alias("y"), F.col("x.k") + s == F.col("y.k"))
            .select(F.col("x.k").alias("a"), F.col("y.k").alias("b"))
        )

    bridges = (
        c.alias("x")
        .join(c.alias("y"), F.col("x.k") + 1 == F.col("y.k"))
        .where(F.col("x.k") % 89 == 0)
        .select(F.col("x.k").alias("a"), F.col("y.k").alias("b"))
    )
    edges = stride(40).unionAll(stride(80)).unionAll(bridges)
    assign, qs = graph.louvain(edges, passes=2, move_rounds=4)
    monotone = all(qs[t + 1] >= qs[t] - 1e-9 for t in range(len(qs) - 1))
    return assign.agg(F.count(F.lit(1)).alias("n_nodes")).select(
        "n_nodes",
        F.lit(bool(monotone)).alias("monotone"),
        F.lit(bool(qs[-1] >= 0.5)).alias("beats_floor"),
    )


def _join_geo_radius(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial radius join (geo.radius_join): every (customer, supplier)
    pair within 25 km great-circle distance, on deterministic synthetic
    coordinates derived from the keys (a 0.1-degree lattice over a
    20x20-degree region — both engines rebuild bit-identical doubles
    from the same integer arithmetic). The scale story is the plan: the
    theta spelling (ON haversine <= r) would be a nested-loop/cartesian
    join; this is an EQUALITY join on the 3x3-neighborhood grid-cell
    key with an exact haversine verify — the LSH-band pattern applied
    to space. The oracle IS the theta spelling (DuckDB's O(n*m) pair
    scan is fine at sf0.01), so the bucketization's completeness —
    no pair missed at any cell boundary — is what the gate checks."""
    load(spark, sf_dir)
    c = spark.table("customer").select(
        F.col("c_custkey").alias("custkey"),
        (((F.col("c_custkey") * 37) % 200) / 10.0 - 10.0).alias("lat"),
        (((F.col("c_custkey") * 61) % 200) / 10.0 + 20.0).alias("lon"),
    )
    s = spark.table("supplier").select(
        F.col("s_suppkey").alias("suppkey"),
        (((F.col("s_suppkey") * 53) % 200) / 10.0 - 10.0).alias("lat"),
        (((F.col("s_suppkey") * 29) % 200) / 10.0 + 20.0).alias("lon"),
    )
    return geo.radius_join(c, s, radius_km=25.0).select(
        "custkey", F.col("suppkey_r").alias("suppkey")
    )


def _dedup_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact set-similarity self-join by prefix filtering
    (dedup.prefix_filter_pairs, AllPairs/ppjoin): all document pairs
    with 3-shingle Jaccard >= 0.5, candidates generated ONLY from
    rarest-first PREFIX shingles plus the length filter — the exact
    (no-false-negative) counterpart of minhash-LSH. The oracle is the
    O(n^2) theta spelling over DuckDB list ops, so what the gate
    grades is the prefix-filter completeness theorem itself (no
    qualifying pair may be missed — the geo-grid pattern). The 25-pair
    answer is threshold-robust (identical for t in [0.3, 0.7])."""
    load(spark, sf_dir)
    return dedup.prefix_filter_pairs(
        spark.table("documents"), threshold=0.5, n=3
    )


def _join_fuzzy_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked edit-distance entity resolution (dedup.blocked_edit_pairs):
    document pairs whose normalized 40-char prefixes are within
    Levenshtein distance 12, candidates generated ONLY through the
    record-linkage blocking key (first token + lang) — the fuzzy-join
    class (typo'd names, near-identical records) that token-set dedup
    cannot see. The plan is an equality hash join on the block key with
    Spark's early-exit thresholded Levenshtein as the verify; the
    oracle replays identical blocking + plain levenshtein in DuckDB
    (cross-engine Levenshtein parity already pinned by
    fn_edit_distance). Threshold sits mid-plateau: the match set is
    identical for any cutoff in [8, 14] on this corpus, so the gate
    row is robust to off-by-one edit-cost disagreements."""
    load(spark, sf_dir)
    return dedup.blocked_edit_pairs(
        spark.table("documents"),
        prefix_len=40,
        threshold=12,
        block_cols=("lang",),
        max_block=256,
    )


def _purchase_scd2_history(spark: SparkSession) -> DataFrame:
    """Shared version definition for the SCD2 entries: the purchase
    stream per user, value rounded to 2, event_id tiebreak. Both the
    compaction gate query and its point-in-time join consume THIS, so
    the version semantics cannot drift between them."""
    changes = (
        spark.table("events")
        .where("event_type = 'purchase'")
        .select("user_id", "event_id", "ts", F.round("value", 2).alias("value"))
    )
    return events.scd2_history(
        changes, key_cols=["user_id"], ts_col="ts", tiebreak_col="event_id"
    )


def _events_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 compaction of the purchase stream: one row per
    (user, version) with effective_from/effective_to validity bounds and
    an is_current flag — CDC replay into point-in-time-queryable history
    (events.scd2_history). One keyed window, one hash shuffle; the
    oracle replays the identical LEAD() over (user ORDER BY ts,
    event_id)."""
    load(spark, sf_dir)
    hist = _purchase_scd2_history(spark)
    return hist.select(
        "user_id", "event_id", "value",
        "effective_from", "effective_to", "is_current",
    )


def _dedup_incremental_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered spelling of incremental ingest dedup — MUST
    produce byte-identical output to dedup_incremental (a Bloom filter
    has no false negatives), so the two entries share one oracle. The
    filter builds distributively (per-partition bit arrays OR-merged,
    one broadcast) and only the Bloom-positive batch slice reaches the
    anti-join."""
    load(spark, sf_dir)
    docs = spark.table("documents")
    history = docs.where(F.col("doc_id") % 10 < 8)
    batch = docs.where(F.col("doc_id") % 10 >= 8)
    return dedup.incremental_dedup_bloom(history, batch, n_bits=1 << 20, k=5)


def _agg_count_min_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequency estimation (sketches.count_min_build /
    count_min_estimate, depth 4 x width 256) over the part-key stream,
    probed for the 20 lowest part keys next to their exact counts —
    (partkey, est, exact, overcount). At ~2000 distinct keys on 256
    columns every cell is shared, so the entry exercises real collision
    overestimates while est >= exact stays an invariant (pinned in
    pytest; the gate compares exact cell-for-cell equality since the
    row-salted md5 bucket hash is engine-portable). Build shuffle:
    <= depth*width partial rows per partition, never the key stream."""
    load(spark, sf_dir)
    from datafusion_gpu_spark.operators import sketches

    li = spark.table("lineitem")
    sketch = sketches.count_min_build(li, "l_partkey", depth=4, width=256)
    qk = spark.table("part").where(F.col("p_partkey") <= 20)
    est = sketches.count_min_estimate(sketch, qk, "p_partkey", depth=4, width=256)
    exact = (
        li.where(F.col("l_partkey") <= 20)
        .groupBy(F.col("l_partkey").cast("string").alias("key"))
        .agg(F.count(F.lit(1)).alias("exact"))
    )
    return (
        est.join(exact, "key", "left")
        .select(
            F.col("key").cast("long").alias("partkey"),
            "est",
            F.coalesce(F.col("exact"), F.lit(0).cast("long")).alias("exact"),
            (F.col("est") - F.coalesce(F.col("exact"), F.lit(0).cast("long"))).alias(
                "overcount"
            ),
        )
    )


def _text_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary heavy hitters over whitespace tokens: distributed
    Misra-Gries partials (one scan, k counters/partition) + the
    mergeable-summaries decrement + an exact verification count — the
    result equals the brute-force 'tokens above total/k' answer exactly,
    which is precisely what the DuckDB oracle computes."""
    from datafusion_gpu_spark.operators import sketches

    load(spark, sf_dir)
    toks = (
        spark.table("documents")
        .select(F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("token"))
        .where(F.col("token") != "")
    )
    hh = sketches.heavy_hitters(toks, "token", k=40)
    return hh.select(F.col("item").alias("token"), "n")


def _streaming_multi_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming half of the continuous aggregate through the gate: the
    stream maintains the minute tier (idempotent foreachBatch sink);
    hour/day reaggregate those persisted minute partials with the SAME
    rollup_tiers_from_minute the batch operator uses — graded by the
    identical three-tier oracle as events_multi_rollup."""
    from datafusion_gpu_spark import streaming

    load(spark, sf_dir)
    return streaming.materialized_multi_rollup(spark, sf_dir)


def _source_python_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming spelling of the Python Data Source API entry: the
    custom source's DataSourceStreamReader emits offset-ranged
    micro-batches with executor-parallel partitions; exactly-once
    through the append sink means the aggregated read-back equals the
    generator's SQL replay."""
    from datafusion_gpu_spark import streaming

    load(spark, sf_dir)
    return streaming.materialized_python_stream_source(spark, sf_dir)


def _multimodal_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode in the gate: deterministic two-segment square
    waves (amplitudes A/B and length derived from doc_id) are written as
    RIFF/WAV PCM16 bytes and decoded executor-side by the built-in
    pure-NumPy codec (multimodal.decode_wav_pcm16 — no audio library).
    RMS of the planted signal is exactly sqrt((A^2+B^2)/2), so the
    DuckDB oracle recomputes every feature arithmetically; a codec bug
    (header layout, endianness, chunk walk, interleave) breaks the
    hash."""
    import numpy as np
    import pandas as pd

    from datafusion_gpu_spark.operators import multimodal

    load(spark, sf_dir)
    docs = spark.table("documents").where(F.col("doc_id") < 300).select("doc_id")

    def encode(batches):
        for pdf in batches:
            rows = {"doc_id": [], "payload": []}
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                a = (doc_id * 37) % 20000 + 1000
                b = (doc_id * 91) % 20000 + 500
                n = (doc_id % 50) * 8 + 16  # multiple of 8 -> exact ms
                half = n // 2
                sig = np.empty(n, dtype=np.int16)
                sign = np.where(np.arange(half) % 2 == 0, 1, -1)
                sig[:half] = a * sign
                sig[half:] = b * sign
                rows["doc_id"].append(doc_id)
                rows["payload"].append(
                    multimodal.encode_wav_pcm16(sig, sample_rate=8000)
                )
            yield pd.DataFrame(rows)

    binary_df = docs.mapInPandas(encode, "doc_id long, payload binary")
    return multimodal.audio_features(binary_df)


def _multimodal_audio_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-dup fingerprint in the gate (multimodal.
    audio_fingerprint — VERDICT r14 ask #4): deterministic pseudo-noise
    clips s_i = ((doc_id*13 + i*7919) % 4096) - 2048 of 31 * (8 +
    doc_id % 23) samples are written as RIFF/WAV PCM16 and REALLY
    decoded executor-side, then framed into 31 frames whose two-band
    (adjacent-sum / adjacent-difference) energies are median-
    thresholded into a 62-bit integer fingerprint. Every stage is
    int64-exact, so the DuckDB oracle rebuilds each sample from the
    same closed form and replays the transform arithmetically — a
    codec bug (header, endianness, interleave) or a fingerprint bug
    (framing, band filter, median) flips hash bits."""
    import numpy as np
    import pandas as pd

    from datafusion_gpu_spark.operators import multimodal

    load(spark, sf_dir)
    docs = spark.table("documents").where(F.col("doc_id") < 300).select("doc_id")

    def encode(batches):
        for pdf in batches:
            rows = {"doc_id": [], "payload": []}
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                n = 31 * (8 + d % 23)
                i = np.arange(n, dtype=np.int64)
                sig = ((d * 13 + i * 7919) % 4096 - 2048).astype(np.int16)
                rows["doc_id"].append(d)
                rows["payload"].append(
                    multimodal.encode_wav_pcm16(sig, sample_rate=8000)
                )
            yield pd.DataFrame(rows)

    binary_df = docs.mapInPandas(encode, "doc_id long, payload binary")
    return multimodal.audio_fingerprint(binary_df)


def _multimodal_audio_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-dup PAIRS in the gate (multimodal.audio_neardup_pairs):
    every doc_id % 5 == 4 clip is a gain-2 re-encode of its group
    leader (seed doc_id - 4), identical fingerprint by the gain
    invariance — so the planted pairs surface at hamming 0 through the
    chunked-equality pigeonhole while unrelated clips stay >= 22 bits
    apart (median 32; measured over the full 300-doc generator at
    sf0.01: exactly the 60 planted pairs, zero accidental
    collisions). The oracle rebuilds every clip's fingerprint
    from the closed form and takes the exact all-pairs hamming <= 3
    slice (all-pairs is the ORACLE's luxury at 300 docs; the Spark
    side never scans pairs — plan-asserted)."""
    import numpy as np
    import pandas as pd

    from datafusion_gpu_spark.operators import multimodal

    load(spark, sf_dir)
    docs = spark.table("documents").where(F.col("doc_id") < 300).select("doc_id")

    def encode(batches):
        for pdf in batches:
            rows = {"doc_id": [], "payload": []}
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                seed, gain = (d - 4, 2) if d % 5 == 4 else (d, 1)
                n = 31 * (8 + seed % 23)
                i = np.arange(n, dtype=np.int64)
                # seed enters MULTIPLICATIVELY (odd factor mod 4096 is a
                # bijection): an additive-only seed leaves the adjacent-
                # difference stream seed-independent, so same-length
                # clips would share their whole high band and collide
                sig = (
                    gain
                    * (
                        ((2 * seed + 1) * (i * i * 31 + i * 7919) + seed * 13)
                        % 4096
                        - 2048
                    )
                ).astype(np.int16)
                rows["doc_id"].append(d)
                rows["payload"].append(
                    multimodal.encode_wav_pcm16(sig, sample_rate=8000)
                )
            yield pd.DataFrame(rows)

    binary_df = docs.mapInPandas(encode, "doc_id long, payload binary")
    return multimodal.audio_neardup_pairs(binary_df)


def _multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video decode in the gate: deterministic solid-luma Y4M
    streams (frame count, dimensions, luma derived from doc_id) are
    encoded and parsed executor-side by the built-in pure-NumPy
    YUV4MPEG2 codec (multimodal.decode_y4m), sampling every 2nd frame.
    Solid frames make each sampled frame's mean luma a closed-form
    integer the DuckDB oracle recomputes; a parser bug (header tokens,
    plane sizes, frame walk) breaks the hash."""
    import numpy as np
    import pandas as pd

    from datafusion_gpu_spark.operators import multimodal

    load(spark, sf_dir)
    docs = spark.table("documents").where(F.col("doc_id") < 200).select("doc_id")

    def encode(batches):
        for pdf in batches:
            rows = {"doc_id": [], "payload": []}
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                nf = doc_id % 12 + 2
                w = (doc_id % 3 + 1) * 4
                h = (doc_id % 2 + 1) * 4
                frames = np.stack(
                    [
                        np.full((h, w), (doc_id * 13 + f * 29) % 256, np.uint8)
                        for f in range(nf)
                    ]
                )
                rows["doc_id"].append(doc_id)
                rows["payload"].append(multimodal.encode_y4m(frames))
            yield pd.DataFrame(rows)

    binary_df = docs.mapInPandas(encode, "doc_id long, payload binary")
    return multimodal.frame_sample(binary_df, every=2)


def _events_scd2_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join against SCD2 history — the standard warehouse
    snapshot join: each view event picks the purchase-stream version
    valid at its timestamp (effective_from <= t < effective_to). The
    join keys on user_id equality with the validity range as a post-
    filter, so it is a hash join, not a nested loop; validity windows
    partition time, so each view matches at most one version."""
    load(spark, sf_dir)
    ev = spark.table("events")
    hist = _purchase_scd2_history(spark).select(
        F.col("user_id").alias("h_user_id"),
        F.col("event_id").alias("version_id"),
        F.col("value").alias("version_value"),
        "effective_from",
        "effective_to",
    )
    views = ev.where("event_type = 'view'").select("user_id", "event_id", "ts")
    return (
        views.join(
            hist,
            (views["user_id"] == hist["h_user_id"])
            & (hist["effective_from"] <= views["ts"])
            & (hist["effective_to"].isNull() | (views["ts"] < hist["effective_to"])),
        )
        .select(
            F.col("event_id").alias("view_id"),
            "user_id",
            "version_id",
            "version_value",
        )
    )


def _pipeline_multimodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composition across all three modalities: the planted-PPM image
    decode and planted-WAV audio decode (both REAL pure-NumPy codec
    passes) join back to the text table on doc_id and roll up per
    bucket. Two mapInPandas boundaries, one broadcast-able key join,
    one aggregation — the shape of a production multimodal curation
    pass; every number is arithmetic from doc_id, so one SQL oracle
    replays the whole composition."""
    img = _multimodal_decode(spark, sf_dir).select("doc_id", "mean_r")
    aud = _multimodal_audio(spark, sf_dir).select("doc_id", "peak", "duration_ms")
    docs = spark.table("documents").select("doc_id", "n_chars")
    j = img.join(aud, "doc_id").join(docs, "doc_id")
    return j.groupBy((F.col("doc_id") % 10).alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("mean_r").alias("sum_mean_r"),
        F.sum("peak").alias("sum_peak"),
        F.sum("duration_ms").alias("sum_ms"),
        F.sum("n_chars").alias("sum_chars"),
    )


def _sim_pca_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA over the embeddings table (one Gram-partial scan
    + driver eigh + broadcast-GEMM projection), graded by its contract
    relation: the SQL-replayable number (total population variance from
    raw coordinates) plus by-construction booleans re-derived from the
    distributed projection (orthonormality, eigenvalue-matching
    descending component variances, explained ratio in (0,1])."""
    from datafusion_gpu_spark.operators import decomposition

    load(spark, sf_dir)
    return decomposition.pca_contract(
        spark.table("embeddings"), k=8, vec_col="embedding"
    )


def _events_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of event types per user
    timeline (events.transition_counts); LEAD() oracle, total order via
    the event_id tiebreak."""
    load(spark, sf_dir)
    return events.transition_counts(spark.table("events"))


def _events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 3-step event-type paths across user timelines
    (events.top_paths) — sliding n-grams over a keyed window, then a
    TakeOrderedAndProject top-k with a deterministic (n desc, path)
    tie-break the oracle replays."""
    load(spark, sf_dir)
    return events.top_paths(spark.table("events"), length=3, k=10)


def _streaming_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked STREAM-STREAM inner join (view -> purchase attribution
    within 1 hour) through the idempotent append sink; inner rows emit
    exactly once, so the read-back equals the batch interval self-join
    the oracle runs."""
    from datafusion_gpu_spark import streaming

    load(spark, sf_dir)
    return streaming.materialized_view_purchase_join(spark, sf_dir)


def _streaming_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of dedup_incremental_minhash: the doc feed lands
    in 4 micro-batches, each probing the band index persisted ONCE from
    history (streaming.materialized_incremental_minhash). Per-doc
    results are independent of micro-batch co-membership, so the union
    equals the one-shot batch run — graded by the SAME exact cross-side
    Jaccard oracle."""
    from datafusion_gpu_spark import streaming

    load(spark, sf_dir)
    return streaming.materialized_incremental_minhash(spark, sf_dir)


def _text_bpe_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training (text.bpe_train) through the
    gate: the first learned merge is SQL-replayable exactly (most
    frequent adjacent char pair weighted by word frequency, tiebreak
    count desc / left / right), and the deeper merges are contract-
    checked — k merges learned, all weighted counts positive, and the
    character mass of the FINAL merged state equals the raw corpus'
    (merges concatenate symbols; characters are conserved, so a merge-
    application bug breaks the equality)."""
    load(spark, sf_dir)
    docs = spark.table("documents")
    merges, state = text.bpe_train(docs, num_merges=6, return_state=True)
    try:
        [mass] = state.agg(
            F.sum(
                F.col("freq") * F.length(F.concat_ws("", "syms"))
            ).alias("m")
        ).collect()[0][:1]
    finally:
        state.unpersist()
    l1, r1, n1 = merges[0]
    return spark.createDataFrame(
        [
            (
                l1,
                r1,
                int(n1),
                len(merges),
                bool(all(n > 0 for _, _, n in merges)),
                int(mass),
            )
        ],
        "left_1 string, right_1 string, n_1 long, k int, "
        "merges_positive boolean, char_mass long",
    )


def _text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-then-encode through the gate: the corpus tokenizes with
    its own learned merges in one Arrow pass. SQL replays the raw
    character mass; the contract booleans pin the two encode
    invariants — concatenated tokens reconstruct every document's
    characters exactly, and the learned merges actually compress
    (fewer tokens than characters)."""
    load(spark, sf_dir)
    docs = spark.table("documents")
    merges = text.bpe_train(docs, num_merges=6)
    enc = text.bpe_encode(docs.select("doc_id", "text"), merges)
    norm_chars = F.length(
        F.regexp_replace(F.lower(F.col("text")), r"\s+", "")
    )
    stats = enc.select(
        "n_tokens",
        norm_chars.alias("n_chars"),
        (F.concat_ws("", "tokens") == F.regexp_replace(
            F.lower(F.col("text")), r"\s+", ""
        )).alias("ok"),
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.min("ok").alias("chars_conserved"),
        (F.sum("n_tokens") < F.sum("n_chars")).alias("compressed"),
    )
    return stats


def _events_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per-user recency/frequency/monetary from the
    purchase stream, quartile-scored with NTILE over deterministic
    (metric, user_id) orderings — one keyed aggregation plus three
    global windows over the |U|-sized relation (the windows sort users,
    not events, so at 100 TB the heavy scan is the single purchase
    aggregation)."""
    load(spark, sf_dir)
    p = spark.table("events").where("event_type = 'purchase'")
    per_user = p.groupBy("user_id").agg(
        F.max("ts").alias("last_ts"),
        F.count(F.lit(1)).alias("n_purchases"),
        F.round(F.sum("value"), 2).alias("monetary"),
    )
    r_w = Window.orderBy(F.col("last_ts").desc(), F.col("user_id"))
    f_w = Window.orderBy(F.col("n_purchases").desc(), F.col("user_id"))
    m_w = Window.orderBy(F.col("monetary").desc(), F.col("user_id"))
    return per_user.select(
        "user_id",
        "n_purchases",
        "monetary",
        F.ntile(4).over(r_w).alias("r_score"),
        F.ntile(4).over(f_w).alias("f_score"),
        F.ntile(4).over(m_w).alias("m_score"),
    )


def _events_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic A/B analysis: users split into two variants by the
    portable salted md5 bucket (the same hash family as hash_split, so
    DuckDB replays the assignment bit-for-bit), conversion = made a
    purchase; emits per-variant counts, rates, and the closed-form
    two-proportion z statistic. One keyed aggregation + a one-row
    pivot."""
    from datafusion_gpu_spark.operators.curation import _hash_bucket

    load(spark, sf_dir)
    ev = spark.table("events")
    # _hash_bucket is h % 1e6; 1e6 is even, so % 2 preserves the raw
    # 60-bit hash's parity — bit-identical to the oracle's md5 replay
    h = _hash_bucket(F.col("user_id"), "ab")
    per_user = ev.groupBy("user_id").agg(
        F.max((F.col("event_type") == "purchase").cast("int")).alias("converted")
    ).select((h % 2).alias("variant"), "converted")
    agg = per_user.groupBy("variant").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("converted").alias("conv"),
    )
    wide = agg.groupBy().pivot("variant", [0, 1]).agg(
        F.first("n").alias("n"), F.first("conv").alias("conv")
    )
    n_a, c_a = F.col("0_n").cast("long"), F.col("0_conv").cast("long")
    n_b, c_b = F.col("1_n").cast("long"), F.col("1_conv").cast("long")
    p_a, p_b = c_a / n_a, c_b / n_b
    pool = (c_a + c_b) / (n_a + n_b)
    se = F.sqrt(pool * (1 - pool) * (1.0 / n_a + 1.0 / n_b))
    # NULL se (a variant with zero users makes n/conv NULL) must propagate
    # as NULL z, matching the oracle's CASE semantics — otherwise(0.0)
    # would turn the degenerate single-variant case into z_stat=0.0.
    z = (
        F.when(se.isNull(), F.lit(None).cast("double"))
        .when(se > 0, (p_a - p_b) / se)
        .otherwise(F.lit(0.0))
    )
    return wide.select(
        n_a.alias("n_a"),
        c_a.alias("conv_a"),
        n_b.alias("n_b"),
        c_b.alias("conv_b"),
        F.round(p_a, 6).alias("rate_a"),
        F.round(p_b, 6).alias("rate_b"),
        F.round(z, 4).alias("z_stat"),
    )


def _streaming_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator in the gate: the per-user
    funnel automaton (applyInPandasWithState, two scalars of state per
    user) materialized and collapsed to funnel counts — graded by the
    SAME chained-CTE oracle as the batch events_funnel, so stream ==
    batch is checked by the driver itself."""
    from datafusion_gpu_spark import streaming

    load(spark, sf_dir)
    return streaming.materialized_streaming_funnel(spark, sf_dir)


def _events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view -> click -> purchase, each stage
    strictly after the previous conversion: one keyed shuffle, then the
    t_i = min(ts_i where ts > t_{i-1}) chain as scalar-state window
    minima that all reuse the same exchange (bounded per-key memory —
    no collected arrays). The oracle replays the equivalent chained
    min-after-prior CTEs."""
    load(spark, sf_dir)
    return events.funnel_counts(
        spark.table("events"), steps=["view", "click", "purchase"]
    )


def _events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users bucketed by first-seen day,
    counted per later active day (events.cohort_retention). Bounded
    keyed shuffles only; the oracle is the direct two-CTE SQL."""
    load(spark, sf_dir)
    return events.cohort_retention(spark.table("events"))




# Shannon entropy of the per-language source mix — the corpus-balance
# diagnostic every data-mixing pipeline reports. One portable SQL
# (run verbatim on both engines): each p*ln(p) term is quantized to an
# exact 1e-12 bigint BEFORE the sum (the survival/EWMA lesson: the only
# cross-engine float op is one libm ln per cell, 4 decimal orders below
# the quantum; the fold itself is exact integer arithmetic).
_ENTROPY = """
WITH c AS (
  SELECT lang, source, COUNT(*) AS n_ls FROM documents GROUP BY lang, source
),
l AS (
  SELECT lang, CAST(SUM(n_ls) AS BIGINT) AS n_l, COUNT(*) AS n_src
  FROM c GROUP BY lang
),
t AS (
  SELECT c.lang,
         CAST(ROUND((CAST(n_ls AS DOUBLE) / n_l)
                    * LN(CAST(n_ls AS DOUBLE) / n_l) * 1e12, 0) AS BIGINT)
           AS term_q,
         n_l, n_src
  FROM c JOIN l ON c.lang = l.lang
)
SELECT lang, MIN(n_l) AS n_docs, MIN(n_src) AS n_sources,
       ROUND(-CAST(SUM(term_q) AS BIGINT) / 1e12, 6) AS entropy_nats,
       CASE WHEN MIN(n_src) > 1
            THEN ROUND(-CAST(SUM(term_q) AS BIGINT) / 1e12
                       / LN(CAST(MIN(n_src) AS DOUBLE)), 6)
            ELSE CAST(0 AS DOUBLE) END AS norm_entropy
FROM t GROUP BY lang
"""


def _agg_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language Shannon entropy (and [0,1]-normalized entropy) of
    the source distribution — the mix-diversity stat behind every
    data-curation dashboard. Two hash aggregations + one broadcast
    join; see _ENTROPY for the exact-bigint term quantization that
    makes the float fold portable."""
    load(spark, sf_dir)
    return spark.sql(_ENTROPY)


# Chi-square test of independence for two categorical columns
# (documents.lang x documents.source) with Cramer's V effect size.
# The contingency table is the cross join of the two marginal
# aggregates (tiny: langs x sources — Catalyst broadcasts it as a
# nested-loop, never a cartesian shuffle) LEFT-joined to observed
# counts so zero cells still contribute their expected mass. Each
# cell's (o-e)^2/e term quantizes to a 1e-9 bigint before the sum.
_CHI2 = """
WITH obs AS (
  SELECT lang, source, COUNT(*) AS o FROM documents GROUP BY lang, source
),
rt AS (SELECT lang, CAST(SUM(o) AS BIGINT) AS r_tot FROM obs GROUP BY lang),
ct AS (SELECT source, CAST(SUM(o) AS BIGINT) AS c_tot FROM obs GROUP BY source),
tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n_tot FROM obs),
cells AS (
  SELECT COALESCE(o.o, 0) AS o,
         CAST(r.r_tot * c.c_tot AS DOUBLE) / t.n_tot AS e
  FROM rt r CROSS JOIN ct c CROSS JOIN tot t
  LEFT JOIN obs o ON o.lang = r.lang AND o.source = c.source
),
s AS (
  SELECT CAST(SUM(CAST(ROUND((o - e) * (o - e) / e * 1e9, 0) AS BIGINT))
              AS BIGINT) AS sq
  FROM cells
),
dims AS (
  SELECT (SELECT COUNT(*) FROM rt) AS nr,
         (SELECT COUNT(*) FROM ct) AS nc,
         (SELECT n_tot FROM tot) AS n_tot
)
SELECT ROUND(sq / 1e9, 4) AS chi2,
       CAST((nr - 1) * (nc - 1) AS BIGINT) AS dof,
       n_tot AS n_docs,
       ROUND(SQRT(sq / 1e9 / (n_tot * CAST(LEAST(nr - 1, nc - 1) AS DOUBLE))), 6)
         AS cramers_v
FROM s CROSS JOIN dims
"""


def _agg_chi_squared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence statistic + Cramer's V between the lang
    and source columns — the drift/association test run before trusting
    a stratified sample. One portable SQL (see _CHI2) on both engines;
    zero-observed cells enter via the marginal cross join, every float
    term is bigint-quantized before summation."""
    load(spark, sf_dir)
    return spark.sql(_CHI2)


def _events_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier time-to-first-purchase curve
    (events.survival_km): per user, duration = whole hours from first
    event to first purchase (observed) or to last event (right-
    censored); the estimator emits survival + Nelson-Aalen cumulative
    hazard at every event time. Durations are exact integer-division
    hours of epoch-micros on both engines; the product folds as
    1e-12-quantized bigint log terms, so the oracle replays the window
    algebra exactly (see the operator docstring for the numeric
    contract)."""
    subjects = _purchase_subjects(spark, sf_dir)
    return events.survival_km(subjects, "duration", "observed")


def _events_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1..3 autocorrelation of the hourly value series per event
    type (events.autocorr) — the persistence/seasonality diagnostic
    before forecasting. The hourly series is exact cents-bigints, so
    every Pearson moment is an exact integer sum and r is one fixed
    float expression over exactly-converted operands — no quantization
    needed anywhere (contrast survival_km, where a per-term libm ln
    forces one)."""
    load(spark, sf_dir)
    hourly = (
        spark.table("events")
        .where(F.col("value").isNotNull())
        .groupBy(F.date_trunc("hour", F.col("ts")).alias("bucket"), "event_type")
        .agg(
            F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("v_c")
        )
    )
    return events.autocorr(hourly, "event_type", "bucket", "v_c", max_lag=3)




def _window_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-24h rolling Pearson correlation between hourly value
    (cents) and hourly event count per event type — the co-movement
    monitor behind metric dashboards. Six exact-bigint moment sums over
    ONE ROWS frame (window SUM of integers is order-free), then the
    same fixed Pearson expression as events_autocorr; only full 24-row
    frames emit. No corr() kernel is invoked on either engine — the
    estimator is reconstructed from exact sums, which is what makes it
    portable."""
    load(spark, sf_dir)
    hourly = (
        spark.table("events")
        .where(F.col("value").isNotNull())
        .groupBy(F.date_trunc("hour", F.col("ts")).alias("bucket"), "event_type")
        .agg(
            F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("x"),
            F.count(F.lit(1)).alias("y"),
        )
    )
    wf = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(-23, Window.currentRow)
    )
    n = F.count(F.lit(1)).over(wf)
    sx, sy = F.sum("x").over(wf), F.sum("y").over(wf)
    sxx = F.sum(F.col("x") * F.col("x")).over(wf)
    syy = F.sum(F.col("y") * F.col("y")).over(wf)
    sxy = F.sum(F.col("x") * F.col("y")).over(wf)
    nd = n.cast("double")
    cov = nd * sxy.cast("double") - sx.cast("double") * sy.cast("double")
    vx = nd * sxx.cast("double") - sx.cast("double") * sx.cast("double")
    vy = nd * syy.cast("double") - sy.cast("double") * sy.cast("double")
    r = F.when((vx > 0) & (vy > 0), F.round(cov / F.sqrt(vx * vy), 6))
    return (
        hourly.select("event_type", "bucket", n.alias("n_win"), r.alias("r"))
        .where(F.col("n_win") == 24)
        .select("event_type", "bucket", "r")
    )


def _join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted large-large join (skew.salted_join): customers explode 16
    ways, each order routes to one replica by an order-key hash, so a
    hot customer's probe rows spread over 16 reducers instead of one
    straggler task. The oracle is the PLAIN join + aggregate — salting
    is pure execution strategy, invisible in the result (each fact row
    meets exactly one replica of its dim row)."""
    load(spark, sf_dir)
    fact = spark.table("orders").select(
        "o_custkey",
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    dim = spark.table("customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_nationkey"
    )
    joined = skew.salted_join(fact, dim, "o_custkey", "o_orderkey", buckets=16)
    return joined.groupBy(F.col("c_nationkey").alias("nation")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("cents").alias("revenue_cents"),
    )


def _text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the corpus vocabulary: least-squares slope /
    intercept / R^2 of ln(freq) on ln(rank) for the top-200 words —
    the one-number corpus-health check (natural text sits near slope
    -1; template spam and gibberish do not). Top-K via distributed
    TakeOrdered (never a vocab-sized single-partition sort); the two
    libm lns per rank are 1e-6-quantized to exact bigints, so the five
    regression moments and the closed-form estimators are portable."""
    load(spark, sf_dir)
    words = spark.table("documents").select(
        F.explode(F.split(dedup.normalize_text(F.col("text")), " ")).alias("word")
    )
    top = (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "word")
        .limit(200)
    )
    ranked = top.withColumn(
        "rank", F.row_number().over(Window.orderBy(F.desc("n"), "word"))
    )
    q = ranked.select(
        F.round(F.log(F.col("rank").cast("double")) * 1e6, 0).cast("long").alias("xq"),
        F.round(F.log(F.col("n").cast("double")) * 1e6, 0).cast("long").alias("yq"),
    )
    m = q.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("xq").alias("sx"),
        F.sum("yq").alias("sy"),
        F.sum(F.col("xq") * F.col("xq")).alias("sxx"),
        F.sum(F.col("xq") * F.col("yq")).alias("sxy"),
        F.sum(F.col("yq") * F.col("yq")).alias("syy"),
    )
    kd = F.col("k").cast("double")
    cov = kd * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy").cast("double")
    vx = kd * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx").cast("double")
    vy = kd * F.col("syy").cast("double") - F.col("sy").cast("double") * F.col("sy").cast("double")
    slope = F.when(vx > 0, F.round(cov / vx, 6))
    intercept = F.when(
        vx > 0,
        F.round(
            (F.col("sy").cast("double") - cov / vx * F.col("sx").cast("double"))
            / kd
            / F.lit(1e6),
            6,
        ),
    )
    r2 = F.when((vx > 0) & (vy > 0), F.round(cov * cov / (vx * vy), 6))
    return m.select(
        F.col("k").alias("n_ranks"),
        slope.alias("zipf_slope"),
        intercept.alias("intercept_ln"),
        r2.alias("r2"),
    )


def _graph_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node local clustering coefficient (graph.local_clustering)
    over the bulk-purchase co-purchase graph — the Watts-Strogatz
    neighborhood-density feature (community member vs hub-of-strangers)
    for graph-aware curation. Same degree-ordered wedge join as
    graph_triangle_count, but each closed triangle explodes to its
    three corners; the oracle enumerates x<y<z triangles by a
    structurally different three-way join, cross-checking the
    orientation algebra per node."""
    load(spark, sf_dir)
    return graph.local_clustering(_sparse_copurchase_edges(spark))


def _curation_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-domain token budgeting (curation.token_budget_prefix):
    each source's docs shuffle into the salted-hash order and the
    running-bigint-cumsum prefix within 600 tokens survives — how a
    training mix hits token targets exactly rather than drifting toward
    them with sampling rates. One keyed window shuffle; the oracle
    replays the same md5 bucket, order, and cumsum."""
    load(spark, sf_dir)
    docs = spark.table("documents").select(
        "doc_id",
        "source",
        F.size(F.split(dedup.normalize_text(F.col("text")), " "))
        .cast("long")
        .alias("n_tokens"),
    )
    return curation.token_budget_prefix(docs, budget_tokens=600)


def _streaming_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming OHLC candlesticks (streaming.materialized_ohlc):
    open/close fold incrementally as min/max over (ts, event_id, cents)
    structs — O(1) state per open window where the batch spelling sorts
    the whole window — and the batch _OHLC oracle grades the stream
    (13th stream == batch contract row)."""
    from datafusion_gpu_spark import streaming

    load(spark, sf_dir)
    return streaming.materialized_ohlc(spark, sf_dir)




# Multi-touch attribution: every purchase credits the user's non-purchase
# touches in the 7 preceding days — first-touch and last-touch are rank
# picks, linear credit splits 1/n per touch with the 1/n term quantized
# to an exact 1e-12 bigint before the channel sum (the fold is integer
# arithmetic; the only float op is one division per conversion-touch
# pair, identical on both engines). One portable SQL, run verbatim.
_ATTRIBUTION = """
WITH conv AS (
  SELECT user_id, event_id AS conv_id, ts AS conv_ts
  FROM events WHERE event_type = 'purchase'
),
touch AS (
  SELECT user_id, event_id AS touch_id, ts AS touch_ts,
         event_type AS channel
  FROM events WHERE event_type <> 'purchase'
),
pairs AS (
  SELECT c.conv_id, t.channel, t.touch_ts, t.touch_id
  FROM conv c JOIN touch t
    ON c.user_id = t.user_id
   AND t.touch_ts < c.conv_ts
   AND t.touch_ts >= c.conv_ts - INTERVAL 7 DAY
),
ranked AS (
  SELECT conv_id, channel,
         ROW_NUMBER() OVER (PARTITION BY conv_id
                            ORDER BY touch_ts, touch_id) AS rn_first,
         ROW_NUMBER() OVER (PARTITION BY conv_id
                            ORDER BY touch_ts DESC, touch_id DESC) AS rn_last,
         COUNT(*) OVER (PARTITION BY conv_id) AS n_touch
  FROM pairs
)
SELECT channel,
       CAST(SUM(CASE WHEN rn_first = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS first_touch,
       CAST(SUM(CASE WHEN rn_last = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS last_touch,
       ROUND(CAST(SUM(CAST(ROUND(1e12 / n_touch, 0) AS BIGINT)) AS BIGINT)
             / 1e12, 4) AS linear_credit
FROM ranked GROUP BY channel
"""


def _events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First/last/linear multi-touch attribution of purchases to the
    user's preceding-7-day touch channels — the marketing-analytics
    staple. The conversion-touch pairing is an equality join on user_id
    with a residual time band (hash join, never a nested loop; per-user
    fan-out is bounded by the user's own activity), then two rank
    windows + one channel aggregation. See _ATTRIBUTION for the exact
    1/n quantization."""
    load(spark, sf_dir)
    return spark.sql(_ATTRIBUTION)


# Two-step Markov transition matrix: P2 = P x P as a relational matrix
# multiply (join on the middle state + group-sum). Each product term
# a.p * b.p is one float multiply of identical doubles (both factors
# are single divisions of exact bigints), quantized to 1e-12 bigints
# before the middle-state sum so the fold order cannot matter.
_MARKOV2 = """
WITH seq AS (
  SELECT event_type AS s,
         LEAD(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS s_next
  FROM events
),
c AS (
  SELECT s, s_next, COUNT(*) AS n FROM seq
  WHERE s_next IS NOT NULL GROUP BY s, s_next
),
tot AS (SELECT s, CAST(SUM(n) AS BIGINT) AS n_s FROM c GROUP BY s),
p AS (
  SELECT c.s, c.s_next, CAST(c.n AS DOUBLE) / t.n_s AS p
  FROM c JOIN tot t ON c.s = t.s
),
p2 AS (
  SELECT a.s AS s_from, b.s_next AS s_to,
         CAST(SUM(CAST(ROUND(a.p * b.p * 1e12, 0) AS BIGINT)) AS BIGINT)
           AS pq
  FROM p a JOIN p b ON a.s_next = b.s
  GROUP BY a.s, b.s_next
)
SELECT s_from, s_to, ROUND(pq / 1e12, 6) AS p2 FROM p2
"""


def _events_markov_2step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-step Markov reachability P^2 over the per-user event-type
    chain — the transition matrix (events_transitions) squared as a
    relational matrix multiply: join on the middle state, group-sum
    the quantized products. The same join-aggregate shape scales to
    sparse P at any state count (each output cell shuffles by its own
    key); see _MARKOV2 for the numeric contract."""
    load(spark, sf_dir)
    return spark.sql(_MARKOV2)




def _join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbor as-of join (events.asof_join_nearest): each
    purchase matches the user's CLOSEST view within +-30 min, either
    direction, ties preferring the prior — pandas merge_asof
    direction='nearest' semantics as one shuffle + two window passes.
    The oracle is a structurally different plan (theta pair join +
    rank-1 filter), so agreement checks the two-window candidate
    algebra, not just arithmetic."""
    load(spark, sf_dir)
    ev = spark.table("events")
    return events.asof_join_nearest(
        ev.where(F.col("event_type") == "purchase"),
        ev.where(F.col("event_type") == "view"),
        on="user_id",
        tolerance_us=1_800_000_000,
    )




def _graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synchronous label propagation
    (graph.label_propagation, 3 rounds, most-frequent-neighbor-label
    with min-label ties) over the bulk-purchase co-purchase graph —
    the cheap first-pass community sweep (contrast graph_louvain's
    modularity ascent). The oracle replays all three rounds as chained
    CTEs with the identical count/tiebreak algebra, so the iterative
    operator is graded exactly, round for round."""
    load(spark, sf_dir)
    return graph.label_propagation(_sparse_copurchase_edges(spark), rounds=3)


QUERIES = {
    "events_scd2_history": _events_scd2_history,
    "dedup_incremental_bloom": _dedup_incremental_bloom,
    "text_heavy_hitters": _text_heavy_hitters,
    "agg_count_min_estimate": _agg_count_min_estimate,
    "streaming_multi_rollup": _streaming_multi_rollup,
    "events_funnel": _events_funnel,
    "events_retention": _events_retention,
    "streaming_stream_stream_join": _streaming_stream_stream_join,
    "events_transitions": _events_transitions,
    "events_top_paths": _events_top_paths,
    "sim_pca_contract": _sim_pca_contract,
    "multimodal_audio": _multimodal_audio,
    "multimodal_audio_fp": _multimodal_audio_fp,
    "multimodal_audio_neardup": _multimodal_audio_neardup,
    "multimodal_frame_sample": _multimodal_frame_sample,
    "source_python_stream": _source_python_stream,
    "pipeline_multimodal": _pipeline_multimodal,
    "events_scd2_asof": _events_scd2_asof,
    "streaming_funnel": _streaming_funnel,
    "events_rfm": _events_rfm,
    "events_ab_test": _events_ab_test,
    "text_bpe_contract": _text_bpe_contract,
    "text_bpe_encode": _text_bpe_encode,
    "dedup_exact": _dedup_exact,
    "dedup_url": _dedup_url,
    "dedup_incremental": _dedup_incremental,
    "curation_quantile_filter": _curation_quantile_filter,
    "events_multi_rollup": _events_multi_rollup,
    "graph_pagerank": _graph_pagerank,
    "graph_pagerank_personalized": _graph_pagerank_personalized,
    "events_match_recognize": _events_match_recognize,
    "graph_triangle_count": _graph_triangle_count,
    "graph_degree_hist": _graph_degree_hist,
    "graph_bfs": _graph_bfs,
    "graph_harmonic_exact": _graph_harmonic_exact,
    "graph_bellman_ford": _graph_bellman_ford,
    "text_unicode_clean": _text_unicode_clean,
    "events_sliding_distinct": _events_sliding_distinct,
    "graph_harmonic_hyperball": _graph_harmonic_hyperball,
    "graph_louvain": _graph_louvain,
    "graph_delta_stepping": _graph_delta_stepping,
    "join_geo_radius": _join_geo_radius,
    "join_fuzzy_blocked": _join_fuzzy_blocked,
    "dedup_prefix_filter": _dedup_prefix_filter,
    "graph_common_neighbors": _graph_common_neighbors,
    "graph_resource_allocation": _graph_resource_allocation,
    "graph_scc": _graph_scc,
    "graph_toposort": _graph_toposort,
    "graph_condensation": _graph_condensation,
    "graph_mst": _graph_mst,
    "graph_kcore": _graph_kcore,
    "multimodal_resize": _multimodal_resize,
    "multimodal_phash": _multimodal_phash,
    "events_histogram": _events_histogram,
    "events_anomaly_mad": _events_anomaly_mad,
    "events_changepoint_cusum": _events_changepoint_cusum,
    "events_ewma": _events_ewma,
    "events_interval_merge": _events_interval_merge,
    "events_ohlc": _events_ohlc,
    "curation_apportion": _curation_apportion,
    "streaming_ewma": _streaming_ewma,
    "events_ab_srm": _events_ab_srm,
    "text_hashing_vectorizer": _text_hashing_vectorizer,
    "text_readability": _text_readability,
    "sim_random_projection": _sim_random_projection,
    "text_bigram_lm": _text_bigram_lm,
    "text_kneser_ney": _text_kneser_ney,
    "streaming_histogram": _streaming_histogram,
    "multimodal_decode": _multimodal_decode,
    "dedup_lines": _dedup_lines,
    "dedup_ngram_jaccard": _dedup_ngram,
    "dedup_containment": _dedup_containment,
    "dedup_minhash_lsh": _dedup_minhash,
    "dedup_incremental_minhash": _dedup_incremental_minhash,
    "streaming_incremental_minhash": _streaming_incremental_minhash,
    "dedup_components": _dedup_components,
    "dedup_simhash": _dedup_simhash,
    "dedup_embedding_cosine": _dedup_embedding,
    "dedup_embedding_lsh": _dedup_embedding_lsh,
    "dedup_incremental_embedding": _dedup_incremental_embedding,
    "dedup_semantic": _dedup_semantic,
    "dedup_substring_spans": _dedup_substring_spans,
    "sim_topk_bruteforce": _sim_topk_bruteforce,
    "sim_knn_graph": _sim_knn_graph,
    "sim_bitext_margin": _sim_bitext_margin,
    "retrieval_hard_negatives": _retrieval_hard_negatives,
    "sim_contrastive_triplets": _sim_contrastive_triplets,
    "sim_topk_vectorized": _sim_topk_vectorized,
    "sim_topk_lsh": _sim_topk_lsh,
    "sim_topk_ivf": _sim_topk_ivf,
    "sim_topk_ivf_kmeans_recall": _sim_topk_ivf_kmeans_recall,
    "sim_mmr_rerank": _sim_mmr_rerank,
    "sim_topk_pq": _sim_topk_pq,
    "sim_quantize_int8": _sim_quantize,
    "text_quality": _text_quality,
    "text_lang_id": _text_lang_id,
    "text_tokens": _text_tokens,
    "text_fingerprints": _text_fingerprints,
    "text_pii_redact": _text_pii_redact,
    "text_collocations": _text_collocations,
    "text_winnowing": _text_winnowing,
    "text_repetition": _text_repetition,
    "text_gopher_rules": _text_gopher_rules,
    "text_c4_rules": _text_c4_rules,
    "text_contamination": _text_contamination,
    "text_perplexity": _text_perplexity,
    "retrieval_bm25": _retrieval_bm25,
    "retrieval_tfidf": _retrieval_tfidf,
    "text_chunks": _text_chunks,
    "curation_mix_domains": _curation_mix_domains,
    "curation_shuffle": _curation_shuffle,
    "curation_hash_split": _curation_hash_split,
    "curation_dsir_resample": _curation_dsir_resample,
    "curation_zorder_key": _curation_zorder_key,
    "curation_temperature_mix": _curation_temperature_mix,
    "events_winsorize": _events_winsorize,
    "curation_weighted_sample": _curation_weighted_sample,
    "curation_reservoir_per_source": _curation_reservoir_per_source,
    "curation_pack_bestfit": _curation_pack_bestfit,
    "curation_stratified_sample": _curation_stratified,
    "curation_pack_sequences": _curation_pack,
    "pipeline_end_to_end": _pipeline_end_to_end,
    "multimodal_features": _multimodal_features,
    "multimodal_chunks": _multimodal_chunks,
    "events_salted_sum": _events_salted_sum,
    "events_tumbling": _events_tumbling,
    "events_gap_fill": _events_gap_fill,
    "events_interval_join": _events_interval_join,
    "events_anomalies": _events_anomalies,
    "streaming_tumbling_counts": _streaming_tumbling_counts,
    "streaming_session_counts": _streaming_session_counts,
    "streaming_enriched_purchases": _streaming_enriched_purchases,
    "streaming_dedup_keys": _streaming_dedup_keys,
    "events_hopping": _events_hopping,
    "events_session_native": _events_session_native,
    "events_sessionize": _events_sessionize,
    "events_asof": _events_asof,
    "agg_entropy": _agg_entropy,
    "agg_chi_squared": _agg_chi_squared,
    "events_survival_km": _events_survival_km,
    "events_autocorr": _events_autocorr,
    "window_rolling_corr": _window_rolling_corr,
    "join_skew_salted": _join_skew_salted,
    "text_zipf_fit": _text_zipf_fit,
    "graph_clustering_coeff": _graph_clustering_coeff,
    "curation_token_budget": _curation_token_budget,
    "streaming_ohlc": _streaming_ohlc,
    "events_attribution": _events_attribution,
    "events_markov_2step": _events_markov_2step,
    "join_asof_nearest": _join_asof_nearest,
    "graph_label_propagation": _graph_label_propagation,
}

_GAP_FILL_ORACLE = """
WITH ranked AS (
  SELECT user_id, date_trunc('hour', ts) AS bucket, value,
         ROW_NUMBER() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
),
observed AS (
  SELECT user_id, bucket, COUNT(*) AS n_obs,
         MAX(CASE WHEN rn = 1 THEN value END) AS obs_value
  FROM ranked GROUP BY 1, 2
),
spans AS (SELECT user_id, MIN(bucket) AS mn, MAX(bucket) AS mx
          FROM observed GROUP BY 1),
grid AS (
  SELECT user_id, unnest(generate_series(mn, mx, INTERVAL '1 hour')) AS bucket
  FROM spans
)
SELECT g.user_id, g.bucket,
       COALESCE(o.n_obs, 0) AS n_obs,
       (o.obs_value IS NOT NULL) AS is_observed,
       last_value(o.obs_value IGNORE NULLS) OVER (
         PARTITION BY g.user_id ORDER BY g.bucket
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS value_filled
FROM grid g LEFT JOIN observed o
  ON g.user_id = o.user_id AND g.bucket = o.bucket
"""


_COS_AB = _cos_sql("a.embedding", "b.embedding")
_COS_QC = _cos_sql("q.embedding", "c.embedding")

ORACLES = {
    "sim_mmr_rerank": """
SELECT * FROM (VALUES
  (0::BIGINT,   5::BIGINT, TRUE, TRUE, TRUE, TRUE),
  (85::BIGINT,  5::BIGINT, TRUE, TRUE, TRUE, TRUE),
  (290::BIGINT, 5::BIGINT, TRUE, TRUE, TRUE, TRUE)
) AS t(query_id, n_results, keeps_top1, vanilla_stuck, mmr_spreads, diversity_gained)
""",
    "multimodal_decode": """
SELECT doc_id,
       CAST(doc_id % 13 + 2 AS INT) AS width,
       CAST(doc_id % 7 + 2 AS INT) AS height,
       3 AS channels,
       CAST(doc_id % 256 AS INT) AS mean_r,
       CAST((3 * doc_id) % 256 AS INT) AS mean_g,
       CAST((7 * doc_id) % 256 AS INT) AS mean_b
FROM documents WHERE doc_id < 300
""",
    "dedup_incremental": r"""
WITH hist AS (
  SELECT DISTINCT md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS content_key
  FROM documents WHERE doc_id % 10 < 8
),
batch AS (
  SELECT md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS content_key, MIN(doc_id) AS doc_id
  FROM documents WHERE doc_id % 10 >= 8 GROUP BY 1
)
SELECT b.content_key, b.doc_id FROM batch b
WHERE NOT EXISTS (SELECT 1 FROM hist h WHERE h.content_key = b.content_key)
""",
    "curation_quantile_filter": """
WITH thr AS (
  SELECT source, quantile_cont(CAST(n_chars AS DOUBLE), 0.25) AS t
  FROM documents GROUP BY source
)
SELECT d.doc_id, d.source, d.n_chars, ROUND(thr.t, 6) AS threshold
FROM documents d JOIN thr ON d.source = thr.source
WHERE CAST(d.n_chars AS DOUBLE) >= thr.t
""",
    "events_multi_rollup": """
WITH minute AS (
  SELECT date_trunc('minute', ts) AS bucket, event_type,
         COUNT(*) AS n_events, SUM(value) AS sv
  FROM events GROUP BY 1, 2
),
hour AS (
  SELECT date_trunc('hour', bucket) AS bucket, event_type,
         CAST(SUM(n_events) AS BIGINT) AS n_events, SUM(sv) AS sv
  FROM minute GROUP BY 1, 2
),
day AS (
  SELECT date_trunc('day', bucket) AS bucket, event_type,
         CAST(SUM(n_events) AS BIGINT) AS n_events, SUM(sv) AS sv
  FROM hour GROUP BY 1, 2
)
SELECT 'minute' AS resolution, bucket AS bucket_start, event_type,
       n_events, ROUND(sv, 2) AS sum_value FROM minute
UNION ALL
SELECT 'hour', bucket, event_type, n_events, ROUND(sv, 2) FROM hour
UNION ALL
SELECT 'day', bucket, event_type, n_events, ROUND(sv, 2) FROM day
""",
    "multimodal_resize": """
WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 300),
px AS (
  SELECT d.doc_id, (d.doc_id % 13 + 2) AS w, (d.doc_id % 7 + 2) AS h,
         gx.x, gy.y
  FROM ids d, generate_series(0, 3) gx(x), generate_series(0, 2) gy(y)
),
m AS (
  SELECT doc_id, w, h, ((x * w) // 4) AS sx, ((y * h) // 3) AS sy
  FROM px
)
SELECT doc_id, w::INT AS src_w, h::INT AS src_h,
       4::INT AS out_w, 3::INT AS out_h,
       SUM((doc_id + 3 * sx + 5 * sy) % 256)::BIGINT AS sum_r,
       SUM((2 * doc_id + 7 * sx + sy) % 256)::BIGINT AS sum_g,
       SUM((5 * doc_id + sx + 11 * sy) % 256)::BIGINT AS sum_b
FROM m GROUP BY doc_id, w, h
""",
    "events_histogram": """
SELECT event_type, CAST(FLOOR(value / 5.0) AS BIGINT) AS bucket,
       COUNT(*) AS n, ROUND(SUM(value), 2) AS sum_value
FROM events GROUP BY event_type, CAST(FLOOR(value / 5.0) AS BIGINT)
""",
    "events_anomaly_mad": """
WITH med AS (
  SELECT event_type, MEDIAN(value) AS med FROM events GROUP BY event_type
),
stats AS (
  SELECT e.event_type, MIN(m.med) AS med,
         MEDIAN(ABS(e.value - m.med)) AS mad
  FROM events e JOIN med m USING (event_type)
  GROUP BY e.event_type
)
SELECT e.event_id, e.event_type, ROUND(e.value, 2) AS value,
       ROUND(s.med, 6) AS med, ROUND(s.mad, 6) AS mad,
       CASE WHEN s.mad > 0
            THEN ROUND(ABS(e.value - s.med) / (1.4826 * s.mad), 6) > 3.0
            ELSE FALSE END AS is_outlier
FROM events e JOIN stats s USING (event_type)
""",
    "text_bigram_lm": rf"""
WITH d AS (SELECT doc_id, string_split({_NORM}, ' ') AS s FROM documents),
b AS (SELECT doc_id,
             unnest(list_transform(generate_series(1, len(s) - 1),
                                   i -> {{'prev': s[i], 'word': s[i + 1]}})) AS bg
      FROM d),
bg AS (SELECT (bg).prev AS prev, (bg).word AS word, doc_id FROM b),
c AS (SELECT prev, word, COUNT(*)::BIGINT AS n_bg FROM bg GROUP BY 1, 2),
ctx AS (SELECT prev, SUM(n_bg)::BIGINT AS n_ctx FROM c GROUP BY 1),
v AS (SELECT COUNT(DISTINCT word)::BIGINT AS vocab
      FROM (SELECT unnest(s) AS word FROM d))
SELECT doc_id, COUNT(*)::BIGINT AS n_bigrams,
       ROUND(AVG(-ln((n_bg + 0.5::DOUBLE) / (n_ctx + 0.5::DOUBLE * vocab))), 6)
         AS avg_nll,
       ROUND(AVG(-ln((n_bg + 0.5::DOUBLE) / (n_ctx + 0.5::DOUBLE * vocab))), 6)
         > 3.5::DOUBLE AS low_quality
FROM bg JOIN c USING (prev, word) JOIN ctx USING (prev), v
GROUP BY doc_id
""",
    # same bigram extraction as text_bigram_lm; KN discount D=0.75:
    # p = max(n_bg - D, 0)/n_ctx + D*n1p_fwd/n_ctx * n1p_bwd/n_types
    "text_kneser_ney": rf"""
WITH d AS (SELECT doc_id, string_split({_NORM}, ' ') AS s FROM documents),
b AS (SELECT doc_id,
             unnest(list_transform(generate_series(1, len(s) - 1),
                                   i -> {{'prev': s[i], 'word': s[i + 1]}})) AS bg
      FROM d),
bg AS (SELECT (bg).prev AS prev, (bg).word AS word, doc_id FROM b),
c AS (SELECT prev, word, COUNT(*)::BIGINT AS n_bg FROM bg GROUP BY 1, 2),
ctx AS (SELECT prev, SUM(n_bg)::BIGINT AS n_ctx,
               COUNT(*)::BIGINT AS n1p_fwd FROM c GROUP BY 1),
cont AS (SELECT word, COUNT(*)::BIGINT AS n1p_bwd FROM c GROUP BY 1),
t AS (SELECT COUNT(*)::BIGINT AS n_types FROM c)
SELECT doc_id, COUNT(*)::BIGINT AS n_bigrams,
       ROUND(AVG(-ln(
         greatest(n_bg - 0.75::DOUBLE, 0) / n_ctx
         + (0.75::DOUBLE * n1p_fwd / n_ctx) * (n1p_bwd::DOUBLE / n_types)
       )), 6) AS avg_nll
FROM bg JOIN c USING (prev, word) JOIN ctx USING (prev)
        JOIN cont USING (word), t
GROUP BY doc_id
""",
    "text_readability": r"""
WITH f AS (
  SELECT doc_id,
         len(regexp_split_to_array(trim(lower(text)), '\s+')) AS n_words,
         len(regexp_extract_all(lower(text), '[aeiouy]+')) AS n_syllables,
         greatest(len(regexp_extract_all(lower(text), '[.!?]+')), 1)
           AS n_sentences
  FROM documents
),
r AS (
  SELECT doc_id, n_words, n_syllables, n_sentences,
         ROUND(n_words::DOUBLE / n_sentences, 4) AS words_per_sentence,
         ROUND(n_syllables::DOUBLE / n_words, 4) AS syllables_per_word
  FROM f
)
SELECT doc_id, n_words::INT AS n_words, n_syllables::INT AS n_syllables,
       n_sentences::INT AS n_sentences, words_per_sentence,
       syllables_per_word,
       ROUND(206.835 - 1.015 * words_per_sentence
             - 84.6 * syllables_per_word, 4) AS flesch_score
FROM r
""",
    "graph_triangle_count": """
WITH e AS (
  SELECT DISTINCT a.l_partkey AS lo, b.l_partkey AS hi
  FROM lineitem a
  JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM e e1
JOIN e e2 ON e2.lo = e1.hi
JOIN e e3 ON e3.lo = e1.lo AND e3.hi = e2.hi
""",
    "events_sliding_distinct": """
SELECT COUNT(DISTINCT date_trunc('hour', ts)) AS n_buckets, TRUE AS ok
FROM events WHERE user_id IS NOT NULL
""",
    "events_match_recognize": """
WITH sym AS (
  SELECT user_id, ts, event_id,
         CASE event_type WHEN 'view' THEN 'v' WHEN 'purchase' THEN 'p'
              WHEN 'click' THEN 'c' WHEN 'signup' THEN 's'
              ELSE 'e' END AS sym
  FROM events
),
seqs AS (
  SELECT user_id, string_agg(sym, '' ORDER BY ts, event_id) AS seq
  FROM sym GROUP BY user_id
)
SELECT user_id,
       CAST(len(regexp_extract_all(seq, 'v+p')) AS INT) AS n_matches,
       length(seq) AS n_events
FROM seqs
""",
    "text_unicode_clean": """
WITH raw AS (
  SELECT doc_id,
         substring(text, 1, 40)
         || CASE WHEN doc_id % 3 = 0 THEN 'e' || chr(769) ELSE '' END
         || CASE WHEN doc_id % 5 = 0 THEN chr(8203) ELSE '' END
         || CASE WHEN doc_id % 7 = 0 THEN chr(1) ELSE '' END AS raw
  FROM documents
),
cleaned AS (
  SELECT doc_id, raw,
         regexp_replace(nfc_normalize(raw),
           '[' || chr(8203) || '-' || chr(8205) || chr(65279)
               || chr(0) || '-' || chr(8) || chr(11) || chr(12)
               || chr(14) || '-' || chr(31) || ']',
           '', 'g') AS clean
  FROM raw
)
SELECT doc_id, length(raw) AS n_raw, length(clean) AS n_clean,
       md5(clean) AS clean_md5
FROM cleaned
""",
    "graph_bellman_ford": _with(_copurchase("e0 AS MATERIALIZED", "a", "b"), """
adj AS MATERIALIZED (
  SELECT a AS s, b AS d, (a + b) % 5 + 1 AS w FROM e0
  UNION
  SELECT b AS s, a AS d, (a + b) % 5 + 1 AS w FROM e0
),
seeds AS MATERIALIZED (
  SELECT DISTINCT s AS node FROM adj WHERE s % 97 = 0
),
walk(node, cost, hops) AS (
  SELECT node, CAST(0 AS BIGINT) AS cost, 0 AS hops FROM seeds
  UNION
  SELECT adj.d AS node, walk.cost + adj.w AS cost, walk.hops + 1 AS hops
  FROM walk JOIN adj ON adj.s = walk.node
  WHERE walk.hops < 4
)
SELECT node, MIN(cost) AS cost FROM walk GROUP BY node
""", recursive=True),
    "graph_harmonic_exact": _with(_copurchase("e0 AS MATERIALIZED", "a", "b"), """
adj AS MATERIALIZED (
  SELECT a AS s, b AS d FROM e0 UNION SELECT b AS s, a AS d FROM e0
),
walk(src, node, dist) AS (
  SELECT s AS src, s AS node, 0 AS dist FROM (SELECT DISTINCT s FROM adj)
  UNION
  SELECT walk.src, adj.d AS node, walk.dist + 1 AS dist
  FROM walk JOIN adj ON adj.s = walk.node
  WHERE walk.dist < 4
),
md AS (SELECT src, node, MIN(dist) AS dist FROM walk GROUP BY src, node)
SELECT src AS node, ROUND(SUM(1.0 / dist), 6) AS harmonic
FROM md WHERE dist > 0 GROUP BY src
""", recursive=True),
    "graph_harmonic_hyperball": _with(_copurchase("e0 AS", "a", "b"), """
adj AS (SELECT a AS s, b AS d FROM e0 UNION SELECT b AS s, a AS d FROM e0)
SELECT COUNT(DISTINCT s) AS n_nodes, TRUE AS ok FROM adj
"""),
    "join_geo_radius": """
WITH c AS (
  SELECT c_custkey AS custkey,
         ((c_custkey * 37) % 200) / 10.0 - 10.0 AS lat,
         ((c_custkey * 61) % 200) / 10.0 + 20.0 AS lon
  FROM customer
),
s AS (
  SELECT s_suppkey AS suppkey,
         ((s_suppkey * 53) % 200) / 10.0 - 10.0 AS lat,
         ((s_suppkey * 29) % 200) / 10.0 + 20.0 AS lon
  FROM supplier
)
SELECT c.custkey, s.suppkey
FROM c, s
WHERE 2 * 6371.0088 * asin(sqrt(
        pow(sin(radians(s.lat - c.lat) / 2), 2)
        + cos(radians(c.lat)) * cos(radians(s.lat))
          * pow(sin(radians(s.lon - c.lon) / 2), 2)
      )) <= 25.0
""",
    "graph_bfs": _with(_copurchase("e0 AS MATERIALIZED", "a", "b"), """
adj AS MATERIALIZED (
  SELECT a AS s, b AS d FROM e0 UNION SELECT b AS s, a AS d FROM e0
),
seeds AS MATERIALIZED (
  SELECT DISTINCT s AS node FROM adj WHERE s % 97 = 0
),
walk(node, dist) AS (
  SELECT node, 0 AS dist FROM seeds
  UNION
  SELECT adj.d AS node, walk.dist + 1 AS dist
  FROM walk JOIN adj ON adj.s = walk.node
  WHERE walk.dist < 6
)
SELECT node, MIN(dist) AS dist FROM walk GROUP BY node
""", recursive=True),
    "graph_degree_hist": """
WITH e AS (
  SELECT DISTINCT a.l_partkey AS lo, b.l_partkey AS hi
  FROM lineitem a
  JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
deg AS (
  SELECT node, COUNT(*) AS degree FROM (
    SELECT lo AS node FROM e UNION ALL SELECT hi FROM e
  ) GROUP BY node
)
SELECT degree, COUNT(*) AS n_nodes FROM deg GROUP BY degree
""",
    "graph_common_neighbors": _with(_copurchase("e AS"), """
deg AS (SELECT node, COUNT(*) AS d FROM (
          SELECT lo AS node FROM e UNION ALL SELECT hi FROM e
        ) GROUP BY node),
adj AS (SELECT lo AS mid, hi AS nbr FROM e
        UNION ALL SELECT hi, lo FROM e),
sm AS (SELECT a2.mid, a2.nbr FROM adj a2
       JOIN deg ON deg.node = a2.mid AND deg.d <= 64),
p AS (SELECT x.nbr AS x, y.nbr AS y, COUNT(*) AS common
      FROM sm x JOIN sm y ON x.mid = y.mid AND x.nbr < y.nbr
      GROUP BY 1, 2),
np AS (SELECT p.x, p.y, p.common
       FROM p LEFT JOIN e ON e.lo = p.x AND e.hi = p.y
       WHERE e.lo IS NULL AND p.common >= 2)
SELECT np.x AS a, np.y AS b, np.common AS common,
       ROUND(np.common::DOUBLE / (dx.d + dy.d - np.common), 6) AS jaccard
FROM np JOIN deg dx ON dx.node = np.x
        JOIN deg dy ON dy.node = np.y
"""),
    # the peel rounds are MATERIALIZED: each round references its
    # predecessor three times, so DuckDB's default CTE inlining would
    # make the plan exponential in the round count
    "graph_kcore": _with(_copurchase("e0 AS MATERIALIZED"), """
d1 AS MATERIALIZED (SELECT node, COUNT(*) AS d FROM (
  SELECT lo AS node FROM e0 UNION ALL SELECT hi FROM e0) GROUP BY node),
k1 AS MATERIALIZED (SELECT node FROM d1 WHERE d >= 3),
e1 AS MATERIALIZED (SELECT lo, hi FROM e0
  WHERE lo IN (SELECT node FROM k1) AND hi IN (SELECT node FROM k1)),
d2 AS MATERIALIZED (SELECT node, COUNT(*) AS d FROM (
  SELECT lo AS node FROM e1 UNION ALL SELECT hi FROM e1) GROUP BY node),
k2 AS MATERIALIZED (SELECT node FROM d2 WHERE d >= 3),
e2 AS MATERIALIZED (SELECT lo, hi FROM e1
  WHERE lo IN (SELECT node FROM k2) AND hi IN (SELECT node FROM k2)),
d3 AS MATERIALIZED (SELECT node, COUNT(*) AS d FROM (
  SELECT lo AS node FROM e2 UNION ALL SELECT hi FROM e2) GROUP BY node),
k3 AS MATERIALIZED (SELECT node FROM d3 WHERE d >= 3),
e3 AS MATERIALIZED (SELECT lo, hi FROM e2
  WHERE lo IN (SELECT node FROM k3) AND hi IN (SELECT node FROM k3)),
d4 AS MATERIALIZED (SELECT node, COUNT(*) AS d FROM (
  SELECT lo AS node FROM e3 UNION ALL SELECT hi FROM e3) GROUP BY node),
k4 AS MATERIALIZED (SELECT node FROM d4 WHERE d >= 3),
e4 AS MATERIALIZED (SELECT lo, hi FROM e3
  WHERE lo IN (SELECT node FROM k4) AND hi IN (SELECT node FROM k4)),
d5 AS MATERIALIZED (SELECT node, COUNT(*) AS d FROM (
  SELECT lo AS node FROM e4 UNION ALL SELECT hi FROM e4) GROUP BY node),
k5 AS MATERIALIZED (SELECT node FROM d5 WHERE d >= 3),
e5 AS MATERIALIZED (SELECT lo, hi FROM e4
  WHERE lo IN (SELECT node FROM k5) AND hi IN (SELECT node FROM k5))
SELECT node, COUNT(*) AS degree FROM (
  SELECT lo AS node FROM e5 UNION ALL SELECT hi FROM e5
) GROUP BY node HAVING COUNT(*) >= 3
"""),
    "graph_pagerank": """
WITH edges AS (
  SELECT src, dst FROM (
    SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
  )
  UNION
  SELECT dst AS src, src AS dst FROM (
    SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
  )
),
nodes AS (SELECT DISTINCT src AS node FROM edges
          UNION SELECT DISTINCT dst FROM edges),
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
outdeg AS (SELECT src, CAST(COUNT(*) AS DOUBLE) AS odeg FROM edges GROUP BY src),
wedges AS (SELECT e.src, e.dst, 1.0 / o.odeg AS w
           FROM edges e JOIN outdeg o ON o.src = e.src),
r0 AS (SELECT node, 1.0 / nn.n AS pr FROM nodes, nn),
r1 AS (
  SELECT n.node,
         0.15 / nn.n + 0.85 * COALESCE(c.contrib, 0) AS pr
  FROM nodes n CROSS JOIN nn
  LEFT JOIN (SELECT e.dst, SUM(r.pr * e.w) AS contrib
             FROM r0 r JOIN wedges e ON e.src = r.node
             GROUP BY e.dst) c
  ON c.dst = n.node
),
r2 AS (
  SELECT n.node,
         0.15 / nn.n + 0.85 * COALESCE(c.contrib, 0) AS pr
  FROM nodes n CROSS JOIN nn
  LEFT JOIN (SELECT e.dst, SUM(r.pr * e.w) AS contrib
             FROM r1 r JOIN wedges e ON e.src = r.node
             GROUP BY e.dst) c
  ON c.dst = n.node
),
r3 AS (
  SELECT n.node,
         0.15 / nn.n + 0.85 * COALESCE(c.contrib, 0) AS pr
  FROM nodes n CROSS JOIN nn
  LEFT JOIN (SELECT e.dst, SUM(r.pr * e.w) AS contrib
             FROM r2 r JOIN wedges e ON e.src = r.node
             GROUP BY e.dst) c
  ON c.dst = n.node
),
r4 AS (
  SELECT n.node,
         0.15 / nn.n + 0.85 * COALESCE(c.contrib, 0) AS pr
  FROM nodes n CROSS JOIN nn
  LEFT JOIN (SELECT e.dst, SUM(r.pr * e.w) AS contrib
             FROM r3 r JOIN wedges e ON e.src = r.node
             GROUP BY e.dst) c
  ON c.dst = n.node
),
r5 AS (
  SELECT n.node,
         0.15 / nn.n + 0.85 * COALESCE(c.contrib, 0) AS pr
  FROM nodes n CROSS JOIN nn
  LEFT JOIN (SELECT e.dst, SUM(r.pr * e.w) AS contrib
             FROM r4 r JOIN wedges e ON e.src = r.node
             GROUP BY e.dst) c
  ON c.dst = n.node
)
SELECT node, ROUND(pr, 8) AS pr FROM r5
""",
    "dedup_url": r"""
WITH raw AS (
  SELECT doc_id,
         concat('https://',
                CASE WHEN doc_id % 3 = 0 THEN upper(source) ELSE source END,
                '.Example.COM',
                CASE WHEN doc_id % 11 = 0 THEN ':8080'
                     WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END,
                '/docs/', CAST(doc_id % 7 AS VARCHAR),
                CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END,
                '?utm_source=feed&page=', CAST(doc_id % 3 AS VARCHAR),
                CASE WHEN doc_id % 6 = 0 THEN '&utm_medium=mail' ELSE '' END,
                CASE WHEN doc_id % 5 = 0 THEN '#sec2' ELSE '' END) AS url
  FROM documents
),
parts AS (
  SELECT doc_id,
         lower(regexp_extract(url, '^https://([^/:?#]+)', 1)) AS host,
         regexp_extract(url, '^https://[^/:?#]+:([0-9]+)', 1) AS port,
         regexp_replace(regexp_extract(url, '^https://[^/?#]+([^?#]*)', 1),
                        '/$', '') AS path,
         array_to_string(
           list_filter(string_split(regexp_extract(url, '\?([^#]*)', 1), '&'),
                       x -> NOT starts_with(x, 'utm_')),
           '&') AS kept
  FROM raw
),
canon AS (
  SELECT doc_id,
         host ||
         CASE WHEN port != '' AND port != '443'
              THEN ':' || port ELSE '' END ||
         path ||
         CASE WHEN kept != '' THEN '?' || kept ELSE '' END AS canon_url
  FROM parts
)
SELECT canon_url, MIN(doc_id) AS keep_id, COUNT(*) AS n_docs
FROM canon GROUP BY canon_url
""",
    "dedup_exact": f"""
SELECT md5({_NORM}) AS content_key, MIN(doc_id) AS keep_id,
       COUNT(*) AS n_copies
FROM documents GROUP BY 1
""",
    # same 20-gram window hashes (1-based slice == 0-based posexplode),
    # same doc-frequency cap, same diagonal gaps-and-islands merge
    "dedup_substring_spans": f"""
WITH t AS (SELECT doc_id, string_split({_NORM}, ' ') AS w FROM documents),
g0 AS (
  SELECT doc_id, i - 1 AS pos,
         md5(array_to_string(w[i:i+19], ' ')) AS gram
  FROM t, unnest(generate_series(1, len(w) - 20 + 1)) AS u(i)
),
keep AS (
  SELECT gram FROM g0 GROUP BY gram HAVING COUNT(DISTINCT doc_id) <= 50
),
g AS (SELECT g0.* FROM g0 JOIN keep USING (gram)),
m AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.pos AS pos_a, b.pos AS pos_b
  FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
),
i AS (
  SELECT *, pos_a - pos_b AS diag,
         pos_a - ROW_NUMBER() OVER (
             PARTITION BY doc_a, doc_b, pos_a - pos_b ORDER BY pos_a
         ) AS island
  FROM m
)
SELECT doc_a, doc_b, MIN(pos_a)::INT AS start_a, MIN(pos_b)::INT AS start_b,
       (MAX(pos_a) - MIN(pos_a) + 20)::INT AS span_words
FROM i GROUP BY doc_a, doc_b, diag, island
""",
    # same width-10 pseudo-line segmentation, doc-frequency cut, and
    # position-ordered kept-text md5 (md5('') when nothing survives)
    "dedup_lines": f"""
WITH t AS (SELECT doc_id, string_split({_NORM}, ' ') AS w FROM documents),
seg AS (
  SELECT doc_id, i - 1 AS pos,
         array_to_string(w[(i-1)*10+1:i*10], ' ') AS line
  FROM t, unnest(generate_series(1, CAST(ceil(len(w)::DOUBLE / 10) AS BIGINT))) AS u(i)
),
h AS (SELECT *, md5(line) AS lh FROM seg),
dup AS (SELECT lh FROM h GROUP BY lh HAVING COUNT(DISTINCT doc_id) > 1),
k AS (SELECT h.* FROM h ANTI JOIN dup USING (lh))
SELECT h.doc_id,
       COUNT(*) AS n_lines,
       COUNT(*) FILTER (k.lh IS NOT NULL) AS n_kept,
       round(COUNT(*) FILTER (k.lh IS NOT NULL)::DOUBLE / COUNT(*), 6)
           AS kept_fraction,
       md5(coalesce(string_agg(k.line, ' ' ORDER BY k.pos)
                    FILTER (k.lh IS NOT NULL), '')) AS kept_md5
FROM h LEFT JOIN k ON h.doc_id = k.doc_id AND h.pos = k.pos
GROUP BY h.doc_id
""",
    "dedup_ngram_jaccard": _jaccard_pairs_sql(0.3, max_doc_freq=100),
    "dedup_containment": _containment_pairs_sql(0.6, max_doc_freq=100),
    "dedup_minhash_lsh": _jaccard_pairs_sql(0.5),
    "dedup_incremental_minhash": _incremental_jaccard_sql(0.5),
    # stream == batch: the SAME exact oracle grades the streaming twin
    "streaming_incremental_minhash": _incremental_jaccard_sql(0.5),
    # transitive closure over the SAME pair set (recursive CTE), min-id
    # labeling — must equal the Spark side's hash-min fixpoint exactly
    "dedup_components": f"""
WITH RECURSIVE pairs AS (
  SELECT doc_a, doc_b FROM ({_jaccard_pairs_sql(0.5)})
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
reach(node, comp) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, r.comp FROM edges e JOIN reach r ON e.src = r.node
),
comps AS (SELECT node, MIN(comp) AS component FROM reach GROUP BY node)
SELECT d.doc_id AS doc_id,
       COALESCE(c.component, d.doc_id) AS component,
       COALESCE(c.component, d.doc_id) = d.doc_id AS is_keeper
FROM documents d LEFT JOIN comps c ON c.node = d.doc_id
""",
    "dedup_simhash": _simhash_oracle(max_hamming=3),
    "dedup_embedding_cosine": f"""
SELECT * FROM (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label,
         ROUND({_COS_AB}, 6) AS cosine
  FROM embeddings a
  JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
) WHERE cosine >= 0.2
""",
    "dedup_embedding_lsh": f"""
WITH cb AS (
{_lsh_buckets_cte()}
),
cand AS (
  SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
  FROM cb x JOIN cb y ON x.tbl = y.tbl AND x.bucket = y.bucket
                     AND x.vec_id < y.vec_id
)
SELECT * FROM (
  SELECT vec_a, vec_b, ROUND({_COS_AB}, 6) AS cosine
  FROM cand
  JOIN embeddings a ON a.vec_id = vec_a
  JOIN embeddings b ON b.vec_id = vec_b
) WHERE cosine >= 0.2
""",
    # cross-side twin: the same seeded-hyperplane bucket replay, with
    # the candidate join restricted to (history, batch) under the
    # vec_id % 10 ingest split — grades the persisted-index probe
    "dedup_incremental_embedding": f"""
WITH cb AS (
{_lsh_buckets_cte()}
),
cand AS (
  SELECT DISTINCT x.vec_id AS hist_id, y.vec_id AS batch_id
  FROM cb x JOIN cb y ON x.tbl = y.tbl AND x.bucket = y.bucket
   AND x.vec_id % 10 < 8 AND y.vec_id % 10 >= 8
)
SELECT * FROM (
  SELECT hist_id, batch_id, ROUND({_COS_AB}, 6) AS cosine
  FROM cand
  JOIN embeddings a ON a.vec_id = hist_id
  JOIN embeddings b ON b.vec_id = batch_id
) WHERE cosine >= 0.2
""",
    # margin mining: full cross cosine, top-k avgs per side, per-x argmax
    # by (margin DESC, y_id) — numpy argmax picks the first max over
    # y_id-sorted columns, the same rule
    "sim_bitext_margin": f"""
WITH x AS (SELECT * FROM embeddings WHERE label % 2 = 0),
y AS (SELECT * FROM embeddings WHERE label % 2 = 1),
cos AS (
  SELECT x.vec_id AS x_id, y.vec_id AS y_id,
         {_cos_sql("x.embedding", "y.embedding")} AS c
  FROM x, y
),
ax AS (
  SELECT x_id, AVG(c) AS a FROM (
    SELECT x_id, c, ROW_NUMBER() OVER (PARTITION BY x_id ORDER BY c DESC) rn
    FROM cos) t WHERE rn <= 4 GROUP BY 1
),
ay AS (
  SELECT y_id, AVG(c) AS a FROM (
    SELECT y_id, c, ROW_NUMBER() OVER (PARTITION BY y_id ORDER BY c DESC) rn
    FROM cos) t WHERE rn <= 4 GROUP BY 1
),
m AS (
  SELECT cos.x_id, cos.y_id, c, c / ((ax.a + ay.a) / 2) AS margin
  FROM cos JOIN ax USING (x_id) JOIN ay USING (y_id)
),
best AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY x_id
                               ORDER BY margin DESC, y_id) AS rn
  FROM m
)
SELECT x_id, y_id, ROUND(c, 6) AS cosine, ROUND(margin, 6) AS margin
FROM best WHERE rn = 1 AND ROUND(margin, 6) >= 1.0
""",
    # exact kNN graph: all-pairs cosine, top-5 per vector, self excluded
    "sim_knn_graph": _with(
        f"""scored AS (
  SELECT a.vec_id AS query_id, b.vec_id AS vec_id, {_COS_AB} AS cos
  FROM embeddings a JOIN embeddings b ON a.vec_id != b.vec_id
)""",
        _COS_RANK,
        """
SELECT query_id, vec_id, ROUND(cos, 6) AS cosine, "rank"::BIGINT AS "rank"
FROM r WHERE "rank" <= 5
"""),
    "sim_topk_bruteforce": _with(
        f"""scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS vec_id, {_COS_QC} AS cos
  FROM embeddings q
  JOIN embeddings c ON q.vec_id < 8 AND c.vec_id != q.vec_id
)""",
        _COS_RANK,
        """
SELECT query_id, vec_id, ROUND(cos, 6) AS cosine, "rank"::INT AS "rank" FROM r
WHERE "rank" <= 5
"""),
    # rank-1 of the same-label and different-label maskings of the same
    # exact-cosine CTE, joined per query; margin mirrors the Spark
    # round(round - round) exactly
    "sim_contrastive_triplets": f"""
WITH scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
         c.label = q.label AS same, {_COS_QC} AS cos
  FROM embeddings q
  JOIN embeddings c ON q.vec_id < 8 AND c.vec_id != q.vec_id
),
p AS (
  SELECT query_id, vec_id, cos,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, vec_id) AS rn
  FROM scored WHERE same
),
n AS (
  SELECT query_id, vec_id, cos,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, vec_id) AS rn
  FROM scored WHERE NOT same
)
SELECT p.query_id, p.vec_id AS pos_id, ROUND(p.cos, 6) AS pos_cosine,
       n.vec_id AS neg_id, ROUND(n.cos, 6) AS neg_cosine,
       ROUND(ROUND(p.cos, 6) - ROUND(n.cos, 6), 6) AS margin
FROM p JOIN n ON p.query_id = n.query_id
WHERE p.rn = 1 AND n.rn = 1
""",
    # same exact-cosine CTE with the label mask applied BEFORE ranking —
    # the top-k among different-label neighbors, not a post-filter
    "retrieval_hard_negatives": _with(
        f"""scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS vec_id, {_COS_QC} AS cos
  FROM embeddings q
  JOIN embeddings c
    ON q.vec_id < 8 AND c.vec_id != q.vec_id AND c.label != q.label
)""",
        _COS_RANK,
        """
SELECT query_id, vec_id, ROUND(cos, 6) AS cosine, "rank"::INT AS "rank" FROM r
WHERE "rank" <= 5
"""),
    "sim_topk_vectorized": _with(
        f"""scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS vec_id, {_COS_QC} AS cos
  FROM embeddings q
  JOIN embeddings c ON q.vec_id < 8 AND c.vec_id != q.vec_id
)""",
        _COS_RANK,
        """
SELECT query_id, vec_id, ROUND(cos, 6) AS cosine, "rank"::INT AS "rank" FROM r
WHERE "rank" <= 5
"""),
    "sim_topk_lsh": _lsh_ann_oracle(),
    # PQ-ADC replay: same deterministic codebooks (L2-normalized
    # vec_id < 16 rows sliced into 8 subvectors of 8), same argmin
    # encode with (distance, code) tiebreak, same 8-term LUT-sum ADC
    # score, same top-20 candidate cut (score DESC, vec_id), same exact
    # rerank. Docs sharing all 8 codes tie EXACTLY and break by vec_id
    # in both engines.
    "sim_topk_pq": f"""
WITH nrm AS (
  SELECT vec_id,
         CASE WHEN sqrt({_dot_sql("embedding", "embedding")}) = 0
              THEN list_transform(embedding, x -> x::DOUBLE)
              ELSE list_transform(embedding,
                   x -> x::DOUBLE / sqrt({_dot_sql("embedding", "embedding")}))
         END AS v
  FROM embeddings
),
subs AS (
  SELECT vec_id, m, v[(m*8+1):(m*8+8)] AS sv
  FROM nrm CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS m)
),
cb AS (
  SELECT m, ROW_NUMBER() OVER (PARTITION BY m ORDER BY vec_id) - 1 AS code,
         sv AS cw
  FROM subs WHERE vec_id < 16
),
codes AS (
  SELECT vec_id, m, code FROM (
    SELECT s.vec_id, s.m, c.code,
           ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m ORDER BY
             list_sum(list_transform(generate_series(1, 8),
                      i -> (s.sv[i] - c.cw[i]) * (s.sv[i] - c.cw[i]))),
             c.code) AS rn
    FROM subs s JOIN cb c USING (m)
  ) WHERE rn = 1
),
lut AS (
  SELECT q.vec_id AS query_id, c.m, c.code,
         list_sum(list_transform(generate_series(1, 8),
                  i -> q.sv[i] * c.cw[i])) AS part
  FROM subs q JOIN cb c USING (m)
  WHERE q.vec_id < 8
),
adc AS (
  SELECT l.query_id, co.vec_id, SUM(l.part) AS score
  FROM codes co JOIN lut l ON co.m = l.m AND co.code = l.code
  WHERE co.vec_id != l.query_id
  GROUP BY 1, 2
),
cand AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY score DESC, vec_id) AS rn
    FROM adc
  ) WHERE rn <= 20
),
rr AS (
  SELECT cand.query_id, cand.vec_id, {_COS_QC} AS cos
  FROM cand
  JOIN embeddings q ON q.vec_id = cand.query_id
  JOIN embeddings c ON c.vec_id = cand.vec_id
),
r AS (
  SELECT query_id, vec_id, cos,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, vec_id) AS "rank"
  FROM rr
)
SELECT query_id, vec_id, ROUND(cos, 6) AS cosine, "rank"::INT AS "rank" FROM r
WHERE "rank" <= 5
""",
    # same max-abs scale, same x/s*127 double arithmetic, same
    # round-half-away-from-zero in both engines; qvec serialized to CSV
    # so the driver canonicalizer can sort it (lists are unhashable in
    # its pandas sort — the CORRECTNESS_r03 failure mode)
    "sim_quantize_int8": """
SELECT vec_id,
       ROUND(list_max(list_transform(embedding, x -> abs(x::DOUBLE))), 6)
         AS scale,
       array_to_string(
         CASE WHEN list_max(list_transform(embedding, x -> abs(x::DOUBLE))) = 0
              THEN list_transform(embedding, x -> CAST(0 AS VARCHAR))
              ELSE list_transform(embedding,
                   x -> CAST(CAST(round(x::DOUBLE
                        / list_max(list_transform(embedding, y -> abs(y::DOUBLE)))
                        * 127) AS INT) AS VARCHAR))
         END, ',') AS qvec_csv
FROM embeddings
""",
    # IVF replay: same deterministic centroids (vec_id < 16), same
    # assignment tiebreak (cosine DESC, cid), same n_probe=4, same rerank
    "sim_topk_ivf": _with(
        f"""cent AS (
  SELECT vec_id AS cid, embedding AS cemb FROM embeddings WHERE vec_id < 16
),
ac AS (
  SELECT e.vec_id, c.cid, {_cos_sql("e.embedding", "c.cemb")} AS ccos
  FROM embeddings e CROSS JOIN cent c
),
assign AS (
  SELECT vec_id, cid AS cell FROM (
    SELECT vec_id, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY ccos DESC, cid) AS rn
    FROM ac
  ) WHERE rn = 1
),
probes AS (
  SELECT query_id, cell FROM (
    SELECT vec_id AS query_id, cid AS cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY ccos DESC, cid) AS rn
    FROM ac WHERE vec_id < 8
  ) WHERE rn <= 4
),
cand AS (
  SELECT p.query_id, a.vec_id
  FROM probes p JOIN assign a USING (cell)
  WHERE a.vec_id != p.query_id
),
scored AS (
  SELECT cand.query_id, cand.vec_id, {_COS_QC} AS cos
  FROM cand
  JOIN embeddings c ON c.vec_id = cand.vec_id
  JOIN embeddings q ON q.vec_id = cand.query_id
)""",
        _COS_RANK,
        """
SELECT query_id, vec_id, ROUND(cos, 6) AS cosine, "rank"::INT AS "rank" FROM r
WHERE "rank" <= 5
"""),
    # k-means IVF cannot be SQL-replayed (iterative fit); the query
    # instead emits its deterministic output CONTRACT on a planted
    # corpus (exactly k results, cosine descending, recall >= 0.8 where
    # the id-sample baseline scores ~0.25), and the oracle is that
    # expectation as literal VALUES
    "sim_topk_ivf_kmeans_recall": """
SELECT CAST(query_id AS BIGINT) AS query_id,
       CAST(n_results AS BIGINT) AS n_results,
       cosine_desc, recall_ok
FROM (VALUES (48, 5, true, true),
             (128, 5, true, true),
             (208, 5, true, true))
  AS t(query_id, n_results, cosine_desc, recall_ok)
""",
    # SemDeDup replay: same deterministic centroids and assignment
    # tiebreak as the IVF oracle, same rounded-cosine threshold, same
    # keep-the-lowest-id rule within a cell
    "dedup_semantic": f"""
WITH cent AS (
  SELECT vec_id AS cid, embedding AS cemb FROM embeddings WHERE vec_id < 16
),
ac AS (
  SELECT e.vec_id, c.cid, {_cos_sql("e.embedding", "c.cemb")} AS ccos
  FROM embeddings e CROSS JOIN cent c
),
assign AS (
  SELECT vec_id, cid AS cell FROM (
    SELECT vec_id, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY ccos DESC, cid) AS rn
    FROM ac
  ) WHERE rn = 1
),
dups AS (
  SELECT DISTINCT b.vec_id AS vec_id
  FROM assign a JOIN assign b ON a.cell = b.cell AND a.vec_id < b.vec_id
  JOIN embeddings ea ON ea.vec_id = a.vec_id
  JOIN embeddings eb ON eb.vec_id = b.vec_id
  WHERE ROUND({_cos_sql("ea.embedding", "eb.embedding")}, 6) >= 0.2
)
SELECT s.vec_id, s.cell, d.vec_id IS NULL AS is_keeper
FROM assign s LEFT JOIN dups d ON d.vec_id = s.vec_id
""",
    # same smoothed idf (ln((N+1)/(df+1)) + 1), same min_df cut, same
    # (tfidf DESC, word) rank on the ROUNDED score
    "retrieval_tfidf": f"""
WITH w AS (SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS word
           FROM documents),
tf AS (SELECT doc_id, word, COUNT(*)::BIGINT AS tf FROM w GROUP BY 1, 2),
dfx AS (SELECT word, COUNT(*)::BIGINT AS df FROM tf GROUP BY 1
        HAVING COUNT(*) >= 2),
n AS (SELECT COUNT(*)::BIGINT AS n_docs FROM documents),
scored AS (
  SELECT doc_id, word, tf,
         ROUND(tf * (ln((n_docs + 1.0::DOUBLE) / (df + 1.0::DOUBLE))
                     + 1.0::DOUBLE), 6) AS tfidf
  FROM tf JOIN dfx USING (word), n
)
SELECT doc_id, word, tf, tfidf, "rank"::INT AS "rank" FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                               ORDER BY tfidf DESC, word) AS "rank"
  FROM scored
) WHERE "rank" <= 5
""",
    # same word windows: starts at multiples of 48 below len, 64-wide
    # slices (list_slice clamps at the tail exactly like Spark slice)
    "text_chunks": f"""
WITH base AS (SELECT doc_id, string_split({_NORM}, ' ') AS w FROM documents),
s AS (
  SELECT doc_id, w,
         unnest(generate_series(0, ((len(w) - 1) // 48) * 48, 48)) AS start
  FROM base WHERE len(w) >= 1
)
SELECT doc_id, (start // 48)::INT AS chunk_id, start,
       len(list_slice(w, start + 1, start + 64))::INT AS n_tokens,
       md5(array_to_string(list_slice(w, start + 1, start + 64), ' '))
         AS chunk_md5
FROM s
""",
    "text_pii_redact": _pii_oracle(),
    # same pair relation (adjacent words), same PMI formula and
    # (pmi, left, right) total order at the top-N cut
    "text_collocations": f"""
WITH base AS (SELECT doc_id, string_split({_NORM}, ' ') AS w FROM documents),
pairs AS (
  SELECT unnest(list_transform(generate_series(1, len(w) - 1),
                i -> {{'l': w[i], 'r': w[i + 1]}})) AS p
  FROM base WHERE len(w) >= 2
),
pc AS (SELECT p.l AS "left", p.r AS "right", COUNT(*) AS n_pair
       FROM pairs GROUP BY 1, 2),
uc AS (SELECT word, COUNT(*) AS n_word
       FROM (SELECT unnest(w) AS word FROM base) GROUP BY 1),
tot AS (SELECT COUNT(*) AS n FROM pairs),
scored AS (
  SELECT "left", "right", n_pair,
         ROUND(ln(n_pair * (SELECT n FROM tot)::DOUBLE
                  / (ul.n_word * ur.n_word)), 6) AS pmi
  FROM pc
  JOIN uc ul ON ul.word = "left"
  JOIN uc ur ON ur.word = "right"
  WHERE n_pair >= 5
)
SELECT "left", "right", n_pair, pmi
FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY pmi DESC, "left", "right") AS rk
      FROM scored)
WHERE rk <= 50
""",
    # same 3-gram hash (portable md5 prefix), same 4-wide ROWS frame min,
    # same first-full-window cut at pos >= 3
    "text_winnowing": f"""
WITH base AS (SELECT doc_id, string_split({_NORM}, ' ') AS w FROM documents),
grams AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(w) - 2),
                i -> {{'pos': i - 1,
                       'h': CAST('0x' || substring(
                              md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]),
                              1, 15) AS BIGINT)}})) AS g
  FROM base WHERE len(w) >= 3
),
win AS (
  SELECT doc_id, g.pos AS pos,
         MIN(g.h) OVER (PARTITION BY doc_id ORDER BY g.pos
                        ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS fp
  FROM grams
)
SELECT DISTINCT doc_id, fp FROM win WHERE pos >= 3
""",
    # same 1/2/3-gram relation, same per-doc conditional aggregate, same
    # round(6)-then-threshold flag. Spark's inline() explode is mirrored
    # by three UNION ALL gram branches.
    "text_repetition": f"""
WITH base AS (SELECT doc_id, string_split({_NORM}, ' ') AS w FROM documents),
u AS (
  SELECT doc_id, 1 AS n, unnest(w) AS gram FROM base
  UNION ALL
  SELECT doc_id, 2 AS n,
         unnest(list_transform(generate_series(1, len(w) - 1),
                i -> w[i] || ' ' || w[i+1])) AS gram
  FROM base WHERE len(w) >= 2
  UNION ALL
  SELECT doc_id, 3 AS n,
         unnest(list_transform(generate_series(1, len(w) - 2),
                i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS gram
  FROM base WHERE len(w) >= 3
),
c AS (SELECT doc_id, n, gram, COUNT(*) AS cnt FROM u GROUP BY 1, 2, 3),
p AS (
  SELECT doc_id,
         SUM(CASE WHEN n = 1 THEN cnt END)::BIGINT AS n_words,
         COUNT(CASE WHEN n = 1 THEN 1 END)::BIGINT AS n_distinct,
         MAX(CASE WHEN n = 1 THEN cnt END)::BIGINT AS top_word_cnt,
         MAX(CASE WHEN n = 2 AND cnt > 1 THEN cnt * length(gram) END)::BIGINT
           AS top2_chars,
         SUM(CASE WHEN n = 3 AND cnt > 1 THEN cnt * length(gram) END)::BIGINT
           AS dup3_chars,
         SUM(CASE WHEN n = 1 THEN cnt * length(gram) END)::BIGINT AS word_chars
  FROM c GROUP BY 1
)
SELECT doc_id, n_words,
       ROUND(1.0 - n_distinct / CAST(n_words AS DOUBLE), 6) AS dup_word_frac,
       ROUND(top_word_cnt / CAST(n_words AS DOUBLE), 6) AS top_word_frac,
       ROUND(COALESCE(top2_chars, 0) / CAST(word_chars + n_words - 1 AS DOUBLE), 6)
         AS top_2gram_char_frac,
       ROUND(COALESCE(dup3_chars, 0) / CAST(word_chars + n_words - 1 AS DOUBLE), 6)
         AS dup_3gram_char_frac,
       (ROUND(COALESCE(top2_chars, 0) / CAST(word_chars + n_words - 1 AS DOUBLE), 6)
          > 0.20
        OR ROUND(COALESCE(dup3_chars, 0) / CAST(word_chars + n_words - 1 AS DOUBLE), 6)
          > 0.60) AS repetitive
FROM p
""",
    # same 3-gram 60-bit hash, same distinct-per-side sets, same
    # threshold; benchmark = doc_id % 37 == 0, corpus = the rest
    "text_contamination": f"""
WITH corpus AS (SELECT doc_id, string_split({_NORM}, ' ') AS w
                FROM documents WHERE doc_id % 37 != 0),
bench AS (SELECT string_split({_NORM}, ' ') AS w
          FROM documents WHERE doc_id % 37 = 0),
bg AS (
  SELECT DISTINCT CAST('0x' || substring(
           md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]), 1, 15) AS BIGINT) AS h
  FROM (SELECT w, unnest(generate_series(1, len(w) - 2)) AS i
        FROM bench WHERE len(w) >= 3)
),
cg AS (
  SELECT DISTINCT doc_id, CAST('0x' || substring(
           md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]), 1, 15) AS BIGINT) AS h
  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i
        FROM corpus WHERE len(w) >= 3)
),
hits AS (SELECT doc_id, COUNT(*) AS n_overlap FROM cg JOIN bg USING (h) GROUP BY 1)
SELECT c.doc_id,
       COALESCE(h.n_overlap, 0)::BIGINT AS n_overlap,
       COALESCE(h.n_overlap, 0) >= 5 AS contaminated
FROM corpus c LEFT JOIN hits h USING (doc_id)
""",
    # same smoothed unigram LM trained on the corpus itself; every
    # fractional literal is ::DOUBLE (bare decimals parse as DECIMAL in
    # DuckDB and would divide with different rounding than Spark doubles)
    "text_perplexity": f"""
WITH w AS (SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS word
           FROM documents),
c AS (SELECT word, COUNT(*)::BIGINT AS n_w FROM w GROUP BY 1),
s AS (SELECT SUM(n_w)::BIGINT AS total, COUNT(*)::BIGINT AS vocab FROM c),
j AS (SELECT doc_id,
             ln((n_w + 0.5::DOUBLE) / (total + 0.5::DOUBLE * vocab)) AS logp
      FROM w JOIN c USING (word), s)
SELECT doc_id, COUNT(*)::BIGINT AS n_words,
       ROUND(AVG(-logp), 6) AS avg_nll,
       ROUND(AVG(-logp), 6) > 3.5::DOUBLE AS low_quality
FROM j GROUP BY doc_id
""",
    # same Lucene-variant IDF, same length normalization, same rounded
    # score as the sort key with doc_id tiebreak
    "retrieval_bm25": f"""
WITH lens AS (SELECT doc_id, len(string_split({_NORM}, ' ')) AS dl
              FROM documents),
stats AS (SELECT COUNT(*)::BIGINT AS n_docs, AVG(dl) AS avgdl FROM lens),
w AS (SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS word
      FROM documents),
tf AS (SELECT doc_id, word, COUNT(*)::BIGINT AS tf FROM w
       WHERE word IN ('table', 'scan', 'vector') GROUP BY 1, 2),
dfx AS (SELECT word, COUNT(*)::BIGINT AS df FROM tf GROUP BY 1)
SELECT doc_id,
       ROUND(SUM(ln(1.0::DOUBLE + (n_docs - df + 0.5::DOUBLE) / (df + 0.5::DOUBLE))
                 * (tf * 2.2::DOUBLE
                    / (tf + 1.2::DOUBLE
                       * (0.25::DOUBLE + 0.75::DOUBLE * dl / avgdl)))), 6)
         AS bm25
FROM tf JOIN dfx USING (word) JOIN lens USING (doc_id), stats
GROUP BY doc_id
ORDER BY bm25 DESC, doc_id
LIMIT 20
""",
    # same per-source rate formula (0.5 of the corpus split evenly across
    # sources), same salted hash filter; FLOOR mirrors Spark's long cast
    "curation_mix_domains": f"""
WITH c AS (SELECT source, COUNT(*)::BIGINT AS n_s FROM documents GROUP BY 1),
t AS (SELECT SUM(n_s)::BIGINT AS n_total, COUNT(*)::BIGINT AS n_sources FROM c),
r AS (SELECT source,
             LEAST(1.0::DOUBLE, 0.5::DOUBLE * n_total / n_sources / n_s)
               AS keep_rate
      FROM c, t)
SELECT d.doc_id, d.source, ROUND(r.keep_rate, 6) AS keep_rate
FROM documents d JOIN r USING (source)
WHERE {_bucket_sql('mix-v1')} < CAST(FLOOR(r.keep_rate * 1000000) AS BIGINT)
""",
    # the scalable bucket-offset spelling must equal the plain global
    # ROW_NUMBER over the salted hash order
    "curation_shuffle": """
WITH h AS (
  SELECT doc_id,
         CAST('0x' || substring(md5('shuffle-v1:' || CAST(doc_id AS VARCHAR)),
              1, 15) AS BIGINT) AS h
  FROM documents
)
SELECT doc_id,
       ROW_NUMBER() OVER (ORDER BY h, doc_id) - 1 AS shuffle_pos
FROM h
""",
    # DSIR: replay the hashed-unigram bucket distributions, add-1
    # smoothing, per-doc log-weight (rounded 6), and the deterministic
    # Gumbel key; doc_id tiebreak pins boundary ordering on both sides
    "curation_dsir_resample": f"""
WITH w0 AS (
  SELECT doc_id, (lang = 'en') AS is_target,
         unnest(string_split({_NORM}, ' ')) AS word
  FROM documents
),
w AS (
  SELECT doc_id, is_target,
         CAST('0x' || substring(md5(word), 1, 15) AS BIGINT) % 256 AS bucket
  FROM w0
),
db AS (SELECT doc_id, bucket, COUNT(*) AS cnt FROM w GROUP BY 1, 2),
dist AS (
  SELECT bucket, SUM(is_target::INT)::BIGINT AS t_cnt, COUNT(*) AS r_cnt
  FROM w GROUP BY 1
),
tot AS (SELECT SUM(t_cnt) AS t_tot, SUM(r_cnt) AS r_tot FROM dist),
ratios AS (
  SELECT bucket,
         ln((t_cnt + 1.0) / (t_tot + 256.0))
           - ln((r_cnt + 1.0) / (r_tot + 256.0)) AS log_ratio
  FROM dist, tot
),
lw AS (
  SELECT db.doc_id, ROUND(SUM(db.cnt * r.log_ratio), 6) AS log_weight
  FROM db JOIN ratios r USING (bucket) GROUP BY 1
)
SELECT doc_id, log_weight,
       ROUND(log_weight - ln(-ln(
         ({_bucket_sql('dsir-v1')} + 0.5) / 1000000)), 6) AS gumbel_key
FROM lw
ORDER BY gumbel_key DESC, doc_id LIMIT 100
""",
    # temperature sampler: same pow/share arithmetic, same integer
    # threshold on the salted hash bucket
    "curation_temperature_mix": f"""
WITH counts AS (SELECT source, COUNT(*) AS n_s FROM documents GROUP BY 1),
tot AS (SELECT SUM(n_s) AS n_total, SUM(pow(n_s, 0.3)) AS w_total FROM counts),
rates AS (
  SELECT source,
         LEAST(1.0, 0.5 * n_total * (pow(n_s, 0.3) / w_total) / n_s)
           AS keep_rate
  FROM counts, tot
)
SELECT doc_id, d.source, ROUND(r.keep_rate, 6) AS keep_rate
FROM documents d JOIN rates r ON d.source = r.source
WHERE {_bucket_sql('tmix-v1')}
      < CAST(ROUND(r.keep_rate * 1000000, 0) AS BIGINT)
""",
    # winsorization: Spark exact percentile() == DuckDB quantile_cont
    # (same linear interpolation); outputs rounded on both sides
    "events_winsorize": """
WITH b AS (
  SELECT event_type, quantile_cont(value, 0.05) AS lo,
         quantile_cont(value, 0.95) AS hi
  FROM events GROUP BY 1
)
SELECT e.event_id, e.event_type,
       ROUND(e.value, 6) AS value,
       ROUND(LEAST(GREATEST(e.value, b.lo), b.hi), 6) AS clipped,
       (ROUND(LEAST(GREATEST(e.value, b.lo), b.hi), 6) != ROUND(e.value, 6))
         AS was_clipped
FROM events e JOIN b ON e.event_type = b.event_type
""",
    # Morton key: identical bit interleave in DuckDB operator syntax
    "curation_zorder_key": f"""
SELECT orderkey, a, b, z, CAST(FLOOR(z / 4096) AS INT) AS zbucket
FROM (
  SELECT o_orderkey AS orderkey,
         o_orderkey % 256 AS a, o_custkey % 256 AS b,
         ({_ZORDER_BITS_SQL}) AS z
  FROM orders WHERE o_orderkey < 1000
) t
""",
    # Efraimidis-Spirakis: same hash uniform, same ln(u)/w key
    "curation_weighted_sample": f"""
SELECT doc_id, n_chars::DOUBLE AS weight,
       ROUND(ln(({_bucket_sql('wsample-v1')} + 0.5) / 1000000)
             / n_chars::DOUBLE, 6) AS es_key
FROM documents
WHERE n_chars > 0
ORDER BY es_key DESC, doc_id LIMIT 100
""",
    "curation_hash_split": f"""
SELECT doc_id,
       CASE WHEN b < 900000 THEN 'train'
            WHEN b < 950000 THEN 'val'
            ELSE 'test' END AS split
FROM (SELECT doc_id, {_bucket_sql('split-v1')} AS b FROM documents)
""",
    # same ES key as curation_weighted_sample, ranked within source
    "curation_pack_bestfit": f"""
WITH t AS (SELECT doc_id, len(string_split({_NORM}, ' ')) AS n_tokens
           FROM documents)
SELECT COUNT(*)::BIGINT AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       TRUE AS ok
FROM t WHERE n_tokens <= 512
""",
    "curation_reservoir_per_source": f"""
SELECT source, doc_id, weight, es_key FROM (
  SELECT source, doc_id, weight, es_key,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY es_key DESC, doc_id) AS rk
  FROM (
    SELECT source, doc_id, n_chars::DOUBLE AS weight,
           ROUND(ln(({_bucket_sql('wsample-v1')} + 0.5) / 1000000)
                 / n_chars::DOUBLE, 6) AS es_key
    FROM documents WHERE n_chars > 0
  )
) WHERE rk <= 20
""",
    "curation_stratified_sample": _stratified_oracle(),
    # same shard hash, same doc_id order, same running-sum-before window;
    # FLOOR (not CAST) — DuckDB CAST rounds where Spark truncates
    "curation_pack_sequences": f"""
WITH t AS (
  SELECT doc_id,
         len(string_split({_NORM}, ' ')) AS n_tokens,
         ({_bucket_sql('pack-v1')}) % 8 AS shard
  FROM documents
),
c AS (
  SELECT doc_id, shard,
         COALESCE(SUM(n_tokens) OVER (
             PARTITION BY shard ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS tokens_before
  FROM t
)
SELECT doc_id, CAST(shard AS BIGINT) AS shard,
       CAST(FLOOR(tokens_before / 512.0) AS BIGINT) AS bin
FROM c
""",
    # the full curation composition: every stage reuses an already
    # hash-exact mirror (quality score, lang argmax, md5 content key,
    # pack window) chained as CTEs — boundary decisions (>= on the
    # ROUNDED score, argmax ties, keep-lowest-id) replay bit-for-bit
    "pipeline_end_to_end": f"""
WITH t AS (
  SELECT doc_id, text, {_NORM} AS norm, string_split({_NORM}, ' ') AS w
  FROM documents
),
f AS (
  SELECT doc_id, md5(norm) AS content_key, len(w) AS n_tokens,
         length(text) AS n_chars, len(w) AS n_words,
         length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g'))
           AS n_punct,
         {_markers_sql("en")} AS s_en,
         {_markers_sql("es")} AS s_es,
         {_markers_sql("de")} AS s_de,
         {_markers_sql("fr")} AS s_fr
  FROM t
),
g AS (
  SELECT doc_id, content_key, n_tokens,
         ROUND(LEAST(n_words / 100.0, 1.0) * 0.4
               + (s_en / n_words) * 0.4
               + (1.0 - n_punct / n_chars) * 0.2, 6) AS quality_score,
         CASE WHEN GREATEST(s_en, s_es, s_de, s_fr) = 0 THEN 'und'
              WHEN s_en = GREATEST(s_en, s_es, s_de, s_fr) THEN 'en'
              WHEN s_es = GREATEST(s_en, s_es, s_de, s_fr) THEN 'es'
              WHEN s_de = GREATEST(s_en, s_es, s_de, s_fr) THEN 'de'
              ELSE 'fr' END AS lang_pred
  FROM f
),
kept AS (
  SELECT doc_id, n_tokens::INT AS n_tokens FROM (
    SELECT doc_id, n_tokens,
           row_number() OVER (PARTITION BY content_key ORDER BY doc_id) AS rn
    FROM g WHERE quality_score >= 0.35 AND lang_pred = 'en'
  ) WHERE rn = 1
),
p AS (
  SELECT doc_id, n_tokens, ({_bucket_sql('pack-v1')}) % 8 AS shard
  FROM kept
),
c AS (
  SELECT doc_id, n_tokens, shard,
         COALESCE(SUM(n_tokens) OVER (
             PARTITION BY shard ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS tokens_before
  FROM p
)
SELECT doc_id, n_tokens, CAST(shard AS BIGINT) AS shard,
       CAST(FLOOR(tokens_before / 512.0) AS BIGINT) AS bin
FROM c
""",
    # Gopher §A1.1 rule pack: thresholds compare the ROUNDED ratios on
    # both sides so boundary docs resolve identically
    "text_gopher_rules": f"""
WITH t AS (
  SELECT doc_id, text, {_NORM} AS norm, string_split({_NORM}, ' ') AS w
  FROM documents
),
f AS (
  SELECT doc_id,
         len(w)::INT AS n_words,
         ROUND(length(regexp_replace(norm, ' ', '', 'g')) / len(w), 6)
           AS mean_word_len,
         ROUND((length(text)
                - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')))
               / len(w), 6) AS punct_per_word,
         ({_markers_sql("en")})::INT AS n_stopwords
  FROM t
)
SELECT doc_id, n_words, mean_word_len, punct_per_word, n_stopwords,
       (n_words >= 50 AND n_words <= 100000) AS ok_word_count,
       (mean_word_len >= 3.0 AND mean_word_len <= 10.0) AS ok_mean_word_len,
       (punct_per_word <= 0.1) AS ok_punct_ratio,
       (n_stopwords >= 2) AS ok_stopwords,
       ((n_words >= 50 AND n_words <= 100000)
        AND (mean_word_len >= 3.0 AND mean_word_len <= 10.0)
        AND (punct_per_word <= 0.1)
        AND (n_stopwords >= 2)) AS keep
FROM f
""",
    # C4 rule pack under the layout-free parameterization: same width-10
    # pseudo-lines; a line passes iff it has 10 words (ragged tails
    # fail) and no banned word; doc rules = banned substrings + >=0
    # sentences (trivially true, emitted for auditability)
    "text_c4_rules": f"""
WITH t AS (SELECT doc_id, text, string_split({_NORM}, ' ') AS w FROM documents),
seg AS (
  SELECT doc_id, array_to_string(w[(i-1)*10+1:i*10], ' ') AS line
  FROM t, unnest(generate_series(1, CAST(ceil(len(w)::DOUBLE / 10) AS BIGINT))) AS u(i)
),
pl AS (
  SELECT doc_id, COUNT(*) AS n_lines,
         SUM((len(string_split(line, ' ')) >= 10
              AND NOT contains(lower(line), 'javascript'))::INT)::BIGINT
           AS n_kept_lines
  FROM seg GROUP BY doc_id
)
SELECT pl.doc_id, pl.n_lines, pl.n_kept_lines,
       ROUND(pl.n_kept_lines::DOUBLE / pl.n_lines, 6) AS kept_fraction,
       len(regexp_extract_all(t.text, '[.!?]'))::INT AS n_sentences,
       (len(regexp_extract_all(t.text, '[.!?]')) >= 0) AS ok_min_sentences,
       (NOT contains(lower(t.text), 'lorem ipsum')
        AND NOT contains(lower(t.text), '{{')) AS ok_no_banned_substring,
       ((NOT contains(lower(t.text), 'lorem ipsum')
         AND NOT contains(lower(t.text), '{{'))
        AND (len(regexp_extract_all(t.text, '[.!?]')) >= 0)
        AND pl.n_kept_lines >= 1) AS keep
FROM pl JOIN t ON pl.doc_id = t.doc_id
""",
    "text_quality": f"""
WITH t AS (
  SELECT doc_id, text, {_NORM} AS norm, string_split({_NORM}, ' ') AS w
  FROM documents
),
f AS (
  SELECT doc_id,
         length(text)::INT AS n_chars,
         len(w)::INT AS n_words,
         length(regexp_replace(norm, ' ', '', 'g')) AS clen,
         (length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')))::INT
           AS n_punct,
         ({_markers_sql("en")})::INT AS n_stopwords
  FROM t
)
SELECT doc_id, n_chars, n_words,
       ROUND(clen / n_words, 6) AS mean_word_len,
       n_punct, n_stopwords,
       ROUND(LEAST(n_words / 100.0, 1.0) * 0.4
             + (n_stopwords / n_words) * 0.4
             + (1.0 - n_punct / n_chars) * 0.2, 6) AS quality_score
FROM f
""",
    "text_lang_id": f"""
WITH t AS (SELECT doc_id, string_split({_NORM}, ' ') AS w FROM documents),
s AS (
  SELECT doc_id,
         {_markers_sql("en")} AS s_en,
         {_markers_sql("es")} AS s_es,
         {_markers_sql("de")} AS s_de,
         {_markers_sql("fr")} AS s_fr
  FROM t
)
SELECT doc_id,
       CASE WHEN GREATEST(s_en, s_es, s_de, s_fr) = 0 THEN 'und'
            WHEN s_en = GREATEST(s_en, s_es, s_de, s_fr) THEN 'en'
            WHEN s_es = GREATEST(s_en, s_es, s_de, s_fr) THEN 'es'
            WHEN s_de = GREATEST(s_en, s_es, s_de, s_fr) THEN 'de'
            ELSE 'fr' END AS lang_pred
FROM s
""",
    "text_tokens": f"""
SELECT doc_id,
       len(string_split({_NORM}, ' '))::INT AS ws_tokens,
       len(regexp_extract_all({_NORM}, '{text.TOKEN_PATTERN}'))::INT AS re_tokens
FROM documents
""",
    "text_fingerprints": f"""
SELECT doc_id, md5({_NORM}) AS content_md5,
       list_min(list_transform(string_split({_NORM}, ' '), w -> md5(w)))
         AS min_word_md5
FROM documents
""",
    "multimodal_features": """
SELECT doc_id,
       octet_length(encode(text))::INT AS n_bytes,
       (octet_length(encode(text)) % 640 + 1)::INT AS width,
       ((octet_length(encode(text)) * 7) % 480 + 1)::INT AS height,
       3 AS channels
FROM documents
""",
    # chunk/frame sampling: text is pure ASCII in this corpus, so byte
    # slicing in Python == substr on the string in SQL, md5 included
    "multimodal_chunks": """
SELECT doc_id,
       CAST(i - 1 AS INT) AS chunk_idx,
       CAST((i - 1) * 64 AS INT) AS offset,
       CAST(length(substr(text, (i - 1) * 64 + 1, 64)) AS INT) AS n_bytes,
       md5(substr(text, (i - 1) * 64 + 1, 64)) AS chunk_md5
FROM (
  SELECT doc_id, text,
         unnest(generate_series(1,
             CAST(ceil(length(text) / 64.0) AS INT))) AS i
  FROM documents
)
WHERE (i - 1) % 2 = 0
""",
    # salting reassociates addition only — the oracle is the plain agg
    "events_salted_sum": """
SELECT event_type, ROUND(SUM(value), 2) AS sum_value, COUNT(*) AS n_rows
FROM events GROUP BY event_type
""",
    # the oracle does the interval join the direct way (non-equi BETWEEN)
    # — equality proves the bucket rewrite loses and invents nothing
    "events_interval_join": """
WITH iv AS (
  SELECT DISTINCT date_trunc('day', ts) AS interval_id,
         date_trunc('day', ts) AS start_ts,
         date_trunc('day', ts) + INTERVAL '6 hours' AS end_ts
  FROM events
)
SELECT iv.interval_id, e.event_type,
       COUNT(*) AS n_events, ROUND(SUM(e.value), 2) AS sum_value
FROM events e JOIN iv ON e.ts >= iv.start_ts AND e.ts < iv.end_ts
GROUP BY 1, 2
""",
    # dense hourly grid per user, last-observation-carried-forward;
    # per-bucket "last" is pinned by (ts, event_id) row_number on both
    # sides, so the reduction replays exactly
    "events_gap_fill": _GAP_FILL_ORACLE,
    # same grid, plus the trailing-24 mean/std window excluding the
    # current bucket; z rounded 6 before the threshold on both sides
    "events_anomalies": f"""
WITH grid AS ({_GAP_FILL_ORACLE})
SELECT user_id, bucket, value_filled,
       COUNT(value_filled) OVER w AS n_prior,
       CASE WHEN COUNT(value_filled) OVER w >= 2
                 AND stddev_samp(value_filled) OVER w > 1e-9
            THEN ROUND((value_filled - AVG(value_filled) OVER w)
                       / stddev_samp(value_filled) OVER w, 6) END AS zscore,
       COALESCE(ABS(CASE WHEN COUNT(value_filled) OVER w >= 2
                              AND stddev_samp(value_filled) OVER w > 1e-9
                         THEN ROUND((value_filled - AVG(value_filled) OVER w)
                                    / stddev_samp(value_filled) OVER w, 6) END)
                >= 3.0, FALSE) AS is_anomaly
FROM grid
WINDOW w AS (PARTITION BY user_id ORDER BY bucket
             ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
""",
    "events_tumbling": """
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
       COUNT(*) AS n_events, ROUND(SUM(value), 2) AS sum_value
FROM events GROUP BY 1, 2
""",
    # the streaming twin lands through the foreachBatch sink but must
    # equal the identical batch aggregation
    "streaming_tumbling_counts": """
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
       COUNT(*) AS n_events, ROUND(SUM(value), 2) AS sum_value
FROM events GROUP BY 1, 2
""",
    "streaming_enriched_purchases": """
SELECT e.event_id, e.user_id, e.ts, e.value, c.c_mktsegment, c.c_nationkey
FROM events e JOIN customer c ON e.user_id = c.c_custkey
WHERE e.event_type = 'purchase'
""",
    "streaming_dedup_keys": """
SELECT DISTINCT user_id, event_type FROM events
""",
    # hopping windows: an event at t belongs to both the slide bucket it
    # falls in and the one slide earlier (width/slide = 2)
    "events_hopping": """
SELECT window_start, event_type, COUNT(*) AS n_events,
       ROUND(SUM(value), 2) AS sum_value
FROM (
  SELECT time_bucket(INTERVAL '30 minutes', ts)
           - off * INTERVAL '30 minutes' AS window_start,
         event_type, value
  FROM events CROSS JOIN (SELECT unnest([0, 1]) AS off) offs
)
GROUP BY 1, 2
""",
    # native session_window semantics: an event at exactly prev + gap
    # starts a NEW session (window end is exclusive), hence >= not >
    # streaming session windows: same gaps-and-islands oracle as the
    # batch twin below — session state must close identically
    "streaming_session_counts": """
SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events
FROM (
  SELECT user_id, ts,
         SUM(CASE WHEN prev IS NULL OR tus - prev >= 1800000000
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) AS sid
  FROM (
    SELECT user_id, ts, event_id, epoch_us(ts) AS tus,
           lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev
    FROM events
  )
)
GROUP BY user_id, sid
""",
    "events_session_native": """
SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events
FROM (
  SELECT user_id, ts,
         SUM(CASE WHEN prev IS NULL OR tus - prev >= 1800000000
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) AS sid
  FROM (
    SELECT user_id, ts, event_id, epoch_us(ts) AS tus,
           lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev
    FROM events
  )
)
GROUP BY user_id, sid
""",
    "events_sessionize": """
SELECT user_id, SUM(is_new)::BIGINT AS n_sessions, COUNT(*) AS n_events
FROM (
  SELECT user_id,
         CASE WHEN prev_ts IS NULL
                   OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
              THEN 1 ELSE 0 END AS is_new
  FROM (
    SELECT user_id, ts,
           lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
    FROM events
  )
) GROUP BY user_id
""",
    "events_asof": """
WITH l AS (
  SELECT user_id, ts, event_id FROM events WHERE event_type = 'view'
),
r AS (
  SELECT user_id, ts, MAX(event_id) AS event_id
  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
)
SELECT l.user_id, l.event_id AS left_id, r.event_id AS prior_right_id
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND r.ts <= l.ts
""",
    "events_scd2_history": """
SELECT user_id, event_id, ROUND(value, 2) AS value,
       ts AS effective_from,
       LEAD(ts) OVER w AS effective_to,
       (LEAD(ts) OVER w IS NULL) AS is_current
FROM events WHERE event_type = 'purchase'
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
""",
    "agg_count_min_estimate": """
WITH src AS (SELECT CAST(l_partkey AS VARCHAR) AS k
             FROM lineitem WHERE l_partkey IS NOT NULL),
cells AS (
  SELECT r, c, COUNT(*) AS cnt FROM (
    SELECT 0 AS r, CAST('0x' || substring(md5('0:' || k), 1, 15) AS BIGINT) % 256 AS c FROM src
    UNION ALL
    SELECT 1, CAST('0x' || substring(md5('1:' || k), 1, 15) AS BIGINT) % 256 FROM src
    UNION ALL
    SELECT 2, CAST('0x' || substring(md5('2:' || k), 1, 15) AS BIGINT) % 256 FROM src
    UNION ALL
    SELECT 3, CAST('0x' || substring(md5('3:' || k), 1, 15) AS BIGINT) % 256 FROM src
  ) GROUP BY r, c
),
qk AS (SELECT DISTINCT CAST(p_partkey AS VARCHAR) AS key
       FROM part WHERE p_partkey <= 20),
probes AS (
  SELECT key, 0 AS r, CAST('0x' || substring(md5('0:' || key), 1, 15) AS BIGINT) % 256 AS c FROM qk
  UNION ALL
  SELECT key, 1, CAST('0x' || substring(md5('1:' || key), 1, 15) AS BIGINT) % 256 FROM qk
  UNION ALL
  SELECT key, 2, CAST('0x' || substring(md5('2:' || key), 1, 15) AS BIGINT) % 256 FROM qk
  UNION ALL
  SELECT key, 3, CAST('0x' || substring(md5('3:' || key), 1, 15) AS BIGINT) % 256 FROM qk
),
est AS (SELECT key, MIN(COALESCE(cells.cnt, 0)) AS est
        FROM probes LEFT JOIN cells ON cells.r = probes.r AND cells.c = probes.c
        GROUP BY key),
exact AS (SELECT CAST(l_partkey AS VARCHAR) AS key, COUNT(*) AS exact
          FROM lineitem WHERE l_partkey <= 20 GROUP BY 1)
SELECT CAST(e.key AS BIGINT) AS partkey, e.est,
       COALESCE(x.exact, 0) AS exact,
       e.est - COALESCE(x.exact, 0) AS overcount
FROM est e LEFT JOIN exact x ON x.key = e.key
""",
    "text_heavy_hitters": r"""
WITH toks AS (
  SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS token
  FROM documents
), c AS (
  SELECT token, COUNT(*) AS n FROM toks WHERE token <> '' GROUP BY token
)
SELECT token, n FROM c WHERE n > (SELECT SUM(n) FROM c) / 40.0
""",
    "events_funnel": """
WITH s0 AS (
  SELECT user_id, MIN(ts) AS t0 FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
s1 AS (
  SELECT e.user_id, MIN(e.ts) AS t1 FROM events e JOIN s0 USING (user_id)
  WHERE e.event_type = 'click' AND e.ts > s0.t0 GROUP BY e.user_id
),
s2 AS (
  SELECT e.user_id, MIN(e.ts) AS t2 FROM events e JOIN s1 USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > s1.t1 GROUP BY e.user_id
)
SELECT 1 AS step, 'view' AS stage, (SELECT COUNT(*) FROM s0) AS users
UNION ALL
SELECT 2, 'click', (SELECT COUNT(*) FROM s1)
UNION ALL
SELECT 3, 'purchase', (SELECT COUNT(*) FROM s2)
""",
    "events_retention": """
WITH f AS (
  SELECT user_id, CAST(MIN(ts) AS DATE) AS cohort_day
  FROM events GROUP BY user_id
),
a AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
)
SELECT f.cohort_day,
       CAST(date_diff('day', f.cohort_day, a.day) AS INTEGER) AS day_offset,
       COUNT(*) AS users
FROM a JOIN f USING (user_id)
GROUP BY f.cohort_day, day_offset
""",
    "streaming_stream_stream_join": """
SELECT v.user_id, v.event_id AS view_id, v.ts AS view_ts,
       p.event_id AS purchase_id, p.ts AS purchase_ts
FROM events v
JOIN events p
  ON v.user_id = p.user_id
 AND p.ts >= v.ts
 AND p.ts <= v.ts + INTERVAL 1 HOUR
WHERE v.event_type = 'view' AND p.event_type = 'purchase'
""",
    "events_transitions": """
WITH t AS (
  SELECT event_type AS src_type,
         LEAD(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) AS dst_type
  FROM events
)
SELECT src_type, dst_type, COUNT(*) AS n
FROM t WHERE dst_type IS NOT NULL
GROUP BY src_type, dst_type
""",
    "events_top_paths": """
WITH t AS (
  SELECT event_type AS e0,
         LEAD(event_type, 1) OVER w AS e1,
         LEAD(event_type, 2) OVER w AS e2
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT e0 || ' -> ' || e1 || ' -> ' || e2 AS path, COUNT(*) AS n
FROM t WHERE e0 IS NOT NULL AND e1 IS NOT NULL AND e2 IS NOT NULL
GROUP BY path
ORDER BY n DESC, path
LIMIT 10
""",
    "sim_pca_contract": """
WITH flat AS (
  SELECT generate_subscripts(embedding, 1) AS pos, unnest(embedding) AS val
  FROM embeddings
), pv AS (
  SELECT pos, var_pop(val) AS vp FROM flat GROUP BY pos
)
SELECT CAST(8 AS INTEGER) AS k,
       TRUE AS orthonormal,
       TRUE AS component_variances_ok,
       TRUE AS explained_ratio_ok,
       ROUND(SUM(vp), 6) AS total_var
FROM pv
""",
    "multimodal_audio": """
WITH p AS (
  SELECT doc_id,
         (doc_id * 37) % 20000 + 1000 AS a,
         (doc_id * 91) % 20000 + 500 AS b,
         (doc_id % 50) * 8 + 16 AS n
  FROM documents WHERE doc_id < 300
)
SELECT doc_id,
       CAST(8000 AS INTEGER) AS sample_rate,
       CAST(1 AS INTEGER) AS channels,
       CAST(n AS INTEGER) AS n_samples,
       CAST(n / 8 AS INTEGER) AS duration_ms,
       ROUND(sqrt((CAST(a AS DOUBLE) * a + CAST(b AS DOUBLE) * b) / 2), 4) AS rms,
       CAST(GREATEST(a, b) AS INTEGER) AS peak
FROM p
""",
    "multimodal_frame_sample": """
WITH p AS (
  SELECT doc_id, doc_id % 12 + 2 AS nf,
         CAST((doc_id % 3 + 1) * 4 AS INTEGER) AS w,
         CAST((doc_id % 2 + 1) * 4 AS INTEGER) AS h
  FROM documents WHERE doc_id < 200
), f AS (
  SELECT doc_id, w, h,
         unnest(generate_series(0, CAST(nf - 1 AS BIGINT), 2)) AS frame_idx
  FROM p
)
SELECT doc_id, CAST(frame_idx AS INTEGER) AS frame_idx,
       w AS width, h AS height,
       ROUND(CAST((doc_id * 13 + frame_idx * 29) % 256 AS DOUBLE), 4) AS mean_y
FROM f
""",
    "source_python_stream": """
WITH ids AS (SELECT unnest(generate_series(0, 19999)) AS id),
b AS (
  SELECT id,
         CAST('0x' || substring(md5(CAST(id AS VARCHAR)), 1, 15) AS BIGINT)
           % 100 AS bucket
  FROM ids
)
SELECT bucket::INT AS bucket, COUNT(*) AS n,
       ROUND(SUM(bucket / 100.0), 2) AS sum_val,
       MIN(id) AS min_id
FROM b GROUP BY 1
""",
    "pipeline_multimodal": """
WITH p AS (
  SELECT doc_id,
         doc_id % 256 AS mean_r,
         GREATEST((doc_id * 37) % 20000 + 1000,
                  (doc_id * 91) % 20000 + 500) AS peak,
         (doc_id % 50) + 2 AS ms,
         n_chars
  FROM documents WHERE doc_id < 300
)
SELECT doc_id % 10 AS bucket, COUNT(*) AS n,
       CAST(SUM(mean_r) AS BIGINT) AS sum_mean_r,
       CAST(SUM(peak) AS BIGINT) AS sum_peak,
       CAST(SUM(ms) AS BIGINT) AS sum_ms,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM p GROUP BY doc_id % 10
""",
    "events_scd2_asof": """
WITH hist AS (
  SELECT user_id, event_id AS version_id, ROUND(value, 2) AS version_value,
         ts AS ef,
         LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS et
  FROM events WHERE event_type = 'purchase'
)
SELECT v.event_id AS view_id, v.user_id, h.version_id, h.version_value
FROM events v
JOIN hist h
  ON v.user_id = h.user_id
 AND h.ef <= v.ts AND (h.et IS NULL OR v.ts < h.et)
WHERE v.event_type = 'view'
""",
    "events_rfm": """
WITH per_user AS (
  SELECT user_id, MAX(ts) AS last_ts, COUNT(*) AS n_purchases,
         ROUND(SUM(value), 2) AS monetary
  FROM events WHERE event_type = 'purchase' GROUP BY user_id
)
SELECT user_id, n_purchases, monetary,
       NTILE(4) OVER (ORDER BY last_ts DESC, user_id) AS r_score,
       NTILE(4) OVER (ORDER BY n_purchases DESC, user_id) AS f_score,
       NTILE(4) OVER (ORDER BY monetary DESC, user_id) AS m_score
FROM per_user
""",
    "events_ab_test": """
WITH per_user AS (
  SELECT CAST('0x' || substring(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 15)
              AS BIGINT) % 2 AS variant,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
  FROM events GROUP BY user_id
),
agg AS (
  SELECT variant, COUNT(*) AS n, SUM(converted) AS conv
  FROM per_user GROUP BY variant
),
wide AS (
  SELECT
    MAX(CASE WHEN variant = 0 THEN n END) AS n_a,
    MAX(CASE WHEN variant = 0 THEN conv END) AS conv_a,
    MAX(CASE WHEN variant = 1 THEN n END) AS n_b,
    MAX(CASE WHEN variant = 1 THEN conv END) AS conv_b
  FROM agg
)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(conv_a AS BIGINT) AS conv_a,
       CAST(n_b AS BIGINT) AS n_b, CAST(conv_b AS BIGINT) AS conv_b,
       ROUND(conv_a * 1.0 / n_a, 6) AS rate_a,
       ROUND(conv_b * 1.0 / n_b, 6) AS rate_b,
       ROUND(CASE WHEN (conv_a + conv_b) * 1.0 / (n_a + n_b) IN (0, 1) THEN 0
             ELSE (conv_a * 1.0 / n_a - conv_b * 1.0 / n_b)
                  / sqrt(((conv_a + conv_b) * 1.0 / (n_a + n_b))
                         * (1 - (conv_a + conv_b) * 1.0 / (n_a + n_b))
                         * (1.0 / n_a + 1.0 / n_b)) END, 4) AS z_stat
FROM wide
""",
    "text_bpe_contract": r"""
WITH words AS (
  SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS w FROM documents
), w2 AS (
  SELECT w, COUNT(*) AS freq FROM words WHERE w <> '' GROUP BY w
), pos AS (
  SELECT w, freq, unnest(generate_series(1, length(w) - 1)) AS i FROM w2
), pairs AS (
  SELECT substring(w, i, 1) AS l, substring(w, i + 1, 1) AS r,
         CAST(SUM(freq) AS BIGINT) AS n
  FROM pos GROUP BY 1, 2
), top AS (
  SELECT l, r, n FROM pairs ORDER BY n DESC, l, r LIMIT 1
)
SELECT top.l AS left_1, top.r AS right_1, top.n AS n_1,
       CAST(6 AS INTEGER) AS k, TRUE AS merges_positive,
       (SELECT CAST(SUM(LENGTH(w)) AS BIGINT) FROM words WHERE w <> '')
         AS char_mass
FROM top
""",
    "text_bpe_encode": r"""
SELECT COUNT(*) AS n_docs,
       CAST(SUM(length(regexp_replace(lower(text), '\s+', '', 'g'))) AS BIGINT)
         AS total_chars,
       TRUE AS chars_conserved,
       TRUE AS compressed
FROM documents
""",
}

# Spellings contracted to produce byte-identical output to an existing
# entry share that entry's oracle verbatim: a Bloom prefilter has no
# false negatives, the streaming rollup materializes the same three
# tiers the batch operator computes, and the streaming funnel automaton
# replays the batch funnel's greedy earliest-first semantics exactly.
ORACLES["dedup_incremental_bloom"] = ORACLES["dedup_incremental"]
ORACLES["streaming_multi_rollup"] = ORACLES["events_multi_rollup"]
ORACLES["streaming_funnel"] = ORACLES["events_funnel"]


def _random_projection_oracle(dim: int = 64, k: int = 8, seed: int = 7) -> str:
    """Replays similarity.random_projection term-for-term: the same
    seeded +-1 hyperplanes inlined as +/- embedding[i] sums, the same
    left-to-right fold order, the same /sqrt(k) scale and 6-decimal
    round."""
    planes = similarity._hyperplanes(dim, k, seed)
    cols = []
    for j, p in enumerate(planes):
        terms = " ".join(
            ("+" if s > 0 else "-") + f" embedding[{i + 1}]::DOUBLE"
            for i, s in enumerate(p)
        )
        cols.append(f"ROUND((0.0 {terms}) / sqrt({k}), 6) AS proj_{j}")
    return "SELECT vec_id, " + ",\n       ".join(cols) + "\nFROM embeddings"


ORACLES["sim_random_projection"] = _random_projection_oracle()
ORACLES["streaming_histogram"] = ORACLES["events_histogram"]


def _ppr_oracle(rounds: int = 3) -> str:
    """Chained-CTE personalized-PageRank oracle: the graph_pagerank
    unroll with the teleport restricted to the seed distribution
    (0.15 * p(v) instead of 0.15 / n). Generated so the round count
    stays in lockstep with the Spark entry's ``iterations``."""
    cs = ("SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst "
          "FROM orders JOIN lineitem ON l_orderkey = o_orderkey")
    chain = []
    for i in range(1, rounds + 1):
        prev = f"r{i - 1}"
        chain.append(f"""r{i} AS (
  SELECT n.node, 0.15 * n.p + 0.85 * COALESCE(c.contrib, 0) AS pr
  FROM np n
  LEFT JOIN (SELECT e.dst, SUM(r.pr * e.w) AS contrib
             FROM {prev} r JOIN wedges e ON e.src = r.node
             GROUP BY e.dst) c
  ON c.dst = n.node
)""")
    return f"""
WITH edges AS (
  SELECT src, dst FROM ({cs})
  UNION
  SELECT dst AS src, src AS dst FROM ({cs})
),
nodes AS (SELECT DISTINCT src AS node FROM edges
          UNION SELECT DISTINCT dst FROM edges),
seeds AS (SELECT DISTINCT 'c' || o_custkey AS node
          FROM orders JOIN lineitem ON l_orderkey = o_orderkey
          WHERE o_custkey % 100 = 0),
ns AS (SELECT CAST(COUNT(*) AS DOUBLE) AS ns FROM seeds),
np AS (SELECT n.node,
              CASE WHEN s.node IS NOT NULL THEN 1.0 / ns.ns ELSE 0.0 END AS p
       FROM nodes n CROSS JOIN ns LEFT JOIN seeds s ON s.node = n.node),
outdeg AS (SELECT src, CAST(COUNT(*) AS DOUBLE) AS odeg FROM edges GROUP BY src),
wedges AS (SELECT e.src, e.dst, 1.0 / o.odeg AS w
           FROM edges e JOIN outdeg o ON o.src = e.src),
r0 AS (SELECT node, p AS pr FROM np),
{",".join(chain)}
SELECT node, ROUND(pr, 8) AS pr FROM r{rounds}
"""


ORACLES["graph_pagerank_personalized"] = _ppr_oracle(3)

# Louvain's contract oracle: node count re-derived from the same
# relational edge spelling; the monotone-Q and planted-floor booleans
# are the Spark side's own exact recomputation (modularity is evaluated
# from the assignment, not trusted from the move logic), asserted
# literally TRUE here.
ORACLES["graph_louvain"] = """
WITH k AS (SELECT c_custkey AS k FROM customer),
e AS (
  SELECT x.k AS a, y.k AS b FROM k x JOIN k y ON x.k + 40 = y.k
  UNION ALL
  SELECT x.k AS a, y.k AS b FROM k x JOIN k y ON x.k + 80 = y.k
  UNION ALL
  SELECT x.k AS a, y.k AS b FROM k x JOIN k y ON x.k + 1 = y.k
  WHERE x.k % 89 = 0
)
SELECT count(DISTINCT n) AS n_nodes,
       TRUE AS monotone,
       TRUE AS beats_floor
FROM (SELECT a AS n FROM e UNION SELECT b AS n FROM e)
"""


def _delta_stepping_oracle(rounds: int = 24) -> str:
    """Unrolled Bellman-Ford fixpoint replaying graph_delta_stepping:
    each generated CTE is one full relaxation (labels min-merged with
    one-hop extensions), chained ``rounds`` deep — far past the gate
    graph's shortest-path hop radius, so the final relation IS the
    exact seed-set shortest paths delta-stepping computes (integer
    weights keep both engines exact; a RECURSIVE CTE would have to
    enumerate paths, which explodes on a weighted graph with no hop
    bound)."""
    steps = [
        f"""d{r} AS MATERIALIZED (
  SELECT node, MIN(cost) AS cost FROM (
    SELECT node, cost FROM d{r - 1}
    UNION ALL
    SELECT adj.d AS node, d{r - 1}.cost + adj.w AS cost
    FROM d{r - 1} JOIN adj ON adj.s = d{r - 1}.node
  ) GROUP BY node
)"""
        for r in range(1, rounds + 1)
    ]
    return _with(
        _copurchase("e0 AS MATERIALIZED", "a", "b"),
        """adj AS MATERIALIZED (
  SELECT a AS s, b AS d, (a * 7 + b) % 9 + 1 AS w FROM e0
  UNION
  SELECT b AS s, a AS d, (a * 7 + b) % 9 + 1 AS w FROM e0
),
d0 AS MATERIALIZED (
  SELECT DISTINCT s AS node, CAST(0 AS BIGINT) AS cost
  FROM adj WHERE s % 97 = 0
)""",
        *steps,
        f"SELECT node, cost FROM d{rounds}",
    )


ORACLES["graph_delta_stepping"] = _delta_stepping_oracle(24)

ORACLES["events_changepoint_cusum"] = _CUSUM_ORACLE

# The hashing-trick oracle rebuilds the portable 60-bit md5 word hash
# (dedup.word_hash60's documented DuckDB mirror) and the same
# normalize/split tokenization, so every (doc, bucket, tf) row is exact.
ORACLES["text_hashing_vectorizer"] = f"""
SELECT doc_id,
       CAST('0x' || substring(md5(word), 1, 15) AS BIGINT) % 64 AS bucket,
       COUNT(*) AS tf
FROM (SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS word
      FROM documents)
WHERE word <> ''
GROUP BY doc_id, bucket
"""

# Blocked fuzzy join: identical blocking (first token + lang, block size
# cap replayed over the same surviving space) and plain levenshtein as
# the distance — Spark's thresholded variant returns the same exact
# distance for every pair it keeps (-1 only past the cutoff, which the
# WHERE replays).
ORACLES["join_fuzzy_blocked"] = f"""
WITH p AS (
  SELECT doc_id, lang,
         substring({_NORM}, 1, 40) AS pfx,
         split_part({_NORM}, ' ', 1) AS w1
  FROM documents
),
keep AS (
  SELECT w1, lang FROM p GROUP BY w1, lang HAVING COUNT(*) <= 256
),
pk AS (SELECT p.* FROM p JOIN keep USING (w1, lang)),
c AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         levenshtein(a.pfx, b.pfx) AS dist
  FROM pk a JOIN pk b
    ON a.w1 = b.w1 AND a.lang = b.lang AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, dist,
       ROUND(1.0 - dist / 40.0, 6) AS sim
FROM c WHERE dist <= 12
"""

# EWMA: the same 20 power-of-two lag terms the Spark window builds,
# generated by the same loop — num/den are exact bigints, so the only
# float work is the two final divisions, spelled identically.
_EWMA_NUM = " + ".join(
    f"COALESCE(lag(c, {k}) OVER w * {1 << (19 - k)}, 0)" for k in range(20)
)
_EWMA_DEN = " + ".join(
    f"(CASE WHEN lag(c, {k}) OVER w IS NOT NULL THEN {1 << (19 - k)} ELSE 0 END)"
    for k in range(20)
)
ORACLES["events_ewma"] = f"""
WITH p AS (
  SELECT user_id, event_id, ts,
         CAST(ROUND(value * 100) AS BIGINT) AS c
  FROM events
  WHERE event_type = 'purchase' AND value IS NOT NULL
),
l AS (
  SELECT user_id, event_id,
         {_EWMA_NUM} AS num,
         CAST({_EWMA_DEN} AS BIGINT) AS den
  FROM p WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, event_id, num, den,
       ROUND(CAST(num AS DOUBLE) / CAST(den AS DOUBLE) / 100.0, 6) AS ewma
FROM l
"""

# Resource-Allocation link prediction: common_neighbors' wedge algebra
# with the 1/deg middle discount quantized to bigint nano-units before
# the (order-free) sum.
ORACLES["graph_resource_allocation"] = _with(_copurchase("e AS"), """
deg AS (SELECT node, COUNT(*) AS d FROM (
          SELECT lo AS node FROM e UNION ALL SELECT hi FROM e
        ) GROUP BY node),
adj AS (SELECT lo AS mid, hi AS nbr FROM e
        UNION ALL SELECT hi, lo FROM e),
sm AS (SELECT a2.mid, a2.nbr, CAST(ROUND(1e9 / deg.d) AS BIGINT) AS w
       FROM adj a2
       JOIN deg ON deg.node = a2.mid AND deg.d <= 64),
p AS (SELECT x.nbr AS x, y.nbr AS y,
             COUNT(*) AS common, CAST(SUM(x.w) AS BIGINT) AS ra_units
      FROM sm x JOIN sm y ON x.mid = y.mid AND x.nbr < y.nbr
      GROUP BY 1, 2),
np AS (SELECT p.* FROM p LEFT JOIN e ON e.lo = p.x AND e.hi = p.y
       WHERE e.lo IS NULL AND p.common >= 2)
SELECT x AS a, y AS b, common, ra_units,
       ROUND(ra_units / 1e9, 6) AS ra
FROM np
""")

# SCC: the oracle has no iteration budget to coordinate with the
# operator — DuckDB's recursive UNION computes the exact transitive
# closure, mutual reachability is its self-join, and the canonical id
# is the min mutually-reachable node (self included).
ORACLES["graph_scc"] = _with(_NEXT_PART, """
e AS (
  SELECT DISTINCT l_partkey AS src, nxt AS dst FROM s
  WHERE nxt IS NOT NULL AND nxt <> l_partkey
),
n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
reach AS (
  WITH RECURSIVE r(s, d) AS (
    SELECT src, dst FROM e
    UNION
    SELECT r.s, e.dst FROM r JOIN e ON r.d = e.src
  ) SELECT * FROM r
),
mut AS (
  SELECT a.s AS u, a.d AS v
  FROM reach a JOIN reach b ON a.s = b.d AND a.d = b.s
)
SELECT n.node, LEAST(n.node, COALESCE(MIN(m.v), n.node)) AS scc_id
FROM n LEFT JOIN mut m ON m.u = n.node
GROUP BY n.node
""")

# pHash: every pixel is rebuilt arithmetically, the DCT runs through a
# 64-row integer coefficient relation generated from the SAME Python
# constants the operator uses, and the 63-AC median of an odd count is
# the exact middle order statistic — int64 end-to-end.
from datafusion_gpu_spark.operators.multimodal import PHASH_COEF as _PHASH_COEF

_PHASH_COEF_ROWS = ", ".join(
    f"({u}, {x}, {c})"
    for u, row in enumerate(_PHASH_COEF)
    for x, c in enumerate(row)
)
# The audio-fingerprint mirror of the phash oracle: rebuild every
# sample from the gate generator's closed form, replay the integer
# two-band frame-energy transform, median-threshold per band (31
# frames — odd, so MEDIAN is the exact middle element), pack bits.
ORACLES["multimodal_audio_fp"] = _with(
    """d AS (
  SELECT doc_id, 8 + doc_id % 23 AS n_f
  FROM documents WHERE doc_id < 300
),
samples AS (
  SELECT doc_id, n_f, i,
         ((doc_id * 13 + i * 7919) % 4096) - 2048 AS s
  FROM d, LATERAL (SELECT unnest(range(0, 31 * n_f)) AS i) gen
)""",
    _AUDIO_BITS,
    """
SELECT doc_id,
       CAST(SUM(lb * (CAST(1 AS BIGINT) << f)
              + hb * (CAST(1 AS BIGINT) << (31 + f))) AS BIGINT) AS afp,
       CAST(SUM(lb + hb) AS INTEGER) AS n_bits
FROM bits GROUP BY doc_id
""")

# Pair twin: rebuild each clip's fingerprint from the gate generator's
# seeded closed form (doc_id % 5 == 4 -> gain-2 copy of seed doc_id-4),
# then the exact all-pairs hamming <= 3 slice. All-pairs is fine for
# the ORACLE (300 docs); the Spark side is the chunked pigeonhole.
ORACLES["multimodal_audio_neardup"] = _with(
    """d AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 4 THEN doc_id - 4 ELSE doc_id END AS seed,
         CASE WHEN doc_id % 5 = 4 THEN 2 ELSE 1 END AS gain
  FROM documents WHERE doc_id < 300
),
d2 AS (SELECT doc_id, seed, gain, 8 + seed % 23 AS n_f FROM d),
samples AS (
  SELECT doc_id, n_f, i,
         gain * ((((2 * seed + 1) * (i * i * 31 + i * 7919) + seed * 13)
                  % 4096) - 2048) AS s
  FROM d2, LATERAL (SELECT unnest(range(0, 31 * n_f)) AS i) gen
)""",
    _AUDIO_BITS,
    """
fp AS (
  SELECT doc_id,
         CAST(SUM(lb * (CAST(1 AS BIGINT) << f)
                + hb * (CAST(1 AS BIGINT) << (31 + f))) AS BIGINT) AS afp
  FROM bits GROUP BY doc_id
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.afp, b.afp)) AS INTEGER) AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.afp, b.afp)) <= 3
""")

ORACLES["multimodal_phash"] = f"""
WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 300),
g AS (SELECT unnest(range(0, 16)) AS i),
px AS (
  SELECT d.doc_id, gx.i AS x, gy.i AS y,
         (299 * ((3 * d.doc_id + 7 * gx.i + 11 * gy.i) % 256)
        + 587 * ((d.doc_id + 5 * gx.i + 3 * gy.i) % 256)
        + 114 * ((2 * d.doc_id + gx.i + gy.i) % 256)) // 1000 AS L
  FROM d, g gx, g gy
),
pool AS (
  SELECT doc_id, y // 2 AS prow, x // 2 AS pcol,
         CAST(SUM(L) // 4 AS BIGINT) AS L2
  FROM px GROUP BY doc_id, y // 2, x // 2
),
coef(u, x, c) AS (VALUES {_PHASH_COEF_ROWS}),
dct AS (
  SELECT p.doc_id, cu.u AS u, cv.u AS v,
         CAST(SUM(p.L2 * cu.c * cv.c) AS BIGINT) AS f
  FROM pool p
  JOIN coef cu ON cu.x = p.prow
  JOIN coef cv ON cv.x = p.pcol
  GROUP BY 1, 2, 3
),
med AS (
  SELECT doc_id, CAST(MEDIAN(f) AS BIGINT) AS m
  FROM dct WHERE NOT (u = 0 AND v = 0) GROUP BY doc_id
),
bits AS (
  SELECT dct.doc_id, 8 * u + v AS idx,
         CASE WHEN f > m THEN 1 ELSE 0 END AS bit
  FROM dct JOIN med USING (doc_id) WHERE NOT (u = 0 AND v = 0)
)
SELECT doc_id,
       CAST(SUM(bit * (CAST(1 AS BIGINT) << (idx - 1))) AS BIGINT) AS phash,
       CAST(SUM(bit) AS INTEGER) AS n_bits
FROM bits GROUP BY doc_id
"""

# Kahn layer == longest path from any source: every path extends back
# to a source, so MAX(depth) over all paths ending at v is the layer.
ORACLES["graph_toposort"] = _with(_NEXT_PART, """
e AS (
  SELECT DISTINCT l_partkey AS src, nxt AS dst FROM s
  WHERE nxt IS NOT NULL AND nxt > l_partkey
),
n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
lp AS (
  WITH RECURSIVE r(node, d) AS (
    SELECT node, 0 FROM n
    UNION
    SELECT e.dst, r.d + 1 FROM r JOIN e ON r.node = e.src
  ) SELECT * FROM r
)
SELECT node, CAST(MAX(d) AS INTEGER) AS layer FROM lp GROUP BY node
""")

# Interval merge: running-max-of-previous-ends island flag, identical
# ordering tiebreaks, all bigint epoch-micros.
ORACLES["events_interval_merge"] = """
WITH iv AS (
  SELECT user_id, event_id,
         epoch_us(ts) AS s,
         epoch_us(ts) + CAST(ROUND(value) AS BIGINT) * 60000000 AS e
  FROM events
  WHERE event_type = 'purchase' AND value IS NOT NULL
),
m AS (
  SELECT user_id, event_id, s, e,
         MAX(e) OVER (PARTITION BY user_id ORDER BY s, e, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
  FROM iv
),
isl AS (
  SELECT user_id, s, e,
         CAST(SUM(CASE WHEN pme IS NULL OR s > pme THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id ORDER BY s, e, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS island
  FROM m
)
SELECT user_id, island, MIN(s) AS start, MAX(e) AS "end",
       COUNT(*) AS n_intervals
FROM isl GROUP BY user_id, island
"""

ORACLES["events_ohlc"] = _OHLC

# Apportionment: integer quota floors and remainder ranks; pick ranking
# reuses the portable salted md5 bucket (curation._hash_bucket mirror).
ORACLES["curation_apportion"] = """
WITH c AS (SELECT source, COUNT(*) AS n_s FROM documents GROUP BY source),
t AS (SELECT SUM(n_s) AS n_docs FROM c),
q AS (
  SELECT source, n_s,
         (250 * n_s) // n_docs AS fl,
         (250 * n_s) % n_docs AS rem
  FROM c, t
),
a AS (
  SELECT source,
         fl + (CASE WHEN ROW_NUMBER() OVER (ORDER BY rem DESC, source)
                         <= 250 - (SELECT SUM(fl) FROM q)
               THEN 1 ELSE 0 END) AS alloc
  FROM q
),
r AS (
  SELECT doc_id, d.source,
         ROW_NUMBER() OVER (
           PARTITION BY d.source
           ORDER BY CAST('0x' || substring(
                      md5('apportion-v1:' || CAST(doc_id AS VARCHAR)), 1, 15)
                    AS BIGINT) % 1000000,
                    doc_id) AS rn
  FROM documents d
)
SELECT r.doc_id, r.source FROM r JOIN a ON a.source = r.source
WHERE r.rn <= a.alloc
"""

# Condensation: SCC labeling from the recursive closure (as graph_scc),
# then longest path over the contracted inter-SCC edges; isolated SCCs
# default to layer 0 via the same LEFT JOIN + COALESCE.
ORACLES["graph_condensation"] = _with(_NEXT_PART, """
e AS (
  SELECT DISTINCT l_partkey AS src, nxt AS dst FROM s
  WHERE nxt IS NOT NULL AND nxt <> l_partkey
),
n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
reach AS (
  WITH RECURSIVE r(s, d) AS (
    SELECT src, dst FROM e
    UNION
    SELECT r.s, e.dst FROM r JOIN e ON r.d = e.src
  ) SELECT * FROM r
),
mut AS (
  SELECT a.s AS u, a.d AS v
  FROM reach a JOIN reach b ON a.s = b.d AND a.d = b.s
),
scc AS (
  SELECT n.node, LEAST(n.node, COALESCE(MIN(m.v), n.node)) AS scc_id
  FROM n LEFT JOIN mut m ON m.u = n.node
  GROUP BY n.node
),
ce AS (
  SELECT DISTINCT cs.scc_id AS src, cd.scc_id AS dst
  FROM e JOIN scc cs ON cs.node = e.src
         JOIN scc cd ON cd.node = e.dst
  WHERE cs.scc_id <> cd.scc_id
),
lp AS (
  WITH RECURSIVE r2(node, d) AS (
    SELECT src, 0 FROM ce UNION SELECT dst, 0 FROM ce
    UNION
    SELECT ce.dst, r2.d + 1 FROM r2 JOIN ce ON r2.node = ce.src
  ) SELECT node, MAX(d) AS layer FROM r2 GROUP BY node
)
SELECT sz.scc_id,
       CAST(COALESCE(lp.layer, 0) AS INTEGER) AS layer,
       sz.n_members
FROM (SELECT scc_id, COUNT(*) AS n_members FROM scc GROUP BY scc_id) sz
LEFT JOIN lp ON lp.node = sz.scc_id
""")

# The streaming EWMA twin shares the batch oracle verbatim: on an
# in-order replay the stateful automaton's output IS the batch
# operator's, bit for bit (stream == batch contract).
ORACLES["streaming_ewma"] = ORACLES["events_ewma"]

# SRM: same salted md5 assignment, chi-square as exact integer algebra
# over the two user counts, constant critical value (no libm p-value).
ORACLES["events_ab_srm"] = """
WITH u AS (
  SELECT DISTINCT user_id,
         (CAST('0x' || substring(md5('srm-v1:' || CAST(user_id AS VARCHAR)),
                                 1, 15) AS BIGINT) % 1000000) % 2 AS v
  FROM events
),
agg AS (
  SELECT CAST(SUM(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(SUM(CASE WHEN v = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
  FROM u
)
SELECT n_a, n_b,
       ROUND((n_a - n_b) * (n_a - n_b) / (n_a + n_b), 6) AS chi2,
       (ROUND((n_a - n_b) * (n_a - n_b) / (n_a + n_b), 6) > 3.841) AS srm
FROM agg
"""

# MST: the cut property turns the planted construction into an exact
# oracle — the answer IS the rebuilt tree, stated directly in SQL.
ORACLES["graph_mst"] = """
WITH idx AS (
  SELECT p_partkey AS node,
         ROW_NUMBER() OVER (ORDER BY p_partkey) - 1 AS idx
  FROM part
)
SELECT LEAST(c.node, p.node) AS lo,
       GREATEST(c.node, p.node) AS hi,
       CAST(c.idx AS BIGINT) AS w
FROM idx c JOIN idx p ON p.idx = (c.idx - 1) // 2
WHERE c.idx >= 1
"""

# Prefix-filter join: the oracle is the exhaustive theta spelling over
# the same normalized 3-shingle SETS — completeness is the graded claim.
ORACLES["dedup_prefix_filter"] = f"""
WITH w AS (
  SELECT doc_id, string_split({_NORM}, ' ') AS ws FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                        for i in range(1, len(ws) - 1)]) AS ss
  FROM w WHERE len(ws) >= 3
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       ROUND(len(list_intersect(a.ss, b.ss))
             / (len(a.ss) + len(b.ss) - len(list_intersect(a.ss, b.ss))),
             6) AS jaccard
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE len(list_intersect(a.ss, b.ss))
      / (len(a.ss) + len(b.ss) - len(list_intersect(a.ss, b.ss))) >= 0.5
"""


ORACLES["agg_entropy"] = _ENTROPY
ORACLES["agg_chi_squared"] = _CHI2

# Same life-table derivation (epoch-micros integer division), same
# suffix-sum risk set, same 1e-12 bigint quantization of the per-time
# ln and hazard terms as operators.events.survival_km.
ORACLES["events_survival_km"] = _with(_LIFE, _subj(), _PER_T, _KM_RUN, """
SELECT t, n_risk, d AS n_events, c AS n_censored,
       CASE WHEN dead = 1 THEN CAST(0 AS DOUBLE)
            ELSE ROUND(EXP(slnq / 1e12), 6) END AS survival,
       ROUND(shq / 1e12, 6) AS cum_hazard
FROM run
""")

# Identical hourly cents series, identical lag pairing, identical
# six-moment Pearson expression over exactly-converted bigints.
ORACLES["events_autocorr"] = _with(_LAGGED, _LAG_MOMENTS, """
SELECT event_type, lag_k, n_pairs,
  CASE WHEN (CAST(n_pairs AS DOUBLE) * CAST(sxx AS DOUBLE)
             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
        AND (CAST(n_pairs AS DOUBLE) * CAST(syy AS DOUBLE)
             - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
       THEN ROUND((CAST(n_pairs AS DOUBLE) * CAST(sxy AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                  / SQRT((CAST(n_pairs AS DOUBLE) * CAST(sxx AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                         * (CAST(n_pairs AS DOUBLE) * CAST(syy AS DOUBLE)
                            - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
       END AS r
FROM m
""")


# Identical hourly series, identical frame, identical six-moment
# Pearson expression; only full 24-row frames emit.
ORACLES["window_rolling_corr"] = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS bucket,
         CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS x,
         COUNT(*) AS y
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
),
m AS (
  SELECT event_type, bucket,
         COUNT(*) OVER wf AS n,
         CAST(SUM(x) OVER wf AS BIGINT) AS sx,
         CAST(SUM(y) OVER wf AS BIGINT) AS sy,
         CAST(SUM(x * x) OVER wf AS BIGINT) AS sxx,
         CAST(SUM(y * y) OVER wf AS BIGINT) AS syy,
         CAST(SUM(x * y) OVER wf AS BIGINT) AS sxy
  FROM hourly
  WINDOW wf AS (PARTITION BY event_type ORDER BY bucket
                ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
)
SELECT event_type, bucket,
  CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
        AND (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
             - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
       THEN ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                  / SQRT((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                         * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                            - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
       END AS r
FROM m WHERE n = 24
"""

# The salted join is invisible in the result: the oracle is the PLAIN
# inner join + aggregate.
ORACLES["join_skew_salted"] = """
SELECT c.c_nationkey AS nation, COUNT(*) AS n_orders,
       CAST(SUM(CAST(ROUND(o.o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
         AS revenue_cents
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_nationkey
"""

# Same normalize/split tokenization, same (n DESC, word) top-200, same
# 1e-6 ln quantization, same closed-form least-squares expressions.
ORACLES["text_zipf_fit"] = f"""
WITH w AS (SELECT unnest(string_split({_NORM}, ' ')) AS word FROM documents),
c AS (SELECT word, COUNT(*) AS n FROM w GROUP BY word),
top AS (SELECT word, n FROM c ORDER BY n DESC, word LIMIT 200),
rk AS (SELECT n, ROW_NUMBER() OVER (ORDER BY n DESC, word) AS rnk FROM top),
q AS (SELECT CAST(ROUND(LN(CAST(rnk AS DOUBLE)) * 1e6, 0) AS BIGINT) AS xq,
             CAST(ROUND(LN(CAST(n AS DOUBLE)) * 1e6, 0) AS BIGINT) AS yq
      FROM rk),
m AS (SELECT COUNT(*) AS k,
             CAST(SUM(xq) AS BIGINT) AS sx, CAST(SUM(yq) AS BIGINT) AS sy,
             CAST(SUM(xq * xq) AS BIGINT) AS sxx,
             CAST(SUM(xq * yq) AS BIGINT) AS sxy,
             CAST(SUM(yq * yq) AS BIGINT) AS syy
      FROM q)
SELECT k AS n_ranks,
  CASE WHEN (CAST(k AS DOUBLE) * CAST(sxx AS DOUBLE)
             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
       THEN ROUND((CAST(k AS DOUBLE) * CAST(sxy AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                  / (CAST(k AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
       END AS zipf_slope,
  CASE WHEN (CAST(k AS DOUBLE) * CAST(sxx AS DOUBLE)
             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
       THEN ROUND((CAST(sy AS DOUBLE)
                   - (CAST(k AS DOUBLE) * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / (CAST(k AS DOUBLE) * CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                     * CAST(sx AS DOUBLE))
                  / CAST(k AS DOUBLE) / 1e6, 6)
       END AS intercept_ln,
  CASE WHEN (CAST(k AS DOUBLE) * CAST(sxx AS DOUBLE)
             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
        AND (CAST(k AS DOUBLE) * CAST(syy AS DOUBLE)
             - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
       THEN ROUND((CAST(k AS DOUBLE) * CAST(sxy AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                  * (CAST(k AS DOUBLE) * CAST(sxy AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                  / ((CAST(k AS DOUBLE) * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                     * (CAST(k AS DOUBLE) * CAST(syy AS DOUBLE)
                        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
       END AS r2
FROM m
"""

# x<y<z three-way-join triangle enumeration (structurally different
# from the Spark side's degree-ordered wedge algebra), corners exploded
# by a 3-way UNION ALL, identical single-division lcc.
ORACLES["graph_clustering_coeff"] = """
WITH li AS (
  SELECT l_orderkey, l_partkey FROM lineitem WHERE l_quantity >= 40
),
e AS (
  SELECT DISTINCT a.l_partkey AS lo, b.l_partkey AS hi
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
deg AS (
  SELECT node, COUNT(*) AS deg FROM (
    SELECT lo AS node FROM e UNION ALL SELECT hi AS node FROM e
  ) GROUP BY node
),
tri AS (
  SELECT e1.lo AS x, e1.hi AS y, e2.hi AS z
  FROM e e1
  JOIN e e2 ON e1.hi = e2.lo
  JOIN e e3 ON e3.lo = e1.lo AND e3.hi = e2.hi
),
corners AS (
  SELECT x AS node FROM tri
  UNION ALL SELECT y AS node FROM tri
  UNION ALL SELECT z AS node FROM tri
),
t AS (SELECT node, COUNT(*) AS n_tri FROM corners GROUP BY node)
SELECT d.node, d.deg, COALESCE(t.n_tri, 0) AS n_tri,
       CASE WHEN d.deg >= 2
            THEN ROUND(CAST(2 * COALESCE(t.n_tri, 0) AS DOUBLE)
                       / (d.deg * (d.deg - 1)), 6)
            ELSE CAST(0 AS DOUBLE) END AS lcc
FROM deg d LEFT JOIN t USING (node)
"""

# Same md5 bucket (curation._hash_bucket mirror), same (bucket, doc_id)
# order, same exact cumsum, same strict-prefix cutoff.
ORACLES["curation_token_budget"] = f"""
WITH t AS (
  SELECT doc_id, source,
         CAST(len(string_split({_NORM}, ' ')) AS BIGINT) AS n_tokens,
         {_bucket_sql('budget-v1')} AS b
  FROM documents
),
c AS (
  SELECT doc_id, source, n_tokens,
         CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY b, doc_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS BIGINT) AS cum_tokens
  FROM t
)
SELECT doc_id, source, n_tokens, cum_tokens FROM c WHERE cum_tokens <= 600
"""

ORACLES["streaming_ohlc"] = _OHLC

ORACLES["events_attribution"] = _ATTRIBUTION
ORACLES["events_markov_2step"] = _MARKOV2


# Structurally different oracle: exhaustive theta pairing within
# tolerance + one rank pick with the operator's exact tie order
# (|delta| ASC, prior before next, max rid among priors / min among
# nexts), LEFT-joined back so unmatched purchases keep their NULLs.
ORACLES["join_asof_nearest"] = """
WITH l AS (
  SELECT user_id, event_id AS lid, epoch_us(ts) AS lt
  FROM events WHERE event_type = 'purchase'
),
r AS (
  SELECT user_id, event_id AS rid, epoch_us(ts) AS rt
  FROM events WHERE event_type = 'view'
),
pairs AS (
  SELECT l.user_id, l.lid, r.rid,
         r.rt - l.lt AS delta,
         ABS(r.rt - l.lt) AS adelta,
         CASE WHEN r.rt <= l.lt THEN 0 ELSE 1 END AS is_next
  FROM l JOIN r ON l.user_id = r.user_id
  WHERE ABS(r.rt - l.lt) <= 1800000000
),
best AS (
  SELECT lid, rid, delta,
         ROW_NUMBER() OVER (
           PARTITION BY lid
           ORDER BY adelta, is_next,
                    CASE WHEN is_next = 0 THEN -rid ELSE rid END) AS rn
  FROM pairs
)
SELECT l.user_id, l.lid AS event_id, b.rid AS matched_right_id,
       b.delta AS delta_us
FROM l LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON l.lid = b.lid
"""


# Three synchronous LPA rounds as chained CTEs: per round, neighbor
# label counts -> (count DESC, label ASC) rank-1 pick. Every node in
# the edge-derived set has >= 1 neighbor, so no keep-own fallback rows.
ORACLES["graph_label_propagation"] = """
WITH li AS (
  SELECT l_orderkey, l_partkey FROM lineitem WHERE l_quantity >= 40
),
e AS (
  SELECT DISTINCT a.l_partkey AS lo, b.l_partkey AS hi
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
nbr AS (
  SELECT lo AS node, hi AS nb FROM e
  UNION ALL SELECT hi AS node, lo AS nb FROM e
),
r0 AS (SELECT DISTINCT node, node AS label FROM nbr),
c1 AS (SELECT n.node, l.label, COUNT(*) AS c
       FROM nbr n JOIN r0 l ON n.nb = l.node GROUP BY n.node, l.label),
r1 AS (SELECT node, label FROM (
         SELECT node, label,
                ROW_NUMBER() OVER (PARTITION BY node
                                   ORDER BY c DESC, label) AS rn
         FROM c1) WHERE rn = 1),
c2 AS (SELECT n.node, l.label, COUNT(*) AS c
       FROM nbr n JOIN r1 l ON n.nb = l.node GROUP BY n.node, l.label),
r2 AS (SELECT node, label FROM (
         SELECT node, label,
                ROW_NUMBER() OVER (PARTITION BY node
                                   ORDER BY c DESC, label) AS rn
         FROM c2) WHERE rn = 1),
c3 AS (SELECT n.node, l.label, COUNT(*) AS c
       FROM nbr n JOIN r2 l ON n.nb = l.node GROUP BY n.node, l.label),
r3 AS (SELECT node, label FROM (
         SELECT node, label,
                ROW_NUMBER() OVER (PARTITION BY node
                                   ORDER BY c DESC, label) AS rn
         FROM c3) WHERE rn = 1)
SELECT node, label FROM r3
"""


# ---------------------------------------------------------------------------
# Round 13 (second wave) — HITS hubs/authorities (Kleinberg 1999) over
# the directed customer -> supplier purchase graph (the pagerank edge
# set, kept directed): which customers' baskets concentrate on the
# suppliers that the most hub-like customers buy from? Exact integer
# path-count formulation (graph.hits): raw scores after k = 2 rounds
# are alternating-walk counts (bigints), normalization is ONE terminal
# division per side — the oracle unrolls the identical four folds.
# ---------------------------------------------------------------------------
def _graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS (2 rounds, exact integer path counts, terminal max
    normalization) on the directed customer->supplier graph
    (graph.hits)."""
    load(spark, sf_dir)
    e = (
        spark.table("orders")
        .join(
            spark.table("lineitem"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            F.concat(F.lit("c"), F.col("o_custkey")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
        )
        # no .distinct() here (r15): graph.hits dedups its input edge
        # list itself — the doubled distinct cost a full extra exchange
        # + aggregation over the raw join output
    )
    return graph.hits(e, iters=2)


QUERIES["graph_hits"] = _graph_hits
ORACLES["graph_hits"] = """
WITH e AS (
  SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
),
h0 AS (SELECT DISTINCT src AS node, CAST(1 AS BIGINT) AS hv FROM e),
a1 AS (SELECT e.dst AS node, CAST(SUM(h.hv) AS BIGINT) AS av
       FROM e JOIN h0 h ON h.node = e.src GROUP BY e.dst),
h1 AS (SELECT e.src AS node, CAST(SUM(a.av) AS BIGINT) AS hv
       FROM e JOIN a1 a ON a.node = e.dst GROUP BY e.src),
a2 AS (SELECT e.dst AS node, CAST(SUM(h.hv) AS BIGINT) AS av
       FROM e JOIN h1 h ON h.node = e.src GROUP BY e.dst),
h2 AS (SELECT e.src AS node, CAST(SUM(a.av) AS BIGINT) AS hv
       FROM e JOIN a2 a ON a.node = e.dst GROUP BY e.src),
scored AS (
  SELECT 'authority' AS side, node, av AS raw FROM a2
  UNION ALL
  SELECT 'hub' AS side, node, hv AS raw FROM h2
)
SELECT side, node, raw,
       ROUND(CAST(raw AS DOUBLE) / MAX(raw) OVER (PARTITION BY side), 8)
         AS score
FROM scored
"""


# ---------------------------------------------------------------------------
# Round 13 (second wave) — Newman modularity of the 3-round LPA
# partition on the bulk co-purchase graph: the QUALITY score for the
# communities graph_label_propagation emits (graph_louvain ASCENDS
# modularity internally; nothing previously exposed Q for a given
# labeling). Integer e_c/d_c/m folds (graph.modularity), terminal
# per-community contribution; the oracle replays the LPA rounds
# verbatim (marker-composed from ORACLES['graph_label_propagation'],
# so the two spellings cannot drift) and appends the modularity tail.
# ---------------------------------------------------------------------------
def _graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-community modularity contributions of the deterministic
    3-round LPA partition over the bulk co-purchase graph
    (graph.modularity; SUM(contribution) is Q)."""
    load(spark, sf_dir)
    edges = _sparse_copurchase_edges(spark)
    labels = graph.label_propagation(edges, rounds=3)
    return graph.partition_modularity(edges, labels)


QUERIES["graph_modularity"] = _graph_modularity

_LPA_TAIL_MARKER = "SELECT node, label FROM r3"
assert _LPA_TAIL_MARKER in ORACLES["graph_label_propagation"], (
    "LPA oracle terminal SELECT drifted; fix _LPA_TAIL_MARKER"
)
ORACLES["graph_modularity"] = ORACLES["graph_label_propagation"].replace(
    _LPA_TAIL_MARKER,
    """lab AS (SELECT node, label FROM r3),
deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM nbr GROUP BY node),
comm AS (
  SELECT l.label AS community,
         CAST(COUNT(*) AS BIGINT) AS n_nodes,
         CAST(SUM(d.d) AS BIGINT) AS degree_sum
  FROM lab l JOIN deg d ON d.node = l.node
  GROUP BY l.label
),
internal AS (
  SELECT la.label AS community, CAST(COUNT(*) AS BIGINT) AS internal_edges
  FROM e JOIN lab la ON la.node = e.lo
         JOIN lab lb ON lb.node = e.hi
  WHERE la.label = lb.label GROUP BY la.label
),
mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM e)
SELECT c.community, c.n_nodes,
       COALESCE(i.internal_edges, 0) AS internal_edges,
       c.degree_sum,
       ROUND(CAST(COALESCE(i.internal_edges, 0) AS DOUBLE) / m
             - (CAST(c.degree_sum AS DOUBLE) / (2 * m))
               * (CAST(c.degree_sum AS DOUBLE) / (2 * m)), 6) + 0.0
         AS contribution
FROM comm c LEFT JOIN internal i ON i.community = c.community
CROSS JOIN mm""",
)
# the replace target sits inside a CTE chain: r3 was the final SELECT,
# so the tail re-opens it as `lab AS (...)` — prepend the comma the
# original terminal SELECT did not need.
ORACLES["graph_modularity"] = ORACLES["graph_modularity"].replace(
    "FROM c3) WHERE rn = 1)\nlab AS", "FROM c3) WHERE rn = 1),\nlab AS"
)

# ---------------------------------------------------------------------------
# Round-12 split (VERDICT r11 ask #6): the round-8+ additions live in the
# family modules queries/pipeline_{stats,eval,forecast,metrics}.py (moved
# verbatim — zero query renames, zero spelling changes). Merge their
# registries here so the public surface (pipeline.QUERIES / pipeline.ORACLES
# / `from ...queries.pipeline import _MANN_WHITNEY`) is byte-identical to
# the pre-split module: private helpers are re-exported into this namespace
# so existing import sites (tests, tools) resolve unchanged.
# ---------------------------------------------------------------------------
from datafusion_gpu_spark.queries import pipeline_diag as _m_diag  # noqa: E402
from datafusion_gpu_spark.queries import pipeline_eval as _m_eval  # noqa: E402
from datafusion_gpu_spark.queries import pipeline_forecast as _m_forecast  # noqa: E402
from datafusion_gpu_spark.queries import pipeline_metrics as _m_metrics  # noqa: E402
from datafusion_gpu_spark.queries import pipeline_stats as _m_stats  # noqa: E402

def _merge_family_exports(target: dict, modules) -> None:
    """Merge the family modules' QUERIES/ORACLES and re-export their
    private helpers into ``target`` (this module's globals). A name
    already in ``target`` before any merge (QUERIES, ORACLES, imports)
    stays authoritative; a family-module name merges once. ADVICE r12
    #2: a name defined with DIFFERENT bodies in two family modules
    raises instead of silently keeping whichever merged first —
    identical objects (shared imports: load, sql_query, SparkSession,
    ...) are fine; a real divergence is an error, not a coin flip."""
    merged_from: dict[str, str] = {}
    for m in modules:
        target["QUERIES"].update(m.QUERIES)
        target["ORACLES"].update(m.ORACLES)
        for k, v in vars(m).items():
            if k.startswith("__"):
                continue
            if k in merged_from and target[k] is not v:
                raise ImportError(
                    f"queries.pipeline re-export collision: {k!r} defined "
                    f"with different bodies in {merged_from[k]} and "
                    f"{m.__name__}"
                )
            if k not in target:
                target[k] = v
                merged_from[k] = m.__name__


_merge_family_exports(
    globals(), (_m_stats, _m_eval, _m_forecast, _m_metrics, _m_diag)
)
