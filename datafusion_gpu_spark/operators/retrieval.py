"""Ranked retrieval over the corpus: BM25 scoring.

The reference engine's surface is SQL analytics; a training-data
pipeline additionally needs lightweight corpus retrieval (inspecting
near-neighbors of an eval prompt, mining hard negatives, building
dedup-audit samples). BM25 is the standard lexical ranker and is fully
relational: term frequencies, document frequencies, and length
normalization are three aggregates and two joins — no index structure,
no Python, exactly replayable by a SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datafusion_gpu_spark.operators.dedup import normalize_text
from datafusion_gpu_spark.operators.util import cuts, owns_cuts


def tfidf_top_terms(
    docs: DataFrame, k: int = 5, min_df: int = 2, text_col: str = "text"
) -> DataFrame:
    """Top-k characteristic terms per document by TF-IDF — the standard
    keyword-extraction / doc-vector step before clustering or topic
    labeling a training corpus.

    tf = in-doc count; idf = ln((N + 1) / (df + 1)) + 1 (the smoothed
    variant, always > 0, so rare-term spam can't divide by zero);
    ``min_df`` drops hapax noise. Shape at scale: one explode, two
    map-side-combining group-bys (doc term counts; corpus df), the df
    relation is vocabulary-sized and broadcast, and the per-doc top-k
    window partitions by doc_id — rows per partition bounded by distinct
    terms per doc, never corpus size. Ranking is (tfidf DESC, term ASC)
    on the rounded score so the oracle's fold order can't flip ties.
    """
    from datafusion_gpu_spark.context import ensure_parallelism
    from pyspark.sql.window import Window

    docs = ensure_parallelism(docs)
    words = docs.select(
        "doc_id", F.explode(F.split(normalize_text(F.col(text_col)), " ")).alias("word")
    )
    tf = words.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    df_t = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df")).where(
        F.col("df") >= min_df
    )
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df_t), "word")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "word",
            "tf",
            F.round(
                F.col("tf")
                * (F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("word"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("doc_id", "word", "tf", "tfidf", "rank")
    )


@owns_cuts
def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
) -> DataFrame:
    """Top-k documents by BM25 (Robertson/Sparck Jones, the Lucene
    ``ln(1 + (N - df + 0.5)/(df + 0.5))`` IDF variant) for a bag of
    query terms.

    Shape at scale (respelled r15, guide §2.3/§2.4/§5): the corpus is
    scanned ONCE — per-doc length and per-query-term counts are pure
    array expressions over the split words (``size(w) -
    size(array_remove(w, term))`` per term — the term list is a literal
    bag, so tf needs no explode and no (doc_id, word) shuffle), and
    that narrow per-doc relation (doc_id, dl, |terms| counts) is
    materialized once and feeds the (N, avgdl) scalars, the document
    frequencies, and the scoring pass. The old spelling re-ran the scan + normalize + split
    4x (lens, stats, tf's explode, df_t) and paid a corpus-keyed
    groupBy(doc_id, word) for tf. Document frequencies and the
    (N, avgdl) scalars are dimension-sized aggregates that broadcast;
    the only remaining shuffle is the query-term-doc-sized per-doc
    score sum, and the top-k is TakeOrderedAndProject (per-partition
    heaps), never a global sort. Scores round(6) so the DuckDB
    oracle's fold order can't flip ties; doc_id breaks remaining ties.
    """
    from datafusion_gpu_spark.context import ensure_parallelism

    docs = ensure_parallelism(docs)
    ckpt = cuts(docs)
    terms = list(dict.fromkeys(query_terms))  # dedupe, keep order

    # normalize+split ONCE per row into a real column so the regex-heavy
    # tokenization is not re-run per term; tf(t) is the codegen-friendly
    # size(w) - size(array_remove(w, t)) — the first r15 attempt used a
    # higher-order filter(w, x -> x = t), whose interpreted per-element
    # lambda cost MORE than the old explode+shuffle spelling (measured
    # +27%; backed out per guide §1).
    # Bound: map-side work is O(doc_length x n_terms) and the struct
    # array is n_terms wide — right for the ad-hoc query bags this
    # serves (n_terms ~ 10^0-10^2). A RETRIEVAL EVALUATION workload
    # (thousands of query terms at once) should fall back to the
    # explode + groupBy(doc, word) + isin spelling, which scales with
    # corpus token count instead of terms x tokens.
    split_docs = docs.select(
        "doc_id", F.split(normalize_text(F.col(text_col)), " ").alias("w")
    )
    per_doc = ckpt(
        split_docs.select(
            "doc_id",
            F.size("w").alias("dl"),
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("word"),
                        (
                            F.size("w") - F.size(F.array_remove("w", t))
                        ).cast("long").alias("tf"),
                    )
                    for t in terms
                ]
            ).alias("tfs"),
        )
    )
    stats = per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )

    tf = (
        per_doc.select("doc_id", "dl", F.explode("tfs").alias("kv"))
        .select("doc_id", "dl", F.col("kv.word").alias("word"),
                F.col("kv.tf").alias("tf"))
        .where(F.col("tf") > 0)
    )
    df_t = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))

    idf = F.log(
        1.0
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    tf_norm = (
        F.col("tf")
        * (k1 + 1.0)
        / (
            F.col("tf")
            + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
        )
    )
    scored = (
        tf.join(F.broadcast(df_t), "word")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.round(F.sum(idf * tf_norm), 6).alias("bm25"))
    )
    return scored.orderBy(F.col("bm25").desc(), "doc_id").limit(k)
