"""Brute-force DataFrame BM25 scorer — the rank-identity oracle.

The reference validates sharded search against a single monolithic Lucene
index over the same documents (LuceneComplianceTest.java:107-190: equal
totalHits, equal per-hit scores). We do the same: this module scores with
plain declarative DataFrame ops (explode → agg → join → orderBy), letting
Catalyst plan it; query.py's compressed-index WAND path must reproduce its
top-k docIDs and scores exactly.

Tie-break (Hit.java:150-162): score DESC, doc_id ASC, shard_id DESC.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from katta_spark.scoring import idf_col, tf_norm_col
from katta_spark.tokenizer import tokenize_col


def with_doc_ids(transcripts: DataFrame, num_shards: int) -> DataFrame:
    """Assign the stable 64-bit docID and shard.

    doc_id = xxhash64(conv_id, turn_idx) under stable (conv_id, turn_idx)
    ordering — the per-turn text-equality invariant key (north rule); the
    reference's analog is the immutable-shard-snapshot assumption.
    shard_id = pmod(doc_id, num_shards): deterministic, uniform — replaces
    Katta's DefaultDistributionPolicy round-robin (SURVEY.md §2.10 B3).
    """
    return transcripts.withColumn(
        "doc_id", F.xxhash64(F.col("conv_id"), F.col("turn_idx"))
    ).withColumn("shard_id", F.pmod(F.col("doc_id"), F.lit(num_shards)).cast("int"))


def corpus_tokens(docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """(doc_id, term, tf, doclen) — exploded term frequencies per document."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        tokenize_col(F.col(text_col)).alias("tokens"),
    ).withColumn("doclen", F.size("tokens"))
    return (
        # explode_outer + isNotNull: keeps InferFiltersFromGenerate from
        # duplicating the tokenize into an interpreted pre-Generate filter
        toks.select(
            "doc_id", "doclen", F.explode_outer("tokens").alias("term")
        )
        .where(F.col("term").isNotNull())
        .groupBy("doc_id", "doclen", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def bm25_topk(
    docs: DataFrame,
    query: str,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    shard_col: str | None = None,
    score_dtype: str = "float",
    keyword_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Exact BM25 top-k over any (id, text) DataFrame, pure DataFrame ops.

    Plan shape at scale: one scan of docs (columns pruned to id+text), one
    explode+partial/final hash agg for tf, a *broadcast* join against the
    handful of query terms (J3 in SURVEY.md §2.3 — the df-map join), one
    hash agg per doc, then TakeOrderedAndProject for the distributed top-k
    merge (T4/T5). No shuffle of the corpus beyond the tf aggregation.

    avgdl ≡ total default-field tokens / n_docs (all docs, empty included)
    — the engine's exact definition. ``keyword_cols`` mirror the index's
    NOT_ANALYZED fields: term "field:value", tf=1, dl=1.
    """
    from katta_spark.query import parse_query

    spark = docs.sparkSession
    qw = parse_query(query, keyword_cols)
    if not qw:
        qw = {"\x00-no-such-term": 1.0}
    qterms = spark.createDataFrame(
        [(t, float(w)) for t, w in qw.items()], "term string, qweight double"
    )

    n_docs = docs.count()
    tf = corpus_tokens(docs, id_col, text_col)
    tot_row = tf.agg(F.sum("tf").alias("tot")).collect()[0]
    avgdl = float(tot_row["tot"] or 0) / n_docs if n_docs else 1.0
    if avgdl == 0.0:
        avgdl = 1.0
    for fld in keyword_cols:
        kw = docs.where(F.col(fld).isNotNull()).select(
            F.col(id_col).alias("doc_id"),
            F.lit(1).alias("doclen"),
            F.concat(F.lit(fld + ":"), F.col(fld).cast("string")).alias("term"),
            F.lit(1).alias("tf"),
        )
        tf = tf.unionByName(kw.select("doc_id", "doclen", "term", "tf"))

    stats = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))

    scored = (
        tf.join(F.broadcast(qterms), "term")
        .join(F.broadcast(stats.join(F.broadcast(qterms), "term").select("term", "df")), "term")
        .withColumn(
            "contrib",
            F.col("qweight")
            * idf_col(F.col("df"), F.lit(n_docs))
            * tf_norm_col(F.col("tf"), F.col("doclen"), F.lit(avgdl)),
        )
        .groupBy("doc_id")
        .agg(F.sum("contrib").alias("score_d"))
    )
    if shard_col is not None:
        shards = docs.select(F.col(id_col).alias("doc_id"), F.col(shard_col).alias("shard_id"))
        scored = scored.join(shards, "doc_id")
        order = [F.col("score").desc(), F.col("doc_id").asc(), F.col("shard_id").desc()]
        cols = ["doc_id", "shard_id", "score"]
    else:
        order = [F.col("score").desc(), F.col("doc_id").asc()]
        cols = ["doc_id", "score"]
    return (
        scored.withColumn("score", F.col("score_d").cast(score_dtype))
        .select(*cols)
        .orderBy(*order)
        # at most n_docs docs can score; Spark's takeOrdered allocates 2·k
        # slots per task, so an "every hit" k such as 10**9 would ask for
        # gigabytes of heap
        .limit(min(k, n_docs))
    )
