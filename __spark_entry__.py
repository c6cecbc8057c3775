"""Driver contract for the spark-graft builder (PySpark target).

Every entry exercises an operator from SURVEY.md §2 (or a training-data op)
through the real engine (katta_spark) over the driver's parquet tables, with
an exact DuckDB oracle. BM25 queries run the full compressed-index path
(build → postings → Arrow kernel → top-k merge), with float64 scores
rounded to 4 decimals for cross-engine comparison (the Katta-parity float32
path is covered by tests/test_rank_identity.py).
"""

from __future__ import annotations

import hashlib
import os
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import katta_spark.build as ksb
import katta_spark.query as ksq
import katta_spark.similarity as sim
import katta_spark.textops as tx
from katta_spark.tokenizer import TOKENIZE_SQL_DUCKDB

_INDEX_CACHE: dict[str, str] = {}

# ---------------------------------------------------------------- helpers


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))


def _index_dir(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per sf_dir per process) the inverted index over the
    documents table. The build is resumable, so a pre-existing directory
    from an earlier run is reused via lineage (batches all skipped)."""
    if sf_dir in _INDEX_CACHE:
        return _INDEX_CACHE[sf_dir]
    key = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    # dir name versioned by build params: a leftover tempdir from an
    # older round (different docvalue_cols) must not trip the resume
    # parameter guard — it would refuse, not silently mismatch
    d = os.path.join(tempfile.gettempdir(), f"katta_idx_v2_{key}")
    ksb.build_index(
        spark, _docs(spark, sf_dir), d, num_shards=4, doc_id_col="doc_id",
        docvalue_cols=("n_chars", "lang"),
    )
    _INDEX_CACHE[sf_dir] = d
    return d


_FIELD_INDEX_CACHE: dict[str, str] = {}


def _field_index_dir(spark: SparkSession, sf_dir: str) -> str:
    """Index over documents with NOT_ANALYZED keyword fields lang/source
    (multi-field postings — reference SampleIndexGenerator.java:75-78)."""
    if sf_dir in _FIELD_INDEX_CACHE:
        return _FIELD_INDEX_CACHE[sf_dir]
    key = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    d = os.path.join(tempfile.gettempdir(), f"katta_idx_{key}_fld")
    ksb.build_index(
        spark, _docs(spark, sf_dir), d, num_shards=4, doc_id_col="doc_id",
        keyword_cols=("lang", "source"),
    )
    _FIELD_INDEX_CACHE[sf_dir] = d
    return d


_ANN_CACHE: dict[str, str] = {}


def _ann_dir(spark: SparkSession, sf_dir: str) -> str:
    """Bucket-partitioned ANN index over the embeddings table, built once
    per sf_dir (the scale path: queries scan only their probe buckets)."""
    if sf_dir in _ANN_CACHE:
        return _ANN_CACHE[sf_dir]
    key = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    d = os.path.join(tempfile.gettempdir(), f"katta_ann_{key}")
    if not os.path.exists(os.path.join(d, "ANN_META.json")):
        sim.build_ann_index(_emb(spark, sf_dir), d, dim=64, planes=6, seed=7)
    _ANN_CACHE[sf_dir] = d
    return d


_SPLIT_CACHE: dict[str, tuple[str, str]] = {}


def _split_index_dirs(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Two half-corpus indexes (doc_id parity split) — the
    LuceneComplianceTest pattern: searching both together must equal the
    whole-corpus result because stats aggregate across indexes."""
    if sf_dir in _SPLIT_CACHE:
        return _SPLIT_CACHE[sf_dir]
    key = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    docs = _docs(spark, sf_dir)
    dirs = []
    for parity in (0, 1):
        # v2: carries docvalue sidecars (the sorted_search_str gate's
        # multi-index leg sorts across the splits); versioned name so a
        # leftover pre-dv dir can't trip the resume parameter guard
        d = os.path.join(
            tempfile.gettempdir(), f"katta_idx_v2_{key}_p{parity}"
        )
        ksb.build_index(
            spark,
            docs.where(F.pmod(F.col("doc_id"), F.lit(2)) == parity),
            d,
            num_shards=2,
            doc_id_col="doc_id",
            docvalue_cols=("n_chars", "lang"),
        )
        dirs.append(d)
    _SPLIT_CACHE[sf_dir] = (dirs[0], dirs[1])
    return _SPLIT_CACHE[sf_dir]


_COMPACT_CACHE: dict[str, str] = {}


def _compacted_dir(spark: SparkSession, sf_dir: str) -> str:
    """Compaction of the two split indexes (the optimize() analog,
    IndexerJob.java:118-179): merged once per sf_dir from the postings
    union, no retokenize."""
    if sf_dir in _COMPACT_CACHE:
        return _COMPACT_CACHE[sf_dir]
    import katta_spark.compact as kc

    a, b = _split_index_dirs(spark, sf_dir)
    key = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    d = os.path.join(tempfile.gettempdir(), f"katta_idx_{key}_merged")
    if not os.path.exists(os.path.join(d, "corpus.parquet", "_SUCCESS")):
        import shutil

        shutil.rmtree(d, ignore_errors=True)
        kc.compact(spark, [a, b], d)
    _COMPACT_CACHE[sf_dir] = d
    return d


_DELETED_CACHE: dict[str, tuple[str, str]] = {}

# deterministic takedown set for the deletion legs of compact_search:
# documents with doc_id % 17 == 0 (doc_ids are non-negative, so Spark
# pmod == DuckDB %)
_DEL_WHERE = "doc_id % 17 != 0"


def _deleted_dirs(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """(tombstoned copy of the compacted index, its expunged output) —
    the Lucene delete-then-expunge lifecycle (IndexWriter.deleteDocuments
    → liveDocs skip with STALE stats → expungeDeletes): built once per
    sf_dir; delete_docs marks doc_id % 17 == 0, expunge folds them in."""
    if sf_dir in _DELETED_CACHE:
        return _DELETED_CACHE[sf_dir]
    import shutil

    import katta_spark.compact as kcomp
    import katta_spark.delete as kdel

    src = _compacted_dir(spark, sf_dir)
    key = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    d_del = os.path.join(tempfile.gettempdir(), f"katta_idx_{key}_del")
    d_exp = os.path.join(tempfile.gettempdir(), f"katta_idx_{key}_expg")
    done = os.path.exists(
        os.path.join(d_exp, "corpus.parquet")
    ) and os.path.isdir(os.path.join(d_del, "tombstones.parquet"))
    if not done:
        shutil.rmtree(d_del, ignore_errors=True)
        shutil.rmtree(d_exp, ignore_errors=True)
        shutil.copytree(src, d_del)
        kdel.delete_docs(
            spark, d_del, _docs(spark, sf_dir).where("doc_id % 17 = 0")
        )
        kcomp.expunge(spark, d_del, d_exp)
    _DELETED_CACHE[sf_dir] = (d_del, d_exp)
    return d_del, d_exp


def _bm25(spark: SparkSession, sf_dir: str, q: str, k: int, mode: str = "or") -> DataFrame:
    hits = ksq.search(
        spark, _index_dir(spark, sf_dir), q, k=k, mode=mode, score_dtype="float64"
    )
    return hits.select("doc_id", F.round("score", 4).alias("score_r"))


_TOK = TOKENIZE_SQL_DUCKDB.format(col="text")

# Shared DuckDB CTE prologue: tokens, tf, dl, corpus scalars.
_BM25_CTE = f"""
WITH tok AS (
  SELECT doc_id, unnest({_TOK}) AS term FROM documents
),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY 1),
corpus AS (
  -- avgdl = total tokens / n_docs (all docs, empty included) — the
  -- engine's exact definition (build.py phase 3)
  SELECT (SELECT count(*) FROM documents)::DOUBLE AS n,
         (SELECT coalesce(sum(dl), 0) FROM dl)
           / (SELECT count(*) FROM documents) AS avgdl
),
q(term, qw) AS (VALUES {{qvalues}}),
idf AS (
  SELECT s.term, ln(1 + (c.n - s.df + 0.5) / (s.df + 0.5)) AS idf
  FROM (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1) s, corpus c
  WHERE s.term IN (SELECT term FROM q)
),
scores AS (
  SELECT tf.doc_id,
         sum(q.qw * idf.idf * (tf.tf * 2.2)
             / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / c.avgdl))) AS s
         {{extra_agg}}
  FROM tf JOIN q USING (term) JOIN idf USING (term)
       JOIN dl USING (doc_id), corpus c
  GROUP BY tf.doc_id
  {{having}}
)
SELECT doc_id, round(s, 4) AS score_r{{total_col}} FROM scores
{{filter_clause}}
ORDER BY s DESC, doc_id ASC LIMIT {{k}}
"""


# Field-aware variant: the term space is the union of analyzed text tokens
# (tf, dl from the text) and keyword-field terms 'field:value' (tf=1, dl=1)
# — exactly the engine's multi-field postings model.
_BM25_FIELD_CTE = f"""
WITH tok AS (
  SELECT doc_id, unnest({_TOK}) AS term FROM documents
),
tf0 AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY 1),
corpus AS (
  SELECT (SELECT count(*) FROM documents)::DOUBLE AS n,
         (SELECT coalesce(sum(dl), 0) FROM dl)
           / (SELECT count(*) FROM documents) AS avgdl
),
ptf AS (
  SELECT tf0.doc_id, tf0.term, tf0.tf, dl.dl FROM tf0 JOIN dl USING (doc_id)
  UNION ALL
  SELECT doc_id, 'lang:' || lang, 1.0, 1.0 FROM documents WHERE lang IS NOT NULL
  UNION ALL
  SELECT doc_id, 'source:' || source, 1.0, 1.0 FROM documents
  WHERE source IS NOT NULL
),
q(term, qw) AS (VALUES {{qvalues}}),
idf AS (
  SELECT s.term, ln(1 + (c.n - s.df + 0.5) / (s.df + 0.5)) AS idf
  FROM (SELECT term, count(*)::DOUBLE AS df FROM ptf GROUP BY 1) s, corpus c
  WHERE s.term IN (SELECT term FROM q)
),
scores AS (
  SELECT ptf.doc_id,
         sum(q.qw * idf.idf * (ptf.tf * 2.2)
             / (ptf.tf + 1.2 * (0.25 + 0.75 * ptf.dl / c.avgdl))) AS s
  FROM ptf JOIN q USING (term) JOIN idf USING (term), corpus c
  GROUP BY ptf.doc_id
  {{having}}
)
SELECT doc_id, round(s, 4) AS score_r FROM scores
ORDER BY s DESC, doc_id ASC LIMIT {{k}}
"""


def _bm25_field_sql(
    terms: list[tuple[str, float]], k: int, conjunctive: bool = False
) -> str:
    qvalues = ", ".join(f"('{t}', {w:.1f})" for t, w in terms)
    n_distinct = len({t for t, _ in terms})
    having = (
        f"HAVING count(DISTINCT ptf.term) = {n_distinct}" if conjunctive else ""
    )
    return _BM25_FIELD_CTE.format(qvalues=qvalues, k=k, having=having)


def _bm25_sql(
    terms: list[tuple[str, float]],
    k: int,
    conjunctive: bool = False,
    filter_clause: str = "",
    total: bool = False,
    having: str | None = None,
) -> str:
    qvalues = ", ".join(f"('{t}', {w:.1f})" for t, w in terms)
    n_distinct = len({t for t, _ in terms})
    if having is None:
        having = (
            f"HAVING count(DISTINCT tf.term) = {n_distinct}"
            if conjunctive
            else ""
        )
    total_col = ", (SELECT count(*) FROM scores) AS total_hits" if total else ""
    return _BM25_CTE.format(
        qvalues=qvalues, k=k, having=having, extra_agg="",
        filter_clause=filter_clause, total_col=total_col,
    )


# ---------------------------------------------------------------- contract


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full inverted-index BM25 top-10 with stored-field details
    (build → WAND kernel → top-k merge → details join) on sf0.001."""
    sf_dir = "/root/testdata/sf0.001"
    docs = _docs(spark, sf_dir)
    hits = ksq.search(spark, _index_dir(spark, sf_dir), "join hash customer", k=10)
    # inner join with the tiny top-k as the broadcast (build) side — hits
    # are by construction drawn from the corpus, so inner == left here.
    return (
        docs.select("doc_id", "lang", "source")
        .join(F.broadcast(hits), "doc_id")
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

    # ---- engine core (SURVEY.md §2: A2, F1)
    def term_stats(spark, sf):
        """Tagged union (50-gate cap): variant='stats' = A2 global df/cf
        aggregation read from the built stats table (doc_id=0, a=df,
        b=cf); variant='vector' = per-doc TERM VECTORS decoded back out
        of the postings (query.term_vectors — the index as a sparse
        feature store; doc subset doc_id %% 97 == 0; a=tf, b=dl)."""
        d = _index_dir(spark, sf)
        stats = (
            spark.read.parquet(os.path.join(d, "stats.parquet"))
            .orderBy(F.col("df").desc(), F.col("term").asc())
            .limit(100)
            .select(
                F.lit("stats").alias("variant"),
                F.lit(0).cast("long").alias("doc_id"),
                "term",
                F.col("df").cast("long").alias("a"),
                F.col("cf").cast("long").alias("b"),
            )
        )
        some = [
            r.doc_id
            for r in _docs(spark, sf).where("doc_id % 97 = 0").collect()
        ]
        vec = ksq.term_vectors(spark, d, doc_ids=some).select(
            F.lit("vector").alias("variant"),
            "doc_id",
            "term",
            F.col("tf").alias("a"),
            F.col("dl").alias("b"),
        )
        return stats.unionByName(vec)

    q["term_stats"] = term_stats

    def corpus_stats(spark, sf):
        """Corpus scalars N / avgdl (broadcast side data for scoring)."""
        d = _index_dir(spark, sf)
        return spark.read.parquet(os.path.join(d, "corpus.parquet")).select(
            "n_docs", F.round("avgdl", 4).alias("avgdl_r")
        )

    q["corpus_stats"] = corpus_stats

    # ---- BM25 search paths (T1-T7, J1, J3, F3)
    q["bm25_top10"] = lambda s, sf: _bm25(s, sf, "join hash", 10)
    q["bm25_multi"] = lambda s, sf: _bm25(s, sf, "customer order data filter", 15)
    q["bm25_dupterm"] = lambda s, sf: _bm25(s, sf, "join join scan", 10)
    q["bm25_conjunctive"] = lambda s, sf: _bm25(s, sf, "join hash scan merge", 10, mode="and")
    q["bm25_absent"] = lambda s, sf: _bm25(s, sf, "zzzqqqxxx", 10)

    def bm25_field(spark, sf):
        """F2/P2: field-qualified query over multi-field keyword postings
        (Katta.java:825-826 field:term parsing) — the field term scores
        like any term (tf=1, dl=1, its own df/idf)."""
        hits = ksq.search(
            spark, _field_index_dir(spark, sf), "source:src7 merge join",
            k=10, score_dtype="float64",
        )
        return hits.select("doc_id", F.round("score", 4).alias("score_r"))

    q["bm25_field"] = bm25_field

    def bm25_field_restricted(spark, sf):
        """Field-restricted conjunctive search: lang:en AND join AND hash —
        the filter-as-query shape of LuceneClientTest.java:562-617."""
        hits = ksq.search(
            spark, _field_index_dir(spark, sf), "lang:en join hash",
            k=10, mode="and", score_dtype="float64",
        )
        return hits.select("doc_id", F.round("score", 4).alias("score_r"))

    q["bm25_field_restricted"] = bm25_field_restricted

    def filtered_search(spark, sf):
        """P2: predicate-shaped filter (Katta's Filter, LuceneServer.java:
        334-345) — each shard's group of allowed docIDs runs that shard's
        task as the kernel's allowed set; the surviving docs' scores are
        unchanged; no id goes via the driver."""
        docs = _docs(spark, sf)
        allowed = docs.where(F.pmod(F.col("n_chars"), F.lit(2)) == 0)
        hits = ksq.search(
            spark, _index_dir(spark, sf), "join hash", k=10,
            score_dtype="float64", filter_df=allowed,
        )
        return hits.select("doc_id", F.round("score", 4).alias("score_r"))

    q["filtered_search"] = filtered_search

    def bm25_total(spark, sf):
        """Tagged union (50-gate cap). leg='top': A3/A4 top-k + exact
        totalHits in ONE job (Hits.java:34-51). leg='page2': result
        PAGING, shallow form — search(offset=10) = Lucene's
        TopScoreDocCollector over offset+k then slice; totals unchanged
        by the page. leg='cursor': deep form — search_after(after=last
        hit of page 1) = IndexSearcher.searchAfter, per-shard emission
        stays at k at any depth; same rows as page2 (oracle: OFFSET 10),
        totals not tracked (NULL, Lucene parity)."""
        d = _index_dir(spark, sf)
        top = ksq.search_with_total(
            spark, d, "join hash", k=10, score_dtype="float64"
        ).select(
            F.lit("top").alias("leg"), "doc_id",
            F.round("score", 4).alias("score_r"), "total_hits",
        )
        page2 = ksq.search_with_total(
            spark, d, "join hash", k=10, offset=10, score_dtype="float64"
        ).select(
            F.lit("page2").alias("leg"), "doc_id",
            F.round("score", 4).alias("score_r"), "total_hits",
        )
        p1 = ksq.search(
            spark, d, "join hash", k=10, score_dtype="float64"
        ).collect()
        last = p1[-1]
        cur = ksq.search_after(
            spark, d, "join hash",
            (last["score"], last["doc_id"], last["shard_id"]),
            k=10, score_dtype="float64",
        ).select(
            F.lit("cursor").alias("leg"), "doc_id",
            F.round("score", 4).alias("score_r"),
            F.lit(None).cast("long").alias("total_hits"),
        )
        return top.unionByName(page2).unionByName(cur)

    q["bm25_total"] = bm25_total

    def bm25_not(spark, sf):
        """Tagged union (50-gate cap) — the three clause-level boolean
        refinements of Lucene's QueryParser surface (Katta hands query
        strings to it verbatim, Katta.java:825-826).
        variant='not': MUST_NOT (-term) — docs with the excluded term
        are dropped inside the shard kernels, survivors' scores
        unchanged. variant='msm':
        BooleanQuery.setMinimumNumberShouldMatch(2) over four SHOULD
        terms — a doc must hold >= 2 DISTINCT optional clauses; scores
        are the plain OR scores. variant='syn': SynonymQuery blended
        scoring ('join' expands to the group (join, hash)): the group
        scores as ONE pseudo-term with tf = sum of member tfs and
        df = max member global df (SynonymQuery.java docFreq), beside a
        plain 'merge' clause."""
        d = _index_dir(spark, sf)
        nt = ksq.search(
            spark, d, "join hash -scan", k=10, score_dtype="float64"
        ).select(
            F.lit("not").alias("variant"), "doc_id",
            F.round("score", 4).alias("score_r"),
        )
        ms = ksq.search(
            spark, d, "join hash scan filter", k=10, min_should_match=2,
            score_dtype="float64",
        ).select(
            F.lit("msm").alias("variant"), "doc_id",
            F.round("score", 4).alias("score_r"),
        )
        sy = ksq.search(
            spark, d, "join merge", k=10, synonyms={"join": ["hash"]},
            score_dtype="float64",
        ).select(
            F.lit("syn").alias("variant"), "doc_id",
            F.round("score", 4).alias("score_r"),
        )
        return nt.unionByName(ms).unionByName(sy)

    q["bm25_not"] = bm25_not

    def bm25_phrase(spark, sf):
        """F2 phrase clauses, exact AND sloppy in one gate (folded to fit
        the 50-gate driver cap), executed ENTIRELY against the index's
        positional postings (Lucene runs PhraseQuery per shard with no
        stored-text access, LuceneServer.java:682). 'exact':
        '"join hash"' as consecutive tokens. 'slop': '"join scan"~3' with
        SloppyPhraseMatcher semantics — token positions adjusted by
        phrase offset, match iff span(adj) <= slop (reorderings cost
        their displacement). 'merge' scores as SHOULD in both."""
        out = []
        for tag, qs in (
            ("exact", '"join hash" merge'),
            ("slop", '"join scan"~3 merge'),
        ):
            hits = ksq.search(
                spark, _index_dir(spark, sf), qs, k=10,
                score_dtype="float64",
            )
            out.append(
                hits.select(
                    "doc_id", F.round("score", 4).alias("score_r")
                ).withColumn("variant", F.lit(tag))
            )
        return out[0].unionByName(out[1])

    q["bm25_phrase"] = bm25_phrase

    def bm25_phrase_multi(spark, sf):
        """Phrases over a LIST of indexes (the r3 refusal lifted by
        positional postings): split-corpus phrase search must equal the
        whole-corpus answer — in-kernel positional verify + cross-index
        stats."""
        a, b = _split_index_dirs(spark, sf)
        hits = ksq.search_multi(
            spark, [a, b], '"join hash" merge', k=10, score_dtype="float64"
        )
        return hits.select("doc_id", F.round("score", 4).alias("score_r"))

    q["bm25_phrase_multi"] = bm25_phrase_multi

    def bm25_phrase_total(spark, sf):
        """Top-k + exact totalHits for a PHRASE query in one job (the r3
        'no totalHits for phrases' refusal lifted: shard totals are
        counted after the in-kernel positional verify)."""
        out = ksq.search_with_total(
            spark, _index_dir(spark, sf), '"join hash" merge', k=10,
            score_dtype="float64",
        )
        return out.select(
            "doc_id", F.round("score", 4).alias("score_r"), "total_hits"
        )

    q["bm25_phrase_total"] = bm25_phrase_total

    def bm25_tree(spark, sf):
        """F2 grouped boolean query '(join AND hash) OR merge NOT scan'
        (Lucene QueryParser explicit grammar, occur-flag NOT): a doc
        matches if (join∧hash)∨merge and not scan; a failed AND group
        contributes NOTHING to the score even when one term is present
        (BooleanQuery path-sum scoring)."""
        hits = ksq.search(
            spark, _index_dir(spark, sf),
            "(join AND hash) OR merge NOT scan", k=10,
            score_dtype="float64",
        )
        return hits.select("doc_id", F.round("score", 4).alias("score_r"))

    q["bm25_tree"] = bm25_tree

    def bm25_batch(spark, sf):
        """Batch query execution: MANY queries in ONE Spark job (the
        LuceneSearchPerformanceTest throughput shape) — one shard-local
        stage reads the union of terms, per-shard kernel scores every
        query, a driver-side per-query merge. The batch mixes flat, boolean
        (+MUST/-MUST_NOT), grouped AND/OR/NOT, and PHRASE queries —
        operators amortize too (r3 was flat-only)."""
        out = ksq.search_batch(
            spark, _index_dir(spark, sf),
            ["join hash", "merge batch", "customer order",
             "+join -scan merge", "(join AND hash) OR merge NOT scan",
             '"join hash" merge'],
            k=5, score_dtype="float64",
        )
        return out.select(
            "query_id", "doc_id", F.round("score", 4).alias("score_r")
        )

    q["bm25_batch"] = bm25_batch

    def bm25_total_multi(spark, sf):
        """A4/§2.7: totalHits across a LIST of indexes (split corpus) —
        Katta's multi-index count sums per-node results over every index
        (LuceneClient.java:225-251); top-k, scores and total must equal
        the whole-corpus answer."""
        a, b = _split_index_dirs(spark, sf)
        out = ksq.search_with_total(
            spark, [a, b], "join hash", k=10, score_dtype="float64",
        )
        return out.select(
            "doc_id", F.round("score", 4).alias("score_r"), "total_hits"
        )

    q["bm25_total_multi"] = bm25_total_multi

    def bm25_wildcard(spark, sf):
        """P5 end-to-end, BOTH rewrite shapes in one gate (folded to fit
        the 50-gate driver cap): 'prefix' = a prefix wildcard expanded
        against the term dictionary (Lucene rewrite,
        LuceneServer.java:602-624); 'pattern' = general WildcardQuery
        mid-pattern * and ? expanded with an anchored regex under the
        startswith pushdown prefix. Each runs the normal OR kernel."""
        a = _bm25(spark, sf, "sc* filter", 10).withColumn(
            "variant", F.lit("prefix")
        )
        b = _bm25(spark, sf, "me?ge fil*er", 10).withColumn(
            "variant", F.lit("pattern")
        )
        return a.unionByName(b)

    q["bm25_wildcard"] = bm25_wildcard

    def bm25_wildcard_multi(spark, sf):
        """Dictionary rewrites over a LIST of indexes (the r3 refusal
        lifted): the wildcard expands against EACH index's dictionary
        (Katta rewrites per shard, LuceneServer.java:602-624) and the
        expansions union with combined stats — equal to the whole-corpus
        single-index answer."""
        a, b = _split_index_dirs(spark, sf)
        hits = ksq.search_multi(
            spark, [a, b], "sc* filter", k=10, score_dtype="float64"
        )
        return hits.select("doc_id", F.round("score", 4).alias("score_r"))

    q["bm25_wildcard_multi"] = bm25_wildcard_multi

    def bm25_boost(spark, sf):
        """F2 boost clause (term^2): the boosted term's contribution is
        multiplied — identical to the additive duplicate-term weighting."""
        return _bm25(spark, sf, "join^2 hash^0.5 merge", 10)

    q["bm25_boost"] = bm25_boost

    def bm25_fuzzy(spark, sf):
        """F2 fuzzy clause (term~1): expanded against the term dictionary
        to every term within the edit distance (JVM bounded levenshtein),
        then scored as a normal OR rewrite."""
        return _bm25(spark, sf, "merg~1", 10)

    q["bm25_fuzzy"] = bm25_fuzzy

    def bm25_range(spark, sf):
        """F2 term-range clause (Lucene QueryParser ``field:[lo TO hi]``,
        lexicographic TermRangeQuery semantics): expanded against the term
        dictionary to the matching ``source:*`` keyword terms — here the
        bounds deliberately straddle the src13 < src2 lexicographic fold —
        then scored as a normal OR rewrite alongside 'merge'."""
        hits = ksq.search(
            spark, _field_index_dir(spark, sf), "source:[src13 TO src4] merge",
            k=10, score_dtype="float64",
        )
        return hits.select("doc_id", F.round("score", 4).alias("score_r"))

    q["bm25_range"] = bm25_range

    def split_index(spark, sf):
        """Compliance (LuceneComplianceTest.java:107-190): two half-corpus
        indexes searched together == the whole corpus — same SQL oracle as
        bm25_top10."""
        a, b = _split_index_dirs(spark, sf)
        hits = ksq.search_multi(
            spark, [a, b], "join hash", k=10, score_dtype="float64"
        )
        return hits.select("doc_id", F.round("score", 4).alias("score_r"))

    q["bm25_split_index"] = split_index

    def compact_search(spark, sf):
        """Tagged union (50-gate cap) covering the full index-maintenance
        lifecycle. variant='merged': delta compaction (optimize() analog)
        — the two split indexes merged into ONE index purely from the
        postings union must equal the whole-corpus answer (score-identity
        to search_multi tested in tests/test_compact.py).
        variant='live_del': DOCUMENT DELETION, live phase
        (IndexWriter.deleteDocuments → liveDocs): doc_id %% 17 == 0
        tombstoned — those docs leave the results IMMEDIATELY while
        survivors score with the UNCHANGED (stale) global stats, the
        exact Lucene pre-merge semantics; the oracle therefore computes
        BM25 from the FULL corpus and filters the deleted docs only from
        the final ranking. variant='expunged': the expungeDeletes merge —
        tombstones folded into postings/stats/markers/docvalues; the
        oracle recomputes BM25 over the corpus WITHOUT the deleted docs
        (df/N/avgdl refreshed), i.e. the index is indistinguishable from
        a fresh build (bit-identity tested in tests/test_delete.py)."""
        hits = ksq.search(
            spark, _compacted_dir(spark, sf), "join hash", k=10,
            score_dtype="float64",
        ).select("doc_id", F.round("score", 4).alias("score_r"))
        d_del, d_exp = _deleted_dirs(spark, sf)
        live = ksq.search(
            spark, d_del, "join hash", k=10, score_dtype="float64"
        ).select("doc_id", F.round("score", 4).alias("score_r"))
        expg = ksq.search(
            spark, d_exp, "join hash", k=10, score_dtype="float64"
        ).select("doc_id", F.round("score", 4).alias("score_r"))
        return (
            hits.withColumn("variant", F.lit("merged"))
            .unionByName(live.withColumn("variant", F.lit("live_del")))
            .unionByName(expg.withColumn("variant", F.lit("expunged")))
            .select("variant", "doc_id", "score_r")
        )

    q["compact_search"] = compact_search

    def sorted_search(spark, sf):
        """Tagged union (50-gate cap). leg='plain': T2/T4 — matches of a
        query ordered by a stored field (n_chars), the docvalue FAST path:
        sort keys come from the in-index sidecar, each shard kernel emits
        only its k best rows (TopFieldCollector's min(limit, maxDoc) cap,
        LuceneServer.java:672-677), and only the merged top-k joins back
        to the source for display columns. leg='filtered': T2 + P2
        composed — Katta's search(query, sort, filter) in ONE call
        (ILuceneServer.java:84-101; filtered-sort test
        LuceneClientTest.java:562-617): the allowed set reaches the
        kernels AHEAD of the per-shard dv cap, so filtered sorted queries
        keep the ≤ k·shards emission too."""
        docs = _docs(spark, sf)
        kw = dict(
            sort_cols=[("n_chars", "desc")],
            k=8,
            track_scores=False,
            doc_id_col="doc_id",
        )
        idx = _index_dir(spark, sf)
        plain = ksq.search_sorted(spark, idx, "merge batch", docs, **kw)
        filt = ksq.search_sorted(
            spark, idx, "merge batch", docs,
            filter_df=docs.where("n_chars % 2 = 0"), **kw,
        )
        return plain.select(
            F.lit("plain").alias("leg"), "doc_id", "n_chars"
        ).unionByName(
            filt.select(F.lit("filtered").alias("leg"), "doc_id", "n_chars")
        )

    q["sorted_search"] = sorted_search

    def grouped_search(spark, sf):
        """Grouped search — the Lucene grouping-module analog (two-pass
        TermFirst/TermSecondPassGroupingCollector, distributed with
        per-shard caps; built from Katta's scatter-gather + client-merge
        shape, LuceneClient.java:264-286), run entirely IN-INDEX: group
        keys and display values decode from the docvalue sidecar. Tagged
        union: leg='str' groups by a string field (lang, rank-dictionary
        decode) ordered by relevance (best hit per group); leg='num' by
        a numeric field (n_chars); leg='key' orders groups by the group
        VALUE instead (Lucene's field groupSort, NULLs first) — a
        different group SELECTION, not just ordering. Each group carries
        its EXACT total match count."""
        idx = _index_dir(spark, sf)

        def _leg(tag, q_, col, kg, kd, order):
            return ksq.search_grouped(
                spark, idx, q_, col, k_groups=kg, k_docs=kd,
                group_order=order,
            ).select(
                F.lit(tag).alias("leg"),
                F.col(col).cast("string").alias("gval"),
                "group_total",
                "doc_id",
                F.round("score", 4).alias("score_r"),
            )

        return (
            _leg("str", "merge batch", "lang", 3, 2, "relevance")
            .unionByName(_leg("num", "join hash", "n_chars", 4, 2,
                              "relevance"))
            .unionByName(_leg("key", "merge batch", "lang", 2, 2,
                              "key_asc"))
        )

    q["grouped_search"] = grouped_search

    def sorted_search_str(spark, sf):
        """T2 on a STRING field — Katta's first-listed sort type
        (WritableType.java:33-35 opens with TEXT; text-sort test
        LuceneClientTest.java:330): 'lang' sorts via the in-index rank
        dictionary (docvalues.string_rank_dictionary), per-shard output
        still capped at k; rank order == UTF8 binary == DuckDB VARCHAR
        collation. Secondary numeric key exercises the mixed-kind merge.

        Tagged union of two legs: leg='single' sorts one index; leg=
        'multi' sorts ACROSS the two half-corpus split indexes (Katta
        sorted search spans the searched indices,
        LuceneClientTest.java:330) — per-index string ranks are not
        cross-index comparable, so the multi merge resolves the capped
        candidates through each index's persisted dictionary. Combined
        stats make both legs equal the same whole-corpus ORDER BY."""
        docs = _docs(spark, sf)
        kw = dict(
            sort_cols=[("lang", "asc"), ("n_chars", "desc")],
            k=8,
            track_scores=False,
            doc_id_col="doc_id",
        )
        single = ksq.search_sorted(
            spark, _index_dir(spark, sf), "merge batch", docs, **kw
        ).select(
            F.lit("single").alias("leg"), "doc_id", "lang", "n_chars"
        )
        a, b = _split_index_dirs(spark, sf)
        multi = ksq.search_sorted(
            spark, [a, b], "merge batch", docs, **kw
        ).select(
            F.lit("multi").alias("leg"), "doc_id", "lang", "n_chars"
        )
        return single.unionByName(multi)

    q["sorted_search_str"] = sorted_search_str

    def count_q(spark, sf):
        """Tagged union (50-gate cap): variant='total' = A3 hit-count fast
        path (value=''); variant='facet' = faceted search — per-value
        matching-doc counts over the lang keyword field (one shard job
        reads query postings with facet-value postings; |values| x
        shards rows, never per-doc); variant='range' = numeric range
        facets (Lucene LongRangeFacetCounts analog) over the n_chars
        docvalue sidecar — per-shard constant-size partials, declared
        ranges incl. zero counts; variant='stat' = match_stats (Solr
        StatsComponent analog), the exactly-integral stats of n_chars
        over the match set (count/missing/vmin/vmax/vsum — mean/stddev
        are float-summation-order-sensitive and gate via pytest
        instead)."""
        d = _index_dir(spark, sf)
        n = ksq.count_matches(spark, d, "join hash")
        total = spark.createDataFrame(
            [("total", "", n)], "variant string, value string, n_hits long"
        )
        fac = ksq.facet_counts(
            spark, _field_index_dir(spark, sf), "join hash", "lang", k=100
        ).select(
            F.lit("facet").alias("variant"),
            "value",
            F.col("count").alias("n_hits"),
        )
        rng = ksq.facet_ranges(
            spark, d, "join hash", "n_chars",
            [("lt300", None, 300), ("mid", 300, 450), ("ge450", 450, None)],
        ).select(
            F.lit("range").alias("variant"),
            F.col("label").alias("value"),
            F.col("count").alias("n_hits"),
        )
        stat = ksq.match_stats(spark, d, "join hash", "n_chars").select(
            F.expr(
                "stack(5, 'count', count, 'missing', missing, "
                "'vmin', vmin, 'vmax', vmax, 'vsum', vsum) "
                "AS (value, n_hits)"
            )
        ).withColumn("variant", F.lit("stat")).select(
            "variant", "value", F.col("n_hits").cast("long").alias("n_hits")
        )
        return total.unionByName(fac).unionByName(rng).unionByName(stat)

    q["count_matches"] = count_q

    def wildcard(spark, sf):
        """Tagged union (50-gate cap): variant='prefix' = P5 wildcard term
        expansion against the term dictionary (c=df); variant='suggest' =
        SpellChecker-style did-you-mean over the same dictionary
        (query.suggest_terms 'par'~2: bounded-levenshtein scan, ranked
        distance ASC / df DESC / term ASC, k=20; c=distance — df rides
        the ranking but the distance column is the suggestion-specific
        value)."""
        d = _index_dir(spark, sf)
        exp = (
            spark.read.parquet(os.path.join(d, "stats.parquet"))
            .where(F.col("term").startswith("s"))
            .select(
                F.lit("prefix").alias("variant"), "term",
                F.col("df").cast("long").alias("c"),
            )
        )
        sug = ksq.suggest_terms(spark, d, "par", k=20).select(
            F.lit("suggest").alias("variant"), "term",
            F.col("distance").cast("long").alias("c"),
        )
        return exp.unionByName(sug)

    q["wildcard_expand"] = wildcard

    def details(spark, sf):
        """J2/P1: top-k hits joined back to stored fields, projected —
        broadcast side = the top-k (inner join; hits ⊆ corpus)."""
        hits = _bm25(spark, sf, "merge batch", 5)
        return (
            _docs(spark, sf)
            .select("doc_id", "lang", "source")
            .join(F.broadcast(hits), "doc_id")
            .select("doc_id", "score_r", "lang", "source")
        )

    q["details_topk"] = details

    # ---- training-data ops
    q["dedup_exact"] = lambda s, sf: tx.exact_dedup(_docs(s, sf))
    def dedup_near_pairs(spark, sf):
        """Verified near-dup pairs, BOTH modalities in one gate (folded to
        fit the 50-gate driver cap). 'text': LSH candidates ∩ exact
        n-gram Jaccard >= t — jaccard only on candidates, never corpus².
        'embedding': banded-LSH bucket candidates verified with exact
        cosine >= t (similarity.embedding_near_dup_pairs) — the embedding
        dedup modality of the similarity stack. Both emit (a, b, sim)."""
        text = tx.near_dup_pairs(_docs(spark, sf), threshold=0.2).select(
            "a", "b", F.col("jaccard").alias("sim")
        ).withColumn("variant", F.lit("text"))
        emb = sim.embedding_near_dup_pairs(
            _emb(spark, sf), threshold=0.3
        ).select("a", "b", F.col("cos").alias("sim")).withColumn(
            "variant", F.lit("embedding")
        )
        return text.unionByName(emb)

    q["dedup_near_pairs"] = dedup_near_pairs
    # canonical assignment over the TRANSITIVE CLOSURE of those pairs
    # (iterative min-label propagation; the oracle is a DuckDB recursive
    # CTE over the same pair set — the r3 "rows-only check" upgraded)
    q["dedup_near_canonical"] = lambda s, sf: tx.dedup_near(
        _docs(s, sf), threshold=0.2
    )
    q["dedup_minhash_lsh"] = lambda s, sf: tx.minhash_lsh_pairs(_docs(s, sf))
    q["dedup_jaccard"] = lambda s, sf: tx.jaccard_pairs(_docs(s, sf), threshold=0.2)
    q["minhash_signatures"] = lambda s, sf: tx.minhash_signatures(_docs(s, sf), num_hashes=4)
    q["simhash"] = lambda s, sf: tx.simhash16(_docs(s, sf))
    q["lang_id"] = lambda s, sf: tx.lang_id(_docs(s, sf))

    def quality(spark, sf):
        """Tagged union of the four per-doc quality-signal families (one
        gate under the 50-gate cap): variant='quality' = the classic
        cheap signals (n=n_tokens, r1=avg_token_len, r2=stopword_ratio,
        r3=alnum_ratio); variant='repetition' = Gopher/MassiveText
        WITHIN-doc repetition (Rae et al. 2021 A1.1; n=n_2grams,
        r1=dup_2gram_frac, r2=dup_3gram_frac, r3=top_2gram_frac), all
        in-row codegen — adds ZERO exchanges; variant='unigram_lm' =
        CCNet-style LM-perplexity filter over a corpus-derived unigram LM
        (n=n_tokens, r1=cross_entropy nats, r2=perplexity, r3=min_logp);
        variant='bigram_lm' = the order-2 step toward CCNet's KenLM
        (Dirichlet-smoothed bigram with unigram prior, alpha=1; the
        first token scores under the unigram; same n/r1-r3 meaning);
        variant='boilerplate' = CROSS-doc frequent-3-gram signals, Lee et
        al. 2021 (n=n_grams, r1=frequent_frac at min_df=2, r2=max_df_frac,
        r3=avg_df_frac); variant='dsir' = DSIR importance weights (Xie et
        al. 2023; target = the doc_id % 41 = 0 corpus slice, hashed
        uni+bigram buckets = md5 prefix; n=n_feats, r1=log_weight,
        r2=avg_log_ratio, r3=target-unseen occurrence fraction). The
        two-pass legs broadcast their vocab-sized (dsir: fixed 4096-row)
        stats table back onto the corpus, so the corpus side never
        shuffles and each per-doc collapse combines map-side."""
        docs = _docs(spark, sf)
        ql = tx.quality_scores(docs).select(
            F.lit("quality").alias("variant"), "doc_id",
            F.col("n_tokens").alias("n"),
            F.col("avg_token_len").alias("r1"),
            F.col("stopword_ratio").alias("r2"),
            F.col("alnum_ratio").alias("r3"),
        )
        rep = tx.repetition_scores(docs).select(
            F.lit("repetition").alias("variant"), "doc_id",
            F.col("n_2grams").alias("n"),
            F.col("dup_2gram_frac").alias("r1"),
            F.col("dup_3gram_frac").alias("r2"),
            F.col("top_2gram_frac").alias("r3"),
        )
        lm = tx.unigram_lm_scores(docs).select(
            F.lit("unigram_lm").alias("variant"), "doc_id",
            F.col("n_tokens").cast("int").alias("n"),
            F.col("cross_entropy").alias("r1"),
            F.col("perplexity").alias("r2"),
            F.col("min_logp").alias("r3"),
        )
        lm2 = tx.bigram_lm_scores(docs).select(
            F.lit("bigram_lm").alias("variant"), "doc_id",
            F.col("n_tokens").cast("int").alias("n"),
            F.col("cross_entropy").alias("r1"),
            F.col("perplexity").alias("r2"),
            F.col("min_logp").alias("r3"),
        )
        bp = tx.boilerplate_scores(docs).select(
            F.lit("boilerplate").alias("variant"), "doc_id",
            F.col("n_grams").cast("int").alias("n"),
            F.col("frequent_frac").alias("r1"),
            F.col("max_df_frac").alias("r2"),
            F.col("avg_df_frac").alias("r3"),
        )
        ds = tx.dsir_weights(docs, docs.where(F.col("doc_id") % 41 == 0)).select(
            F.lit("dsir").alias("variant"), "doc_id",
            F.col("n_feats").cast("int").alias("n"),
            F.col("log_weight").alias("r1"),
            F.col("avg_log_ratio").alias("r2"),
            F.col("unseen_frac").alias("r3"),
        )
        return (
            ql.unionByName(rep).unionByName(lm).unionByName(lm2)
            .unionByName(bp).unionByName(ds)
        )

    q["quality_scores"] = quality

    def tokens_and_decontam(spark, sf):
        """Tagged union (50-gate cap): variant='counts' = token counting
        (c1=n_ws_tokens, c2=n_bpe_tokens); variant='decontam' = eval-set
        decontamination — the benchmark set is a deterministic 1-in-41
        slice of the corpus itself (doc_id % 41 = 0), so hits are
        guaranteed and the oracle needs no external data (c1=
        n_hit_shingles, c2=contaminated 0/1). The benchmark side
        broadcasts; the corpus side never shuffles for the probe.
        variant='curate' = the END-TO-END curation verdict composing the
        whole pipeline (c1=keep 0/1, c2=reason: 1 short / 2 repetitive /
        3 near-dup non-canonical / 4 contaminated / 0 keep, first match
        wins) — thresholds min_tokens=16 (~p5), top2>0.09 (~p95), dedup
        jaccard>=0.2 + transitive closure (the dedup_near_canonical
        family), the same %41 benchmark slice. variant='substring' = the
        ExactSubstr profile of Lee et al. 2021 (textops.
        substring_dup_spans, k=8 on this short-doc corpus; production
        default k=50): c1 = tokens covered by the union of duplicated
        k-gram spans (occurrences >= 2 corpus-wide, within-doc repeats
        included), c2 = merged maximal span count.
        variant='decontam_fuzzy' = FUZZY decontamination (MinHash-LSH
        candidates vs the broadcast %41 benchmark slice, exact-Jaccard
        verified; the paraphrase-robust companion of the exact rule):
        c1 = contaminated at jaccard>=0.5, c2 = round(best jaccard *
        10000)."""
        docs = _docs(spark, sf)
        counts = tx.token_counts(docs).select(
            F.lit("counts").alias("variant"), "doc_id",
            F.col("n_ws_tokens").cast("long").alias("c1"),
            F.col("n_bpe_tokens").cast("long").alias("c2"),
        )
        bench = docs.where(F.col("doc_id") % 41 == 0)
        dec = tx.decontaminate(docs, bench, n=3).select(
            F.lit("decontam").alias("variant"), "doc_id",
            F.col("n_hit_shingles").alias("c1"),
            F.col("contaminated").cast("long").alias("c2"),
        )
        cur = tx.curate(
            docs, bench, min_tokens=16, max_top2_frac=0.09,
            dedup_threshold=0.2,
        ).select(
            F.lit("curate").alias("variant"), "doc_id",
            F.col("keep").cast("long").alias("c1"),
            F.col("reason").cast("long").alias("c2"),
        )
        sub = tx.substring_dup_spans(docs, k=8).select(
            F.lit("substring").alias("variant"), "doc_id",
            F.col("n_dup_tokens").alias("c1"),
            F.col("n_dup_spans").alias("c2"),
        )
        fz = tx.decontaminate_fuzzy(docs, bench, threshold=0.5).select(
            F.lit("decontam_fuzzy").alias("variant"), "doc_id",
            F.col("contaminated").cast("long").alias("c1"),
            F.round(F.col("jaccard") * 10000).cast("long").alias("c2"),
        )
        return (
            counts.unionByName(dec).unionByName(cur).unionByName(sub)
            .unionByName(fz)
        )

    q["token_counts"] = tokens_and_decontam
    q["doc_fingerprint"] = lambda s, sf: tx.doc_fingerprint(_docs(s, sf))
    # rolling-hash winnowing (MOSS): k=16-char grams, window w=8
    q["winnow_fingerprints"] = lambda s, sf: tx.winnow_fingerprints(
        _docs(s, sf), k=16, w=8
    )

    def stratified(spark, sf):
        """Deterministic per-stratum downsampling (domain quotas): md5-rule
        survival is a pure function of (doc_id, seed), so samples are
        reproducible and nested across rates."""
        return tx.stratified_sample(
            _docs(spark, sf),
            rates={"src3": 0.5, "src7": 1.0, "src12": 0.25},
            strata_col="source",
        ).select("doc_id", "source")

    q["stratified_sample"] = stratified

    def quota(spark, sf):
        """Exact per-stratum quotas: at most N rows per domain, ranked by a
        deterministic md5 order (reproducible unbiased hard caps)."""
        return tx.stratum_quota(
            _docs(spark, sf), {"src1": 7, "src4": 3}, "source"
        ).select("doc_id", "source")

    q["stratum_quota"] = quota

    def redact(spark, sf):
        """PII-hygiene scrub: emails/URLs/IPv4 replaced by typed tokens via
        chained JVM regexp_replace (patterns kept RE2-compatible so the
        oracle runs them verbatim); synthetic PII is appended per row so
        the gate actually exercises every pattern."""
        docs = _docs(spark, sf).withColumn(
            "text",
            F.concat(
                F.substring("text", 1, 40),
                F.lit(" mail bob@example.com site https://x.io/p?q=1 "
                      "host 10.0.0.1 done"),
            ),
        )
        return tx.redact_text(docs).select("doc_id", "redacted")

    q["redact_text"] = redact

    def packing(spark, sf):
        """Tagged union (50-gate cap): variant='pack' = sequence packing —
        docs greedily packed into ~128-token bins within hash-bucketed
        independent streams (window cumsum per bucket — parallel,
        deterministic; c1=bucket, c2=pack_id, c3=n_tokens, txt='');
        variant='chunk' = token-window document chunking
        (textops.chunk_documents, max_tokens=32, stride=16 — overlapping
        windows; c1=chunk_idx, c2=start_tok, c3=n_tokens,
        txt=chunk_text) — the long-doc training-sample cutter, entirely
        in-row (zero exchanges)."""
        docs = _docs(spark, sf)
        pack = tx.pack_sequences(docs, max_tokens=128, buckets=4).select(
            F.lit("pack").alias("variant"), "doc_id",
            F.col("bucket").cast("long").alias("c1"),
            F.col("pack_id").alias("c2"),
            F.col("n_tokens").cast("long").alias("c3"),
            F.lit("").alias("txt"),
        )
        chunk = tx.chunk_documents(docs, max_tokens=32, stride=16).select(
            F.lit("chunk").alias("variant"), "doc_id",
            F.col("chunk_idx").alias("c1"),
            F.col("start_tok").alias("c2"),
            F.col("n_tokens").alias("c3"),
            F.col("chunk_text").alias("txt"),
        )
        return pack.unionByName(chunk)

    q["pack_sequences"] = packing

    def windowed_events(spark, sf):
        """Tagged union (50-gate cap): variant='tumbling' = fixed
        event-time windows (the same F.window expression runs under
        Structured Streaming with a watermark —
        streaming.stream_windowed_counts; tested in test_streaming_filter);
        variant='session' = gap-based sessionization (textops.sessionize:
        a new session when a user's inter-event gap exceeds 12 h; lag +
        running sum sharing ONE window exchange) aggregated to session
        level — window_start = session start, event_type = user id,
        n_events/sum_value per session."""
        ev = spark.read.parquet(os.path.join(sf, "events.parquet"))
        tumbling = tx.windowed_event_counts(ev, "1 hour").select(
            F.lit("tumbling").alias("variant"),
            "window_start", "event_type", "n_events", "sum_value",
        )
        sessions = (
            tx.sessionize(ev, gap="12 hours", keep_cols=("value",))
            .groupBy("user_id", "session_id")
            .agg(
                F.min("session_start").alias("window_start"),
                F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum("value"), 4).alias("sum_value"),
            )
            .select(
                F.lit("session").alias("variant"),
                "window_start",
                F.col("user_id").cast("string").alias("event_type"),
                "n_events", "sum_value",
            )
        )
        return tumbling.unionByName(sessions)

    q["windowed_events"] = windowed_events

    def media_frames(spark, sf):
        """Multimodal plumbing gate: the exploding frame-sampling kernel
        (one media row → k frame rows, mapInPandas) over documents-as-media
        (payload = text bytes, duration = n_chars). The decode itself is a
        stub (no media libs in this container); the gated part is the REAL
        Spark-side shape: schema, batching, explode factor, timestamps."""
        import katta_spark.multimodal as mm

        media = _docs(spark, sf).select(
            F.col("doc_id").alias("media_id"),
            F.lit("video").alias("kind"),
            F.col("text").cast("binary").alias("payload"),
            F.col("n_chars").cast("int").alias("duration_ms"),
        )
        return mm.sample_frames(media, every_ms=500).select(
            "media_id", "frame_idx", "frame_ts_ms"
        )

    q["media_frame_sample"] = media_frames

    # ---- similarity search
    def ann_topk(spark, sf):
        """Similarity search, BOTH paths in one gate (folded to fit the
        50-gate driver cap). 'exact': brute-force cosine top-20, one
        corpus scan, TakeOrderedAndProject. 'lsh': top-10 over the
        PERSISTED bucket-partitioned ANN index (built once per sf) —
        multi-probe Hamming-ball bucket pruning, then exact cosine on the
        pruned candidates; the md5-Rademacher hyperplanes are
        engine-reproducible, so the approximate path has an exact DuckDB
        oracle."""
        exact = sim.cosine_topk(
            _emb(spark, sf), query_vec_id=0, k=20
        ).withColumn("variant", F.lit("exact"))
        lsh = sim.cosine_topk_lsh(
            _emb(spark, sf), query_vec_id=0, k=10, dim=64,
            ann_dir=_ann_dir(spark, sf),
        ).withColumn("variant", F.lit("lsh"))
        # 'hybrid': BM25 + cosine reciprocal-rank fusion (doc_id==vec_id);
        # both legs' rounded scores are engine-reproducible, so the fused
        # ranking has an exact SQL oracle too
        hybrid = sim.hybrid_search(
            spark, _index_dir(spark, sf), "join hash", _emb(spark, sf),
            query_vec_id=0, k=10, k_each=25,
        ).select(
            F.col("doc_id").alias("vec_id"),
            F.col("fused").alias("cos"),
        ).withColumn("variant", F.lit("hybrid"))
        return exact.unionByName(lsh).unionByName(hybrid)

    q["ann_cosine_top20"] = ann_topk

    return q


def oracle_sql() -> dict[str, str]:
    o: dict[str, str] = {}

    o["term_stats"] = f"""
        WITH occ AS (
          SELECT doc_id, term, count(*) AS tf FROM (
            SELECT doc_id, unnest({_TOK}) AS term FROM documents
          ) GROUP BY 1, 2
        )
        (SELECT 'stats' AS variant, 0::BIGINT AS doc_id, term,
                count(*)::BIGINT AS a, sum(tf)::BIGINT AS b
         FROM occ GROUP BY term ORDER BY a DESC, term ASC LIMIT 100)
        UNION ALL
        SELECT 'vector' AS variant, o.doc_id, o.term,
               o.tf::BIGINT AS a, d.dl::BIGINT AS b
        FROM occ o JOIN (
          SELECT doc_id, len({_TOK})::BIGINT AS dl FROM documents
        ) d USING (doc_id)
        WHERE o.doc_id % 97 = 0
    """

    o["corpus_stats"] = f"""
        SELECT (SELECT count(*) FROM documents) AS n_docs,
               round(coalesce(sum(dl), 0)
                     / (SELECT count(*) FROM documents), 4) AS avgdl_r
        FROM (SELECT count(*)::DOUBLE dl FROM (
                SELECT doc_id, unnest({_TOK}) AS term FROM documents
              ) GROUP BY doc_id)
    """

    o["bm25_top10"] = _bm25_sql([("join", 1.0), ("hash", 1.0)], 10)
    o["bm25_multi"] = _bm25_sql(
        [("customer", 1.0), ("order", 1.0), ("data", 1.0), ("filter", 1.0)], 15
    )
    o["bm25_dupterm"] = _bm25_sql([("join", 2.0), ("scan", 1.0)], 10)
    o["bm25_conjunctive"] = _bm25_sql(
        [("join", 1.0), ("hash", 1.0), ("scan", 1.0), ("merge", 1.0)], 10,
        conjunctive=True,
    )
    o["bm25_absent"] = "SELECT doc_id, 0.0::DOUBLE AS score_r FROM documents WHERE 1=0"
    o["bm25_field"] = _bm25_field_sql(
        [("source:src7", 1.0), ("merge", 1.0), ("join", 1.0)], 10
    )
    o["bm25_field_restricted"] = _bm25_field_sql(
        [("lang:en", 1.0), ("join", 1.0), ("hash", 1.0)], 10, conjunctive=True
    )
    o["filtered_search"] = _bm25_sql(
        [("join", 1.0), ("hash", 1.0)], 10,
        filter_clause=(
            "WHERE doc_id IN (SELECT doc_id FROM documents WHERE n_chars % 2 = 0)"
        ),
    )
    # totals + the two Lucene paging forms (offset ≡ OFFSET; the cursor
    # page returns the same rows with totals untracked → NULL)
    _total_sql = _bm25_sql([("join", 1.0), ("hash", 1.0)], 10, total=True)
    _total_p2_sql = _total_sql.replace("LIMIT 10", "LIMIT 10 OFFSET 10")
    _cursor_p2_sql = _bm25_sql([("join", 1.0), ("hash", 1.0)], 10).replace(
        "LIMIT 10", "LIMIT 10 OFFSET 10"
    )
    o["bm25_total"] = f"""
        SELECT 'top' AS leg, * FROM ({_total_sql})
        UNION ALL
        SELECT 'page2' AS leg, * FROM ({_total_p2_sql})
        UNION ALL
        SELECT 'cursor' AS leg, doc_id, score_r,
               NULL::BIGINT AS total_hits
        FROM ({_cursor_p2_sql})
    """
    # MUST_NOT: anti-join on the excluded term's matches (scores unchanged)
    _not_sql = _bm25_sql(
        [("join", 1.0), ("hash", 1.0)], 10,
        filter_clause=(
            "WHERE doc_id NOT IN (SELECT doc_id FROM tok WHERE term = 'scan')"
        ),
    )
    # minimumNumberShouldMatch(2): plain OR scoring, constrained to docs
    # holding >= 2 distinct of the four optional clauses
    _msm_sql = _bm25_sql(
        [("join", 1.0), ("hash", 1.0), ("scan", 1.0), ("filter", 1.0)], 10,
        having="HAVING count(DISTINCT tf.term) >= 2",
    )
    # SynonymQuery: the group (join, hash) scores as ONE pseudo-term —
    # per-doc tf summed over members, idf from the MAX member df
    # (SynonymQuery.java docFreq) — beside the plain clause 'merge'
    _syn_sql = f"""
WITH tok AS (
  SELECT doc_id, unnest({_TOK}) AS term FROM documents
),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY 1),
corpus AS (
  SELECT (SELECT count(*) FROM documents)::DOUBLE AS n,
         (SELECT coalesce(sum(dl), 0) FROM dl)
           / (SELECT count(*) FROM documents) AS avgdl
),
gidf AS (
  SELECT ln(1 + (c.n - g.df + 0.5) / (g.df + 0.5)) AS idf
  FROM (SELECT max(df) AS df FROM (
          SELECT count(*)::DOUBLE AS df FROM tf
          WHERE term IN ('join', 'hash') GROUP BY term)) g, corpus c
),
pidf AS (
  SELECT ln(1 + (c.n - s.df + 0.5) / (s.df + 0.5)) AS idf
  FROM (SELECT count(*)::DOUBLE AS df FROM tf WHERE term = 'merge') s,
       corpus c
),
clauses AS (
  SELECT doc_id, sum(tf) AS tf, (SELECT idf FROM gidf) AS idf FROM tf
  WHERE term IN ('join', 'hash') GROUP BY doc_id
  UNION ALL
  SELECT doc_id, tf, (SELECT idf FROM pidf) FROM tf WHERE term = 'merge'
),
scores AS (
  SELECT cl.doc_id,
         sum(cl.idf * (cl.tf * 2.2)
             / (cl.tf + 1.2 * (0.25 + 0.75 * dl.dl / c.avgdl))) AS s
  FROM clauses cl JOIN dl USING (doc_id), corpus c
  GROUP BY cl.doc_id
)
SELECT doc_id, round(s, 4) AS score_r FROM scores
ORDER BY s DESC, doc_id ASC LIMIT 10
"""
    o["bm25_not"] = f"""
        SELECT 'not' AS variant, * FROM ({_not_sql})
        UNION ALL
        SELECT 'msm' AS variant, * FROM ({_msm_sql})
        UNION ALL
        SELECT 'syn' AS variant, * FROM ({_syn_sql})
    """
    # phrase: contains-verify of the consecutive token run on candidates;
    # scoring = plain BM25 over all three scoring terms
    _phrase_exact_sql = _bm25_sql(
        [("join", 1.0), ("hash", 1.0), ("merge", 1.0)], 10,
        filter_clause=(
            "WHERE doc_id IN (SELECT doc_id FROM documents WHERE "
            f"contains(' ' || array_to_string({_TOK}, ' ') || ' ', "
            "' join hash '))"
        ),
    )
    o["bm25_boost"] = _bm25_sql(
        [("join", 2.0), ("hash", 0.5), ("merge", 1.0)], 10
    )

    # fuzzy: q = dictionary terms within edit distance 1 of 'merg' (the
    # oracle derives the expansion itself via DuckDB's levenshtein)
    o["bm25_fuzzy"] = f"""
WITH tok AS (
  SELECT doc_id, unnest({_TOK}) AS term FROM documents
),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY 1),
corpus AS (
  SELECT (SELECT count(*) FROM documents)::DOUBLE AS n,
         (SELECT coalesce(sum(dl), 0) FROM dl)
           / (SELECT count(*) FROM documents) AS avgdl
),
q AS (
  SELECT DISTINCT term, 1.0 AS qw FROM tok WHERE levenshtein(term, 'merg') <= 1
),
idf AS (
  SELECT s.term, ln(1 + (c.n - s.df + 0.5) / (s.df + 0.5)) AS idf
  FROM (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1) s, corpus c
  WHERE s.term IN (SELECT term FROM q)
),
scores AS (
  SELECT tf.doc_id,
         sum(q.qw * idf.idf * (tf.tf * 2.2)
             / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / c.avgdl))) AS s
  FROM tf JOIN q USING (term) JOIN idf USING (term)
       JOIN dl USING (doc_id), corpus c
  GROUP BY tf.doc_id
)
SELECT doc_id, round(s, 4) AS score_r FROM scores
ORDER BY s DESC, doc_id ASC LIMIT 10
"""

    # pattern wildcards: q = dictionary terms matching the anchored regexes
    _wc_pattern_sql = f"""
WITH tok AS (
  SELECT doc_id, unnest({_TOK}) AS term FROM documents
),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY 1),
corpus AS (
  SELECT (SELECT count(*) FROM documents)::DOUBLE AS n,
         (SELECT coalesce(sum(dl), 0) FROM dl)
           / (SELECT count(*) FROM documents) AS avgdl
),
q AS (
  SELECT DISTINCT term, 1.0 AS qw FROM tok
  WHERE regexp_matches(term, '^me[a-z0-9]ge$')
     OR regexp_matches(term, '^fil[a-z0-9]*er$')
),
idf AS (
  SELECT s.term, ln(1 + (c.n - s.df + 0.5) / (s.df + 0.5)) AS idf
  FROM (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1) s, corpus c
  WHERE s.term IN (SELECT term FROM q)
),
scores AS (
  SELECT tf.doc_id,
         sum(q.qw * idf.idf * (tf.tf * 2.2)
             / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / c.avgdl))) AS s
  FROM tf JOIN q USING (term) JOIN idf USING (term)
       JOIN dl USING (doc_id), corpus c
  GROUP BY tf.doc_id
)
SELECT doc_id, round(s, 4) AS score_r FROM scores
ORDER BY s DESC, doc_id ASC LIMIT 10
"""

    # term range: q = the keyword terms whose VALUE sorts inside the bounds
    # (lexicographic — the oracle derives the expansion itself) + 'merge'
    o["bm25_range"] = f"""
WITH tok AS (
  SELECT doc_id, unnest({_TOK}) AS term FROM documents
),
tf0 AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY 1),
corpus AS (
  SELECT (SELECT count(*) FROM documents)::DOUBLE AS n,
         (SELECT coalesce(sum(dl), 0) FROM dl)
           / (SELECT count(*) FROM documents) AS avgdl
),
ptf AS (
  SELECT tf0.doc_id, tf0.term, tf0.tf, dl.dl FROM tf0 JOIN dl USING (doc_id)
  UNION ALL
  SELECT doc_id, 'lang:' || lang, 1.0, 1.0 FROM documents WHERE lang IS NOT NULL
  UNION ALL
  SELECT doc_id, 'source:' || source, 1.0, 1.0 FROM documents
  WHERE source IS NOT NULL
),
q AS (
  SELECT DISTINCT term, 1.0 AS qw FROM ptf
  WHERE term LIKE 'source:%'
    AND substr(term, 8) >= 'src13' AND substr(term, 8) <= 'src4'
  UNION ALL SELECT 'merge', 1.0
),
idf AS (
  SELECT s.term, ln(1 + (c.n - s.df + 0.5) / (s.df + 0.5)) AS idf
  FROM (SELECT term, count(*)::DOUBLE AS df FROM ptf GROUP BY 1) s, corpus c
  WHERE s.term IN (SELECT term FROM q)
),
scores AS (
  SELECT ptf.doc_id,
         sum(q.qw * idf.idf * (ptf.tf * 2.2)
             / (ptf.tf + 1.2 * (0.25 + 0.75 * ptf.dl / c.avgdl))) AS s
  FROM ptf JOIN q USING (term) JOIN idf USING (term), corpus c
  GROUP BY ptf.doc_id
)
SELECT doc_id, round(s, 4) AS score_r FROM scores
ORDER BY s DESC, doc_id ASC LIMIT 10
"""

    # proximity phrase, Lucene SloppyPhraseMatcher semantics: positions
    # adjusted by phrase offset (join@0, scan@1), match iff the adjusted
    # span <= slop — |pb - 1 - pa| <= 3 admits reorderings at their
    # displacement cost. The oracle derives positions itself (parallel
    # unnest zips token + index).
    _POS = (
        "(SELECT doc_id, unnest(t) AS term, unnest(range(1, len(t)+1)) AS p "
        f"FROM (SELECT doc_id, {_TOK} AS t FROM documents))"
    )
    _phrase_slop_sql = _bm25_sql(
        [("join", 1.0), ("scan", 1.0), ("merge", 1.0)], 10,
        filter_clause=(
            "WHERE doc_id IN ("
            f"SELECT pa.doc_id FROM {_POS} pa JOIN {_POS} pb USING (doc_id) "
            "WHERE pa.term = 'join' AND pb.term = 'scan' "
            "AND abs(pb.p - 1 - pa.p) <= 3)"
        ),
    )
    # exact + slop folded into ONE gate (50-gate driver cap)
    o["bm25_phrase"] = f"""
        SELECT 'exact' AS variant, * FROM ({_phrase_exact_sql})
        UNION ALL
        SELECT 'slop' AS variant, * FROM ({_phrase_slop_sql})
    """

    # multi-index phrase == whole-corpus phrase (cross-index stats +
    # in-kernel positional verify)
    o["bm25_phrase_multi"] = _phrase_exact_sql

    # phrase + exact totalHits: the phrase constraint moves INSIDE the
    # scores CTE (HAVING on the grouping key) so the total counts phrase
    # matches, not term-OR matches
    o["bm25_phrase_total"] = _bm25_sql(
        [("join", 1.0), ("hash", 1.0), ("merge", 1.0)], 10,
        having=(
            "HAVING tf.doc_id IN (SELECT doc_id FROM documents WHERE "
            f"contains(' ' || array_to_string({_TOK}, ' ') || ' ', "
            "' join hash '))"
        ),
        total=True,
    )

    # grouped boolean: (join AND hash) OR merge NOT scan — per-doc term
    # contributions pivoted, match + BooleanQuery path-sum in SQL
    def _tree_sql(k: int) -> str:
        return f"""
WITH tok AS (
  SELECT doc_id, unnest({_TOK}) AS term FROM documents
),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY 1),
corpus AS (
  SELECT (SELECT count(*) FROM documents)::DOUBLE AS n,
         (SELECT coalesce(sum(dl), 0) FROM dl)
           / (SELECT count(*) FROM documents) AS avgdl
),
contrib AS (
  SELECT tf.doc_id, tf.term,
         ln(1 + (c.n - s.df + 0.5) / (s.df + 0.5)) * (tf.tf * 2.2)
           / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / c.avgdl)) AS w
  FROM tf
  JOIN (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1) s USING (term)
  JOIN dl USING (doc_id), corpus c
  WHERE tf.term IN ('join', 'hash', 'merge', 'scan')
),
piv AS (
  SELECT doc_id,
         max(CASE WHEN term = 'join' THEN w END) AS wj,
         max(CASE WHEN term = 'hash' THEN w END) AS wh,
         max(CASE WHEN term = 'merge' THEN w END) AS wm,
         max(CASE WHEN term = 'scan' THEN w END) AS ws
  FROM contrib GROUP BY doc_id
),
scored AS (
  SELECT doc_id,
         coalesce(CASE WHEN wj IS NOT NULL AND wh IS NOT NULL
                       THEN wj + wh END, 0)
           + coalesce(wm, 0) AS s,
         ((wj IS NOT NULL AND wh IS NOT NULL) OR wm IS NOT NULL)
           AND ws IS NULL AS m
  FROM piv
)
SELECT doc_id, round(s, 4) AS score_r FROM scored WHERE m
ORDER BY s DESC, doc_id ASC LIMIT {k}
"""

    o["bm25_tree"] = _tree_sql(10)

    # batch execution: per-query SQL answers stitched with their query_id —
    # flat queries, a +MUST/-MUST_NOT query, and an AND/OR/NOT tree
    _batch_parts = [
        _bm25_sql([("join", 1.0), ("hash", 1.0)], 5),
        _bm25_sql([("merge", 1.0), ("batch", 1.0)], 5),
        _bm25_sql([("customer", 1.0), ("order", 1.0)], 5),
        _bm25_sql(
            [("join", 1.0), ("merge", 1.0)], 5,
            filter_clause=(
                "WHERE doc_id IN (SELECT doc_id FROM tok WHERE term = 'join')"
                " AND doc_id NOT IN "
                "(SELECT doc_id FROM tok WHERE term = 'scan')"
            ),
        ),
        _tree_sql(5),
        _bm25_sql(
            [("join", 1.0), ("hash", 1.0), ("merge", 1.0)], 5,
            filter_clause=(
                "WHERE doc_id IN (SELECT doc_id FROM documents WHERE "
                f"contains(' ' || array_to_string({_TOK}, ' ') || ' ', "
                "' join hash '))"
            ),
        ),
    ]
    o["bm25_batch"] = " UNION ALL ".join(
        f"SELECT {qi} AS query_id, * FROM ({sql})"
        for qi, sql in enumerate(_batch_parts)
    )

    # compliance: split indexes must reproduce the whole-corpus ranking
    o["bm25_split_index"] = o["bm25_top10"]
    # …and so must their compaction (optimize() analog); the deletion
    # legs: live_del = FULL-corpus stats with deleted docs filtered from
    # the final ranking only (Lucene's stale-stats liveDocs phase),
    # expunged = BM25 recomputed over the corpus minus the deleted docs
    # (post-expungeDeletes = fresh-build identity)
    _live_del_sql = _bm25_sql(
        [("join", 1.0), ("hash", 1.0)], 10,
        filter_clause=f"WHERE {_DEL_WHERE}",
    )
    _expunged_sql = _bm25_sql([("join", 1.0), ("hash", 1.0)], 10).replace(
        "FROM documents",
        f"FROM (SELECT * FROM documents WHERE {_DEL_WHERE}) documents",
    )
    o["compact_search"] = f"""
        SELECT 'merged' AS variant, * FROM ({o["bm25_top10"]})
        UNION ALL
        SELECT 'live_del' AS variant, * FROM ({_live_del_sql})
        UNION ALL
        SELECT 'expunged' AS variant, * FROM ({_expunged_sql})
    """
    # …and the whole-corpus totalHits (cross-index accumulation)
    o["bm25_total_multi"] = _total_sql  # plain totals (no paging legs)

    # wildcard e2e: q = dictionary expansion of 'sc%' (each term weight 1)
    # plus the literal term — same CTE body, SELECT-shaped q
    _wc_prefix_sql = f"""
WITH tok AS (
  SELECT doc_id, unnest({_TOK}) AS term FROM documents
),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY 1),
corpus AS (
  SELECT (SELECT count(*) FROM documents)::DOUBLE AS n,
         (SELECT coalesce(sum(dl), 0) FROM dl)
           / (SELECT count(*) FROM documents) AS avgdl
),
q AS (
  SELECT DISTINCT term, 1.0 AS qw FROM tok WHERE term LIKE 'sc%'
  UNION ALL SELECT 'filter', 1.0
),
idf AS (
  SELECT s.term, ln(1 + (c.n - s.df + 0.5) / (s.df + 0.5)) AS idf
  FROM (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1) s, corpus c
  WHERE s.term IN (SELECT term FROM q)
),
scores AS (
  SELECT tf.doc_id,
         sum(q.qw * idf.idf * (tf.tf * 2.2)
             / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / c.avgdl))) AS s
  FROM tf JOIN q USING (term) JOIN idf USING (term)
       JOIN dl USING (doc_id), corpus c
  GROUP BY tf.doc_id
)
SELECT doc_id, round(s, 4) AS score_r FROM scores
ORDER BY s DESC, doc_id ASC LIMIT 10
"""

    # per-index wildcard rewrites union to the whole-corpus expansion
    o["bm25_wildcard_multi"] = _wc_prefix_sql

    # prefix + mid-pattern rewrites folded into ONE gate (50-gate cap)
    o["bm25_wildcard"] = f"""
        SELECT 'prefix' AS variant, * FROM ({_wc_prefix_sql})
        UNION ALL
        SELECT 'pattern' AS variant, * FROM ({_wc_pattern_sql})
    """

    _sorted_leg = f"""
        SELECT doc_id, n_chars FROM (
          SELECT DISTINCT doc_id FROM (
            SELECT doc_id, unnest({_TOK}) AS term FROM documents
          ) WHERE term IN ('merge', 'batch')
        ) JOIN documents USING (doc_id)
        {{where}}
        ORDER BY n_chars DESC, doc_id ASC LIMIT 8
    """
    o["sorted_search"] = f"""
        SELECT 'plain' AS leg, * FROM ({_sorted_leg.format(where="")})
        UNION ALL
        SELECT 'filtered' AS leg, *
        FROM ({_sorted_leg.format(where="WHERE n_chars % 2 = 0")})
    """

    # grouped search: BM25 scores (same CTE prologue as the bm25 gates)
    # → group by a stored field; groups ranked by their best hit
    # (score DESC, doc ASC), each group's top docs + exact total.
    def _grouped_leg_sql(
        leg: str, terms: str, gexpr: str, kg: int, kd: int,
        order: str = "relevance",
    ) -> str:
        sel_order = (
            "s DESC, doc_id ASC"
            if order == "relevance"
            else "gval ASC NULLS FIRST"
        )
        return f"""
        WITH tok AS (
          SELECT doc_id, unnest({_TOK}) AS term FROM documents
        ),
        tf AS (
          SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok GROUP BY 1, 2
        ),
        dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY 1),
        corpus AS (
          SELECT (SELECT count(*) FROM documents)::DOUBLE AS n,
                 (SELECT coalesce(sum(dl), 0) FROM dl)
                   / (SELECT count(*) FROM documents) AS avgdl
        ),
        q(term, qw) AS (VALUES {terms}),
        idf AS (
          SELECT s.term, ln(1 + (c.n - s.df + 0.5) / (s.df + 0.5)) AS idf
          FROM (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1) s,
               corpus c
          WHERE s.term IN (SELECT term FROM q)
        ),
        scores AS (
          SELECT tf.doc_id,
                 sum(q.qw * idf.idf * (tf.tf * 2.2)
                     / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / c.avgdl))) AS s
          FROM tf JOIN q USING (term) JOIN idf USING (term)
               JOIN dl USING (doc_id), corpus c
          GROUP BY tf.doc_id
        ),
        g AS (
          SELECT {gexpr} AS gval, s.doc_id, s.s
          FROM scores s JOIN documents d USING (doc_id)
        ),
        ranked AS (
          SELECT gval, doc_id, s,
                 row_number() OVER (
                   PARTITION BY gval ORDER BY s DESC, doc_id ASC
                 ) AS drn,
                 count(*) OVER (PARTITION BY gval) AS gtot
          FROM g
        ),
        sel AS (
          SELECT gval, row_number() OVER (ORDER BY {sel_order})
                   AS grank
          FROM ranked WHERE drn = 1
        )
        SELECT '{leg}' AS leg, r.gval, r.gtot AS group_total, r.doc_id,
               round(r.s, 4) AS score_r
        FROM ranked r JOIN sel ON r.gval IS NOT DISTINCT FROM sel.gval
        WHERE sel.grank <= {kg} AND r.drn <= {kd}
        ORDER BY sel.grank, r.drn
        """

    o["grouped_search"] = f"""
        SELECT * FROM ({_grouped_leg_sql(
            "str", "('merge', 1.0), ('batch', 1.0)", "d.lang", 3, 2
        )})
        UNION ALL
        SELECT * FROM ({_grouped_leg_sql(
            "num", "('join', 1.0), ('hash', 1.0)",
            "CAST(d.n_chars AS VARCHAR)", 4, 2
        )})
        UNION ALL
        SELECT * FROM ({_grouped_leg_sql(
            "key", "('merge', 1.0), ('batch', 1.0)", "d.lang", 2, 2,
            order="key_asc"
        )})
    """

    # string-field sort: NULLS FIRST mirrors Spark's asc default; DuckDB's
    # default VARCHAR collation is binary, same as Spark UTF8 order.
    # Both legs (single index / across the two split indexes) reduce to
    # the same whole-corpus ORDER BY — combined stats, same match set.
    _sorted_str_leg = f"""
        SELECT doc_id, lang, n_chars FROM (
          SELECT DISTINCT doc_id FROM (
            SELECT doc_id, unnest({_TOK}) AS term FROM documents
          ) WHERE term IN ('merge', 'batch')
        ) JOIN documents USING (doc_id)
        ORDER BY lang ASC NULLS FIRST, n_chars DESC, doc_id ASC LIMIT 8
    """
    o["sorted_search_str"] = f"""
        SELECT 'single' AS leg, * FROM ({_sorted_str_leg})
        UNION ALL
        SELECT 'multi' AS leg, * FROM ({_sorted_str_leg})
    """

    o["count_matches"] = f"""
        WITH hitdocs AS (
          SELECT DISTINCT doc_id FROM (
            SELECT doc_id, unnest({_TOK}) AS term FROM documents
          ) WHERE term IN ('join', 'hash')
        )
        SELECT 'total' AS variant, '' AS value,
               (SELECT count(*) FROM hitdocs) AS n_hits
        UNION ALL
        SELECT 'facet' AS variant, d.lang AS value, count(*) AS n_hits
        FROM documents d JOIN hitdocs USING (doc_id)
        GROUP BY d.lang
        UNION ALL
        SELECT 'range', 'lt300', count(*) FROM documents d
        JOIN hitdocs USING (doc_id) WHERE d.n_chars < 300
        UNION ALL
        SELECT 'range', 'mid', count(*) FROM documents d
        JOIN hitdocs USING (doc_id)
        WHERE d.n_chars >= 300 AND d.n_chars < 450
        UNION ALL
        SELECT 'range', 'ge450', count(*) FROM documents d
        JOIN hitdocs USING (doc_id) WHERE d.n_chars >= 450
        UNION ALL
        SELECT 'stat', s.value, s.n_hits FROM (
          SELECT count(n_chars)::BIGINT AS "count",
                 (count(*) - count(n_chars))::BIGINT AS missing,
                 min(n_chars)::BIGINT AS vmin,
                 max(n_chars)::BIGINT AS vmax,
                 sum(n_chars)::BIGINT AS vsum
          FROM documents d JOIN hitdocs USING (doc_id)
        ) UNPIVOT (n_hits FOR value IN ("count", missing, vmin, vmax, vsum)) s
    """

    o["wildcard_expand"] = f"""
        WITH dfs AS (
          SELECT term, count(*) AS df FROM (
            SELECT DISTINCT doc_id, term FROM (
              SELECT doc_id, unnest({_TOK}) AS term FROM documents
            )
          ) GROUP BY term
        )
        SELECT 'prefix' AS variant, term, df AS c
        FROM dfs WHERE term LIKE 's%'
        UNION ALL
        SELECT 'suggest' AS variant, term, d AS c FROM (
          SELECT term, levenshtein(term, 'par') AS d, df,
                 row_number() OVER (
                   ORDER BY levenshtein(term, 'par'), df DESC, term
                 ) AS rnk
          FROM dfs
          WHERE term <> 'par'
            AND abs(length(term) - 3) <= 2
            AND levenshtein(term, 'par') <= 2
        ) WHERE rnk <= 20
    """

    o["details_topk"] = (
        "SELECT t.doc_id, t.score_r, d.lang, d.source FROM ("
        + _bm25_sql([("merge", 1.0), ("batch", 1.0)], 5)
        + ") t LEFT JOIN documents d USING (doc_id)"
    )

    # stratified sampling: identical md5 survival rule derived in SQL
    o["stratified_sample"] = """
        SELECT doc_id, source FROM documents
        WHERE ('0x' || substring(md5(doc_id::VARCHAR || '|42'), 1, 8))::BIGINT
              < CAST((CASE source WHEN 'src3' THEN 0.5 WHEN 'src7' THEN 1.0
                      WHEN 'src12' THEN 0.25 ELSE 0.0 END) * 4294967296.0
                     AS BIGINT)
    """

    # exact quotas: same md5 ranking derived as a SQL window
    o["stratum_quota"] = """
        SELECT doc_id, source FROM (
          SELECT doc_id, source,
                 row_number() OVER (
                   PARTITION BY source
                   ORDER BY md5(doc_id::VARCHAR || '|42'), doc_id
                 ) AS rk,
                 CASE source WHEN 'src1' THEN 7 WHEN 'src4' THEN 3 END AS q
          FROM documents
        ) WHERE q IS NOT NULL AND rk <= q
    """

    # redaction: the same RE2-compatible patterns, global replace
    o["redact_text"] = """
        SELECT doc_id,
               regexp_replace(regexp_replace(regexp_replace(
                 substring(text, 1, 40) ||
                 ' mail bob@example.com site https://x.io/p?q=1 host 10.0.0.1 done',
                 '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
                 'https?://[^\\s]+', '<URL>', 'g'),
                 '\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b', '<IP>', 'g') AS redacted
        FROM documents
    """

    # sequence packing (bucketed greedy cumsum as a SQL window) + token-
    # window chunking (lateral stride-range + list slice) as a tagged union
    o["pack_sequences"] = f"""
        SELECT 'pack' AS variant, doc_id,
               CAST(doc_id % 4 AS BIGINT) AS c1,
               CAST(floor(coalesce(sum(n_tokens) OVER (
                    PARTITION BY doc_id % 4 ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    / 128.0) AS BIGINT) AS c2,
               n_tokens AS c3, '' AS txt
        FROM (SELECT doc_id, len({_TOK}) AS n_tokens FROM documents)
        UNION ALL
        SELECT 'chunk' AS variant, doc_id,
               (s.s // 16)::BIGINT AS c1,
               s.s::BIGINT AS c2,
               len(t[s.s + 1 : s.s + 32])::BIGINT AS c3,
               array_to_string(t[s.s + 1 : s.s + 32], ' ') AS txt
        FROM (SELECT doc_id, {_TOK} AS t FROM documents),
             unnest(range(0, greatest(len(t), 1), 16)) AS s(s)
    """

    # tumbling-window aggregation: time_bucket is the SQL twin of F.window;
    # session leg: the same lag + running-sum sessionization as
    # textops.sessionize, as DuckDB window functions
    o["windowed_events"] = """
        SELECT 'tumbling' AS variant,
               time_bucket(INTERVAL '1 hour', ts) AS window_start,
               event_type, count(*) AS n_events,
               round(sum(value), 4) AS sum_value
        FROM events GROUP BY 2, 3
        UNION ALL
        SELECT 'session', min(ts), CAST(user_id AS VARCHAR),
               count(*), round(sum(value), 4)
        FROM (
            SELECT user_id, ts, value,
                   sum(new_s) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_id
            FROM (
                SELECT user_id, event_id, ts, value,
                       CASE WHEN lag(ts) OVER w IS NULL
                                 OR ts > lag(ts) OVER w + INTERVAL '12 hours'
                            THEN 1 ELSE 0 END AS new_s
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            )
        )
        GROUP BY user_id, session_id
    """

    o["dedup_exact"] = """
        SELECT d.doc_id, c.canonical_id, d.doc_id <> c.canonical_id AS is_dup
        FROM (SELECT doc_id, md5(text) h FROM documents) d
        JOIN (SELECT md5(text) h, min(doc_id) canonical_id FROM documents GROUP BY 1) c
        USING (h)
    """

    # shared shingle CTE (n=3 token shingles, distinct per doc)
    shingle_cte = f"""
        WITH toks AS (
          SELECT doc_id, {_TOK} AS t FROM documents
        ),
        sh AS (
          SELECT DISTINCT doc_id, shingle FROM (
            SELECT doc_id,
                   unnest(
                     CASE WHEN len(t) >= 3 THEN
                       [array_to_string(t[i:i+2], ' ') FOR i IN range(1, len(t) - 1)]
                     ELSE [array_to_string(t, ' ')] END
                   ) AS shingle
            FROM toks
          ) WHERE shingle <> ''
        )
    """

    o["dedup_jaccard"] = shingle_cte + """
        , sizes AS (SELECT doc_id, count(*) sz FROM sh GROUP BY 1),
        inter AS (
          SELECT x.doc_id a, y.doc_id b, count(*) i
          FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
          GROUP BY 1, 2
        )
        SELECT a, b, round(i / (sa.sz + sb.sz - i), 4) AS jaccard
        FROM inter JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
        WHERE round(i / (sa.sz + sb.sz - i), 4) >= 0.2
    """

    o["minhash_signatures"] = shingle_cte + """
        SELECT doc_id,
               min(md5('0|' || shingle)) AS h0, min(md5('1|' || shingle)) AS h1,
               min(md5('2|' || shingle)) AS h2, min(md5('3|' || shingle)) AS h3
        FROM sh GROUP BY doc_id
    """

    _near_text_sql = shingle_cte + """
        , sig AS (
          SELECT doc_id,
                 min(md5('0|' || shingle)) h0, min(md5('1|' || shingle)) h1,
                 min(md5('2|' || shingle)) h2, min(md5('3|' || shingle)) h3,
                 min(md5('4|' || shingle)) h4, min(md5('5|' || shingle)) h5,
                 min(md5('6|' || shingle)) h6, min(md5('7|' || shingle)) h7
          FROM sh GROUP BY doc_id
        ),
        banded AS (
          SELECT doc_id, unnest([
            '0' || '#' || h0 || '#' || h1, '1' || '#' || h2 || '#' || h3,
            '2' || '#' || h4 || '#' || h5, '3' || '#' || h6 || '#' || h7
          ]) AS band FROM sig
        ),
        cand AS (
          SELECT DISTINCT x.doc_id a, y.doc_id b
          FROM banded x JOIN banded y ON x.band = y.band AND x.doc_id < y.doc_id
        ),
        sizes AS (SELECT doc_id, count(*) sz FROM sh GROUP BY 1),
        inter AS (
          SELECT c.a, c.b, count(*) i
          FROM cand c
          JOIN sh x ON x.doc_id = c.a
          JOIN sh y ON y.doc_id = c.b AND y.shingle = x.shingle
          GROUP BY 1, 2
        )
        SELECT a, b, round(i / (sa.sz + sb.sz - i), 4) AS jaccard
        FROM inter JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
        WHERE round(i / (sa.sz + sb.sz - i), 4) >= 0.2
    """

    # canonical assignment: DuckDB RECURSIVE CTE computes the transitive
    # closure of the SAME verified pair set (reach = self ∪ step over
    # undirected edges); canonical = min reachable docID — exactly the
    # fixpoint of the engine's min-label propagation (textops.dedup_near)
    o["dedup_near_canonical"] = (
        shingle_cte.replace("WITH toks", "WITH RECURSIVE toks")
        + """
        , sig AS (
          SELECT doc_id,
                 min(md5('0|' || shingle)) h0, min(md5('1|' || shingle)) h1,
                 min(md5('2|' || shingle)) h2, min(md5('3|' || shingle)) h3,
                 min(md5('4|' || shingle)) h4, min(md5('5|' || shingle)) h5,
                 min(md5('6|' || shingle)) h6, min(md5('7|' || shingle)) h7
          FROM sh GROUP BY doc_id
        ),
        banded AS (
          SELECT doc_id, unnest([
            '0' || '#' || h0 || '#' || h1, '1' || '#' || h2 || '#' || h3,
            '2' || '#' || h4 || '#' || h5, '3' || '#' || h6 || '#' || h7
          ]) AS band FROM sig
        ),
        cand AS (
          SELECT DISTINCT x.doc_id a, y.doc_id b
          FROM banded x JOIN banded y ON x.band = y.band AND x.doc_id < y.doc_id
        ),
        sizes AS (SELECT doc_id, count(*) sz FROM sh GROUP BY 1),
        inter AS (
          SELECT c.a, c.b, count(*) i
          FROM cand c
          JOIN sh x ON x.doc_id = c.a
          JOIN sh y ON y.doc_id = c.b AND y.shingle = x.shingle
          GROUP BY 1, 2
        ),
        pairs AS (
          SELECT a, b
          FROM inter JOIN sizes sa ON sa.doc_id = a
                     JOIN sizes sb ON sb.doc_id = b
          WHERE round(i / (sa.sz + sb.sz - i), 4) >= 0.2
        ),
        edges AS (
          SELECT a, b FROM pairs UNION SELECT b, a FROM pairs
        ),
        reach(node, other) AS (
          SELECT doc_id, doc_id FROM documents
          UNION
          SELECT r.node, e.b FROM reach r JOIN edges e ON r.other = e.a
        )
        SELECT node AS doc_id, min(other) AS canonical_id,
               min(other) <> node AS is_dup
        FROM reach GROUP BY node
    """
    )

    o["dedup_minhash_lsh"] = shingle_cte + """
        , sig AS (
          SELECT doc_id,
                 min(md5('0|' || shingle)) h0, min(md5('1|' || shingle)) h1,
                 min(md5('2|' || shingle)) h2, min(md5('3|' || shingle)) h3,
                 min(md5('4|' || shingle)) h4, min(md5('5|' || shingle)) h5,
                 min(md5('6|' || shingle)) h6, min(md5('7|' || shingle)) h7
          FROM sh GROUP BY doc_id
        ),
        banded AS (
          SELECT doc_id, unnest([
            '0' || '#' || h0 || '#' || h1, '1' || '#' || h2 || '#' || h3,
            '2' || '#' || h4 || '#' || h5, '3' || '#' || h6 || '#' || h7
          ]) AS band FROM sig
        )
        SELECT DISTINCT x.doc_id a, y.doc_id b
        FROM banded x JOIN banded y ON x.band = y.band AND x.doc_id < y.doc_id
    """

    bit_cases = " || ".join(
        f"(CASE WHEN sum(CASE WHEN substr(md5(term), {j}, 1) IN "
        "('8','9','a','b','c','d','e','f') THEN tf ELSE -tf END) >= 0 "
        "THEN '1' ELSE '0' END)"
        for j in range(1, 17)
    )
    o["simhash"] = f"""
        SELECT doc_id, {bit_cases} AS simhash FROM (
          SELECT doc_id, term, count(*) AS tf FROM (
            SELECT doc_id, unnest({_TOK}) AS term FROM documents
          ) GROUP BY 1, 2
        ) GROUP BY doc_id
    """

    lang_hits = {
        lang: "list_filter(t, x -> x IN ("
        + ", ".join(f"'{w}'" for w in words)
        + "))"
        for lang, words in tx.LANG_STOPWORDS.items()
    }
    # distinct-stopword hits == Spark's array_intersect size
    hit_exprs = ", ".join(
        f"len(list_distinct({e})) AS hits_{lang}" for lang, e in lang_hits.items()
    )
    o["lang_id"] = f"""
        WITH h AS (
          SELECT doc_id, {hit_exprs}
          FROM (SELECT doc_id, {_TOK} AS t FROM documents)
        )
        SELECT doc_id,
          CASE
            WHEN greatest(hits_en, hits_fr, hits_es, hits_de) <= 0 THEN 'und'
            WHEN hits_en = greatest(hits_en, hits_fr, hits_es, hits_de) THEN 'en'
            WHEN hits_fr = greatest(hits_en, hits_fr, hits_es, hits_de) THEN 'fr'
            WHEN hits_es = greatest(hits_en, hits_fr, hits_es, hits_de) THEN 'es'
            ELSE 'de'
          END AS lang_pred
        FROM h
    """

    en_sw = ", ".join(f"'{w}'" for w in tx.EN_STOPWORDS)
    # quality_scores gate = tagged union: classic signals + Gopher
    # repetition signals (variant column tags the leg; generic n/r1-r3
    # names keep the union schema shared — the gate docstring maps them).
    o["quality_scores"] = f"""
        WITH toksq AS (SELECT doc_id, text, {_TOK} AS t FROM documents),
        grams AS (
          SELECT doc_id,
            CASE WHEN len(t) >= 2 THEN
              [array_to_string(t[i:i+1], ' ') FOR i IN range(1, len(t))]
            ELSE []::VARCHAR[] END AS g2,
            CASE WHEN len(t) >= 3 THEN
              [array_to_string(t[i:i+2], ' ') FOR i IN range(1, len(t) - 1)]
            ELSE []::VARCHAR[] END AS g3
          FROM toksq
        ),
        topg AS (
          SELECT doc_id, max(c) AS topc FROM (
            SELECT doc_id, gram, count(*) AS c FROM (
              SELECT doc_id, unnest(g2) AS gram FROM grams
            ) GROUP BY doc_id, gram
          ) GROUP BY doc_id
        ),
        toku AS (SELECT doc_id, unnest(t) AS tok FROM toksq),
        uni AS (SELECT tok, count(*)::DOUBLE AS c FROM toku GROUP BY tok),
        tot AS (SELECT sum(c) AS total FROM uni),
        lp AS (SELECT tok, ln(c / total) AS logp FROM uni CROSS JOIN tot),
        puni AS (SELECT tok, c / total AS pu FROM uni CROSS JOIN tot),
        pairsq AS (
          SELECT doc_id, unnest(prevs) AS prev, unnest(curs) AS cur FROM (
            SELECT doc_id,
              CASE WHEN len(t) >= 2 THEN
                [t[i] FOR i IN range(1, len(t))]
              ELSE []::VARCHAR[] END AS prevs,
              CASE WHEN len(t) >= 2 THEN
                [t[i + 1] FOR i IN range(1, len(t))]
              ELSE []::VARCHAR[] END AS curs
            FROM toksq
          )
        ),
        bgc AS (
          SELECT prev, cur, count(*)::DOUBLE AS cbg
          FROM pairsq GROUP BY prev, cur
        ),
        prevc AS (SELECT prev, sum(cbg) AS cprev FROM bgc GROUP BY prev),
        bglp AS (
          SELECT p.doc_id,
                 ln((b.cbg + pu.pu) / (pc.cprev + 1)) AS logp
          FROM pairsq p
          JOIN bgc b USING (prev, cur)
          JOIN prevc pc USING (prev)
          JOIN puni pu ON pu.tok = p.cur
          UNION ALL
          SELECT f.doc_id, ln(pu.pu) AS logp
          FROM (
            SELECT doc_id, t[1] AS tok FROM toksq WHERE len(t) >= 1
          ) f JOIN puni pu USING (tok)
        ),
        g3occ AS (SELECT doc_id, unnest(g3) AS gram FROM grams),
        dftab AS (
          SELECT gram, count(DISTINCT doc_id)::DOUBLE AS df
          FROM g3occ GROUP BY gram
        ),
        nd AS (SELECT count(DISTINCT doc_id)::DOUBLE AS ndocs FROM g3occ),
        dsirf AS (
          SELECT doc_id, substring(md5(gram), 1, 3) AS bucket FROM (
            SELECT doc_id, unnest(t) AS gram FROM toksq
            UNION ALL SELECT doc_id, unnest(g2) AS gram FROM grams
          )
        ),
        dsircor AS (
          SELECT bucket, count(*)::DOUBLE AS cq FROM dsirf GROUP BY bucket
        ),
        dsirtgt AS (
          SELECT bucket, count(*)::DOUBLE AS ct FROM dsirf
          WHERE doc_id % 41 = 0 GROUP BY bucket
        ),
        dsirtot AS (
          SELECT (SELECT coalesce(sum(ct), 0) FROM dsirtgt) AS tt,
                 (SELECT sum(cq) FROM dsircor) AS tq
        ),
        dsirratio AS (
          SELECT c.bucket,
                 ln((coalesce(t.ct, 0) + 1) / (tots.tt + 4096))
                   - ln((c.cq + 1) / (tots.tq + 4096)) AS lr,
                 CASE WHEN t.ct IS NULL THEN 1.0 ELSE 0.0 END AS unseen
          FROM dsircor c LEFT JOIN dsirtgt t USING (bucket)
          CROSS JOIN dsirtot tots
        )
        SELECT 'quality' AS variant, doc_id,
               len(t) AS n,
               round(CASE WHEN len(t) > 0 THEN tc / len(t) ELSE 0.0 END, 4)
                 AS r1,
               round(CASE WHEN len(t) > 0 THEN ns / len(t) ELSE 0.0 END, 4)
                 AS r2,
               round(CASE WHEN length(text) > 0 THEN tc / length(text) ELSE 0.0 END, 4)
                 AS r3
        FROM (
          SELECT doc_id, text, t,
                 coalesce(list_sum(list_transform(t, x -> length(x))), 0)::DOUBLE AS tc,
                 len(list_filter(t, x -> x IN ({en_sw})))::DOUBLE AS ns
          FROM toksq
        )
        UNION ALL
        SELECT 'repetition' AS variant, g.doc_id,
               len(g2) AS n,
               round(CASE WHEN len(g2) > 0 THEN
                 1.0::DOUBLE - len(list_distinct(g2))::DOUBLE / len(g2)
               ELSE 0.0 END, 4) AS r1,
               round(CASE WHEN len(g3) > 0 THEN
                 1.0::DOUBLE - len(list_distinct(g3))::DOUBLE / len(g3)
               ELSE 0.0 END, 4) AS r2,
               round(CASE WHEN len(g2) > 0 THEN
                 coalesce(topc, 0)::DOUBLE / len(g2)
               ELSE 0.0 END, 4) AS r3
        FROM grams g LEFT JOIN topg USING (doc_id)
        UNION ALL
        SELECT 'unigram_lm' AS variant, doc_id,
               count(*) AS n,
               round(-avg(logp), 4) AS r1,
               round(exp(-avg(logp)), 4) AS r2,
               round(min(logp), 4) AS r3
        FROM toku JOIN lp USING (tok)
        GROUP BY doc_id
        UNION ALL
        SELECT 'bigram_lm' AS variant, doc_id,
               count(*) AS n,
               round(-avg(logp), 4) AS r1,
               round(exp(-avg(logp)), 4) AS r2,
               round(min(logp), 4) AS r3
        FROM bglp
        GROUP BY doc_id
        UNION ALL
        SELECT 'boilerplate' AS variant, doc_id,
               count(*) AS n,
               round(avg(CASE WHEN df >= 2 THEN 1.0 ELSE 0.0 END), 4) AS r1,
               round(max(df) / max(ndocs), 4) AS r2,
               round(avg(df) / max(ndocs), 4) AS r3
        FROM g3occ JOIN dftab USING (gram) CROSS JOIN nd
        GROUP BY doc_id
        UNION ALL
        SELECT 'dsir' AS variant, doc_id,
               count(*) AS n,
               round(sum(lr), 4) AS r1,
               round(avg(lr), 4) AS r2,
               round(avg(unseen), 4) AS r3
        FROM dsirf JOIN dsirratio USING (bucket)
        GROUP BY doc_id
    """

    # token_counts gate = tagged union: token counting + eval-set
    # decontamination (benchmark = the deterministic doc_id % 41 = 0
    # corpus slice; a doc is contaminated when any of its distinct
    # 3-gram shingles appears in the benchmark's shingle set) + the
    # END-TO-END curate verdict (rule chain over the same components:
    # length cut, top-2gram repetition cut, near-dup transitive-closure
    # canonical keep — the dedup_near_canonical recursive CTE — then
    # benchmark overlap; first match wins).
    o["token_counts"] = (
        shingle_cte.replace("WITH toks", "WITH RECURSIVE toks")
        + f"""
        , bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 41 = 0),
        sig AS (
          SELECT doc_id,
                 min(md5('0|' || shingle)) h0, min(md5('1|' || shingle)) h1,
                 min(md5('2|' || shingle)) h2, min(md5('3|' || shingle)) h3,
                 min(md5('4|' || shingle)) h4, min(md5('5|' || shingle)) h5,
                 min(md5('6|' || shingle)) h6, min(md5('7|' || shingle)) h7
          FROM sh GROUP BY doc_id
        ),
        banded AS (
          SELECT doc_id, unnest([
            '0' || '#' || h0 || '#' || h1, '1' || '#' || h2 || '#' || h3,
            '2' || '#' || h4 || '#' || h5, '3' || '#' || h6 || '#' || h7
          ]) AS band FROM sig
        ),
        cand AS (
          SELECT DISTINCT x.doc_id a, y.doc_id b
          FROM banded x JOIN banded y ON x.band = y.band AND x.doc_id < y.doc_id
        ),
        sizes AS (SELECT doc_id, count(*) sz FROM sh GROUP BY 1),
        inter AS (
          SELECT c.a, c.b, count(*) i
          FROM cand c
          JOIN sh x ON x.doc_id = c.a
          JOIN sh y ON y.doc_id = c.b AND y.shingle = x.shingle
          GROUP BY 1, 2
        ),
        pairs AS (
          SELECT a, b
          FROM inter JOIN sizes sa ON sa.doc_id = a
                     JOIN sizes sb ON sb.doc_id = b
          WHERE round(i / (sa.sz + sb.sz - i), 4) >= 0.2
        ),
        edges AS (
          SELECT a, b FROM pairs UNION SELECT b, a FROM pairs
        ),
        reach(node, other) AS (
          SELECT doc_id, doc_id FROM documents
          UNION
          SELECT r.node, e.b FROM reach r JOIN edges e ON r.other = e.a
        ),
        canon AS (
          SELECT node AS doc_id, min(other) <> node AS is_dup
          FROM reach GROUP BY node
        ),
        g2c AS (
          SELECT doc_id,
            CASE WHEN len(t) >= 2 THEN
              [array_to_string(t[i:i+1], ' ') FOR i IN range(1, len(t))]
            ELSE []::VARCHAR[] END AS g2
          FROM toks
        ),
        top2 AS (
          SELECT g.doc_id,
                 round(CASE WHEN any_value(len(g.g2)) > 0
                       THEN coalesce(max(x.c), 0)::DOUBLE
                            / any_value(len(g.g2))
                       ELSE 0.0 END, 4) AS top2f
          FROM g2c g LEFT JOIN (
            SELECT doc_id, gram, count(*) AS c
            FROM (SELECT doc_id, unnest(g2) AS gram FROM g2c)
            GROUP BY doc_id, gram
          ) x USING (doc_id)
          GROUP BY g.doc_id
        ),
        dhits AS (
          SELECT s.doc_id, count(b.shingle) AS nh
          FROM sh s LEFT JOIN bench b ON s.shingle = b.shingle
          GROUP BY s.doc_id
        ),
        sgrams AS (
          SELECT doc_id, gi.i::BIGINT AS pos,
                 array_to_string(t[gi.i + 1 : gi.i + 8], ' ') AS gram
          FROM toks, unnest(range(0, len(t) - 7)) AS gi(i)
          WHERE len(t) >= 8
        ),
        sdup AS (SELECT gram FROM sgrams GROUP BY gram HAVING count(*) >= 2),
        socc AS (SELECT DISTINCT doc_id, pos FROM sgrams JOIN sdup USING (gram)),
        scov AS (
          SELECT doc_id, count(DISTINCT pos + s.s) AS cov
          FROM socc, unnest(range(0, 8)) AS s(s)
          GROUP BY doc_id
        ),
        sspan AS (
          SELECT doc_id,
                 sum(CASE WHEN prev_end IS NULL OR pos >= prev_end
                     THEN 1 ELSE 0 END)::BIGINT AS ns
          FROM (
            SELECT doc_id, pos,
                   max(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                     AS prev_end
            FROM socc
          ) GROUP BY doc_id
        ),
        fz_cand AS (
          SELECT DISTINCT x.doc_id AS doc_id, y.doc_id AS bench_id
          FROM banded x JOIN banded y ON x.band = y.band
          WHERE y.doc_id % 41 = 0
        ),
        fz_inter AS (
          SELECT c.doc_id, c.bench_id, count(*) AS i
          FROM fz_cand c
          JOIN sh x ON x.doc_id = c.doc_id
          JOIN sh y ON y.doc_id = c.bench_id AND y.shingle = x.shingle
          GROUP BY 1, 2
        ),
        fz_best AS (
          SELECT doc_id, j FROM (
            SELECT f.doc_id,
                   round(f.i / (sa.sz + sb.sz - f.i), 4) AS j,
                   row_number() OVER (
                     PARTITION BY f.doc_id
                     ORDER BY round(f.i / (sa.sz + sb.sz - f.i), 4) DESC,
                              f.bench_id ASC
                   ) AS rn
            FROM fz_inter f JOIN sizes sa ON sa.doc_id = f.doc_id
                            JOIN sizes sb ON sb.doc_id = f.bench_id
          ) WHERE rn = 1
        )
        SELECT 'counts' AS variant, doc_id,
               len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''))
                 AS c1,
               len(regexp_extract_all(text, '{tx.BPE_ISH_PATTERN}'))
                 AS c2
        FROM documents
        UNION ALL
        SELECT 'decontam' AS variant, doc_id,
               nh AS c1,
               CASE WHEN nh >= 1 THEN 1 ELSE 0 END::BIGINT AS c2
        FROM dhits
        UNION ALL
        SELECT 'curate' AS variant, doc_id,
               CASE WHEN reason = 0 THEN 1 ELSE 0 END::BIGINT AS c1,
               reason::BIGINT AS c2
        FROM (
          SELECT tk.doc_id,
                 CASE WHEN len(tk.t) < 16 THEN 1
                      WHEN tp.top2f > 0.09 THEN 2
                      WHEN cn.is_dup THEN 3
                      WHEN coalesce(dh.nh, 0) >= 1 THEN 4
                      ELSE 0 END AS reason
          FROM toks tk
          JOIN top2 tp USING (doc_id)
          JOIN canon cn USING (doc_id)
          LEFT JOIN dhits dh USING (doc_id)
        )
        UNION ALL
        SELECT 'substring' AS variant, d.doc_id,
               coalesce(c.cov, 0)::BIGINT AS c1,
               coalesce(p.ns, 0)::BIGINT AS c2
        FROM documents d
        LEFT JOIN scov c USING (doc_id)
        LEFT JOIN sspan p USING (doc_id)
        UNION ALL
        SELECT 'decontam_fuzzy' AS variant, d.doc_id,
               CASE WHEN coalesce(b.j, 0.0) >= 0.5
                    THEN 1 ELSE 0 END::BIGINT AS c1,
               round(coalesce(b.j, 0.0) * 10000)::BIGINT AS c2
        FROM documents d
        LEFT JOIN fz_best b USING (doc_id)
    """
    )

    o["doc_fingerprint"] = shingle_cte + """
        SELECT doc_id, min(md5(shingle)) AS fingerprint FROM sh GROUP BY doc_id
    """

    o["media_frame_sample"] = """
        SELECT doc_id AS media_id, i::INT AS frame_idx, (i * 500)::INT AS frame_ts_ms
        FROM documents, unnest(range(0, greatest(1, n_chars // 500))) AS t(i)
    """

    o["winnow_fingerprints"] = """
        WITH g AS (
          SELECT doc_id,
                 [md5(substring(text, i, 16)) FOR i IN range(1, length(text) - 14)]
                   AS h
          FROM documents WHERE length(text) >= 16
        )
        SELECT DISTINCT doc_id, fp AS fingerprint FROM (
          SELECT doc_id, unnest(
            CASE WHEN len(h) >= 8 THEN
              [list_min(h[i : i + 7]) FOR i IN range(1, len(h) - 6)]
            WHEN len(h) > 0 THEN [list_min(h)] ELSE [] END
          ) AS fp FROM g
        )
    """

    _ann_exact_sql = """
        WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
        SELECT vec_id,
               round(
                 list_dot_product(embedding::DOUBLE[], qv::DOUBLE[])
                 / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                    * sqrt(list_dot_product(qv::DOUBLE[], qv::DOUBLE[]))), 4
               ) AS cos
        FROM embeddings, q WHERE vec_id <> 0
        ORDER BY cos DESC, vec_id ASC LIMIT 20
    """

    # Full oracle for the APPROXIMATE path: the md5-Rademacher hyperplanes
    # are deterministic constants, inlined as explicit sequential ±term
    # chains so the projection sign (and hence bucket/probe set) matches
    # the engine's left-to-right float64 fold bit-for-bit; candidates =
    # Hamming ball of radius 2 around the query's bucket, ranked by exact
    # cosine — identical semantics to similarity.ann_topk.
    from katta_spark.similarity import rademacher_hyperplanes

    H = rademacher_hyperplanes(64, 6, 7)

    def _proj(col: str, p: int) -> str:
        return " + ".join(
            f"{col}[{d + 1}]::DOUBLE * {H[p, d]:.1f}" for d in range(64)
        )

    def _bucket(col: str) -> str:
        return " + ".join(
            f"(CASE WHEN ({_proj(col, p)}) >= 0 THEN {1 << p} ELSE 0 END)"
            for p in range(6)
        )

    _ann_lsh_sql = f"""
        WITH sig AS (
          SELECT vec_id, embedding, ({_bucket("embedding")})::BIGINT AS bucket
          FROM embeddings
        ),
        q AS (SELECT embedding AS qv, bucket AS qb FROM sig WHERE vec_id = 0),
        cand AS (
          SELECT s.vec_id, s.embedding FROM sig s, q
          WHERE bit_count(xor(s.bucket, q.qb)) <= 2 AND s.vec_id <> 0
        )
        SELECT vec_id,
               round(
                 list_dot_product(embedding::DOUBLE[], qv::DOUBLE[])
                 / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                    * sqrt(list_dot_product(qv::DOUBLE[], qv::DOUBLE[]))), 4
               ) AS cos
        FROM cand, q
        ORDER BY cos DESC, vec_id ASC LIMIT 10
    """

    # Banded sign-LSH (similarity.banded_lsh_buckets: 4 bands x 6 planes,
    # total 24 md5-Rademacher planes): candidates share >=1 band bucket,
    # then exact-cosine verify — bit-identical band assignment via the
    # same sequential fold order.
    HB = rademacher_hyperplanes(64, 24, 7)

    def _band_proj(col: str, p: int) -> str:
        return " + ".join(
            f"{col}[{d + 1}]::DOUBLE * {HB[p, d]:.1f}" for d in range(64)
        )

    def _band_bucket(col: str, bi: int, r: int = 6) -> str:
        bits = " + ".join(
            f"(CASE WHEN ({_band_proj(col, bi * r + p)}) >= 0 "
            f"THEN {1 << p} ELSE 0 END)"
            for p in range(r)
        )
        return f"'{bi}' || '#' || (({bits})::BIGINT)::VARCHAR"

    band_exprs = ", ".join(_band_bucket("embedding", bi) for bi in range(4))
    _near_emb_sql = f"""
        WITH banded AS (
          SELECT vec_id, unnest([{band_exprs}]) AS band FROM embeddings
        ),
        cand AS (
          SELECT DISTINCT x.vec_id a, y.vec_id b
          FROM banded x JOIN banded y
            ON x.band = y.band AND x.vec_id < y.vec_id
        )
        SELECT a, b,
               round(
                 list_dot_product(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[])
                 / (sqrt(list_dot_product(ea.embedding::DOUBLE[], ea.embedding::DOUBLE[]))
                    * sqrt(list_dot_product(eb.embedding::DOUBLE[], eb.embedding::DOUBLE[]))),
                 4
               ) AS cos
        FROM cand
        JOIN embeddings ea ON ea.vec_id = a
        JOIN embeddings eb ON eb.vec_id = b
        WHERE round(
                 list_dot_product(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[])
                 / (sqrt(list_dot_product(ea.embedding::DOUBLE[], ea.embedding::DOUBLE[]))
                    * sqrt(list_dot_product(eb.embedding::DOUBLE[], eb.embedding::DOUBLE[]))),
                 4
              ) >= 0.3
    """

    # folded gates (50-gate driver cap): both near-dup modalities in one
    # gate, both similarity paths in one gate
    o["dedup_near_pairs"] = f"""
        SELECT 'text' AS variant, a, b, jaccard AS sim
        FROM ({_near_text_sql})
        UNION ALL
        SELECT 'embedding' AS variant, a, b, cos AS sim
        FROM ({_near_emb_sql})
    """
    # 'hybrid' leg: BM25 top-25 and cosine top-25 fused by reciprocal
    # rank (1/(60+rank), Cormack et al. 2009) — ranks over the ROUNDED
    # scores both engines produce identically, so the fusion is exact.
    _cos25_sql = _ann_exact_sql.replace("LIMIT 20", "LIMIT 25")
    _bm25_25 = _bm25_sql([("join", 1.0), ("hash", 1.0)], 25)
    _hybrid_sql = f"""
        WITH bm AS (
          SELECT doc_id,
                 row_number() OVER (ORDER BY score_r DESC, doc_id ASC)
                   AS bm25_rank
          FROM ({_bm25_25})
        ),
        ce AS (
          SELECT vec_id AS doc_id,
                 row_number() OVER (ORDER BY cos DESC, vec_id ASC)
                   AS cos_rank
          FROM ({_cos25_sql})
        )
        SELECT doc_id AS vec_id,
               round(coalesce(1.0 / (60 + bm25_rank), 0)
                     + coalesce(1.0 / (60 + cos_rank), 0), 6) AS cos
        FROM bm FULL OUTER JOIN ce USING (doc_id)
        ORDER BY 2 DESC, 1 ASC LIMIT 10
    """
    o["ann_cosine_top20"] = f"""
        SELECT 'exact' AS variant, * FROM ({_ann_exact_sql})
        UNION ALL
        SELECT 'lsh' AS variant, * FROM ({_ann_lsh_sql})
        UNION ALL
        SELECT 'hybrid' AS variant, * FROM ({_hybrid_sql})
    """

    return o
