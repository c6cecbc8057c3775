"""Document deletion — Lucene's delete-then-expunge model over the
immutable postings.

Reference context: Katta itself serves IMMUTABLE index versions (a
"delete" is deploying a new index, IndexMetaData.java:12-46) — but the
Lucene engine it serves (and every consumer of it) has the standard
deletion model: ``IndexWriter.deleteDocuments(Term|Query)`` marks docs
in a side structure, every collector skips them via the in-RAM liveDocs
bitset at collection time, and df/cf/numDocs/avgdl stay STALE until a
segment merge expunges the deletions (``expungeDeletes`` /
``forceMerge``). katta_spark replicates exactly that:

- :func:`delete_docs` / :func:`delete_by_query` append (shard_id,
  doc_id) rows to a ``tombstones.parquet`` side table inside the index
  directory — the postings, stats, dictionary and docvalue sidecar are
  untouched (the index stays immutable, Katta-style).
- Every search path (search / search_with_total / search_multi /
  search_batch / search_sorted / search_grouped / count_matches /
  facet_counts) denies tombstoned docIDs INSIDE the shard kernels,
  before any top-k / totals / facet cap — survivors' scores are
  UNCHANGED because global stats are deliberately stale, bit-for-bit
  the Lucene pre-merge behavior.
- ``katta_spark.compact.compact()`` (or its single-input wrapper
  :func:`katta_spark.compact.expunge`) folds the tombstones into the
  postings: deleted docs leave every posting list, marker row and
  docvalue bucket; df/cf/n_docs/avgdl are corrected exactly; the
  output index carries no tombstones.
- getDetails / term_vectors / more_like_this keep serving deleted docs
  by explicit docID until expunge — Lucene's IndexReader.document()
  does the same for not-yet-merged deletions.

100-TB shape: the tombstone table is bounded by the DELETED count, not
the corpus; at query time it broadcasts once per handle (torrent
distribution, the liveDocs-in-RAM analog) and is memoized across
queries. Past ``query._MAX_TOMBSTONES`` the handle refuses with an
"expunge first" error instead of degrading.
"""

from __future__ import annotations

import os
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from katta_spark.query import IndexHandle, search


def _tomb_write(
    spark: SparkSession, h: IndexHandle, new_rows: DataFrame
) -> int:
    """Dedupe ``new_rows`` (shard_id, doc_id) against the existing
    tombstone set and append; returns the number of NEW tombstones.
    Re-deleting an already-deleted doc is a no-op (Lucene:
    deleteDocuments on a deleted doc changes nothing)."""
    new_rows = new_rows.select(
        F.col("shard_id").cast("int"), F.col("doc_id").cast("long")
    ).distinct()
    path = h.tombstones_path()
    if h.has_tombstones():
        existing = spark.read.parquet(path)
        new_rows = new_rows.join(existing, ["shard_id", "doc_id"], "left_anti")
    # the set is small (bounded by deletions); count once, then append
    new_rows = new_rows.persist()
    try:
        n = new_rows.count()
        if n:
            new_rows.write.mode("append").parquet(path)
    finally:
        new_rows.unpersist()
    # drop the handle's memoized deny array (its signature changes with
    # the file set, but clear eagerly for same-session visibility)
    h.__dict__.pop("_tomb_cache", None)
    return int(n)


def delete_docs(
    spark: SparkSession,
    index: "IndexHandle | str",
    doc_ids: "DataFrame | Iterable[int]",
    doc_col: str = "doc_id",
) -> int:
    """Tombstone the given docIDs — ``IndexWriter.deleteDocuments``.

    ``doc_ids``: a DataFrame (its ``doc_col`` column holds the ids) or a
    plain iterable of ints. IDs absent from the index are accepted and
    ignored at query time (Lucene: deleting a non-matching term is a
    no-op); they are dropped during expunge. Returns the number of newly
    tombstoned ids."""
    h = IndexHandle.open(spark, index) if isinstance(index, str) else index
    if isinstance(doc_ids, DataFrame):
        ids = doc_ids.select(F.col(doc_col).cast("long").alias("doc_id"))
    else:
        ids = spark.createDataFrame(
            [(int(x),) for x in doc_ids], "doc_id long"
        )
    rows = ids.withColumn("shard_id", h.shard_expr(F.col("doc_id")))
    return _tomb_write(spark, h, rows)


def delete_by_query(
    spark: SparkSession,
    index: "IndexHandle | str",
    query: str,
) -> int:
    """Tombstone every doc matching ``query`` —
    ``IndexWriter.deleteDocuments(Query)``. The full search surface
    applies (boolean clauses, phrases, field terms, rewrites); already-
    tombstoned docs no longer match, so repeated calls are idempotent.
    Returns the number of newly tombstoned docs."""
    h = IndexHandle.open(spark, index) if isinstance(index, str) else index
    # mode='or' accepts the whole syntax surface (boolean clauses refuse
    # other modes); k=maxint caps nothing, prune off so no match is skipped
    matches = search(
        spark, h, query, k=2**31 - 1, prune=False, ordered=False,
    ).select("shard_id", "doc_id")
    return _tomb_write(spark, h, matches)
