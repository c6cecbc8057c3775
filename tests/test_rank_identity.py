"""Rank identity: compressed-index WAND path == brute-force oracle.

Mirrors LuceneComplianceTest.java:107-190 — the reference builds the same
docs as 2 Katta shards and 1 monolithic Lucene index and asserts equal
totalHits + per-hit scores. Here: 4-shard compressed index vs the
single-plan DataFrame oracle, on the full reference query set.
"""

from __future__ import annotations

import os

import numpy as np
import pytest

from katta_spark.build import build_index
from katta_spark.oracle import bm25_topk, with_doc_ids
from katta_spark.query import IndexHandle, count_matches, get_details, search
from katta_spark.synth import reference_queries


@pytest.fixture(scope="module")
def index(spark, tiny_transcripts, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx"))
    summary = build_index(
        spark, tiny_transcripts, d, num_shards=4, block=32
    )
    assert summary["batches_committed"] >= 1
    return IndexHandle.open(spark, d)


@pytest.fixture(scope="module")
def docs(tiny_transcripts):
    return with_doc_ids(tiny_transcripts, num_shards=4).cache()


@pytest.mark.parametrize("q", reference_queries(), ids=lambda q: f"q{q['query_id']}")
def test_rank_identity(spark, index, docs, q):
    got = search(spark, index, q["query"], k=q["k"]).collect()
    want = bm25_topk(docs, q["query"], k=q["k"], shard_col="shard_id").collect()
    assert [(r.doc_id, r.shard_id) for r in got] == [
        (r.doc_id, r.shard_id) for r in want
    ], f"docID order differs for {q['query']!r}"
    g = np.array([r.score for r in got], dtype=np.float32)
    w = np.array([r.score for r in want], dtype=np.float32)
    np.testing.assert_allclose(g, w, rtol=2e-6)


@pytest.mark.parametrize(
    "query", ["hotalpha", "hotalpha w01990", "hotalpha hotbeta hotgamma w00011"]
)
def test_prune_equals_noprune(spark, index, query):
    a = search(spark, index, query, k=10, prune=True).collect()
    b = search(spark, index, query, k=10, prune=False).collect()
    assert [(r.doc_id, r.score) for r in a] == [(r.doc_id, r.score) for r in b]


def test_shard_subset_search(spark, index, docs):
    """Index-name/shard pruning (P4, Client.java:425-456): searching a shard
    subset equals the oracle restricted to those shards."""
    got = search(spark, index, "hotalpha", k=10, shard_ids=[1, 3]).collect()
    from pyspark.sql import functions as F

    subset = docs.where(F.col("shard_id").isin([1, 3]))
    want = bm25_topk(subset, "hotalpha", k=10, shard_col="shard_id").collect()
    assert [(r.doc_id, r.shard_id) for r in got] == [
        (r.doc_id, r.shard_id) for r in want
    ]


def test_count_matches(spark, index, docs):
    """count() fast path (A3): docs matching ≥1 term, summed over shards."""
    from pyspark.sql import functions as F
    from katta_spark.tokenizer import tokenize_col

    n = count_matches(spark, index, "hotalpha hotbeta")
    want = (
        docs.select("doc_id", tokenize_col(F.col("text")).alias("toks"))
        .where(
            F.arrays_overlap(F.col("toks"), F.array(F.lit("hotalpha"), F.lit("hotbeta")))
        )
        .count()
    )
    assert n == want


def test_details_join(spark, index, tiny_transcripts):
    """J2: top-k joined back to stored fields preserves text equality."""
    hits = search(spark, index, "hotalpha", k=5)
    det = get_details(spark, hits, tiny_transcripts).collect()
    assert len(det) == 5
    assert all(r.text is not None and "hotalpha" in r.text for r in det)
    assert all(r.conv_id is not None for r in det)


def test_resume_skips_committed(spark, tiny_transcripts, tmp_path_factory):
    """B6: a re-run over the same index dir skips committed batches and the
    index is byte-identical in content (terms, postings)."""
    d = str(tmp_path_factory.mktemp("idx_resume"))
    s1 = build_index(
        spark, tiny_transcripts, d, num_shards=4, shards_per_batch=2
    )
    assert s1["batches_committed"] == 2
    first = search(spark, d, "hotalpha w00011", k=10).collect()
    s2 = build_index(
        spark, tiny_transcripts, d, num_shards=4, shards_per_batch=2
    )
    assert s2["batches_committed"] == 0
    assert s2["batches_skipped"] == 2
    again = search(spark, d, "hotalpha w00011", k=10).collect()
    assert [(r.doc_id, r.score) for r in first] == [(r.doc_id, r.score) for r in again]


def test_lineage_rows(spark, index):
    import os

    lin = spark.read.parquet(os.path.join(index.index_dir, "lineage.parquet"))
    rows = lin.collect()
    assert all(r.status == "committed" for r in rows)
    assert all(r.terms > 0 and r.postings > 0 and r.bytes > 0 for r in rows)


def test_wildcard_expansion_cap(spark, index):
    """Lucene maxClauseCount analog: a too-broad prefix errors instead of
    pulling the vocabulary through the driver."""
    from katta_spark.query import expand_wildcards

    with pytest.raises(ValueError, match="expands to more than"):
        expand_wildcards(spark, index, "w*", max_expansions=3)
    # a narrow prefix under the cap still expands
    qw = expand_wildcards(spark, index, "hotal*", max_expansions=3)
    assert qw == {"hotalpha": 1.0}


def test_many_term_query_single_stage(spark, index, docs):
    """More than 64 query terms (past which a Spark scan could no longer
    push an In(th) predicate) still run as the one shard-local job, with
    no exchange or broadcast, merged into a local result; ranking must be
    identical to the oracle (this also exercises the incremental OR-kernel
    accumulator on a wide expansion-like query)."""
    from katta_spark.plans import audit_search_plan, jobs_started

    terms = [f"w{i:05d}" for i in range(10, 10 + 64 + 10)]
    q = " ".join(terms + ["hotalpha"])
    search(spark, index, q, k=15)  # warm the handle
    with jobs_started(spark) as n_search:
        hits = search(spark, index, q, k=15)
    audit = audit_search_plan(hits)
    assert n_search[0] == 1, n_search
    assert audit["local_result"] and audit["n_exchanges"] == 0, audit["plan"]
    got = hits.collect()
    want = bm25_topk(docs, q, k=15, shard_col="shard_id").collect()
    assert [(r.doc_id, r.shard_id) for r in got] == [
        (r.doc_id, r.shard_id) for r in want
    ]
    np.testing.assert_allclose(
        np.array([r.score for r in got], np.float32),
        np.array([r.score for r in want], np.float32),
        rtol=2e-6,
    )


def test_zero_doc_shards(spark, tmp_path_factory):
    """Shards with zero documents (num_shards >> n_docs) must build and
    search cleanly — reference KATTA-203 (zero-doc shard handling)."""
    from katta_spark.synth import synth_transcripts

    d = str(tmp_path_factory.mktemp("sparse_idx"))
    tiny = synth_transcripts(spark, 10, seed=11)
    s = build_index(spark, tiny, d, num_shards=16)
    assert s["n_docs"] == 10
    terms = tiny.selectExpr("explode(split(text, ' ')) t").where("t <> ''").limit(1).collect()
    hits = search(spark, d, terms[0]["t"], k=5).collect()
    assert len(hits) >= 1
    assert count_matches(spark, d, "zzz") == 0


def test_open_refuses_unknown_format(spark, index, tmp_path_factory):
    """IndexHandle.open checks FORMAT_VERSION up front: a pre-v8 (or
    versionless) directory gets a clear 'rebuild required' error instead
    of an opaque missing-column failure inside the first phrase query."""
    import shutil

    d = str(tmp_path_factory.mktemp("idx_oldfmt")) + "/idx"
    shutil.copytree(index.index_dir, d)
    with open(os.path.join(d, "FORMAT_VERSION"), "w") as fh:
        fh.write("7")
    with pytest.raises(ValueError, match="format 7.*rebuild"):
        IndexHandle.open(spark, d)
    os.remove(os.path.join(d, "FORMAT_VERSION"))
    with pytest.raises(ValueError, match="unknown.*rebuild"):
        IndexHandle.open(spark, d)
