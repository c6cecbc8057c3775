"""Physical-plan audits + seeded rank-identity fuzzing.

The plan audit enforces the scale design (SURVEY.md §4): one shard-local
job per search with no SQL plan and no exchange, the term filter and column
list in that job's reader, and the client merge on the driver, so a search
returns a local relation. The fuzz test hammers
the engine-vs-oracle equivalence with random queries beyond the fixed
reference set.
"""

from __future__ import annotations

import random

import numpy as np
import pytest
from pyspark.sql import functions as F

from katta_spark.build import build_index
from katta_spark.oracle import bm25_topk, with_doc_ids
from katta_spark.plans import (
    audit_details_plan,
    audit_search_plan,
    audit_sorted_search_plan,
    jobs_started,
)
from katta_spark.query import get_details, search, search_sorted
from katta_spark.synth import HOT_TERMS


@pytest.fixture(scope="module")
def idx(spark, tiny_transcripts, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("fuzz_idx"))
    build_index(spark, tiny_transcripts, d, num_shards=4)
    return d


@pytest.fixture(scope="module")
def docs(tiny_transcripts):
    return with_doc_ids(tiny_transcripts, 4).cache()


@pytest.fixture
def fetches(monkeypatch):
    """Every phase-1 fetch a search builds while the test runs: its
    ``cols`` are the shard reader's column list and ``terms.th`` its term
    hash set."""
    import katta_spark.query as ksq

    got = []
    orig = ksq._fetch_postings

    def record(*a, **kw):
        got.append(orig(*a, **kw))
        return got[-1]

    monkeypatch.setattr(ksq, "_fetch_postings", record)
    return got


def test_search_plan_shape(spark, idx):
    search(spark, idx, "hotalpha w00011", k=10)  # warm the handle
    with jobs_started(spark) as n_search:
        hits = search(spark, idx, "hotalpha w00011", k=10)
    audit = audit_search_plan(hits)
    # the shard stage ran inside search() as one job that reads the
    # postings itself (no file scan); the driver merged its rows, so the
    # result is a local relation: nothing shuffled, broadcast or sorted,
    # and collecting it starts no job
    assert n_search[0] == 1, n_search
    assert audit["local_result"], audit["plan"][:2000]
    assert not audit["postings_scan"], audit["plan"][:2000]
    assert audit["n_exchanges"] == 0, audit["plan"][:2000]
    with jobs_started(spark) as n_collect:
        assert len(hits.collect()) == 10
    assert n_collect[0] == 0, n_collect


def test_details_plan_broadcasts_topk(spark, idx, tiny_transcripts):
    """J2 at scale: the broadcast (build) side must be the tiny top-k (the
    merged hits' LocalTableScan), never the corpus (a left join hinted on
    its preserved side silently degrades to a corpus-wide sort-merge
    join)."""
    hits = search(spark, idx, "hotalpha w00011", k=5)
    details = get_details(spark, hits, tiny_transcripts, fields=["role", "text"])
    audit = audit_details_plan(details)
    assert audit["broadcast_join"], audit["plan"][:2000]
    assert audit["no_smj"], audit["plan"][:2000]
    assert audit["topk_is_build_side"], audit["plan"][:2000]


def test_sorted_search_plan_no_global_sort(spark, idx, tiny_transcripts):
    """T2/T4 at scale: field sort must not first run a global top-(2^31-1)
    score sort through one partition (reference never materializes a global
    score sort either — TopFieldCollector, LuceneServer.java:672-677)."""
    out = search_sorted(
        spark, idx, "hotalpha", tiny_transcripts,
        sort_cols=[F.col("ts").desc()], k=5, track_scores=False,
    )
    audit = audit_sorted_search_plan(out)
    assert audit["take_ordered"], audit["plan"][:2000]
    assert audit["no_single_partition"], audit["plan"][:2000]
    assert audit["no_global_limit"], audit["plan"][:2000]


def test_filter_ids_stay_off_the_driver(spark, idx, docs, monkeypatch):
    """A ``filter_df``'s ids reach the kernels without passing through the
    driver: the only frame the search collects is the per-shard kernel
    output of the filter frame's shard groups (FlatMapGroupsInPandas,
    the hit columns), no plan scans the postings with Spark, and the
    hits equal those of the same ids passed as ``filter_docs``."""
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

    from katta_spark.plans import physical_plan

    allowed = docs.where(F.col("role") == "user").select("doc_id")
    ids = [r.doc_id for r in allowed.collect()]
    want = search(spark, idx, "hotalpha w00011", k=10, filter_docs=ids).collect()
    collected = []
    for name in ("collect", "toPandas", "toLocalIterator"):
        orig = getattr(ClassicDataFrame, name)

        def spy(self, *a, _orig=orig, **kw):
            collected.append((self.columns, physical_plan(self, "simple")))
            return _orig(self, *a, **kw)

        monkeypatch.setattr(ClassicDataFrame, name, spy)
    with jobs_started(spark) as n:
        got = search(spark, idx, "hotalpha w00011", k=10, filter_df=allowed)
    monkeypatch.undo()
    assert n[0] <= 2, n
    assert collected and all(
        cols == ["shard_id", "doc_id", "score"]
        and "FlatMapGroupsInPandas" in plan and "postings.parquet" not in plan
        for cols, plan in collected
    ), collected
    assert got.collect() == want and want


def test_rank_identity_fuzz(spark, idx, docs):
    """12 random queries (hot/mid/rare/absent mixes, duplicates, random k)
    must be rank-identical to the oracle."""
    rng = random.Random(20260816)
    vocab = (
        [f"w{n:05d}" for n in rng.sample(range(10, 2000), 30)]
        + list(HOT_TERMS)
        + ["absentterm"]
    )
    for i in range(12):
        n_terms = rng.randint(1, 5)
        terms = [rng.choice(vocab) for _ in range(n_terms)]
        if rng.random() < 0.3:
            terms.append(terms[0])  # duplicate
        q = " ".join(terms)
        k = rng.choice([1, 3, 10, 40])
        got = search(spark, idx, q, k=k).collect()
        want = bm25_topk(docs, q, k=k, shard_col="shard_id").collect()
        assert [(r.doc_id, r.shard_id) for r in got] == [
            (r.doc_id, r.shard_id) for r in want
        ], f"fuzz #{i}: {q!r} k={k}"
        np.testing.assert_allclose(
            np.array([r.score for r in got], np.float32),
            np.array([r.score for r in want], np.float32),
            rtol=2e-6,
        )


def test_broad_expansion_is_single_stage(spark, idx, docs):
    """A ~990-term wildcard runs through the same single shard job as a
    two-term query: the term hashes ride in the job's closure, so no
    thousand-literal predicate lands in the plan and nothing is
    broadcast or shuffled; the result must still rank-match the
    oracle."""
    from katta_spark.query import IndexHandle, expand_wildcards

    ix = IndexHandle.open(spark, idx)
    expanded = expand_wildcards(spark, ix, "w00*")
    assert len(expanded) > 64  # past the scan paths' In(th, ...) limit
    with jobs_started(spark) as n_search:
        hits = search(spark, idx, "w00*", k=10)
    audit = audit_search_plan(hits)
    assert n_search[0] == 1, n_search
    assert audit["local_result"], audit["plan"][:2000]
    assert audit["n_exchanges"] == 0, audit["plan"][:2000]
    # no giant inlined literal list in the plan
    assert audit["plan"].count(",") < 2000, "term literals leaked into the plan"
    got = search(spark, idx, "w00*", k=10, score_dtype="float64").collect()
    want = bm25_topk(
        docs, " ".join(sorted(expanded)), k=10, shard_col="shard_id",
        score_dtype="double",
    ).collect()
    assert [(r.doc_id, round(r.score, 6)) for r in got] == [
        (r.doc_id, round(r.score, 6)) for r in want
    ]


def test_positions_column_pruned_unless_phrase(spark, idx, fetches):
    """The v8 positions blobs must be fetched ONLY by phrase queries: a
    flat query's shard reader columns exclude positions (and the
    build-time-only cf/sum_dl), a phrase query's include it."""
    search(spark, idx, "hotalpha w00011", k=5)
    cols = fetches[-1].cols
    assert "doc_ids" in cols, cols
    assert "positions" not in cols, cols
    assert "sum_dl" not in cols and "cf" not in cols, cols

    search(spark, idx, '"hotalpha hotbeta"', k=5)
    cols = fetches[-1].cols
    assert "doc_ids" in cols and "positions" in cols, cols


def test_msm_synonym_plan_shape(spark, idx, fetches):
    """min_should_match / synonym queries keep the designed shape: one
    shard-local job whose reader fetches the GROUP MEMBERS too, never
    the positions, and the driver-merged result is a local relation."""
    from katta_spark.xxhash import term_hash

    kw = dict(synonyms={"hotalpha": ["hotbeta"]}, min_should_match=1)
    search(spark, idx, "hotalpha w00011", k=5, **kw)  # warm the handle
    with jobs_started(spark) as n_search:
        out = search(spark, idx, "hotalpha w00011", k=5, **kw)
    audit = audit_search_plan(out)
    assert n_search[0] == 1, n_search
    assert audit["local_result"], audit["plan"]
    assert audit["n_exchanges"] == 0, audit["plan"]
    # the member term's hash is in the reader's hash set
    assert term_hash("hotbeta") in set(fetches[-1].terms.th.tolist())
    assert "positions" not in fetches[-1].cols


def test_one_index_phase1_runs_no_job(spark, idx):
    """Phase 1 is a lookup in the handle's term dictionary: on a warm
    handle a plain-OR search and search_with_total read neither the stats
    relation nor the shard stats, and each runs exactly one Spark job
    (the shard-local stage), the mirror of
    test_multi_index_stats_memoized."""
    from katta_spark.query import IndexHandle, search_with_total

    h = IndexHandle.open(spark, idx)
    search(spark, h, "hotalpha w00011", k=10).collect()  # warm

    def _boom(*_a, **_k):
        raise AssertionError("one-index search read the stats through Spark")

    try:
        h.stats = _boom
        h.shards = _boom
        with jobs_started(spark) as n_search:
            hits = search(spark, h, "hotalpha w00011", k=10).collect()
        with jobs_started(spark) as n_total:
            tot = search_with_total(spark, h, "hotalpha w00011", k=10).collect()
    finally:
        # open() memoizes handles per (dir, mtime): drop the instance
        # overrides so later tests sharing this dir see the real methods
        del h.stats, h.shards
    assert n_search[0] == 1 and n_total[0] == 1, (n_search, n_total)
    assert hits and [r.doc_id for r in tot] == [r.doc_id for r in hits]


def test_dv_sorted_plan_shape(spark, tiny_transcripts, tmp_path_factory):
    """Docvalue fast path plan: the shard tasks read only the named sort
    column's sidecar rows, and the result is the display join, which
    broadcasts the merged top-k (never the corpus) and scans neither the
    postings nor the sidecar."""
    import katta_spark.query as ksq
    from katta_spark.plans import physical_plan

    d = str(tmp_path_factory.mktemp("plan_dv_idx"))
    build_index(
        spark, tiny_transcripts, d, num_shards=4,
        docvalue_cols=("turn_idx", "ts"),
    )
    rows = ksq._read_dv(d, 0, ["turn_idx"])
    assert len(rows) and set(rows["col"]) == {"turn_idx"}
    out = search_sorted(
        spark, d, "hotalpha", tiny_transcripts, [("turn_idx", "desc")], k=5
    )
    simple = physical_plan(out, mode="simple")
    assert "BroadcastHashJoin" in simple and "SortMergeJoin" not in simple
    bcast = simple.split("BroadcastExchange", 1)[1]
    assert "LocalTableScan" in bcast, simple
    assert "postings.parquet" not in simple and "docvalues.parquet" not in simple
    assert out.count() == 5


def test_huge_k_is_clamped_to_corpus_size(spark, idx, monkeypatch):
    """No more than the corpus's n_docs docs can rank, so search builds
    its shard kernels with k + offset clamped to n_docs: a huge k never
    sizes their top-k buffers. The hits equal k = n_docs."""
    import katta_spark.query as ksq
    from katta_spark.query import IndexHandle

    ks = []
    factory = ksq.KERNEL_MODES["or"]

    def record(qw, n, a, k, *rest):
        ks.append(k)
        return factory(qw, n, a, k, *rest)

    monkeypatch.setitem(ksq.KERNEL_MODES, "or", record)
    h = IndexHandle.open(spark, idx)
    huge = search(spark, h, "hotalpha", k=10**9).collect()
    assert ks and max(ks) <= h.n_docs, ks
    assert huge == search(spark, h, "hotalpha", k=h.n_docs).collect()
