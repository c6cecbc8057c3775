"""Multi-index search, field-sorted search, incremental delta-index update.

Mirrors LuceneComplianceTest.java:107-190 — the same documents written as
2 sharded indexes vs 1 monolithic index must yield identical totalHits,
scores and sort fields — and LuceneClientTest.java:266 (multi-index),
:330/:379 (sorted search, track-scores).
"""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from katta_spark.build import build_index
from katta_spark.oracle import bm25_topk, with_doc_ids
from katta_spark.query import (
    IndexHandle,
    count_matches,
    search,
    search_batch,
    search_multi,
    search_sorted,
)


@pytest.fixture(scope="module")
def split_indexes(spark, tiny_transcripts, tmp_path_factory):
    """The same corpus as one whole index and as two half indexes."""
    whole = str(tmp_path_factory.mktemp("whole"))
    a = str(tmp_path_factory.mktemp("half_a"))
    b = str(tmp_path_factory.mktemp("half_b"))
    docs = with_doc_ids(tiny_transcripts, 1)
    part_a = tiny_transcripts.join(
        docs.where(F.pmod(F.col("doc_id"), F.lit(2)) == 0).select("conv_id", "turn_idx"),
        ["conv_id", "turn_idx"],
    )
    part_b = tiny_transcripts.join(
        docs.where(F.pmod(F.col("doc_id"), F.lit(2)) == 1).select("conv_id", "turn_idx"),
        ["conv_id", "turn_idx"],
    )
    build_index(spark, tiny_transcripts, whole, num_shards=4)
    build_index(spark, part_a, a, num_shards=2)
    build_index(spark, part_b, b, num_shards=2)
    return whole, a, b


@pytest.mark.parametrize(
    "query,k,mode,opts",
    [
        pytest.param("hotalpha", 10, "or", {}, id="hotalpha-10-or"),
        pytest.param(
            "hotalpha w00011 w00013", 10, "or", {},
            id="hotalpha w00011 w00013-10-or",
        ),
        pytest.param(
            "hotalpha hotbeta", 15, "and", {}, id="hotalpha hotbeta-15-and"
        ),
        pytest.param("w01999", 10, "or", {}, id="w01999-10-or"),
        pytest.param(
            "hotalpha w00011 w00013", 10, "or", {"min_should_match": 2},
            id="msm",
        ),
        pytest.param(
            "hotalpha w00011", 10, "or", {"synonyms": {"w00011": ["w00013"]}},
            id="synonyms",
        ),
        pytest.param(
            "hotalpha hotbeta w00011", 10, "or",
            {"min_should_match": 2, "synonyms": {"w00011": ["w00013"]}},
            id="msm-synonyms",
        ),
    ],
)
def test_split_equals_whole(spark, split_indexes, query, k, mode, opts):
    """Compliance: 2 half indexes searched together == 1 whole index.

    Scores must be identical because phase-1 stats aggregate across the
    searched indexes exactly like DocumentFrequencyWritable summing (a
    synonym group's df is the max over its members of the summed df).
    The same holds for totals and counts."""
    from katta_spark.query import search_with_total

    whole, a, b = split_indexes
    got = search_multi(spark, [a, b], query, k=k, mode=mode, **opts).collect()
    want = search(spark, whole, query, k=k, mode=mode, **opts).collect()
    assert [r.doc_id for r in got] == [r.doc_id for r in want]
    np.testing.assert_allclose(
        np.array([r.score for r in got], dtype=np.float32),
        np.array([r.score for r in want], dtype=np.float32),
        rtol=2e-6,
    )
    got_t = search_with_total(
        spark, [a, b], query, k=k, mode=mode, **opts
    ).collect()
    want_t = search_with_total(
        spark, whole, query, k=k, mode=mode, **opts
    ).collect()
    assert [r.doc_id for r in got_t] == [r.doc_id for r in want]
    assert [r.total_hits for r in got_t] == [r.total_hits for r in want_t]
    if mode == "or":
        want_n = want_t[0].total_hits if want_t else 0
        assert count_matches(spark, [a, b], query, **opts) == want_n
        assert count_matches(spark, whole, query, **opts) == want_n
        # search_batch lowers each entry like search() and takes a list
        entry = {"q": query, **opts} if opts else query
        got_b = search_batch(spark, [a, b], [entry], k=k).collect()
        assert [r.doc_id for r in got_b] == [r.doc_id for r in want]
        np.testing.assert_allclose(
            np.array([r.score for r in got_b], dtype=np.float32),
            np.array([r.score for r in want], dtype=np.float32),
            rtol=2e-6,
        )


def test_multi_index_modes(spark, split_indexes):
    """A list dispatches ``mode`` through the same kernel registry as one
    index: an unknown mode raises, a registered one runs per offset shard."""
    import pandas as pd

    from katta_spark import operators

    _, a, b = split_indexes
    with pytest.raises(ValueError, match="unknown search mode"):
        search_multi(spark, [a, b], "hotalpha", k=5, mode="bogus")

    def one_per_shard(qw, n, avgdl, k, prune, dt, wt):
        def kernel(pdf, filter_docs=None):
            return pd.DataFrame({
                "shard_id": np.array([pdf["shard_id"].iloc[0]], np.int32),
                "doc_id": np.array([0], np.int64),
                "score": np.array([1.0], dt),
            })
        return kernel

    operators.register_kernel("one_per_shard", one_per_shard)
    try:
        rows = search_multi(
            spark, [a, b], "hotalpha", k=10, mode="one_per_shard"
        ).collect()
    finally:
        del operators.KERNEL_MODES["one_per_shard"]
    # a holds the even doc ids and b the odd ones, so each fills one of
    # its two shards: a's shard 0 and b's shard 1, offset past a's to 3
    assert sorted(r.shard_id for r in rows) == [0, 3]
    assert all(r.doc_id == 0 for r in rows)


def test_keyword_only_indexes_score_like_oracle(
    spark, tiny_transcripts, tmp_path_factory
):
    """Indexes whose analyzed text is empty everywhere have avgdl 0; the
    combined stats apply the same avgdl == 0 -> 1.0 guard as the build
    and the oracle, so keyword terms score like the union corpus."""
    docs = with_doc_ids(
        tiny_transcripts.where(F.col("turn_idx") < 4).withColumn(
            "text", F.lit("")
        ),
        1,
    )
    dirs = []
    for parity in (0, 1):
        d = str(tmp_path_factory.mktemp(f"kwonly{parity}"))
        build_index(
            spark, docs.where(F.pmod(F.col("doc_id"), F.lit(2)) == parity),
            d, num_shards=2, keyword_cols=("role",),
        )
        dirs.append(d)
    got = search(spark, dirs, "role:user", k=10, score_dtype="float64").collect()
    want = bm25_topk(
        docs, "role:user", k=10, keyword_cols=("role",)
    ).collect()
    assert got and [r.doc_id for r in got] == [r.doc_id for r in want]
    np.testing.assert_allclose(
        [r.score for r in got], [r.score for r in want], rtol=1e-6
    )


def test_multi_index_stats_memoized(spark, split_indexes):
    """Repeated multi-index queries over WARM handles must trigger zero
    stats/shards jobs (term dictionary + total_dl memoization — Katta's
    CachedDfSource invariant): the warm search is the one shard-local
    job."""
    from katta_spark.plans import jobs_started

    _, a, b = split_indexes
    ha, hb = IndexHandle.open(spark, a), IndexHandle.open(spark, b)
    first = search_multi(spark, [ha, hb], "hotalpha w00011", k=10).collect()

    def _boom(*_a, **_k):
        raise AssertionError("stats/shards re-read on a warm handle")

    saved = [(h, h.stats, h.shards) for h in (ha, hb)]
    try:
        for h in (ha, hb):
            h.stats = _boom
            h.shards = _boom
        with jobs_started(spark) as n_jobs:
            again = search_multi(
                spark, [ha, hb], "hotalpha w00011", k=10
            ).collect()
        assert n_jobs[0] == 1, n_jobs
    finally:
        # open() memoizes handles per (dir, mtime): restore the real
        # methods or every later test sharing these dirs inherits _boom
        for h, st, sh in saved:
            h.stats = st
            h.shards = sh
    assert [(r.doc_id, r.score) for r in first] == [
        (r.doc_id, r.score) for r in again
    ]


def test_relation_memo_and_invalidation(spark, split_indexes, tmp_path):
    """postings()/stats()/shards() are memoized per (path, session, dir
    mtime), and the term dictionary per stats.parquet dir mtime: a warm
    handle returns the SAME DataFrame / dictionary (no repeated
    read.parquet driver work), and an in-place rewrite of the sidecar
    directory — the expunge/compact shape — bumps the mtime and yields a
    fresh frame / reloaded dictionary that sees the new files."""
    whole, _, _ = split_indexes
    h = IndexHandle.open(spark, whole)
    p1 = h.postings(spark)
    assert h.postings(spark) is p1
    assert h.stats(spark) is h.stats(spark)
    d1 = h.term_dict()
    assert h.term_dict() is d1
    # rewrite postings.parquet in place (same rows) — the dir mtime
    # changes, so the memo must hand back a NEW frame, not the stale one
    import shutil
    import time as _time

    def _rewrite(name: str) -> None:
        src = os.path.join(whole, name)
        bak = str(tmp_path / f"{name}_bak")
        shutil.copytree(src, bak)
        _time.sleep(0.01)  # ensure a distinct mtime_ns on coarse filesystems
        shutil.rmtree(src)
        shutil.copytree(bak, src)
        # copytree preserves the source mtime (copystat); a real writer
        # (Spark overwrite) always leaves a current one — restore that
        os.utime(src)

    n_before = p1.count()
    _rewrite("postings.parquet")
    p2 = h.postings(spark)
    assert p2 is not p1
    assert p2.count() == n_before
    # the same for stats.parquet: the dictionary reloads from the new files
    _rewrite("stats.parquet")
    d2 = h.term_dict()
    assert d2 is not d1
    assert d2.n_terms == d1.n_terms
    assert d2.lookup(["hotalpha"]) == d1.lookup(["hotalpha"])


def test_multi_index_filtered(spark, tiny_transcripts, split_indexes):
    """Filter applies to multi-index searches too (Katta Filter over
    several indexes): filtered multi == filtered whole, score-identical."""
    whole, a, b = split_indexes
    docs = with_doc_ids(tiny_transcripts, 4)
    allowed = docs.where(F.col("role") == "user").select("doc_id")
    got = search_multi(
        spark, [a, b], "hotalpha hotbeta", k=10, filter_df=allowed
    ).collect()
    want = search(
        spark, whole, "hotalpha hotbeta", k=10, filter_df=allowed
    ).collect()
    assert got and [r.doc_id for r in got] == [r.doc_id for r in want]
    np.testing.assert_allclose(
        np.array([r.score for r in got], dtype=np.float32),
        np.array([r.score for r in want], dtype=np.float32),
        rtol=2e-6,
    )


def test_incremental_delta_index(spark, tiny_transcripts, tmp_path_factory):
    """Incremental update = build a delta index over new docs; queries span
    [base, delta] with combined stats (Katta: deploy another index)."""
    from katta_spark.synth import synth_transcripts

    base_dir = str(tmp_path_factory.mktemp("base"))
    delta_dir = str(tmp_path_factory.mktemp("delta"))
    full_dir = str(tmp_path_factory.mktemp("full"))
    base = synth_transcripts(spark, 2000, seed=42)
    bigger = synth_transcripts(spark, 2600, seed=42)  # prefix-extends base
    delta = bigger.exceptAll(base)
    build_index(spark, base, base_dir, num_shards=4)
    build_index(spark, delta, delta_dir, num_shards=2)
    build_index(spark, bigger, full_dir, num_shards=4)
    got = search_multi(spark, [base_dir, delta_dir], "hotalpha w00012", k=10).collect()
    want = search(spark, full_dir, "hotalpha w00012", k=10).collect()
    assert [r.doc_id for r in got] == [r.doc_id for r in want]
    np.testing.assert_allclose(
        np.array([r.score for r in got], dtype=np.float32),
        np.array([r.score for r in want], dtype=np.float32),
        rtol=2e-6,
    )


def test_search_sorted_by_field(spark, tiny_transcripts, split_indexes):
    """T2/T4: matches ordered by a stored field; oracle by DataFrame ops."""
    whole, _, _ = split_indexes
    got = search_sorted(
        spark,
        whole,
        "hotbeta",
        tiny_transcripts,
        sort_cols=[F.col("ts").desc()],
        k=7,
    ).collect()
    # oracle: docs containing the term, sorted by ts desc
    from katta_spark.tokenizer import tokenize_col

    want = (
        with_doc_ids(tiny_transcripts, 4)
        .where(F.array_contains(tokenize_col(F.col("text")), "hotbeta"))
        .orderBy(F.col("ts").desc(), F.col("doc_id").asc())
        .limit(7)
        .collect()
    )
    assert [r.doc_id for r in got] == [r.doc_id for r in want]
    assert all(hasattr(r, "score") for r in got)
    # track_scores=False drops the score column (LuceneServer.java:97)
    no_scores = search_sorted(
        spark, whole, "hotbeta", tiny_transcripts,
        sort_cols=[F.col("ts").desc()], k=3, track_scores=False,
    )
    assert "score" not in no_scores.columns


def test_multi_index_count(spark, split_indexes):
    whole, a, b = split_indexes
    total = count_matches(spark, whole, "hotalpha")
    assert count_matches(spark, a, "hotalpha") + count_matches(spark, b, "hotalpha") == total
    # the LIST form counts across indexes in one call (LuceneClient.java:
    # 225-251 sums per-node results over every searched index)
    assert count_matches(spark, [a, b], "hotalpha") == total


def test_multi_index_total_hits(spark, split_indexes):
    """search_with_total over an index LIST: top-k, totalHits and coverage
    accumulate across indexes and equal the whole-corpus answer."""
    from katta_spark.query import search_with_total

    whole, a, b = split_indexes
    got = search_with_total(spark, [a, b], "hotalpha w00011", k=10).collect()
    want = search_with_total(spark, whole, "hotalpha w00011", k=10).collect()
    assert got and want
    assert [r.doc_id for r in got] == [r.doc_id for r in want]
    assert got[0].total_hits == want[0].total_hits
    np.testing.assert_allclose(
        np.array([r.score for r in got], np.float32),
        np.array([r.score for r in want], np.float32),
        rtol=2e-6,
    )
    # coverage: 2+2 shards searched across the two half indexes
    assert got[0].shards_total == 4


def test_multi_index_boolean_and_tree(spark, split_indexes):
    """+/- clauses and AND/OR/NOT grouping over a LIST of indexes must
    equal the whole-corpus single-index answer (combined stats)."""
    whole_idx, a, b = split_indexes
    for q in ("hotalpha -hotbeta", "+hotalpha w00011",
              "(hotalpha AND hotbeta) OR w00011",
              "hotalpha NOT (hotbeta OR hotgamma)"):
        got = search_multi(spark, [a, b], q, k=10, score_dtype="float64").collect()
        want = search(spark, whole_idx, q, k=10, score_dtype="float64").collect()
        assert [r.doc_id for r in got] == [r.doc_id for r in want], q
        assert [round(r.score, 9) for r in got] == [
            round(r.score, 9) for r in want
        ], q

    # count delegates to the parsed query's exact totals, split == whole
    for q in ("hotalpha -hotbeta", "(hotalpha AND hotbeta) OR w00011"):
        assert count_matches(spark, [a, b], q) == count_matches(
            spark, whole_idx, q
        ), q

    # phrases + grouping stay mutually exclusive over index lists too
    import pytest as _pytest
    with _pytest.raises(ValueError, match="cannot be combined"):
        search_multi(spark, [a, b], '"hotalpha hotbeta" AND w00011', k=5)


def test_search_batch_matches_per_query(spark, split_indexes, tiny_transcripts):
    """Batch execution (one job, many queries) must reproduce per-query
    search results for every query in the batch."""
    from katta_spark.query import search, search_batch

    whole_idx, _, _ = split_indexes
    # flat, duplicate-term, absent, boolean +/-, AND/OR/NOT tree, and
    # dictionary-rewrite queries all amortize into the ONE batch job
    queries = ["hotalpha", "hotalpha hotbeta", "w00011 w00013", "zzzqqq",
               "hotalpha hotalpha w00015",
               "+hotalpha -hotbeta w00011",
               "(hotalpha AND hotbeta) OR w00011 NOT hotgamma",
               "w0001* merge",
               "merg~1"]
    batch = search_batch(spark, whole_idx, queries, k=7,
                         score_dtype="float64").collect()
    by_q = {}
    for r in batch:
        by_q.setdefault(r.query_id, []).append(r)
    for qi, q in enumerate(queries):
        got = by_q.get(qi, [])
        want = search(spark, whole_idx, q, k=7, score_dtype="float64").collect()
        assert [r.doc_id for r in got] == [r.doc_id for r in want], q
        np.testing.assert_allclose(
            np.array([r.score for r in got]),
            np.array([r.score for r in want]),
            rtol=1e-9,
        )


def test_search_batch_phrases(spark, split_indexes):
    """Phrase queries batch too (in-index positional verify, like
    search()); invalid clause combinations still error per query instead
    of silently mis-parsing (the r3 advice gap)."""
    from katta_spark.query import search, search_batch

    whole_idx, _, _ = split_indexes
    queries = ["hotalpha", '"hotalpha hotbeta"~3 w00011',
               '"hotalpha hotbeta"']
    batch = search_batch(spark, whole_idx, queries, k=6,
                         score_dtype="float64").collect()
    by_q = {}
    for r in batch:
        by_q.setdefault(r.query_id, []).append(r)
    for qi, q in enumerate(queries):
        got = by_q.get(qi, [])
        want = search(spark, whole_idx, q, k=6,
                      score_dtype="float64").collect()
        assert [(r.doc_id, round(r.score, 9)) for r in got] == [
            (r.doc_id, round(r.score, 9)) for r in want
        ], q
    with pytest.raises(ValueError, match="cannot be combined"):
        search_batch(spark, whole_idx, ['"a b" AND c'], k=5)
    with pytest.raises(ValueError, match="cannot be combined"):
        search_batch(spark, whole_idx, ['"a b" hot*'], k=5)


def test_multi_index_sorted_search(spark, split_indexes, tiny_transcripts):
    """T2/T4 over a LIST of indexes: field-sorted matches across the split
    corpus == the whole-corpus sorted answer, scores identical."""
    from katta_spark.query import search_sorted

    whole_idx, a, b = split_indexes
    kwargs = dict(
        source=tiny_transcripts,
        sort_cols=[F.length("text").desc()],
        k=9,
    )
    got = search_sorted(spark, [a, b], "merge hotbeta", **kwargs).collect()
    want = search_sorted(spark, whole_idx, "merge hotbeta", **kwargs).collect()
    assert [r.doc_id for r in got] == [r.doc_id for r in want]
    assert [round(r.score, 9) for r in got] == [
        round(r.score, 9) for r in want
    ]


def test_multi_index_dictionary_rewrites(spark, split_indexes):
    """Wildcard/fuzzy/range rewrites over a LIST of indexes: expanded per
    index (Katta rewrites per shard, LuceneServer.java:602-624), unioned
    with combined stats — results equal the whole-corpus single index."""
    from katta_spark.query import search_multi

    whole, a, b = split_indexes
    for q in ("hot* w00011", "merg~1", "w00?11", "[hota TO hotz] merge"):
        got = search_multi(
            spark, [a, b], q, k=10, score_dtype="float64"
        ).collect()
        want = search(spark, whole, q, k=10, score_dtype="float64").collect()
        assert [r.doc_id for r in got] == [r.doc_id for r in want], q
        assert [round(r.score, 9) for r in got] == [
            round(r.score, 9) for r in want
        ], q
    # grouping x rewrite stays refused, like single-index
    with pytest.raises(ValueError, match="cannot be combined"):
        search_multi(spark, [a, b], "(hot* AND merge)", k=5)


def test_multi_index_phrase(spark, split_indexes):
    """Phrases now span index lists (in-index positional verify — Katta
    runs PhraseQuery per shard, LuceneServer.java:682): split-corpus
    phrase/slop results equal the whole-corpus answer, and a slop
    operator inside quotes must not trip the rewrite refusal."""
    from katta_spark.query import search_multi

    whole, a, b = split_indexes
    for q in ('"hotalpha hotbeta"', '"hotalpha hotbeta"~4 w00011'):
        got = search_multi(spark, [a, b], q, k=12,
                           score_dtype="float64").collect()
        want = search(spark, whole, q, k=12, score_dtype="float64").collect()
        assert [r.doc_id for r in got] == [r.doc_id for r in want]
        assert [round(r.score, 9) for r in got] == [
            round(r.score, 9) for r in want
        ]


def test_count_delegates_rewrites(spark, split_indexes):
    """count of a fuzzy/wildcard query must count the EXPANSION's matches,
    not the mis-tokenized literal."""
    from katta_spark.query import IndexHandle, count_matches, expand_wildcards

    whole, _, _ = split_indexes
    ix = IndexHandle.open(spark, whole)
    expanded = expand_wildcards(spark, ix, "w0001*")
    want = count_matches(spark, whole, " ".join(sorted(expanded)))
    assert count_matches(spark, whole, "w0001*") == want
    assert count_matches(spark, whole, "w00010~1") == count_matches(
        spark, whole, " ".join(sorted(expand_wildcards(spark, ix, "w00010~1")))
    )
