"""Document deletion — Lucene's delete-then-expunge model.

Reference semantics replicated (katta_spark.delete docstring):
- tombstoned docs vanish from every search path IMMEDIATELY (liveDocs
  skip at collection time) while survivors' scores are UNCHANGED
  (df/N/avgdl deliberately stale — IndexWriter.deleteDocuments);
- expunge (compact of a tombstoned index) folds the deletions in:
  results become bit-identical to a fresh build without those docs,
  stats table included;
- deleting absent ids / re-deleting is a no-op, like deleting a
  non-matching Term in Lucene.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

import katta_spark.compact as kc
import katta_spark.delete as kd
import katta_spark.query as ksq
from katta_spark.build import build_index
from katta_spark.query import IndexHandle


DEL_PRED = "doc_id % 7 = 0"


@pytest.fixture(scope="module")
def corpus(spark, tiny_transcripts):
    return tiny_transcripts.withColumn(
        "doc_id", F.xxhash64("conv_id", "turn_idx")
    ).cache()


@pytest.fixture(scope="module")
def full_idx(spark, corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("del_full"))
    build_index(
        spark, corpus, d, num_shards=4, doc_id_col="doc_id",
        keyword_cols=("role",), docvalue_cols=("turn_idx", "role"),
    )
    return d


@pytest.fixture(scope="module")
def live_idx(spark, corpus, full_idx, tmp_path_factory):
    """Copy of full_idx with doc_id % 7 == 0 tombstoned."""
    d = str(tmp_path_factory.mktemp("del_live")) + "/idx"
    shutil.copytree(full_idx, d)
    n = kd.delete_docs(spark, d, corpus.where(DEL_PRED))
    assert n == corpus.where(DEL_PRED).count()
    return d


@pytest.fixture(scope="module")
def deleted_ids(spark, corpus):
    return frozenset(
        r.doc_id for r in corpus.where(DEL_PRED).select("doc_id").collect()
    )


@pytest.fixture(scope="module")
def qterms(spark, full_idx):
    rows = (
        spark.read.parquet(os.path.join(full_idx, "stats.parquet"))
        .where(~F.col("term").contains(":"))
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(3)
        .collect()
    )
    return [r["term"] for r in rows]


def _hits(spark, idx, q, **kw):
    return ksq.search(
        spark, idx, q, k=4000, score_dtype="float64", **kw
    ).toPandas()


def test_delete_excludes_docs_scores_stale(
    spark, full_idx, live_idx, deleted_ids, qterms
):
    """Deleted docs leave the result set; survivors keep the EXACT score
    they had before deletion (stale global stats — Lucene pre-merge)."""
    q = f"{qterms[0]} {qterms[1]}"
    full = _hits(spark, full_idx, q)
    live = _hits(spark, live_idx, q)
    assert not (set(live.doc_id) & deleted_ids)
    full_scores = dict(zip(full.doc_id, full.score))
    assert len(live) == len(full) - len(set(full.doc_id) & deleted_ids)
    for did, s in zip(live.doc_id, live.score):
        assert full_scores[did] == s


@pytest.mark.parametrize(
    "qfmt",
    [
        "{0} {1}",                 # flat OR
        "+{0} {1}",                # MUST
        "{0} -{1}",                # MUST_NOT
        "({0} AND {1}) OR {2}",    # tree
        "role:user {0}",           # keyword field term
        "{0}*",                    # prefix rewrite
    ],
)
def test_delete_all_query_shapes(
    spark, full_idx, live_idx, deleted_ids, qterms, qfmt
):
    q = qfmt.format(*qterms)
    full = _hits(spark, full_idx, q)
    live = _hits(spark, live_idx, q)
    assert not (set(live.doc_id) & deleted_ids)
    exp = full[~full.doc_id.isin(deleted_ids)]
    assert list(live.doc_id) == list(exp.doc_id)
    assert list(live.score) == list(exp.score)


def test_delete_and_mode_kernel(spark, full_idx, live_idx, deleted_ids, qterms):
    q = f"{qterms[0]} {qterms[1]}"
    full = _hits(spark, full_idx, q, mode="and")
    live = _hits(spark, live_idx, q, mode="and")
    exp = full[~full.doc_id.isin(deleted_ids)]
    assert list(live.doc_id) == list(exp.doc_id)
    assert list(live.score) == list(exp.score)


def test_delete_phrase(spark, corpus, full_idx, live_idx, deleted_ids):
    """Phrase queries deny deleted docs too (in-index positional path)."""
    row = (
        corpus.where(f"NOT ({DEL_PRED})").select("text").first()
    )
    toks = row["text"].lower().split()[:2]
    if len(toks) < 2:
        pytest.skip("first doc too short for a phrase")
    q = f'"{toks[0]} {toks[1]}"'
    full = _hits(spark, full_idx, q)
    live = _hits(spark, live_idx, q)
    exp = full[~full.doc_id.isin(deleted_ids)]
    assert list(live.doc_id) == list(exp.doc_id)
    assert list(live.score) == list(exp.score)


def test_totals_and_count_exclude_deleted(
    spark, full_idx, live_idx, deleted_ids, qterms
):
    q = f"{qterms[0]} {qterms[1]}"
    full = _hits(spark, full_idx, q)
    exp_live = len(full[~full.doc_id.isin(deleted_ids)])
    t = ksq.search_with_total(spark, live_idx, q, k=3).collect()[0]
    assert int(t["total_hits"]) == exp_live
    assert ksq.count_matches(spark, live_idx, q) == exp_live


def test_delete_composes_with_filter(
    spark, corpus, full_idx, live_idx, deleted_ids, qterms
):
    """filter_df (allow) and tombstones (deny) compose: result = full
    results ∩ allowed − deleted, scores unchanged."""
    q = f"{qterms[0]} {qterms[1]}"
    allowed = corpus.where("turn_idx % 2 = 0")
    full = _hits(spark, full_idx, q, filter_df=allowed)
    live = _hits(spark, live_idx, q, filter_df=allowed)
    exp = full[~full.doc_id.isin(deleted_ids)]
    assert list(live.doc_id) == list(exp.doc_id)
    assert list(live.score) == list(exp.score)


def test_delete_sorted_and_grouped(
    spark, corpus, full_idx, live_idx, deleted_ids, qterms
):
    """Docvalue fast paths (sort cap, string sort, two-pass grouping)
    deny tombstoned docs ahead of their per-shard caps."""
    q = f"{qterms[0]} {qterms[1]}"
    srt = ksq.search_sorted(
        spark, live_idx, q, corpus, [("turn_idx", "desc")], k=12,
        doc_id_col="doc_id",
    ).toPandas()
    assert not (set(srt.doc_id) & deleted_ids)
    # oracle: full matches minus deleted, same ordering
    full = _hits(spark, full_idx, q)
    live_set = set(full.doc_id) - deleted_ids
    oracle = (
        corpus.where(F.col("doc_id").isin([int(x) for x in live_set]))
        .orderBy(F.col("turn_idx").desc(), F.col("doc_id").asc())
        .limit(12)
        .select("doc_id")
        .toPandas()
    )
    assert list(srt.doc_id) == list(oracle.doc_id)

    grp = ksq.search_grouped(
        spark, live_idx, q, "role", k_groups=3, k_docs=5
    ).toPandas()
    assert not (set(grp.doc_id) & deleted_ids)

    sstr = ksq.search_sorted(
        spark, live_idx, q, corpus, [("role", "asc"), ("turn_idx", "asc")],
        k=9, doc_id_col="doc_id",
    ).toPandas()
    assert not (set(sstr.doc_id) & deleted_ids)


def test_delete_batch_and_facets(
    spark, full_idx, live_idx, deleted_ids, qterms
):
    qs = [qterms[0], f"{qterms[1]} {qterms[2]}", f"+{qterms[0]} {qterms[2]}"]
    full = ksq.search_batch(spark, full_idx, qs, k=2000).toPandas()
    live = ksq.search_batch(spark, live_idx, qs, k=2000).toPandas()
    assert not (set(live.doc_id) & deleted_ids)
    for qi in range(len(qs)):
        f = full[full.query_id == qi]
        e = f[~f.doc_id.isin(deleted_ids)]
        l = live[live.query_id == qi]
        assert list(l.doc_id) == list(e.doc_id)
        assert list(l.score) == list(e.score)

    # facets count live matches only
    fc_full = ksq.facet_counts(spark, full_idx, qterms[0], "role", k=10).toPandas()
    fc_live = ksq.facet_counts(spark, live_idx, qterms[0], "role", k=10).toPandas()
    # recompute expected from the full per-doc hits
    hits_full = set(_hits(spark, full_idx, qterms[0]).doc_id)
    assert fc_full["count"].sum() == len(hits_full)
    assert fc_live["count"].sum() == len(hits_full - deleted_ids)


def test_delete_multi_index(spark, corpus, tmp_path_factory, deleted_ids, qterms):
    """Deletions in ONE index of a multi-index search deny only that
    index's docs; combined (stale) stats keep scores equal to the
    undeleted multi-search on survivors."""
    base = str(tmp_path_factory.mktemp("del_multi"))
    dirs = []
    for parity in (0, 1):
        d = os.path.join(base, f"p{parity}")
        build_index(
            spark, corpus.where(F.pmod(F.col("doc_id"), F.lit(2)) == parity),
            d, num_shards=2, doc_id_col="doc_id",
        )
        dirs.append(d)
    q = f"{qterms[0]} {qterms[1]}"
    full = ksq.search_multi(
        spark, dirs, q, k=4000, score_dtype="float64"
    ).toPandas()
    kd.delete_docs(
        spark, dirs[0],
        corpus.where(f"({DEL_PRED}) AND doc_id % 2 = 0"),
    )
    live = ksq.search_multi(
        spark, dirs, q, k=4000, score_dtype="float64"
    ).toPandas()
    gone = {d for d in deleted_ids if d % 2 == 0}
    exp = full[~full.doc_id.isin(gone)]
    assert list(live.doc_id) == list(exp.doc_id)
    assert list(live.score) == list(exp.score)


def test_delete_by_query_and_noops(spark, corpus, full_idx, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("del_byq")) + "/idx"
    shutil.copytree(full_idx, d)
    n = kd.delete_by_query(spark, d, "role:user")
    expected = ksq.count_matches(spark, full_idx, "role:user")
    assert n == expected
    # idempotent: already-tombstoned docs no longer match
    assert kd.delete_by_query(spark, d, "role:user") == 0
    assert ksq.count_matches(spark, d, "role:user") == 0
    # absent ids are a no-op at delete time
    assert kd.delete_docs(spark, d, [123456789]) == 1  # recorded...
    h = IndexHandle.open(spark, d)
    assert h.num_deleted(spark) == expected + 1  # ...but harmless


def test_expunge_equals_fresh_rebuild(
    spark, corpus, live_idx, tmp_path_factory, deleted_ids, qterms
):
    """The expunged index is indistinguishable from a fresh build without
    the deleted docs: same hits, same float64 scores, same stats table,
    same corpus scalars; no tombstones remain."""
    base = str(tmp_path_factory.mktemp("del_exp"))
    d_exp = os.path.join(base, "expunged")
    summ = kc.expunge(spark, live_idx, d_exp)
    assert summ["n_deleted"] == len(deleted_ids)
    d_fresh = os.path.join(base, "fresh")
    build_index(
        spark, corpus.where(f"NOT ({DEL_PRED})"), d_fresh, num_shards=4,
        doc_id_col="doc_id", keyword_cols=("role",),
        docvalue_cols=("turn_idx", "role"),
    )
    he, hf = IndexHandle.open(spark, d_exp), IndexHandle.open(spark, d_fresh)
    assert not he.has_tombstones()
    assert (he.n_docs, round(he.avgdl, 9)) == (hf.n_docs, round(hf.avgdl, 9))
    for qfmt in ("{0} {1}", "+{0} {2}", '"{0} {1}"~2 {2}'):
        q = qfmt.format(*qterms)
        e = _hits(spark, d_exp, q)
        f = _hits(spark, d_fresh, q)
        assert list(e.doc_id) == list(f.doc_id), q
        assert list(e.score) == list(f.score), q
    import pandas as pd

    se = (
        spark.read.parquet(os.path.join(d_exp, "stats.parquet"))
        .orderBy("th").toPandas().reset_index(drop=True)
    )
    sf_ = (
        spark.read.parquet(os.path.join(d_fresh, "stats.parquet"))
        .orderBy("th").toPandas().reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(se, sf_)
    # docvalue sort on the expunged index still takes the fast path
    srt_e = ksq.search_sorted(
        spark, d_exp, f"{qterms[0]} {qterms[1]}", corpus,
        [("turn_idx", "asc")], k=7, doc_id_col="doc_id",
    ).toPandas()
    srt_f = ksq.search_sorted(
        spark, d_fresh, f"{qterms[0]} {qterms[1]}", corpus,
        [("turn_idx", "asc")], k=7, doc_id_col="doc_id",
    ).toPandas()
    assert list(srt_e.doc_id) == list(srt_f.doc_id)


def test_expunge_merge_combo(spark, corpus, tmp_path_factory, qterms):
    """compact([base, delta]) applies the base's tombstones during the
    merge — the expungeDeletes-during-merge shape."""
    base = str(tmp_path_factory.mktemp("del_merge"))
    d0, d1 = os.path.join(base, "b"), os.path.join(base, "d")
    build_index(
        spark, corpus.where("pmod(doc_id, 2) = 0"), d0, num_shards=2,
        doc_id_col="doc_id",
    )
    build_index(
        spark, corpus.where("pmod(doc_id, 2) = 1"), d1, num_shards=2,
        doc_id_col="doc_id",
    )
    kd.delete_docs(spark, d0, corpus.where("pmod(doc_id, 4) = 0"))
    dm = os.path.join(base, "m")
    kc.compact(spark, [d0, d1], dm)
    d_fresh = os.path.join(base, "fresh")
    build_index(
        spark, corpus.where("pmod(doc_id, 4) != 0"), d_fresh, num_shards=2,
        doc_id_col="doc_id",
    )
    q = f"{qterms[0]} {qterms[1]}"
    m = _hits(spark, dm, q)
    f = _hits(spark, d_fresh, q)
    assert list(m.doc_id) == list(f.doc_id)
    assert list(m.score) == list(f.score)


def test_expunge_refusals(spark, full_idx, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("del_refuse")) + "/out"
    with pytest.raises(ValueError, match="no tombstones"):
        kc.expunge(spark, full_idx, out)
    with pytest.raises(ValueError, match="at least two"):
        kc.compact(spark, [full_idx], out)


def test_expunge_all_docs_refused_then_retry_clean(
    spark, corpus, tmp_path_factory
):
    """Tombstoning EVERY doc refuses at expunge (an index with no
    postings cannot be written — remove the directory instead), and the
    failed attempt clears its partial artifacts so the out dir is
    reusable."""
    base = str(tmp_path_factory.mktemp("del_all"))
    sub = corpus.limit(40).cache()
    d = os.path.join(base, "idx")
    build_index(spark, sub, d, num_shards=2, doc_id_col="doc_id")
    assert kd.delete_docs(spark, d, sub) == 40
    out = os.path.join(base, "out")
    with pytest.raises(ValueError, match="EMPTY index"):
        kc.expunge(spark, d, out)
    # retry into the SAME out dir with a partial-delete index succeeds
    d2 = os.path.join(base, "idx2")
    build_index(spark, sub, d2, num_shards=2, doc_id_col="doc_id")
    kd.delete_docs(spark, d2, sub.where("pmod(doc_id, 2) = 0"))
    summ = kc.expunge(spark, d2, out)
    assert summ["n_docs"] + summ["n_deleted"] == 40
    assert IndexHandle.open(spark, out).n_docs == summ["n_docs"]


def test_match_all_count_ignores_phantom_tombstones(
    spark, corpus, full_idx, tmp_path_factory
):
    """Deleting ids the index never held ("accepted and ignored at query
    time") must not move the MatchAllDocsQuery count — Lucene's
    numDocs = maxDoc - numDeletedDocs is unchanged by deleting a
    non-matching term. Real deletions still decrement it."""
    d = str(tmp_path_factory.mktemp("del_phantom")) + "/idx"
    shutil.copytree(full_idx, d)
    n_total = corpus.count()
    assert ksq.count_matches(spark, d, "*:*") == n_total

    # phantom ids: absent from the index, accepted by delete_docs
    assert kd.delete_docs(spark, d, [10**15, 10**15 + 1]) == 2
    assert ksq.count_matches(spark, d, "*:*") == n_total

    # a real deletion mixed in decrements by exactly the real ids
    real = [int(r["doc_id"]) for r in corpus.limit(3).collect()]
    kd.delete_docs(spark, d, real + [10**15 + 2])
    assert ksq.count_matches(spark, d, "*:*") == n_total - len(real)


def test_match_all_count_refuses_clause_options(spark, full_idx):
    """*:* with min_should_match/synonyms refuses exactly like search()
    does for any '*' query (clause options are term-clause-level)."""
    with pytest.raises(ValueError, match="analyzed term clauses"):
        ksq.count_matches(spark, full_idx, "*:*", min_should_match=2)
    with pytest.raises(ValueError, match="analyzed term clauses"):
        ksq.count_matches(spark, full_idx, "*:*", synonyms={"a": ["b"]})


def test_tombstoned_index_in_a_second_session(spark, tiny_transcripts, tmp_path):
    """The deny broadcast belongs to the SparkContext that made it: a
    tombstoned index searched in one session, then searched again after
    ``spark.stop()`` in a new session of the same process (the handle
    outlives the session in the open-handle memo), answers the same.
    Runs in a subprocess, because the suite shares one session."""
    import subprocess
    import sys
    import textwrap

    d = str(tmp_path / "idx")
    build_index(spark, tiny_transcripts, d, num_shards=2)
    hit = ksq.search(spark, d, "hotalpha", k=1).collect()[0]
    kd.delete_docs(spark, d, [hit.doc_id])
    script = textwrap.dedent(f"""
        from katta_spark.query import search
        from katta_spark.session import get_spark

        rows = []
        for app in ("first", "second"):
            spark = get_spark(app, master="local[2]", shuffle_partitions=2)
            rows.append(search(spark, {d!r}, "hotalpha", k=5).collect())
            spark.stop()
        assert rows[0] == rows[1], rows
        assert {hit.doc_id} not in [r.doc_id for r in rows[1]], rows
        print("SAME")
    """)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYTHONPATH=root, SPARK_GRAFT_CPUS="2")
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=root, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0 and "SAME" in out.stdout, out.stderr[-4000:]
