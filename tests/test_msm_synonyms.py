"""minimum_should_match + SynonymQuery blended scoring (F2 surface).

Reference parity: Lucene BooleanQuery.setMinimumNumberShouldMatch (a doc
must contain >= m DISTINCT optional clauses; MUST clauses never count) and
SynonymQuery (QueryParser output under a SynonymGraphFilter analyzer:
members blend into ONE pseudo-term with tf = sum of member tfs and
df = max member docFreq). Katta hands query strings verbatim to Lucene's
QueryParser (Katta.java:825-826), so both are part of the query surface a
Lucene consumer configures.

Oracles: min_should_match = full OR ranking post-filtered to docs holding
>= m of the should terms (scores unchanged — constraint semantics, like
+/-); synonyms = a pandas re-derivation of the blended formula over the
tokenized corpus.
"""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from katta_spark.build import build_index
from katta_spark.oracle import bm25_topk, corpus_tokens, with_doc_ids
from katta_spark.query import search, search_with_total
from katta_spark.tokenizer import tokenize_col


@pytest.fixture(scope="module")
def midx(spark, tiny_transcripts, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("msm_idx"))
    build_index(spark, tiny_transcripts, d, num_shards=4)
    return d


@pytest.fixture(scope="module")
def docs(tiny_transcripts):
    return with_doc_ids(tiny_transcripts, 4).cache()


def _docs_matching_at_least(docs, should_terms: list[str], m: int):
    """docIDs holding >= m DISTINCT of the given terms."""
    toks = corpus_tokens(docs)
    return (
        toks.where(F.col("term").isin(should_terms))
        .groupBy("doc_id")
        .agg(F.countDistinct("term").alias("nsm"))
        .where(F.col("nsm") >= m)
        .select("doc_id")
    )


def _oracle_filtered(docs, scoring_query, keep_df, k):
    full = bm25_topk(docs, scoring_query, k=10**6, shard_col="shard_id")
    return (
        full.join(keep_df, "doc_id")
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(k)
        .collect()
    )


def _assert_same(got, want):
    assert [r.doc_id for r in got] == [r.doc_id for r in want]
    np.testing.assert_allclose(
        np.array([r.score for r in got], np.float32),
        np.array([r.score for r in want], np.float32),
        rtol=2e-6,
    )


def test_msm_basic(spark, midx, docs):
    q = "hotalpha hotbeta hotgamma w00011"
    terms = q.split()
    got = search(spark, midx, q, k=10, min_should_match=2).collect()
    keep = _docs_matching_at_least(docs, terms, 2)
    want = _oracle_filtered(docs, q, keep, 10)
    assert want, "fixture must contain docs matching >= 2 terms"
    _assert_same(got, want)


def test_msm_is_a_constraint_not_a_rescore(spark, midx, docs):
    """Survivors keep their plain OR scores (Lucene: msm filters the
    BooleanScorer's candidates; contributions are unchanged)."""
    q = "hotalpha hotbeta w00011"
    plain = {
        r.doc_id: r.score
        for r in search(spark, midx, q, k=200).collect()
    }
    got = search(spark, midx, q, k=10, min_should_match=2).collect()
    assert got
    for r in got:
        assert math.isclose(plain[r.doc_id], r.score, rel_tol=1e-6)


def test_msm_must_terms_do_not_count(spark, midx, docs):
    """+hotalpha is MUST: msm=2 must be satisfied by the two SHOULD terms
    alone — equivalent to requiring all three terms."""
    got = search(
        spark, midx, "+hotalpha hotbeta hotgamma", k=10, min_should_match=2
    ).collect()
    toks = corpus_tokens(docs)
    keep = (
        toks.where(F.col("term").isin(["hotalpha", "hotbeta", "hotgamma"]))
        .groupBy("doc_id")
        .agg(F.countDistinct("term").alias("n"))
        .where(F.col("n") == 3)
        .select("doc_id")
    )
    want = _oracle_filtered(docs, "hotalpha hotbeta hotgamma", keep, 10)
    assert want, "fixture must contain docs with all three hot terms"
    _assert_same(got, want)


def test_msm_exceeding_optional_clauses_matches_nothing(spark, midx):
    # Lucene rewrites msm > #optional to MatchNoDocsQuery
    assert (
        search(spark, midx, "hotalpha hotbeta", k=10, min_should_match=3)
        .count()
        == 0
    )


def test_msm_zero_is_plain_or(spark, midx):
    a = search(spark, midx, "hotalpha w00011", k=10).collect()
    b = search(
        spark, midx, "hotalpha w00011", k=10, min_should_match=0
    ).collect()
    assert [(r.doc_id, r.score) for r in a] == [
        (r.doc_id, r.score) for r in b
    ]


def test_msm_total_hits(spark, midx, docs):
    q = "hotalpha hotbeta hotgamma"
    rows = search_with_total(
        spark, midx, q, k=5, min_should_match=2
    ).collect()
    want_total = _docs_matching_at_least(docs, q.split(), 2).count()
    assert rows and rows[0].total_hits == want_total


# ---------------------------------------------------------------- synonyms


def _blended_oracle(docs, plain: dict[str, float], groups, k):
    """Pandas re-derivation of SynonymQuery blending: groups is a list of
    (weight, [members]); per doc tf = sum member tfs, df = max member df."""
    pdf = docs.select(
        "doc_id", tokenize_col(F.col("text")).alias("toks")
    ).toPandas()
    n = float(len(pdf))
    dls = pdf["toks"].map(len).to_numpy(np.float64)
    avgdl = dls.sum() / n

    def df_of(t):
        return float(sum(t in set(ts) for ts in pdf["toks"]))

    def idf(df):
        return math.log(1.0 + (n - df + 0.5) / (df + 0.5))

    def tfn(tf, dl):
        return (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))

    dfs = {t: df_of(t) for t in plain}
    gdfs = [max(df_of(m) for m in members) for _, members in groups]
    out = []
    for did, toks, dl in zip(pdf["doc_id"], pdf["toks"], dls):
        cnt = {}
        for t in toks:
            cnt[t] = cnt.get(t, 0) + 1
        s, matched = 0.0, False
        for t, w in plain.items():
            tf = cnt.get(t, 0)
            if tf:
                s += w * idf(dfs[t]) * tfn(float(tf), dl)
                matched = True
        for (w, members), gdf in zip(groups, gdfs):
            tf = float(sum(cnt.get(m, 0) for m in members))
            if tf:
                s += w * idf(gdf) * tfn(tf, dl)
                matched = True
        if matched:
            out.append((did, s))
    out.sort(key=lambda r: (-r[1], r[0]))
    return out[:k]


def test_synonym_blended_scoring(spark, midx, docs):
    got = search(
        spark, midx, "hotalpha w00011",
        synonyms={"hotalpha": ["hotbeta"]},
        k=10, score_dtype="float64",
    ).collect()
    want = _blended_oracle(
        docs, {"w00011": 1.0}, [(1.0, ["hotalpha", "hotbeta"])], 10
    )
    assert [r.doc_id for r in got] == [d for d, _ in want]
    np.testing.assert_allclose(
        np.array([r.score for r in got]),
        np.array([s for _, s in want]),
        rtol=1e-9,
    )


def test_synonym_group_filtered_out_of_every_shard(spark, midx):
    """A filter that removes every member posting leaves the group
    without matches: it adds nothing, and the other clauses still score."""
    w = {r.doc_id for r in search(spark, midx, "w00011", k=2000).collect()}
    grp = {
        r.doc_id
        for r in search(spark, midx, "hotalpha hotbeta", k=2000).collect()
    }
    allowed = sorted(w - grp)
    got = search(
        spark, midx, "w00011 hotalpha", synonyms={"hotalpha": ["hotbeta"]},
        k=10, filter_docs=allowed,
    ).collect()
    want = search(spark, midx, "w00011", k=10, filter_docs=allowed).collect()
    assert [(r.doc_id, r.score) for r in got] == [
        (r.doc_id, r.score) for r in want
    ]


def test_synonym_differs_from_plain_or(spark, midx):
    """Blending is NOT two independent clauses: df is the max (not each
    member's own) and tf sums before the saturating tf_norm."""
    blended = search(
        spark, midx, "hotalpha", synonyms={"hotalpha": ["hotbeta"]},
        k=10, score_dtype="float64",
    ).collect()
    plain = search(
        spark, midx, "hotalpha hotbeta", k=10, score_dtype="float64"
    ).collect()
    assert {r.doc_id: r.score for r in blended} != {
        r.doc_id: r.score for r in plain
    }


def test_synonym_group_counts_as_one_msm_clause(spark, midx, docs):
    """msm=2 with a group + one plain term: a doc matching both synonyms
    but not the plain term has only ONE matched clause — excluded."""
    got = search(
        spark, midx, "hotalpha w00011",
        synonyms={"hotalpha": ["hotbeta"]},
        k=10, min_should_match=2, score_dtype="float64",
    ).collect()
    want_all = _blended_oracle(
        docs, {"w00011": 1.0}, [(1.0, ["hotalpha", "hotbeta"])], 10**6
    )
    toks = corpus_tokens(docs)
    has_w = {
        r.doc_id
        for r in toks.where(F.col("term") == "w00011")
        .select("doc_id").collect()
    }
    has_g = {
        r.doc_id
        for r in toks.where(F.col("term").isin(["hotalpha", "hotbeta"]))
        .select("doc_id").distinct().collect()
    }
    keep = has_w & has_g
    want = [(d, s) for d, s in want_all if d in keep][:10]
    assert want, "fixture must contain docs matching both clauses"
    assert [r.doc_id for r in got] == [d for d, _ in want]
    np.testing.assert_allclose(
        np.array([r.score for r in got]),
        np.array([s for _, s in want]),
        rtol=1e-9,
    )


def test_synonym_boost_carries_to_group(spark, midx, docs):
    got = search(
        spark, midx, "hotalpha^2.5 w00011",
        synonyms={"hotalpha": ["hotbeta"]},
        k=10, score_dtype="float64",
    ).collect()
    want = _blended_oracle(
        docs, {"w00011": 1.0}, [(2.5, ["hotalpha", "hotbeta"])], 10
    )
    assert [r.doc_id for r in got] == [d for d, _ in want]
    np.testing.assert_allclose(
        np.array([r.score for r in got]),
        np.array([s for _, s in want]),
        rtol=1e-9,
    )


def test_synonym_with_total(spark, midx, docs):
    rows = search_with_total(
        spark, midx, "hotalpha", synonyms={"hotalpha": ["hotbeta"]}, k=5
    ).collect()
    toks = corpus_tokens(docs)
    want = (
        toks.where(F.col("term").isin(["hotalpha", "hotbeta"]))
        .select("doc_id").distinct().count()
    )
    assert rows and rows[0].total_hits == want


def test_guard_rails(spark, midx):
    with pytest.raises(ValueError, match="not a term of the query"):
        search(spark, midx, "hotalpha", synonyms={"w00011": ["hotbeta"]})
    with pytest.raises(ValueError, match="collides"):
        search(
            spark, midx, "hotalpha hotbeta",
            synonyms={"hotalpha": ["hotbeta"]},
        )
    with pytest.raises(ValueError, match="MUST/MUST_NOT/phrase"):
        search(spark, midx, "+hotalpha", synonyms={"hotalpha": ["hotbeta"]})
    with pytest.raises(ValueError, match="exactly one term"):
        search(
            spark, midx, "hotalpha",
            synonyms={"hotalpha": ["two words"]},
        )
    with pytest.raises(ValueError, match="term clauses"):
        search(spark, midx, "hot*", min_should_match=1)
    with pytest.raises(ValueError, match="term clauses"):
        search(spark, midx, "hotalpha AND hotbeta", min_should_match=1)
    with pytest.raises(ValueError, match="subset"):
        search(
            spark, midx, "hotalpha", shard_ids=[0],
            synonyms={"hotalpha": ["hotbeta"]},
        )
    with pytest.raises(ValueError, match=">= 0"):
        search(spark, midx, "hotalpha", min_should_match=-1)
    # a list of indexes takes msm/synonyms too: two copies of the index
    # bag-union, so the match count doubles
    one = search_with_total(spark, midx, "hotalpha", min_should_match=1)
    two = search_with_total(
        spark, [midx, midx], "hotalpha", min_should_match=1
    )
    assert two.first().total_hits == 2 * one.first().total_hits


def test_msm_fuzz_against_oracle(spark, midx, docs):
    """Seeded property check: random term pools and thresholds — the
    engine's msm result must equal the full OR ranking post-filtered to
    docs holding >= m distinct pool terms, at every m."""
    import random

    rng = random.Random(42)
    pool = ["hotalpha", "hotbeta", "hotgamma", "w00011", "w00021",
            "w00031", "w00002"]
    for _ in range(5):
        terms = rng.sample(pool, rng.randint(2, 4))
        m = rng.randint(1, len(terms))
        q = " ".join(terms)
        got = search(
            spark, midx, q, k=15, min_should_match=m,
        ).collect()
        keep = _docs_matching_at_least(docs, terms, m)
        want = _oracle_filtered(docs, q, keep, 15)
        assert [r.doc_id for r in got] == [r.doc_id for r in want], (q, m)
        _assert_same(got, want)


def test_batch_entries_with_clause_options(spark, midx):
    """A batch entry may be {"q", "min_should_match", "synonyms"} — each
    batched query must reproduce its single-query search() rows exactly
    (query_id-tagged), alongside plain string entries in the same job."""
    from katta_spark.query import search_batch

    entries = [
        "hotalpha w00011",
        {"q": "hotalpha hotbeta hotgamma", "min_should_match": 2},
        {"q": "hotalpha w00011", "synonyms": {"hotalpha": ["hotbeta"]}},
        {"q": "hotalpha w00011", "min_should_match": 2,
         "synonyms": {"hotalpha": ["hotbeta"]}},
    ]
    batched = search_batch(spark, midx, entries, k=8).collect()
    by_q = {}
    for r in batched:
        by_q.setdefault(r.query_id, []).append(r)
    singles = [
        search(spark, midx, "hotalpha w00011", k=8).collect(),
        search(
            spark, midx, "hotalpha hotbeta hotgamma", k=8,
            min_should_match=2,
        ).collect(),
        search(
            spark, midx, "hotalpha w00011",
            synonyms={"hotalpha": ["hotbeta"]}, k=8,
        ).collect(),
        search(
            spark, midx, "hotalpha w00011", min_should_match=2,
            synonyms={"hotalpha": ["hotbeta"]}, k=8,
        ).collect(),
    ]
    for qi, want in enumerate(singles):
        got = by_q.get(qi, [])
        assert [r.doc_id for r in got] == [r.doc_id for r in want], qi
        np.testing.assert_allclose(
            np.array([r.score for r in got], np.float32),
            np.array([r.score for r in want], np.float32),
            rtol=2e-6,
        )
    # msm beyond the optional-clause count inside a batch: no rows
    none = search_batch(
        spark, midx,
        [{"q": "hotalpha hotbeta", "min_should_match": 3}],
        k=8,
    ).collect()
    assert none == []
    # guards still fire per entry
    with pytest.raises(ValueError, match="term clauses"):
        search_batch(
            spark, midx, [{"q": "hot*", "min_should_match": 1}], k=8
        )


def test_cursor_paging_with_clause_options(spark, midx):
    """search_after pages an msm/synonym ranking: page2 starts strictly
    after page1's last hit and pages concatenate to the k=10 prefix."""
    from katta_spark.query import search_after

    kw = dict(
        min_should_match=2, synonyms={"hotalpha": ["hotbeta"]},
        score_dtype="float64",
    )
    q = "hotalpha w00011"
    full = search(spark, midx, q, k=10, **kw).collect()
    assert len(full) == 10
    p1 = full[:5]
    last = p1[-1]
    p2 = search_after(
        spark, midx, q, (last["score"], last["doc_id"], last["shard_id"]),
        k=5, **kw,
    ).collect()
    assert [(r.doc_id, r.score) for r in p1 + p2] == [
        (r.doc_id, r.score) for r in full
    ]


def test_count_matches_with_clause_options(spark, midx, docs):
    from katta_spark.query import count_matches

    n = count_matches(
        spark, midx, "hotalpha hotbeta hotgamma", min_should_match=2
    )
    assert n == _docs_matching_at_least(
        docs, ["hotalpha", "hotbeta", "hotgamma"], 2
    ).count()
    ns = count_matches(
        spark, midx, "hotalpha", synonyms={"hotalpha": ["hotbeta"]}
    )
    want = (
        corpus_tokens(docs)
        .where(F.col("term").isin(["hotalpha", "hotbeta"]))
        .select("doc_id").distinct().count()
    )
    assert ns == want
    assert count_matches(
        spark, midx, "hotalpha", min_should_match=5
    ) == 0


def test_count_match_all_docs(spark, midx, tmp_path):
    """*:* — MatchAllDocsQuery (client.count(new MatchAllDocsQuery())
    is the classic deployed-doc-count probe): counted from the corpus
    scalars minus live tombstones, zero postings touched."""
    import shutil

    from katta_spark.delete import delete_docs
    from katta_spark.query import count_matches

    assert count_matches(spark, midx, "*:*") == 2000
    d = str(tmp_path / "del_all_idx")
    shutil.copytree(midx, d)
    doc = search(spark, d, "hotalpha", k=1).collect()[0]["doc_id"]
    delete_docs(spark, d, [doc])
    assert count_matches(spark, d, "*:*") == 1999


def test_full_clause_composition(spark, midx, docs, tmp_path):
    """Everything at once: synonyms + msm + MUST_NOT + cogrouped filter
    + a tombstoned doc. Constraints compose as set intersections over
    the blended ranking; survivors' scores are unchanged and stats stay
    stale after the delete (Lucene liveDocs semantics)."""
    import shutil

    from katta_spark.delete import delete_docs

    d = str(tmp_path / "comp_idx")
    shutil.copytree(midx, d)

    toks = corpus_tokens(docs)
    has = lambda t: {  # noqa: E731
        r.doc_id
        for r in toks.where(F.col("term") == t).select("doc_id").collect()
    }
    filter_ids = {
        r.doc_id
        for r in docs.where(F.col("turn_idx") % 3 == 0)
        .select("doc_id").collect()
    }
    want_all = _blended_oracle(
        docs, {"w00011": 1.0}, [(1.0, ["hotalpha", "hotbeta"])], 10**6
    )
    group_set = has("hotalpha") | has("hotbeta")
    keep = (
        (has("w00011") & group_set)      # msm=2 over the two clauses
        - has("hotgamma")                # MUST_NOT
    ) & filter_ids
    ranked = [(di, s) for di, s in want_all if di in keep]
    assert len(ranked) > 3, "fixture must give a non-trivial result"
    victim = ranked[0][0]
    delete_docs(spark, d, [victim])
    want = [(di, s) for di, s in ranked if di != victim][:10]

    fdf = docs.where(F.col("turn_idx") % 3 == 0).select("doc_id")
    got = search(
        spark, d, "hotalpha w00011 -hotgamma",
        synonyms={"hotalpha": ["hotbeta"]}, min_should_match=2,
        filter_df=fdf, k=10, score_dtype="float64",
    ).collect()
    assert [r.doc_id for r in got] == [di for di, _ in want]
    np.testing.assert_allclose(
        np.array([r.score for r in got]),
        np.array([s for _, s in want]),
        rtol=1e-9,
    )
