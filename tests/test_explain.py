"""explain_score — the Lucene Searcher.explain analog.

The contract under test: for any doc in a search() result, the sum of
explain_score's per-clause contributions (cast to the engine's float32
score type) equals the score search() returned for that doc, and the
doc-level ``matches`` verdict agrees with membership in the full match
set — across flat OR/AND, boolean (+/-/phrase), boost, and
dictionary-rewrite queries. Non-matching and deleted docs explain to
matches=False / total 0.
"""

from __future__ import annotations

import numpy as np
import pytest

from katta_spark.build import build_index
from katta_spark.oracle import with_doc_ids
from katta_spark.query import IndexHandle, explain_score, search


@pytest.fixture(scope="module")
def eidx(spark, tiny_transcripts, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("explain_idx"))
    build_index(spark, tiny_transcripts, d, num_shards=4)
    return d


def _check_against_search(spark, eidx, query, mode="or", k=8, **kw):
    hits = search(spark, eidx, query, k=k, mode=mode, **kw).collect()
    assert hits, f"query {query!r} matched nothing — bad test setup"
    for h in hits[:3]:
        exp = explain_score(
            spark, eidx, query, h["doc_id"], mode=mode, **kw
        ).toPandas()
        assert bool(exp["matches"].iloc[0]) is True
        total = float(exp["total_score"].iloc[0])
        assert total == pytest.approx(float(h["score"]), rel=1e-5)
        # total is the contribution sum (float32 cast)
        assert total == pytest.approx(
            float(np.float64(exp["contribution"].sum()).astype(np.float32)),
            rel=1e-6,
        )
        # ordered contribution DESC then term ASC
        c = exp["contribution"].to_numpy()
        assert (np.diff(c) <= 1e-12).all()
    return hits


def test_explain_flat_or_matches_search(spark, eidx):
    hits = _check_against_search(spark, eidx, "hotalpha hotbeta")
    # a matched doc lists both terms with per-term BM25 factors
    exp = explain_score(spark, eidx, "hotalpha hotbeta", hits[0]["doc_id"]).toPandas()
    assert set(exp["clause"]) == {"should"}
    scored = exp[exp["tf"] > 0]
    assert (scored["idf"] > 0).all() and (scored["tf_norm"] > 0).all()
    assert (scored["df"] > 0).all() and (scored["dl"] > 0).all()


def test_explain_and_mode(spark, eidx):
    _check_against_search(spark, eidx, "hotalpha hotbeta", mode="and")


def test_explain_duplicate_term_qweight(spark, eidx):
    hits = search(spark, eidx, "hotalpha hotalpha", k=3).collect()
    exp = explain_score(spark, eidx, "hotalpha hotalpha", hits[0]["doc_id"]).toPandas()
    assert float(exp["qweight"].iloc[0]) == 2.0
    assert float(exp["total_score"].iloc[0]) == pytest.approx(
        float(hits[0]["score"]), rel=1e-5
    )


def test_explain_boost(spark, eidx):
    _check_against_search(spark, eidx, "hotalpha^2.5 hotbeta")


def test_explain_boolean_must_not_and_phrase(spark, eidx):
    q = '+hotalpha -hotgamma "hotalpha hotbeta"'
    hits = search(spark, eidx, q, k=5).collect()
    if not hits:
        q = '+hotalpha "hotalpha hotbeta"'
        hits = search(spark, eidx, q, k=5).collect()
    assert hits
    exp = explain_score(spark, eidx, q, hits[0]["doc_id"]).toPandas()
    assert bool(exp["matches"].iloc[0]) is True
    assert float(exp["total_score"].iloc[0]) == pytest.approx(
        float(hits[0]["score"]), rel=1e-5
    )
    ph = exp[exp["clause"] == "phrase"]
    assert len(ph) == 1 and bool(ph["satisfied"].iloc[0]) is True
    if "-hotgamma" in q:
        mn = exp[exp["clause"] == "must_not"]
        assert len(mn) == 1
        assert bool(mn["satisfied"].iloc[0]) is True
        assert int(mn["tf"].iloc[0]) == 0
        assert float(mn["contribution"].iloc[0]) == 0.0


def test_explain_wildcard_rewrite(spark, eidx):
    _check_against_search(spark, eidx, "hot*")


def test_explain_nonmatching_doc(spark, eidx, tiny_transcripts):
    docs = with_doc_ids(tiny_transcripts, 4)
    hits = search(spark, eidx, "hotalpha", k=10**6).collect()
    matched = {h["doc_id"] for h in hits}
    all_ids = {r["doc_id"] for r in docs.select("doc_id").collect()}
    missing = sorted(all_ids - matched)
    assert missing
    exp = explain_score(spark, eidx, "hotalpha", missing[0]).toPandas()
    assert bool(exp["matches"].iloc[0]) is False
    assert float(exp["total_score"].iloc[0]) == 0.0
    assert int(exp["tf"].iloc[0]) == 0
    # idf is still reported (query-side factor, doc-independent)
    assert float(exp["idf"].iloc[0]) > 0


def test_explain_phrase_fails_on_wrong_order_doc(spark, eidx):
    # a doc containing both tokens but not consecutively: phrase clause
    # unsatisfied => matches False even though term rows carry tf > 0
    hits_or = search(spark, eidx, "hotalpha hotbeta", k=10**6, mode="and").collect()
    hits_ph = {
        h["doc_id"]
        for h in search(spark, eidx, '"hotalpha hotbeta"', k=10**6).collect()
    }
    non_phrase = [h for h in hits_or if h["doc_id"] not in hits_ph]
    if not non_phrase:
        pytest.skip("corpus has no both-terms-but-no-phrase doc")
    exp = explain_score(
        spark, eidx, '"hotalpha hotbeta"', non_phrase[0]["doc_id"]
    ).toPandas()
    ph = exp[exp["clause"] == "phrase"]
    assert bool(ph["satisfied"].iloc[0]) is False
    assert bool(exp["matches"].iloc[0]) is False
    assert float(exp["total_score"].iloc[0]) == 0.0


def test_explain_deleted_doc_never_matches(spark, eidx, tmp_path):
    import shutil

    from katta_spark.delete import delete_docs

    d = str(tmp_path / "del_idx")
    shutil.copytree(eidx, d)
    hits = search(spark, d, "hotalpha", k=1).collect()
    doc = hits[0]["doc_id"]
    delete_docs(spark, d, [doc])
    exp = explain_score(spark, d, "hotalpha", doc).toPandas()
    assert bool(exp["matches"].iloc[0]) is False
    assert float(exp["total_score"].iloc[0]) == 0.0
    # stats stay stale until expunge (Lucene liveDocs semantics): the
    # term row still reports the doc's tf/df as indexed
    assert int(exp["tf"].iloc[0]) > 0


def test_explain_refuses_trees(spark, eidx):
    with pytest.raises(ValueError, match="tree"):
        explain_score(spark, eidx, "(a AND b) OR c", 1)


def test_explain_refuses_index_lists(spark, eidx):
    """A doc lives in one index: a list of several is refused by name,
    a one-element list is the bare index."""
    with pytest.raises(ValueError, match="explains one index"):
        explain_score(spark, [eidx, eidx], "hotalpha", 1)
    hit = search(spark, eidx, "hotalpha", k=1).collect()[0]
    exp = explain_score(spark, [eidx], "hotalpha", hit["doc_id"]).toPandas()
    assert float(exp["total_score"].iloc[0]) == pytest.approx(
        float(hit["score"]), rel=1e-6
    )


def test_explain_empty_query(spark, eidx):
    out = explain_score(spark, eidx, "", 1)
    assert out.count() == 0


def test_explain_synonym_group(spark, eidx):
    """Synonym groups explain as one blended row whose contribution sum
    reproduces search()'s blended score; tf is the member-tf sum."""
    kw = {"synonyms": {"hotalpha": ["hotbeta"]}}
    hits = _check_against_search(spark, eidx, "hotalpha w00011", **kw)
    exp = explain_score(
        spark, eidx, "hotalpha w00011", hits[0]["doc_id"], **kw
    ).toPandas()
    syn = exp[exp["clause"] == "synonym"]
    assert len(syn) == 1
    assert syn["term"].iloc[0] == "Synonym(hotalpha hotbeta)"
    # no per-member rows leak out beside the blended one
    assert set(exp["term"]) == {"Synonym(hotalpha hotbeta)", "w00011"}


def test_explain_min_should_match_verdict(spark, eidx):
    """msm gates the matches verdict on the count of satisfied optional
    clauses — a doc matching only one of two should terms flips to
    matches=False under msm=2 with its clause rows unchanged."""
    q = "hotalpha w00011"
    _check_against_search(spark, eidx, q, min_should_match=2)
    only_alpha = search(spark, eidx, "hotalpha -w00011", k=1).collect()
    doc = only_alpha[0]["doc_id"]
    exp = explain_score(
        spark, eidx, q, doc, min_should_match=2
    ).toPandas()
    assert bool(exp["matches"].iloc[0]) is False
    assert float(exp["total_score"].iloc[0]) == 0.0
    # the hotalpha clause row itself is still satisfied
    row = exp[exp["term"] == "hotalpha"].iloc[0]
    assert bool(row["satisfied"]) is True
    # msm beyond the optional-clause count: nothing matches
    exp2 = explain_score(
        spark, eidx, q, doc, min_should_match=3
    ).toPandas()
    assert bool(exp2["matches"].iloc[0]) is False
