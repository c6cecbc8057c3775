"""The same query through every entry point.

One lowering step parses, routes and validates a query for search,
search_batch, count_matches, facet_counts and explain_score, so over a
fixed list of query shapes they must agree: search hits == search_batch
hits, search_with_total's total == count_matches, explain_score on the
top hit reproduces its score exactly, and for flat queries the per-value
facet counts over ``role`` sum to the total. The first two checks also
run over the clause-option dict entries search_batch takes, and over a
tombstoned copy of the index (the deny mask inside the shared kernels).
Default-AND (``mode="and"``) lowers to MUST clauses, so it equals the
``+a +b`` form bit for bit.
"""

from __future__ import annotations

import shutil

import pytest

import katta_spark.query as ksq
from katta_spark import operators
from katta_spark.build import build_index
from katta_spark.delete import delete_docs
from katta_spark.query import (
    count_matches,
    explain_score,
    facet_counts,
    search,
    search_after,
    search_batch,
    search_with_total,
)

SHAPES = [
    ("or", "hotalpha w00011"),
    ("boost", "hotalpha^2 w00011"),
    ("role_term", "role:user hotalpha"),
    ("must_not", "+hotalpha -hotbeta"),
    ("phrase_term", '"hotalpha hotbeta" w00011'),
    ("prefix", "w0001*"),
    ("single_char_wildcard", "w0001?"),
    ("fuzzy", "w00011~1"),
    ("range", "role:[system TO user]"),
    ("must_twice", "+hotalpha +hotalpha"),
    ("not_only", "-hotalpha"),
    ("and_tree", "hotalpha AND hotbeta"),
    ("field_group", "role:(user system) hotbeta"),
    ("spaced_colon", "role: user hotalpha"),
    ("quoted_keyword", 'role:"user" hotalpha'),
]
# search_batch dict entries: the per-query clause options of search()
OPTION_SHAPES = [
    ("msm2", {"q": "hotalpha hotbeta w00011", "min_should_match": 2}),
    ("synonyms", {"q": "hotalpha w00011", "synonyms": {"hotalpha": ["hotbeta"]}}),
]
TREES = {"and_tree", "field_group"}
FLAT = {"or", "boost", "role_term", "spaced_colon", "quoted_keyword"}


@pytest.fixture(scope="module")
def ridx(spark, tiny_transcripts, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("entry_points_idx"))
    build_index(spark, tiny_transcripts, d, num_shards=4, keyword_cols=("role",))
    return d


def test_entry_points_agree(spark, ridx):
    k = 10
    batch = search_batch(spark, ridx, [q for _, q in SHAPES], k=k).collect()
    for qi, (name, q) in enumerate(SHAPES):
        hits = search(spark, ridx, q, k=k).collect()
        got = [(r.doc_id, r.shard_id, r.score) for r in batch if r.query_id == qi]
        assert got == [(r.doc_id, r.shard_id, r.score) for r in hits], name
        tot = search_with_total(spark, ridx, q, k=1).collect()
        total = tot[0].total_hits if tot else 0
        assert count_matches(spark, ridx, q) == total, name
        if name in FLAT:
            facets = facet_counts(spark, ridx, q, "role", k=100).collect()
            assert sum(r["count"] for r in facets) == total, name


def _batch_and_counts_agree(spark, index, shapes, k=10):
    """search hits == search_batch hits and search_with_total's total ==
    count_matches for every (name, entry) of ``shapes``; an entry is a
    query string or a search_batch dict entry."""
    batch = search_batch(spark, index, [q for _, q in shapes], k=k).collect()
    for qi, (name, entry) in enumerate(shapes):
        opts = {} if isinstance(entry, str) else dict(entry)
        q = opts.pop("q", entry)
        hits = search(spark, index, q, k=k, **opts).collect()
        got = [(r.doc_id, r.shard_id, r.score) for r in batch if r.query_id == qi]
        assert got == [(r.doc_id, r.shard_id, r.score) for r in hits], name
        tot = search_with_total(spark, index, q, k=1, **opts).collect()
        total = tot[0].total_hits if tot else 0
        assert count_matches(spark, index, q, **opts) == total, name


def test_option_entries_agree(spark, ridx):
    _batch_and_counts_agree(spark, ridx, OPTION_SHAPES)
    # the options change the match set, so the entries exercise them
    plain = count_matches(spark, ridx, "hotalpha hotbeta w00011")
    msm = count_matches(spark, ridx, "hotalpha hotbeta w00011", min_should_match=2)
    assert msm < plain
    assert count_matches(
        spark, ridx, "hotalpha w00011", synonyms={"hotalpha": ["hotbeta"]}
    ) > count_matches(spark, ridx, "hotalpha w00011")


def test_entry_points_agree_tombstoned(spark, ridx, tmp_path):
    d = str(tmp_path / "tombstoned")
    shutil.copytree(ridx, d)
    dead = [r.doc_id for r in search(spark, d, "hotalpha hotbeta", k=40).collect()]
    assert delete_docs(spark, d, dead[::2]) == len(dead[::2])
    before = count_matches(spark, ridx, "hotalpha hotbeta")
    assert count_matches(spark, d, "hotalpha hotbeta") == before - len(dead[::2])
    _batch_and_counts_agree(spark, d, SHAPES + OPTION_SHAPES)


def test_explain_total_is_search_score(spark, ridx, tmp_path):
    """explain_score's verdict is the search kernel's own: for every
    non-tree shape, and for mode="and", at both score dtypes, the top
    hit explains to matches=True with total_score == its search score
    exactly; once tombstoned it explains to matches=False."""
    shapes = [(q, "or") for name, q in SHAPES if name not in TREES]
    shapes.append(("hotalpha w00011", "and"))
    for dtype in ("float32", "float64"):
        for q, mode in shapes:
            hits = search(spark, ridx, q, k=1, mode=mode,
                          score_dtype=dtype).collect()
            if not hits:
                continue
            exp = explain_score(spark, ridx, q, hits[0].doc_id, mode=mode,
                                score_dtype=dtype).toPandas()
            assert bool(exp["matches"].iloc[0]), (q, mode, dtype)
            assert float(exp["total_score"].iloc[0]) == hits[0].score, (
                q, mode, dtype
            )
    d = str(tmp_path / "tombstoned")
    shutil.copytree(ridx, d)
    top = search(spark, d, "hotalpha w00011", k=1).collect()[0]
    assert delete_docs(spark, d, [top.doc_id]) == 1
    exp = explain_score(spark, d, "hotalpha w00011", top.doc_id).toPandas()
    assert not bool(exp["matches"].iloc[0])
    assert float(exp["total_score"].iloc[0]) == 0.0


def test_and_mode_is_all_must(spark, ridx):
    """search("a b", mode="and") is search("+a +b") bit for bit at
    float64: hits, totals, an offset page and two search_after pages."""
    opts = {"score_dtype": "float64"}

    def rows(frame):
        return [tuple(r) for r in frame.collect()]

    for terms in (["hotalpha", "w00011"], ["hotalpha", "hotbeta", "w00013"],
                  ["role:user", "hotgamma"]):
        plain, must = " ".join(terms), " ".join("+" + t for t in terms)
        got = rows(search(spark, ridx, plain, k=10, mode="and", **opts))
        assert got, plain
        assert got == rows(search(spark, ridx, must, k=10, **opts)), plain
        assert rows(
            search_with_total(spark, ridx, plain, k=5, mode="and", **opts)
        ) == rows(search_with_total(spark, ridx, must, k=5, **opts)), plain
        assert rows(
            search(spark, ridx, plain, k=3, offset=3, mode="and", **opts)
        ) == rows(search(spark, ridx, must, k=3, offset=3, **opts)), plain
        after = got[1][2], got[1][0], got[1][1]  # (score, doc_id, shard_id)
        for _ in range(2):
            page = rows(search_after(spark, ridx, plain, after, k=2,
                                     mode="and", **opts))
            assert page == rows(
                search_after(spark, ridx, must, after, k=2, **opts)
            ), plain
            if not page:
                break
            after = page[-1][2], page[-1][0], page[-1][1]


def test_clause_kernel_is_the_one_home(spark, ridx, monkeypatch):
    """Boolean search, mode="and" (search, search_after, totals), or-mode
    search_after, trees that cannot prune (NOT, totals) and search_batch
    build the shared clause kernel; a flat search runs the registered
    "or" kernel and a NOT-free tree with pruning on the tree kernel."""
    assert set(ksq.KERNEL_MODES) == {"or", "match"}
    assert operators.kernel_modes() == ["match", "or"]
    built = []
    make = ksq._make_clause_kernel

    def record(plans, *a, **kw):
        built.append(len(plans))
        return make(plans, *a, **kw)

    monkeypatch.setattr(ksq, "_make_clause_kernel", record)
    search(spark, ridx, "hotalpha w00011", k=5)
    assert built == []
    top = search(spark, ridx, "+hotalpha -hotbeta", k=5).collect()
    assert built == [1] and top
    first = search(spark, ridx, "hotalpha w00011", k=3).collect()[-1]
    after = (first.score, first.doc_id, first.shard_id)
    search_after(spark, ridx, "hotalpha w00011", after, k=3)
    assert built == [1, 1]
    search_batch(spark, ridx, ["hotalpha", "+hotalpha +hotbeta", "w00011"], k=3)
    assert built == [1, 1, 3]
    del built[:]
    first = search(spark, ridx, "hotalpha w00011", k=3, mode="and").collect()[-1]
    after = (first.score, first.doc_id, first.shard_id)
    search_after(spark, ridx, "hotalpha w00011", after, k=3, mode="and")
    search_with_total(spark, ridx, "hotalpha w00011", k=3, mode="and")
    assert built == [1, 1, 1]
    search(spark, ridx, "hotalpha OR hotbeta NOT w00011", k=3)
    search_with_total(spark, ridx, "hotalpha OR hotbeta", k=3)
    assert built == [1, 1, 1, 1, 1]
    search(spark, ridx, "hotalpha OR hotbeta", k=3)
    assert built == [1, 1, 1, 1, 1]
