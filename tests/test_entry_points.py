"""The same query through every entry point.

One lowering step parses, routes and validates a query for search,
search_batch, count_matches, facet_counts and explain_score, so over a
fixed list of query shapes they must agree: search hits == search_batch
hits, search_with_total's total == count_matches, explain_score on the
top hit reproduces its score, and for flat queries the per-value facet
counts over ``role`` sum to the total.
"""

from __future__ import annotations

import pytest

from katta_spark.build import build_index
from katta_spark.query import (
    count_matches,
    explain_score,
    facet_counts,
    search,
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
        if hits and name not in TREES:
            top = hits[0]
            exp = explain_score(spark, ridx, q, top.doc_id).toPandas()
            assert bool(exp["matches"].iloc[0]), name
            assert float(exp["total_score"].iloc[0]) == pytest.approx(
                float(top.score), rel=1e-6
            ), name
        if name in FLAT:
            facets = facet_counts(spark, ridx, q, "role", k=100).collect()
            assert sum(r["count"] for r in facets) == total, name
