"""Faceted search: in-index per-value match counts vs brute force."""

from __future__ import annotations

import os
from collections import Counter

import pytest
from pyspark.sql import functions as F

import katta_spark.build as ksb
import katta_spark.query as ksq
from katta_spark.tokenizer import tokenize_str

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def facet_idx(spark, tmp_path_factory):
    docs = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    d = str(tmp_path_factory.mktemp("facet") / "idx")
    ksb.build_index(
        spark, docs, d, num_shards=4, doc_id_col="doc_id",
        keyword_cols=("lang", "source"),
    )
    return d, docs


def _brute(docs_rows, terms, field, conj):
    per_value = Counter()
    for r in docs_rows:
        toks = set(tokenize_str(r["text"] or ""))
        hit = (
            all(t in toks for t in terms) if conj
            else any(t in toks for t in terms)
        )
        if hit:
            per_value[r[field]] += 1
    return per_value


def test_facet_counts_or_and_vs_brute_force(spark, facet_idx):
    d, docs = facet_idx
    rows = docs.select("doc_id", "text", "lang").collect()
    for mode in ("or", "and"):
        got = {
            r.value: r["count"]
            for r in ksq.facet_counts(
                spark, d, "join hash", "lang", k=100, mode=mode
            ).collect()
        }
        want = dict(_brute(rows, ["join", "hash"], "lang", mode == "and"))
        assert got == want, mode


def test_facet_counts_topk_order_and_cap(spark, facet_idx):
    d, docs = facet_idx
    out = ksq.facet_counts(spark, d, "join", "lang", k=2).collect()
    assert len(out) <= 2
    pairs = [(r["count"], r.value) for r in out]
    # (count DESC, value ASC) tie-break
    assert pairs == sorted(pairs, key=lambda p: (-p[0], p[1]))
    full = ksq.facet_counts(spark, d, "join", "lang", k=100).collect()
    assert [r.value for r in out] == [r.value for r in full[:2]]
    assert all(r["count"] > 0 for r in full)  # zero-count values omitted


def test_facet_counts_fielded_query_and_shard_subset(spark, facet_idx):
    d, docs = facet_idx
    # keyword-term query: facet source counts of docs with lang:en
    some_lang = docs.groupBy("lang").count().orderBy(F.desc("count")).first()[0]
    got = {
        r.value: r["count"]
        for r in ksq.facet_counts(
            spark, d, f"lang:{some_lang}", "source", k=100
        ).collect()
    }
    want = {
        r["source"]: r["n"]
        for r in docs.where(F.col("lang") == some_lang)
        .groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    assert got == want
    # shard subset: counts shrink but stay consistent with the full run
    sub = {
        r.value: r["count"]
        for r in ksq.facet_counts(
            spark, d, f"lang:{some_lang}", "source", k=100, shard_ids=[0, 1]
        ).collect()
    }
    assert sum(sub.values()) < sum(got.values())
    assert all(sub[v] <= got[v] for v in sub)


def test_facet_counts_refusals(spark, facet_idx):
    d, _ = facet_idx
    with pytest.raises(ValueError, match="keyword field"):
        ksq.facet_counts(spark, d, "join", "nosuchfield")
    with pytest.raises(ValueError, match="flat term"):
        ksq.facet_counts(spark, d, '"join hash"', "lang")
    with pytest.raises(ValueError, match="flat term"):
        ksq.facet_counts(spark, d, "joi*", "lang")
    with pytest.raises(ValueError, match="mode"):
        ksq.facet_counts(spark, d, "join", "lang", mode="xor")
    # absent term: no matches anywhere -> empty facet table
    assert ksq.facet_counts(spark, d, "zzzqqq", "lang").count() == 0


def test_quoted_keyword_value_is_flat(spark, facet_idx, monkeypatch):
    """``source:"v"`` is one verbatim keyword term (KeywordAnalyzer), the
    same term as ``source:v``: facet_counts accepts it, and count_matches
    counts it on the flat (match-only) path — both agree with the
    unquoted form."""
    d, docs = facet_idx
    v = docs.groupBy("source").count().orderBy(F.desc("count"), "source").first()[0]
    quoted, bare = f'source:"{v}" join', f"source:{v} join"
    facets = [
        {
            r.value: r["count"]
            for r in ksq.facet_counts(spark, d, q, "lang", k=100).collect()
        }
        for q in (quoted, bare)
    ]
    assert facets[0] and facets[0] == facets[1]
    total = ksq.search_with_total(spark, d, bare, k=1).first().total_hits

    modes = []
    with_total = ksq.search_with_total

    def _record(*a, **kw):
        modes.append(kw["mode"])
        return with_total(*a, **kw)

    monkeypatch.setattr(ksq, "search_with_total", _record)
    assert ksq.count_matches(spark, d, quoted) == total
    assert ksq.count_matches(spark, d, bare) == total
    assert modes == ["match", "match"]


def test_facet_counts_multi_index(spark, facet_idx, tmp_path):
    """Facets across doc-disjoint indexes (base + delta) == facets over
    the union corpus: per-index counts sum per value."""
    d, docs = facet_idx
    a = docs.where("doc_id % 2 = 0")
    b = docs.where("doc_id % 2 = 1")
    da, db = str(tmp_path / "a"), str(tmp_path / "b")
    for part, dest in ((a, da), (b, db)):
        ksb.build_index(
            spark, part, dest, num_shards=2, doc_id_col="doc_id",
            keyword_cols=("lang", "source"),
        )
    got = {
        r.value: r["count"]
        for r in ksq.facet_counts(
            spark, [da, db], "join hash", "lang", k=100
        ).collect()
    }
    want = {
        r.value: r["count"]
        for r in ksq.facet_counts(spark, d, "join hash", "lang", k=100).collect()
    }
    assert got == want
