"""Grouped search — the Lucene grouping-module analog (two-pass
TermFirst/TermSecondPassGroupingCollector), distributed with per-shard
caps and run entirely in-index (group keys AND display values from the
docvalue sidecar; no stored-field join).

Beyond-Katta surface, but built from Katta's own scatter-gather +
client-merge shape (LuceneClient.java:264-286): pass 1 merges per-shard
group heads, pass 2 merges per-group per-shard top docs + exact counts.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from katta_spark.build import build_index
from katta_spark.query import IndexHandle, search, search_grouped


@pytest.fixture(scope="module")
def grp_corpus(spark, tiny_transcripts):
    """Transcripts + a nullable double column (groupable kinds: long
    turn_idx, string role/tool, double fval)."""
    return tiny_transcripts.withColumn(
        "fval",
        F.when(
            F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(5)) == 0, None
        ).otherwise(
            (F.pmod(F.xxhash64("conv_id", "turn_idx", F.lit(3)), F.lit(9)))
            / 4.0
        ),
    ).cache()


@pytest.fixture(scope="module")
def gidx(spark, grp_corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("grp_idx"))
    build_index(
        spark, grp_corpus, d, num_shards=4,
        docvalue_cols=("turn_idx", "role", "fval"),
    )
    return d


def _expected(
    spark, gidx, corpus, q, col, kg, kd, filter_df=None,
    group_order="relevance",
):
    """Brute-force oracle: full match set joined to the source, grouped
    in pandas under the engine's exact tie-break."""
    hits = search(
        spark, gidx, q, k=2**31 - 1, ordered=False, prune=False,
        score_dtype="float64", filter_df=filter_df,
    )
    src = corpus.withColumn("doc_id", F.xxhash64("conv_id", "turn_idx"))
    pdf = hits.join(src.select("doc_id", col), "doc_id").toPandas()
    groups: dict = {}
    for r in pdf.itertuples(index=False):
        v = getattr(r, col)
        if pd.isna(v):
            v = None
        groups.setdefault(v, []).append(
            (-r.score, r.doc_id, -r.shard_id, r.score, r.shard_id)
        )
    heads = []
    for v, members in groups.items():
        members.sort()
        heads.append((members[0], v))
    if group_order == "relevance":
        heads.sort()
    else:
        nulls = [h for h in heads if h[1] is None]
        nonnull = sorted(
            (h for h in heads if h[1] is not None), key=lambda h: h[1],
            reverse=(group_order == "key_desc"),
        )
        # asc: NULL group first (asc_nulls_first); desc: NULL group last
        heads = (
            nulls + nonnull if group_order == "key_asc" else nonnull + nulls
        )
    out = []
    for _, v in heads[:kg]:
        members = groups[v]
        for m in members[:kd]:
            out.append((v, len(members), m[1], m[4], m[3]))
    return out


def _got_rows(df, col):
    return [
        (
            None if r[col] is None else r[col],
            r["group_total"], r["doc_id"], r["shard_id"], r["score"],
        )
        for r in df.collect()
    ]


@pytest.mark.parametrize(
    "col,q",
    [
        ("role", "hotalpha hotbeta"),
        ("turn_idx", "hotalpha w00011"),
        ("fval", "hotalpha hotbeta w00011"),  # nullable double → NULL group
        ("role", "+hotalpha -hotbeta w00011"),  # boolean query composes
    ],
)
def test_grouped_matches_bruteforce(spark, gidx, grp_corpus, col, q):
    got = _got_rows(
        search_grouped(spark, gidx, q, col, k_groups=3, k_docs=2), col
    )
    want = _expected(spark, gidx, grp_corpus, q, col, 3, 2)
    assert len(got) == len(want)
    for g, w in zip(got, want):
        if isinstance(w[0], float):
            assert g[0] == pytest.approx(w[0], rel=1e-12)
        else:
            assert g[0] == w[0]
        assert g[1:4] == w[1:4]
        assert g[4] == pytest.approx(w[4], rel=1e-12)


@pytest.mark.parametrize(
    "col,order",
    [
        ("role", "key_asc"),
        ("role", "key_desc"),
        ("turn_idx", "key_desc"),
        ("fval", "key_asc"),   # NULL group must come FIRST
        ("fval", "key_desc"),  # NULL group must come LAST
    ],
)
def test_grouped_key_order(spark, gidx, grp_corpus, col, order):
    """group_order='key_asc'/'key_desc' — Lucene's field groupSort:
    groups ordered by the group VALUE with Spark NULL placement."""
    got = _got_rows(
        search_grouped(
            spark, gidx, "hotalpha hotbeta", col,
            k_groups=3, k_docs=2, group_order=order,
        ),
        col,
    )
    want = _expected(
        spark, gidx, grp_corpus, "hotalpha hotbeta", col, 3, 2,
        group_order=order,
    )
    assert len(got) == len(want)
    for g, w in zip(got, want):
        if isinstance(w[0], float):
            assert g[0] == pytest.approx(w[0], rel=1e-12)
        else:
            assert g[0] == w[0]
        assert g[1:4] == w[1:4]


def test_grouped_with_filter(spark, gidx, grp_corpus):
    """filter_df composes ahead of both passes' caps — Katta's Filter
    semantics (restricts matches, scores unchanged)."""
    fdf = grp_corpus.where("turn_idx % 2 = 0").select(
        F.xxhash64("conv_id", "turn_idx").alias("doc_id")
    )
    got = _got_rows(
        search_grouped(
            spark, gidx, "hotalpha hotbeta", "role",
            k_groups=3, k_docs=2, filter_df=fdf,
        ),
        "role",
    )
    want = _expected(
        spark, gidx, grp_corpus, "hotalpha hotbeta", "role", 3, 2,
        filter_df=fdf,
    )
    assert [g[:4] for g in got] == [w[:4] for w in want]
    np.testing.assert_allclose(
        [g[4] for g in got], [w[4] for w in want], rtol=1e-12
    )


def test_grouped_pass_caps(spark, gidx):
    """Pass-1 emission ≤ k_groups rows/shard; pass-2 ≤ |selected|·k_docs
    rows/shard — the whole point of the two-pass design (nothing
    corpus-sized ever leaves the kernels)."""
    kg, kd = 3, 2
    common = dict(
        k=2**31 - 1, prune=False, ordered=False, score_dtype="float64",
    )
    p1 = search(
        spark, gidx, "hotalpha",
        _dv_group=("role", ("pass1", kg, "score")), **common,
    ).groupBy("shard_id").count().collect()
    assert all(r["count"] <= kg for r in p1)
    ih = IndexHandle.open(spark, gidx)
    heads = search(
        spark, gidx, "hotalpha",
        _dv_group=("role", ("pass1", kg, "score")), **common,
    ).collect()
    sel = tuple({int(r["gkey"]) for r in heads if not r["gnull"]})
    p2 = search(
        spark, gidx, "hotalpha",
        _dv_group=("role", ("pass2", kd, sel, False)), **common,
    ).groupBy("shard_id").count().collect()
    assert all(r["count"] <= len(sel) * kd for r in p2)
    assert ih.num_shards == 4


def test_grouped_runs_two_shard_jobs(spark, gidx):
    """Two-pass grouping is two shard jobs and nothing else: each pass's
    collector runs in the shard tasks, and the totals, the per-group
    top-k_docs and the group values are merged on the driver."""
    from katta_spark.plans import jobs_started

    search_grouped(spark, gidx, "hotalpha", "role", k_groups=3, k_docs=2)
    with jobs_started(spark) as n:
        rows = search_grouped(
            spark, gidx, "hotalpha", "role", k_groups=3, k_docs=2
        ).collect()
    assert rows and n[0] <= 2, n


def test_grouped_validation(spark, gidx):
    with pytest.raises(ValueError, match="docvalue"):
        search_grouped(spark, gidx, "hotalpha", "no_such_col")
    with pytest.raises(ValueError, match="single-index"):
        search_grouped(spark, [gidx, gidx], "hotalpha", "role")
    with pytest.raises(ValueError, match="positive"):
        search_grouped(spark, gidx, "hotalpha", "role", k_groups=0)
    with pytest.raises(ValueError, match="group_order"):
        search_grouped(spark, gidx, "hotalpha", "role", group_order="bogus")


def test_grouped_no_matches(spark, gidx):
    out = search_grouped(spark, gidx, "zzznoterm", "role")
    assert out.count() == 0
    assert out.columns == [
        "role", "group_total", "doc_id", "shard_id", "score"
    ]
