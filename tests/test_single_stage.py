"""One Spark job per search: the driver-resident term dictionary and the
shard-local single stage.

Phase 1 (df, term strings, prefix and range rewrites) is a lookup in the
handle's term dictionary, and phase 2 is one ``mapInPandas`` stage whose
tasks read their own shard's postings. So on a warm handle every scoring
entry point over these shapes runs exactly one Spark job. The dictionary
must give the same results whether it is held in memory or read per query
(past ``termdict.MAX_RESIDENT_TERMS``), and the paths that keep a Spark
scan of the postings (filters and docvalue cogroups) must not depend on
how that scan is split.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

import katta_spark.termdict as termdict
from katta_spark.build import build_index
from katta_spark.oracle import with_doc_ids
from katta_spark.plans import jobs_started
from katta_spark.query import (
    IndexHandle,
    _read_shard,
    count_matches,
    search,
    search_batch,
    search_grouped,
    search_sorted,
    search_with_total,
)
from katta_spark.synth import synth_transcripts
from katta_spark.xxhash import term_hash

SHAPES = [
    "w00011 w00012",
    "+hotalpha +hotbeta",
    '"hotalpha hotbeta" w00011',
    "role:user hotalpha w00011",
    "w0123*",
]


@pytest.fixture(scope="module")
def sidx(spark, tiny_transcripts, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("single_stage_idx"))
    build_index(
        spark, tiny_transcripts, d, num_shards=4, keyword_cols=("role",),
        docvalue_cols=("turn_idx", "role"),
    )
    return d


@pytest.fixture(scope="module")
def sidx_b(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("single_stage_idx_b"))
    build_index(
        spark, synth_transcripts(spark, 300, seed=7), d, num_shards=2,
        keyword_cols=("role",),
    )
    return d


def _one_job(spark, call) -> list:
    """The rows of ``call()``, asserting it started exactly one job."""
    with jobs_started(spark) as n:
        rows = call()
    assert n[0] == 1, n
    return rows


@pytest.mark.parametrize("q", SHAPES)
def test_one_job_per_call(spark, sidx, q):
    h = IndexHandle.open(spark, sidx)
    warm = search(spark, h, q, k=10).collect()
    assert warm, q
    hits = _one_job(spark, lambda: search(spark, h, q, k=10).collect())
    assert hits == warm
    tot = _one_job(spark, lambda: search_with_total(spark, h, q, k=10).collect())
    assert [r.doc_id for r in tot] == [r.doc_id for r in hits]
    batch = _one_job(spark, lambda: search_batch(spark, h, [q], k=10).collect())
    assert [(r.doc_id, r.shard_id, r.score) for r in batch] == [
        (r.doc_id, r.shard_id, r.score) for r in hits
    ]


def test_one_job_index_list_and_count(spark, sidx, sidx_b):
    ha, hb = IndexHandle.open(spark, sidx), IndexHandle.open(spark, sidx_b)
    q = "hotalpha w00011"
    warm = search(spark, [ha, hb], q, k=10).collect()
    assert _one_job(spark, lambda: search(spark, [ha, hb], q, k=10).collect()) == warm
    n = count_matches(spark, ha, q)
    assert _one_job(spark, lambda: count_matches(spark, ha, q)) == n
    tot = search_with_total(spark, ha, q, k=1).collect()
    assert n == tot[0].total_hits


def _reload_dictionaries(*dirs) -> None:
    """Bump each stats.parquet mtime: the handles reload their dictionary
    under the current cap."""
    for d in dirs:
        os.utime(os.path.join(d, "stats.parquet"))


def _dictionary_results(spark, sidx, sidx_b) -> dict:
    _reload_dictionaries(sidx, sidx_b)
    ha, hb = IndexHandle.open(spark, sidx), IndexHandle.open(spark, sidx_b)
    out = {"resident": ha.term_dict().resident}
    for name, q, kw in [
        ("or", "hotalpha w00011", {}),
        ("prefix", "w0001*", {}),
        ("range", "[w00010 TO w00020]", {}),
        ("open_range", "role:{system TO *]", {}),
        ("role", "role:user hotbeta", {}),
        ("syn_msm", "hotalpha w00011 w00012",
         {"synonyms": {"hotalpha": ["hotbeta"]}, "min_should_match": 2}),
    ]:
        out[name] = [tuple(r) for r in search(spark, ha, q, k=10, **kw).collect()]
        out[name + "_total"] = [
            tuple(r) for r in search_with_total(spark, ha, q, k=10, **kw).collect()
        ]
    out["list"] = [
        tuple(r) for r in search(spark, [ha, hb], "hotalpha w0001*", k=10).collect()
    ]
    out["list_total"] = [
        tuple(r)
        for r in search_with_total(spark, [ha, hb], "hotalpha w00011", k=10).collect()
    ]
    return out


def test_dictionary_cap_both_sides(spark, sidx, sidx_b, monkeypatch):
    """Held in memory (lookups and rewrites by array search) and past the
    cap (per-query pyarrow reads of stats.parquet), the dictionary gives
    identical hits and totals."""
    try:
        resident = _dictionary_results(spark, sidx, sidx_b)
        monkeypatch.setattr(termdict, "MAX_RESIDENT_TERMS", 0)
        streamed = _dictionary_results(spark, sidx, sidx_b)
    finally:
        monkeypatch.undo()
        _reload_dictionaries(sidx, sidx_b)
    assert resident.pop("resident") and not streamed.pop("resident")
    assert all(resident[k] for k in resident), resident
    assert resident == streamed


def test_dictionary_match_both_sides(sidx, monkeypatch):
    """TermDict.match gives the same terms from the sorted arrays and from
    pyarrow reads past the cap; past it, ``limit`` stops the read early."""
    path = os.path.join(sidx, "stats.parquet")
    calls = [
        dict(prefix="w0001"),
        dict(prefix="w0", pattern="^w0[0-9]1[0-9]*$"),
        dict(prefix="", lo="w00010", hi="w00020", bare=True),
        dict(prefix="", lo="w00010", lo_incl=False, hi="w00020", hi_incl=False),
        dict(prefix="role:", lo="role:system", lo_incl=False),
        dict(prefix="nosuchterm"),
    ]
    held = termdict.TermDict(path)
    monkeypatch.setattr(termdict, "MAX_RESIDENT_TERMS", 0)
    read = termdict.TermDict(path)
    assert held.resident and not read.resident
    want = [held.match(**c) for c in calls]
    assert all(want[:-1]) and not want[-1], want
    assert [read.match(**c) for c in calls] == want
    assert read.lookup(["hotalpha", "w00011", "nosuchterm"]) == held.lookup(
        ["hotalpha", "w00011", "nosuchterm"]
    )
    broad = held.match("w")
    assert len(broad) > 3
    assert set(read.match("w", limit=3)) <= set(broad)
    assert len(read.match("w", limit=3)) > 3


def test_read_shard_columns_and_terms(sidx):
    """The shard reader returns only the requested columns (no positions
    unless asked) and only the rows of the requested term hashes, the same
    rows a full read of the shard holds for them; a shard without a
    directory reads as no rows."""
    import pyarrow.parquet as pq

    hashes = [term_hash(t) for t in ("hotalpha", "w00011")]
    flat = ["shard_id", "th", "df", "doc_ids", "tfs"]
    seen = set()
    for s in range(4):
        got = _read_shard(sidx, s, flat, hashes)
        assert list(got.columns) == flat[1:]
        assert set(got["th"]) <= set(hashes)
        full = pq.read_table(
            os.path.join(sidx, "postings.parquet", f"shard_id={s}")
        ).to_pandas()
        assert len(got) == full["th"].isin(hashes).sum()
        seen |= set(got["th"])
        assert "positions" in _read_shard(sidx, s, flat + ["positions"], hashes)
    assert seen == set(hashes)
    none = _read_shard(sidx, 99, flat, hashes)
    assert none.empty and list(none.columns) == flat[1:]


def test_small_scan_splits(spark, sidx, tiny_transcripts):
    """The filter and docvalue paths keep a Spark scan of the postings that
    is cogrouped by shard; splitting that scan into many small partitions
    must not change their results."""
    allowed = (
        with_doc_ids(tiny_transcripts, 4)
        .where(F.col("role") == "user")
        .select("doc_id")
    )

    def run() -> list:
        return [
            search(spark, sidx, "hotalpha w00011", k=10, filter_df=allowed).collect(),
            search_sorted(
                spark, sidx, "hotalpha", tiny_transcripts,
                [("turn_idx", "desc")], k=5,
            ).collect(),
            search_grouped(
                spark, sidx, "hotalpha w00011", "role", k_groups=3, k_docs=2
            ).collect(),
        ]

    key = "spark.sql.files.maxPartitionBytes"
    before = spark.conf.get(key)
    want = run()
    try:
        spark.conf.set(key, "1024")
        got = run()
    finally:
        spark.conf.set(key, before)
    assert all(want), want
    assert got == want


def test_unreadable_postings_table_raises(spark, sidx, tmp_path):
    """The shard-local reader treats a missing ``shard_id=s`` directory as
    an empty shard, but a postings table its task cannot see at all (an
    index path only the driver can read) must fail the search, not return
    no hits."""
    import shutil

    d = str(tmp_path / "no_postings")
    shutil.copytree(sidx, d)
    shutil.rmtree(os.path.join(d, "postings.parquet"))
    with pytest.raises(Exception, match="is not readable here"):
        search(spark, d, "hotalpha w00011", k=5).collect()
