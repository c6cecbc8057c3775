"""One Spark job per search: the driver-resident term dictionary and the
shard-local single stage.

Phase 1 (df, term strings, prefix and range rewrites) is a lookup in the
handle's term dictionary, and phase 2 is one plain RDD job whose tasks read
their own shard's postings, in the Python workers the pandas UDFs use. So
on a warm handle every scoring entry point over these shapes runs exactly
one Spark job; only the unbounded ``ordered=False`` search stays a lazy
``mapInPandas`` frame. Filtered, docvalue-sorted, grouped and faceted
searches run their filter and collector in that same shard job (their
jobs per call are pinned below). The dictionary must give the same
results whether it is held in memory or read per query (past
``termdict.MAX_RESIDENT_TERMS``).
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute  # noqa: F401 — pa.compute
import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import katta_spark.query as ksq
import katta_spark.termdict as termdict
from katta_spark.build import build_index
from katta_spark.delete import delete_by_query
from katta_spark.oracle import with_doc_ids
from katta_spark.plans import audit_search_plan, jobs_started
from katta_spark.query import (
    IndexHandle,
    _read_shard,
    count_matches,
    facet_counts,
    facet_ranges,
    match_stats,
    prepare_filter,
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


def test_jobs_per_bounded_search(spark, sidx, tiny_transcripts):
    """Every bounded search is one shard job: a filter list, a
    CachedFilter, facet counts, range facets and match stats run in 1 job
    per call; an ad hoc filter frame adds at most its own exchange;
    grouping is two shard jobs; a docvalue sort is one shard job plus the
    display join's jobs, for one index and for ``[h, h]`` with a string
    sort. Each call is counted warm, with its result collected."""
    h = IndexHandle.open(spark, sidx)
    q = "hotalpha w00011"
    allowed = (
        with_doc_ids(tiny_transcripts, 4).where(F.col("role") == "user")
        .select("doc_id")
    )
    ids = [r.doc_id for r in allowed.collect()]
    cf = prepare_filter(spark, h, allowed)

    def sorted_by(index, spec):
        return lambda: search_sorted(
            spark, index, "hotalpha", tiny_transcripts, [spec], k=5
        )

    calls = {
        "search": (1, lambda: search(spark, h, q, k=10)),
        "filter_docs": (1, lambda: search(spark, h, q, k=10, filter_docs=ids)),
        "cached_filter": (1, lambda: search(spark, h, q, k=10, filter_df=cf)),
        "facet_counts": (1, lambda: facet_counts(spark, h, q, "role")),
        "facet_ranges": (1, lambda: facet_ranges(
            spark, h, q, "turn_idx", [("lo", 0, 10), ("hi", 10, None)]
        )),
        "match_stats": (1, lambda: match_stats(spark, h, q, "turn_idx")),
        "filter_df": (2, lambda: search(spark, h, q, k=10, filter_df=allowed)),
        "search_grouped": (2, lambda: search_grouped(
            spark, h, q, "role", k_groups=3, k_docs=2
        )),
        "sorted_int": (3, sorted_by(h, ("turn_idx", "desc"))),
        "sorted_str": (3, sorted_by(h, ("role", "asc"))),
        "sorted_str_list": (3, sorted_by([h, h], ("role", "asc"))),
    }
    try:
        for name, (most, call) in calls.items():
            assert call().collect(), name
            with jobs_started(spark) as n:
                call().collect()
            assert 0 < n[0] <= most, (name, n[0])
    finally:
        cf.unpersist()


def _bits(rows) -> list[str]:
    """Rows as reprs: floats compare bit for bit, and types show."""
    return [repr([(type(v).__name__, v) for v in r]) for r in rows]


def _same_frame(got, want) -> None:
    """``got`` answers every driver-side read as ``want`` does."""
    assert _bits(got.collect()) == _bits(want.collect())
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in want.collect()]
    assert [r.asDict() for r in got.collect()] == [r.asDict() for r in want.collect()]
    pd.testing.assert_frame_equal(got.toPandas(), want.toPandas(), check_exact=True)
    assert got.count() == want.count()
    assert _bits(got.take(3)) == _bits(want.take(3))
    assert _bits(got.head(2)) == _bits(want.head(2))
    assert repr(got.head()) == repr(want.head())
    assert repr(got.first()) == repr(want.first())
    assert got.isEmpty() == want.isEmpty()
    assert got.schema == want.schema
    assert got.columns == want.columns


@pytest.mark.parametrize("dtype", ["float32", "float64"])
def test_hits_frame_answers_from_the_driver(spark, sidx, dtype, monkeypatch):
    """A search returns its merged rows as a driver-resident frame: every
    read of the rows equals the local Spark frame of the same rows, bit
    for bit, with no createDataFrame; Spark operators and ``_jdf`` build
    that frame on first use."""
    h = IndexHandle.open(spark, sidx)
    sql_t = "float" if dtype == "float32" else "double"
    base = f"doc_id long, shard_id int, score {sql_t}"
    total = base + ", total_hits long, shards_hit int, shards_total int"
    batch = f"query_id int, shard_id int, doc_id long, score {sql_t}"
    calls = []
    real = type(spark).createDataFrame

    def spy(self, *a, **kw):
        calls.append(1)
        return real(self, *a, **kw)

    monkeypatch.setattr(type(spark), "createDataFrame", spy)
    for q in SHAPES + ["nosuchterm"]:
        calls.clear()
        r = search(spark, h, q, k=10, score_dtype=dtype)
        rows = r.collect()
        assert calls == [], q
        assert isinstance(r, DataFrame)
        assert bool(rows) == (q != "nosuchterm"), q
        refs = []
        for got, ddl in [
            (r, base),
            (search_with_total(spark, h, q, k=10, score_dtype=dtype), total),
            (search_batch(spark, h, [q, "hotbeta"], k=3, score_dtype=dtype), batch),
        ]:
            refs.append(ksq._local_df(spark, [tuple(x) for x in got.collect()], None, ddl))
            _same_frame(got, refs[-1])
        calls.clear()
        assert r._jdf is not None and r._jdf is r._jdf
        assert calls == [1]
        assert [x.doc_id for x in r.orderBy("doc_id").collect()] == sorted(
            x.doc_id for x in rows
        )
        assert r.join(refs[0], "doc_id").count() == len(rows)


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


def _filtered_read(d, s, cols, hashes) -> pd.DataFrame:
    """The shard's rows of ``hashes`` as a th-filtered pyarrow read."""
    import pyarrow.dataset as pads

    files = termdict.parquet_files(os.path.join(d, "postings.parquet", f"shard_id={s}"))
    return pads.dataset(files, format="parquet").to_table(
        columns=cols, filter=pads.field("th").isin(hashes)
    ).to_pandas()


def test_open_shard_reader(sidx, tmp_path, monkeypatch):
    """The reader serves a shard from its process's open copy: the same
    rows in the same order as a th-filtered read of the files, a
    rewritten file seen by the next read, and a shard over the byte bound
    not kept."""
    import pyarrow.parquet as pq

    d = str(tmp_path / "idx")
    shutil.copytree(sidx, d)
    monkeypatch.setattr(ksq, "_OPEN_SHARDS", ksq._OpenShards())
    cols = ["th", "df", "doc_ids", "tfs", "max_tf", "positions"]
    full = pq.read_table(os.path.join(d, "postings.parquet")).to_pandas()
    sets = [
        [term_hash(t) for t in ("hotalpha", "w00011", "nosuchterm")],
        [int(x) for x in full["th"].unique()[::3]],
        [],
    ]
    for s in range(4):
        for hashes in sets * 2:  # the second pass is served open
            pd.testing.assert_frame_equal(
                _read_shard(d, s, ["shard_id"] + cols, hashes),
                _filtered_read(d, s, cols, hashes), check_exact=True,
            )
    assert len(ksq._OPEN_SHARDS._held) == 4

    # rewrite one file of shard 0 without the hotalpha rows
    alpha = [term_hash("hotalpha")]
    shard0 = os.path.join(d, "postings.parquet", "shard_id=0")
    f = next(
        f for f in termdict.parquet_files(shard0)
        if len(_filtered_read(d, 0, ["th"], alpha).index)
        and alpha[0] in set(pq.read_table(f, columns=["th"])["th"].to_pylist())
    )
    t = pq.read_table(f)
    pq.write_table(t.filter(pa.compute.not_equal(t["th"], alpha[0])), f)
    st = os.stat(f)
    os.utime(f, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    got = _read_shard(d, 0, cols, alpha)
    pd.testing.assert_frame_equal(got, _filtered_read(d, 0, cols, alpha), check_exact=True)
    assert len(got) == 0

    # a bound below one shard keeps nothing; one shard's worth keeps one
    monkeypatch.setattr(ksq, "_OPEN_SHARDS", ksq._OpenShards())
    monkeypatch.setattr(ksq, "OPEN_SHARD_BYTES", 1024)
    for s in range(4):
        pd.testing.assert_frame_equal(
            _read_shard(d, s, cols, sets[0]), _filtered_read(d, s, cols, sets[0]),
            check_exact=True,
        )
    assert not ksq._OPEN_SHARDS._held
    sizes = []
    for s in range(4):
        root = os.path.join(d, "postings.parquet", f"shard_id={s}")
        sizes += [
            pq.read_table(root, columns=cols).nbytes,
            sum(os.stat(f).st_size for f in termdict.parquet_files(root)),
        ]
    monkeypatch.setattr(ksq, "OPEN_SHARD_BYTES", max(sizes) * 3 // 2)
    for s in range(4):
        _read_shard(d, s, cols, sets[0])
    held = [key[0][0][0] for key in ksq._OPEN_SHARDS._held]
    assert len(held) == 1 and "shard_id=3" in held[0], held


def test_small_scan_splits(spark, sidx, tiny_transcripts):
    """Filtered, docvalue-sorted and grouped searches read their shards in
    the shard tasks; the Spark scans that remain around them (the filter
    frame's source, the display join's ``source``) must not change their
    results when they are split into many small partitions."""
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


def _children(ppid: int) -> set[int]:
    """Pids of the live processes whose parent is ``ppid``."""
    out = set()
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # fields after "(comm)": state, ppid, ...
        if int(stat.rsplit(")", 1)[1].split()[1]) == ppid:
            out.add(int(p))
    return out


def test_search_shares_the_worker_pool(spark, sidx, monkeypatch):
    """A search's shard stage is an RDD job, and it must run in the Python
    workers the pandas UDFs already started: not in a second pool (Spark
    keys pools on the worker environment, to which its SQL runners add
    SPARK_SIMPLIFIED_TRACEBACK) and not in a worker forked for the job (a
    task that leaves its input undrained is not reused). A registered
    kernel mode reports the pid and parent pid of each shard task."""

    def pid_kernels(qw, n, a, k, prune, dt, wt):
        def kernel(pdf):
            return pd.DataFrame({
                "shard_id": [np.int32(pdf["shard_id"].iloc[0])],
                "doc_id": [os.getpid()],
                "score": np.float32([os.getppid()]),
            })

        return kernel

    monkeypatch.setitem(ksq.KERNEL_MODES, "pid", pid_kernels)

    def pids(batches):
        time.sleep(0.5)  # hold the worker: every task starts its own
        for _ in batches:
            pass
        yield pd.DataFrame({"pid": [os.getpid()], "ppid": [os.getppid()]})

    n = spark.sparkContext.defaultParallelism
    udf = spark.range(0, n, 1, n).mapInPandas(pids, "pid long, ppid long")
    daemons = {r.ppid for r in udf.collect()}
    assert len(daemons) == 1, daemons
    daemon = next(iter(daemons))
    h = IndexHandle.open(spark, sidx)
    used = set()
    for _ in range(2):
        pool = _children(daemon)
        hits = search(spark, h, "hotalpha", k=10, mode="pid").collect()
        assert len(hits) == h.num_shards, hits
        assert {int(r.score) for r in hits} == daemons, hits
        assert {r.doc_id for r in hits} <= pool, (hits, pool)
        used |= {r.doc_id for r in hits}
    time.sleep(0.5)
    # a worker that is not reused exits after its task
    assert used <= _children(daemon), used


def test_unbounded_search_is_lazy(spark, sidx, tmp_path):
    """``ordered=False`` with a huge k (delete_by_query, the search_sorted
    fallback) stays a lazy one-stage frame: calling it starts no job, so
    no corpus-sized result reaches the driver. delete_by_query over it
    still tombstones exactly the matched docs."""
    h = IndexHandle.open(spark, sidx)
    with jobs_started(spark) as n:
        lazy = search(spark, h, "hotalpha", k=2**31 - 1, ordered=False)
    assert n[0] == 0, n
    audit = audit_search_plan(lazy)
    assert audit["single_stage"] and not audit["local_result"], audit["plan"]
    assert "MapInPandas" in audit["plan"], audit["plan"]
    n_match = count_matches(spark, h, "hotalpha")
    assert lazy.count() == n_match > 0

    d = str(tmp_path / "idx")
    shutil.copytree(sidx, d)
    assert delete_by_query(spark, d, "hotalpha") == n_match
    assert count_matches(spark, d, "hotalpha") == 0
    assert count_matches(spark, d, "hotbeta") == count_matches(
        spark, h, "hotbeta -hotalpha"
    )
