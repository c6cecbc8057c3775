"""Streaming incremental build, filtered search (P2), point lookup (S7)."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from katta_spark.build import build_index
from katta_spark.oracle import bm25_topk, with_doc_ids
from katta_spark.query import count_matches, search, search_multi, search_with_total
from katta_spark.sources import point_lookup, read_transcripts
from katta_spark.streaming import delta_index_dirs, stream_build
from katta_spark.synth import synth_transcripts


def test_filtered_search_matches_filtered_oracle(
    spark, tiny_transcripts, tmp_path, monkeypatch
):
    """P2: a filter restricts the matched doc set WITHOUT changing scores
    (reference: QueryWrapperFilter applied during collection,
    LuceneServer.java:334-345; test LuceneClientTest.java:562-617)."""
    d = str(tmp_path / "idx")
    build_index(spark, tiny_transcripts, d, num_shards=4)
    docs = with_doc_ids(tiny_transcripts, 4)
    # filter = docs whose role is 'user'
    allowed = [r.doc_id for r in docs.where(F.col("role") == "user").collect()]
    got = search(spark, d, "hotalpha hotbeta", k=10, filter_docs=allowed).collect()
    # oracle: score on the FULL corpus stats, then restrict and take top-k
    full = bm25_topk(
        docs, "hotalpha hotbeta", k=10**9, shard_col="shard_id"
    ).collect()
    allowed_set = set(allowed)
    want = [r for r in full if r.doc_id in allowed_set][:10]
    assert [r.doc_id for r in got] == [r.doc_id for r in want]
    np.testing.assert_allclose(
        np.array([r.score for r in got], np.float32),
        np.array([r.score for r in want], np.float32),
        rtol=2e-6,
    )
    # AND mode with filter
    got_and = search(
        spark, d, "hotalpha hotbeta", k=5, mode="and", filter_docs=allowed
    ).collect()
    assert all(r.doc_id in allowed_set for r in got_and)

    # predicate-shaped filter (DataFrame, cogrouped per shard — the scale
    # path: the allowed set never travels through the driver) must equal
    # the driver-list path exactly
    allowed_df = docs.where(F.col("role") == "user").select("doc_id")
    got_df = search(
        spark, d, "hotalpha hotbeta", k=10, filter_df=allowed_df
    ).collect()
    assert [(r.doc_id, r.score) for r in got_df] == [
        (r.doc_id, r.score) for r in got
    ]
    # empty filter ⇒ no hits
    assert (
        search(
            spark, d, "hotalpha", k=5,
            filter_df=docs.where(F.lit(False)).select("doc_id"),
        ).count()
        == 0
    )
    # field-sorted search honors the filter too (score-free match path)
    from katta_spark.query import search_sorted

    ss = search_sorted(
        spark, d, "hotalpha hotbeta", tiny_transcripts,
        sort_cols=[F.col("ts").desc()], k=8, track_scores=False,
        filter_df=allowed_df,
    ).collect()
    assert ss and all(r.doc_id in allowed_set for r in ss)

    # CachedFilter (P3, CachingWrapperFilter analog): prepared once,
    # reused across queries, row-identical to the raw-DataFrame path;
    # the prepared frame is persisted, and the frame that drives the
    # shard tasks reads the cache with no exchange
    import katta_spark.query as ksq
    from katta_spark.plans import physical_plan
    from katta_spark.query import prepare_filter

    driving = []
    by_filter = ksq._Fetch.by_filter

    def record(self, *a, **kw):
        driving.append(by_filter(self, *a, **kw))
        return driving[-1]

    monkeypatch.setattr(ksq._Fetch, "by_filter", record)

    cf = prepare_filter(spark, d, allowed_df)
    try:
        assert cf.df.is_cached
        got_cf = search(
            spark, d, "hotalpha hotbeta", k=10, filter_df=cf
        ).collect()
        assert [(r.doc_id, r.score) for r in got_cf] == [
            (r.doc_id, r.score) for r in got
        ]
        # a second, different query reuses the same materialization
        assert search(
            spark, d, "hotalpha", k=10, filter_df=cf
        ).collect() == search(
            spark, d, "hotalpha", k=10, filter_df=allowed_df
        ).collect()
        driving.clear()
        search(spark, d, "hotalpha hotbeta", k=10, filter_df=cf)
        plan = physical_plan(driving[0], mode="simple")
        # (the cached relation's own plan, printed below its scan, holds
        # the exchange prepare_filter ran once)
        above, cached, _ = plan.partition("InMemoryTableScan")
        assert cached and "Exchange" not in above, plan
        # sharding-config mismatch refuses
        d2 = str(tmp_path / "idx2")
        build_index(spark, tiny_transcripts, d2, num_shards=2)
        with pytest.raises(ValueError, match="prepare_filter"):
            search(spark, d2, "hotalpha", k=5, filter_df=cf).collect()
        with pytest.raises(ValueError, match="single-index"):
            search_multi(
                spark, [d, d2], "hotalpha", k=5, filter_df=cf
            ).collect()
    finally:
        cf.unpersist()


def test_search_with_total(spark, tiny_transcripts, tmp_path):
    """A3/A4: top-k + exact totalHits in one job (Hits.java:34-51) — the
    total equals the count_matches fast path, the top-k equals search()."""
    d = str(tmp_path / "idx_tot")
    build_index(spark, tiny_transcripts, d, num_shards=4)
    out = search_with_total(spark, d, "hotalpha w00012", k=5).collect()
    want_total = count_matches(spark, d, "hotalpha w00012")
    want_hits = search(spark, d, "hotalpha w00012", k=5).collect()
    assert out and all(r.total_hits == want_total for r in out)
    # coverage metadata (D4 analog): shards that contributed matches
    assert all(1 <= r.shards_hit <= r.shards_total == 4 for r in out)
    assert [r.doc_id for r in out] == [r.doc_id for r in want_hits]
    np.testing.assert_allclose(
        np.array([r.score for r in out], np.float32),
        np.array([r.score for r in want_hits], np.float32),
        rtol=2e-6,
    )
    # absent term: empty result
    assert search_with_total(spark, d, "zzzabsent", k=5).count() == 0


def test_stream_build_incremental(spark, tmp_path):
    """Micro-batches become delta indexes; searching all deltas equals the
    monolithic index over the union (Katta: deploy new index version)."""
    inp = str(tmp_path / "incoming")
    root = str(tmp_path / "stream_idx")
    os.makedirs(inp)
    b1 = synth_transcripts(spark, 1200, seed=42)
    b1.write.mode("overwrite").parquet(os.path.join(inp, "batch1"))
    # wildcard-dir source: stream over inp/*/
    stream_build(spark, inp + "/*", root, num_shards=2)
    assert len(delta_index_dirs(root)) == 1

    bigger = synth_transcripts(spark, 1800, seed=42)
    b2 = bigger.exceptAll(b1)
    b2.write.mode("overwrite").parquet(os.path.join(inp, "batch2"))
    stream_build(spark, inp + "/*", root, num_shards=2)  # drains only the new file
    deltas = delta_index_dirs(root)
    assert len(deltas) == 2

    whole = str(tmp_path / "whole")
    build_index(spark, bigger, whole, num_shards=4)
    got = search_multi(spark, deltas, "hotalpha w00012", k=10).collect()
    want = search(spark, whole, "hotalpha w00012", k=10).collect()
    assert [r.doc_id for r in got] == [r.doc_id for r in want]
    np.testing.assert_allclose(
        np.array([r.score for r in got], np.float32),
        np.array([r.score for r in want], np.float32),
        rtol=2e-6,
    )
    # re-draining with no new files creates no new deltas (exactly-once)
    stream_build(spark, inp + "/*", root, num_shards=2)
    assert len(delta_index_dirs(root)) == 2


def test_empty_corpus_build_and_search(spark, tiny_transcripts, tmp_path):
    """A build over zero documents yields a valid, queryable (empty) index
    — every table readable, searches return no rows, count is 0."""
    d = str(tmp_path / "empty_idx")
    empty = tiny_transcripts.where(F.lit(False))
    res = build_index(spark, empty, d, num_shards=2)
    assert res["n_docs"] == 0
    assert search(spark, d, "hotalpha", k=5).count() == 0
    assert search(spark, d, "hotalpha", k=5, mode="and").count() == 0
    assert search_with_total(spark, d, "hotalpha", k=5).count() == 0
    assert count_matches(spark, d, "hotalpha") == 0


def test_stream_dedup_stateful(spark, tmp_path):
    """Stateful streaming dedup (applyInPandasWithState): only the first
    occurrence of each distinct text EVER survives — across micro-batches,
    via Spark-managed keyed state (checkpointed), not a driver-side set."""
    from katta_spark.streaming import stream_dedup

    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    os.makedirs(inp)
    b1 = synth_transcripts(spark, 800, seed=42)
    b1.write.mode("overwrite").parquet(os.path.join(inp, "b1"))
    stream_dedup(spark, inp + "/*", out)
    first = spark.read.parquet(out)
    n1 = first.count()
    # exact-dedup semantics within the drained data
    want1 = b1.select("text").distinct().count()
    assert n1 == want1
    # batch 2 = SAME texts (different ids) + genuinely new rows
    dup = b1.limit(200).withColumn("turn_idx", (F.col("turn_idx") + 10_000).cast("int"))
    new = synth_transcripts(spark, 1200, seed=42).exceptAll(b1)
    dup.unionByName(new).write.mode("overwrite").parquet(os.path.join(inp, "b2"))
    stream_dedup(spark, inp + "/*", out)
    after = spark.read.parquet(out)
    # replayed texts are suppressed by state; only unseen texts appended
    want_total = (
        b1.select("text").unionByName(new.select("text")).distinct().count()
    )
    assert after.count() == want_total
    assert after.select("text_md5").distinct().count() == after.count()


def test_point_lookup_and_reader(spark, tiny_transcripts, tmp_path):
    p = str(tmp_path / "tx.parquet")
    tiny_transcripts.write.mode("overwrite").parquet(p)
    tx = read_transcripts(spark, p)
    assert tx.schema["turn_idx"].dataType.simpleString() == "int"
    row = tiny_transcripts.limit(1).collect()[0]
    got = point_lookup(tx, "conv_id", row.conv_id).collect()
    assert 1 <= len(got) <= 20 and all(r.conv_id == row.conv_id for r in got)
    # predicate reaches the scan
    plan = point_lookup(tx, "conv_id", row.conv_id)._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan or "IsNotNull" in plan


def test_stream_windowed_counts_watermark(spark, tmp_path):
    """Tumbling-window agg under Structured Streaming == the batch twin
    for in-watermark data; an event arriving LATER than the watermark
    behind max event time is dropped by state eviction."""
    import datetime as dt

    from katta_spark.streaming import stream_windowed_counts
    from katta_spark.textops import windowed_event_counts

    ind = str(tmp_path / "ev_in")
    outd = str(tmp_path / "ev_out")
    ck = str(tmp_path / "ev_ck")
    os.makedirs(ind)

    def ev(i, h, m, typ, v):
        return (i, dt.datetime(2024, 1, 1, h, m), 1, typ, float(v), "{}")

    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    batch1 = [ev(1, 0, 5, "click", 1.0), ev(2, 0, 40, "click", 2.0),
              ev(3, 1, 10, "view", 3.0), ev(4, 5, 1, "click", 4.0)]
    spark.createDataFrame(batch1, schema).coalesce(1).write.mode(
        "append"
    ).parquet(ind)
    # watermark = 2h behind max(ts)=05:01 → cutoff 03:01: an hour-0 event
    # arriving now is LATE and must be dropped; an hour-4 event is fine.
    batch2 = [ev(5, 0, 50, "click", 8.0), ev(6, 4, 30, "view", 5.0)]

    stream_windowed_counts(spark, ind, outd, ck, "1 hour", "2 hours")
    spark.createDataFrame(batch2, schema).coalesce(1).write.mode(
        "append"
    ).parquet(ind)
    stream_windowed_counts(spark, ind, outd, ck, "1 hour", "2 hours")

    got = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in spark.read.parquet(outd).collect()
    }
    # append mode emits a window once its end < watermark; with cutoff
    # 03:01 after batch1 the hour-0 and hour-1 windows are final.
    h0 = (dt.datetime(2024, 1, 1, 0, 0), "click")
    h1 = (dt.datetime(2024, 1, 1, 1, 0), "view")
    assert got[h0] == (2, 3.0), got  # event 5 (late hour-0) DROPPED
    assert got[h1] == (1, 3.0), got

    # batch twin on the SAME expression over the in-watermark rows agrees
    batch = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in windowed_event_counts(
            spark.createDataFrame(batch1, schema), "1 hour"
        ).collect()
    }
    assert batch[h0] == got[h0] and batch[h1] == got[h1]


def test_stream_session_counts(spark, tmp_path):
    """Session-window agg under Structured Streaming matches the batch
    sessionizer's session-level aggregate on boundary-free data, and the
    watermark finalizes (emits) only sessions it has passed."""
    import datetime as dt

    from pyspark.sql import functions as F

    from katta_spark.streaming import stream_session_counts
    from katta_spark.textops import sessionize

    ind = str(tmp_path / "se_in")
    outd = str(tmp_path / "se_out")
    ck = str(tmp_path / "se_ck")
    os.makedirs(ind)

    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    t = lambda h, m: dt.datetime(2024, 1, 1, h, m)  # noqa: E731
    rows = [
        (1, t(0, 0), 1, "c", 1.0, "{}"),
        (2, t(0, 10), 1, "c", 2.0, "{}"),   # u1 session A (gaps < 30m)
        (3, t(1, 0), 1, "c", 4.0, "{}"),    # u1 session B (gap 50m)
        (4, t(0, 5), 2, "c", 8.0, "{}"),    # u2 session A
        (5, t(9, 0), 1, "c", 16.0, "{}"),   # advances the watermark
    ]
    df = spark.createDataFrame(rows, schema)
    df.coalesce(1).write.mode("append").parquet(ind)
    stream_session_counts(spark, ind, outd, ck, gap="30 minutes",
                          watermark="1 hour")

    got = {
        (r.user_id, r.session_start): (r.session_end, r.n_events, r.sum_value)
        for r in spark.read.parquet(outd).collect()
    }
    # watermark = 09:00 - 1h = 08:00 → the three early sessions are final;
    # the 09:00 session is still open (not emitted in append mode).
    assert got[(1, t(0, 0))] == (t(0, 40), 2, 3.0)   # end = last + gap
    assert got[(1, t(1, 0))] == (t(1, 30), 1, 4.0)
    assert got[(2, t(0, 5))] == (t(0, 35), 1, 8.0)
    assert (1, t(9, 0)) not in got

    # batch twin agrees on the emitted sessions (boundary-free data)
    batch = (
        sessionize(df, gap="30 minutes", keep_cols=("value",))
        .groupBy("user_id", "session_id")
        .agg(
            F.min("session_start").alias("session_start"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )
    bt = {
        (r.user_id, r.session_start): (r.n_events, r.sum_value)
        for r in batch.collect()
    }
    for (uid, start), (_end, n, sv) in got.items():
        assert bt[(uid, start)] == (n, sv)


def test_read_transcripts_formats(spark, tmp_path):
    """Declared schema enforced on the default parquet path; unknown
    format refused (the Iceberg branch needs the runtime jar, absent
    here — its schema enforcement is a post-load cast of the same
    declared schema)."""
    import pytest as _pytest

    from katta_spark.schema import TRANSCRIPTS_SCHEMA
    from katta_spark.synth import synth_transcripts

    p = str(tmp_path / "t.parquet")
    synth_transcripts(spark, 50, seed=3).write.parquet(p)
    df = read_transcripts(spark, p)
    # parquet scans surface everything nullable; names+types are the contract
    assert [(f.name, f.dataType) for f in df.schema.fields] == [
        (f.name, f.dataType) for f in TRANSCRIPTS_SCHEMA.fields
    ]
    with _pytest.raises(ValueError, match="unknown transcripts format"):
        read_transcripts(spark, p, fmt="orc")
