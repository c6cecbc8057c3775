"""Per-layer measurements that need no Spark job: on-disk sizes of a
built index and a codec microbenchmark over the index's own postings."""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
import pyarrow.dataset as pads
import pyarrow.parquet as pq


def dir_bytes(path: str) -> int:
    """Bytes of the regular files under ``path``."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def _parquet_files(path: str) -> list[str]:
    return sorted(
        os.path.join(root, f)
        for root, _dirs, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


def row_groups(path: str) -> int:
    """Parquet row groups over every file under ``path``."""
    return sum(pq.ParquetFile(f).metadata.num_row_groups for f in _parquet_files(path))


def index_layout(index_dir: str) -> dict[str, int]:
    postings = os.path.join(index_dir, "postings.parquet")
    return {
        "build.postings_bytes": dir_bytes(postings),
        "build.index_bytes": dir_bytes(index_dir),
        "build.postings_row_groups": row_groups(postings),
    }


ENCODE_STRIDE = 50


def _rate(fn, items: int, min_s: float = 0.3, reps: int = 3) -> float:
    """Median items/s over ``reps`` rounds of at least ``min_s`` each."""
    rates = []
    for _ in range(reps):
        n, t0 = 0, time.perf_counter()
        while True:
            fn()
            n += 1
            dt = time.perf_counter() - t0
            if dt >= min_s:
                break
        rates.append(items * n / dt)
    return statistics.median(rates)


def codec_rates(index_dir: str) -> dict[str, float]:
    """Decode and encode throughput of ``katta_spark.codec`` on the index's
    own postings blobs, read with pyarrow (term rows only; the per-shard
    document-marker rows carry no positions)."""
    from katta_spark import codec
    from katta_spark.build import SENTINEL_HASHES

    t = pads.dataset(
        os.path.join(index_dir, "postings.parquet"), format="parquet",
        partitioning="hive",
    ).to_table(columns=["th", "df", "doc_ids", "tfs", "doclens", "positions"])
    keep = ~np.isin(t["th"].to_numpy(), np.array(SENTINEL_HASHES, dtype=np.int64))
    t = t.filter(keep)
    doc_bufs = t["doc_ids"].to_pylist()
    tf_bufs = t["tfs"].to_pylist()
    dl_bufs = t["doclens"].to_pylist()
    pos_bufs = t["positions"].to_pylist()

    docs, tfs, dls, cnt = codec.decode_posting_lists_concat(doc_bufs, tf_bufs, dl_bufs)
    if int(cnt.sum()) != int(t["df"].to_numpy().sum()):
        raise RuntimeError("codec decode returned a different posting count than df")
    n_postings = int(cnt.sum())
    n_positions = int(tfs.sum())
    # encode pays per-list Python work: time it on every ENCODE_STRIDE-th
    # list so one call stays short
    ends = np.cumsum(cnt)
    pick = np.arange(0, cnt.size, ENCODE_STRIDE)
    sel = np.concatenate([np.arange(ends[i] - cnt[i], ends[i]) for i in pick])
    enc_cnt = cnt[pick]
    enc_starts = np.concatenate([[0], np.cumsum(enc_cnt)[:-1]]).astype(np.int64)
    return {
        "codec.decode_postings_per_s": _rate(
            lambda: codec.decode_posting_lists_concat(doc_bufs, tf_bufs, dl_bufs),
            n_postings,
        ),
        "codec.decode_positions_per_s": _rate(
            lambda: codec.decode_positions_concat(pos_bufs, tfs), n_positions
        ),
        "codec.encode_postings_per_s": _rate(
            lambda: codec.encode_posting_lists_batch(
                docs[sel], tfs[sel], dls[sel], enc_starts
            ),
            int(enc_cnt.sum()),
        ),
    }
