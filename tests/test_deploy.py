"""Throttled, manifest-verified index deployment (ShardManager.installShard
+ ThrottledInputStream analog)."""

from __future__ import annotations

import os
import shutil
import time

import pytest

from katta_spark.build import build_index
from katta_spark.deploy import copy_index, index_manifest, verify_index
from katta_spark.query import search


@pytest.fixture(scope="module")
def small_index(spark, tiny_transcripts, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("deploy") / "src")
    build_index(spark, tiny_transcripts, d, num_shards=2)
    return d


def test_copy_verify_and_search_identity(spark, small_index, tmp_path):
    dst = str(tmp_path / "clone")
    res = copy_index(small_index, dst)
    assert res["verified"] and res["files"] > 0 and res["bytes"] > 0
    assert verify_index(dst, index_manifest(small_index))["ok"]
    a = search(spark, small_index, "hotalpha w00011", k=8).collect()
    b = search(spark, dst, "hotalpha w00011", k=8).collect()
    assert [(r.doc_id, r.score) for r in a] == [
        (r.doc_id, r.score) for r in b
    ]
    assert not os.path.exists(dst + ".part")


def test_throttle_paces_the_copy(small_index, tmp_path):
    total = sum(s for s, _ in index_manifest(small_index).values())
    rate = total / 1.5  # budget the copy to ~1.5s
    t0 = time.monotonic()
    res = copy_index(
        small_index, str(tmp_path / "slow"), max_bytes_per_sec=rate,
        verify=False,
    )
    elapsed = time.monotonic() - t0
    assert elapsed >= 0.8 * (total / rate), (elapsed, total, rate)
    assert res["bytes"] == total
    with pytest.raises(ValueError):
        copy_index(small_index, str(tmp_path / "x"), max_bytes_per_sec=0)


def test_corruption_detected_and_refusals(small_index, tmp_path):
    man = index_manifest(small_index)
    dst = str(tmp_path / "c")
    copy_index(small_index, dst)
    # flip one byte in some data file
    rel = next(r for r in man if r.endswith(".parquet") or "part-" in r)
    full = os.path.join(dst, rel)
    with open(full, "r+b") as fh:
        b = fh.read(1)
        fh.seek(0)
        fh.write(bytes([b[0] ^ 0xFF]))
    report = verify_index(dst, man)
    assert not report["ok"] and report["mismatched"] == [rel]
    # non-index source refused; non-empty destination refused
    with pytest.raises(ValueError, match="FORMAT_VERSION"):
        copy_index(str(tmp_path), str(tmp_path / "y"))
    with pytest.raises(ValueError, match="not empty"):
        copy_index(small_index, dst)


def test_missing_sidecar_names_index_and_sidecar(spark, small_index, tmp_path):
    dst = str(tmp_path / "no_stats")
    copy_index(small_index, dst)
    shutil.rmtree(os.path.join(dst, "stats.parquet"))
    with pytest.raises(FileNotFoundError, match=r"no_stats'.*stats\.parquet sidecar"):
        search(spark, dst, "hotalpha", k=3)
