"""Per-document sort-value sidecar — the Lucene norms/FieldCache analog.

Katta's TopFieldCollector sorts per shard from values held IN the index
(LuceneServer.java:672-677 caps per-shard work at min(limit, maxDoc);
sort field types WritableType.java:33-35), so a field-sorted search never
touches stored documents until the final merged top-k. This sidecar gives
katta_spark the same property: at build time each declared column is
written per shard as compact (doc_ids, values) blob buckets, and
search_sorted's shard tasks read their shard's rows with pyarrow, look
sort keys up by docID and keep ONLY their k best rows — ≤ k·shards rows
leave the tasks regardless of how many documents match (the r3 path
emitted EVERY match into a join). search_grouped, facet_ranges and
match_stats read the same rows in the same tasks.

Layout: ``docvalues.parquet`` partitioned by shard_id, one row per
(col, bucket of ≤65536 docs): doc_ids = varbyte(deltas of u64-ordered
docIDs, ascending), vals = varbyte(order-preserving u64-mapped values),
nulls = varbyte(bucket-local ordinals of NULL docs). Value mapping is
monotonic (codec.i64_to_u64_order for integral kinds,
codec.f64_to_u64_order for floats), so the shard tasks and the driver
merge sort the MAPPED keys and never need the original values — the
display columns come from a final broadcast join of just the merged
top-k.

STRING columns — Katta's FIRST-listed sort type (WritableType.java:33-35
opens with TEXT; text-field sort test LuceneClientTest.java:330) — map
through a global order-preserving rank dictionary, the SortedDocValues
ords analog: distinct values are range-partitioned, sorted, and ranked
0..n-1 ascending (string_rank_dictionary — no single-partition window,
no per-row Python), the dictionary is persisted under
``dv_strings.parquet/col=<c>/`` (compaction merges dictionaries and
remaps ranks), and the per-doc rank travels the same u64 bucket layout
as integral kinds. Rank order == Spark's UTF8 binary string order ==
DuckDB's default VARCHAR collation, so the mapped-key merge reproduces
an ORDER BY on the original column exactly.

Scale shape: the build is one column-pruned scan of (id, sort cols) + one
shuffle of ~16-24 byte rows per (doc, col) — ~1/avgdl of the token
shuffle; a query's shard task reads only its shard's partition
(``shard_id=<s>``) and the named columns' rows (a pyarrow filter on col).
"""

from __future__ import annotations

import json
import os
from typing import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from katta_spark.codec import (
    f64_to_u64_order,
    i64_to_u64_order,
    vb_decode,
    vb_encode,
)

DV_BUCKET = 1 << 16
DV_SCHEMA = (
    "shard_id int, col string, bucket int, doc_ids binary, vals binary, "
    "nulls binary"
)
_META_FILE = "docvalues_meta.json"


def dv_path(index_dir: str) -> str:
    return os.path.join(index_dir, "docvalues.parquet")


def strings_path(index_dir: str) -> str:
    """Per-column string rank dictionaries (rank ↔ value), partitioned
    ``col=<name>`` — written only for string docvalue columns."""
    return os.path.join(index_dir, "dv_strings.parquet")


def mapped_expr(df: DataFrame, col: str):
    """(Column mapped to an order-preserving long/double, kind) for the
    DIRECTLY encodable kinds. Strings go through the rank dictionary
    (string_rank_dictionary) instead — callers route on dtype first;
    this raises for them and for genuinely unsupported kinds."""
    dtype = dict(df.dtypes)[col]
    if dtype in ("tinyint", "smallint", "int", "bigint", "boolean"):
        return F.col(col).cast("long"), "long"
    if dtype == "date":
        return F.unix_date(F.col(col)).cast("long"), "long"
    if dtype.startswith("timestamp"):
        return F.unix_micros(F.col(col)).cast("long"), "long"
    if dtype in ("float", "double"):
        return F.col(col).cast("double"), "double"
    raise ValueError(
        f"docvalue column {col!r} has unsupported type {dtype!r} (supported:"
        " integral, boolean, date, timestamp, float/double, string)"
    )


def string_rank_dictionary(
    spark: SparkSession, values_df: DataFrame, parts: int
):
    """(DataFrame(value string, rank long), cached_sorted_df) — ascending
    dense rank over the DISTINCT non-null values, rank order == UTF8
    binary order.

    Scale shape (no single-partition window, no per-row Python): distinct
    → range exchange + sortWithinPartitions gives globally sorted
    partitions; ONE tiny count-per-partition job fixes each partition's
    rank offset; an Arrow kernel assigns offset + arange. The sorted
    relation is persisted so the count job and the rank job see the same
    range-sampler split points — the caller must unpersist the returned
    handle once the ranks are materialized."""
    vals = (
        values_df.where(F.col("value").isNotNull())
        .distinct()
        .repartitionByRange(parts, "value")
        .sortWithinPartitions("value")
        .withColumn("pid", F.spark_partition_id())
        .persist()
    )
    counts = {
        int(r["pid"]): int(r["n"])
        for r in vals.groupBy("pid").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    offsets: dict[int, int] = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]

    def kern(batches):
        seen = 0
        base = None
        for pdf in batches:
            if not len(pdf):
                continue
            if base is None:
                base = offsets[int(pdf["pid"].iloc[0])]
            yield pd.DataFrame(
                {
                    "value": pdf["value"],
                    "rank": base
                    + seen
                    + np.arange(len(pdf), dtype=np.int64),
                }
            )
            seen += len(pdf)

    return vals.mapInPandas(kern, "value string, rank long"), vals


_DV_KEYS = ("shard_id", "col", "bucket", "doc_ids", "vals", "nulls")


def _empty_dv_dict() -> dict:
    return {k: [] for k in _DV_KEYS}


def _empty_dv_frame() -> pd.DataFrame:
    return pd.DataFrame(_empty_dv_dict())


def encode_buckets(
    out: dict,
    shard: int,
    col: str,
    u_sorted: np.ndarray,
    mapped: np.ndarray,
    null_mask: np.ndarray,
) -> None:
    """Append one column's bucket rows (doc-sorted inputs, u64 docIDs)."""
    for b0 in range(0, u_sorted.size, DV_BUCKET):
        hi = min(b0 + DV_BUCKET, u_sorted.size)
        chunk = u_sorted[b0:hi]
        deltas = np.empty(chunk.size, dtype=np.uint64)
        deltas[0] = chunk[0]
        deltas[1:] = chunk[1:] - chunk[:-1]
        out["shard_id"].append(shard)
        out["col"].append(col)
        out["bucket"].append(b0 // DV_BUCKET)
        out["doc_ids"].append(vb_encode(deltas))
        out["vals"].append(vb_encode(mapped[b0:hi]))
        out["nulls"].append(
            vb_encode(np.flatnonzero(null_mask[b0:hi]).astype(np.uint64))
        )


def merge_docvalues_kernel(cols: list[str], deleted=None):
    """applyInPandas kernel over UNIONED per-shard sidecar rows from
    several source indexes: decode every source's buckets, re-sort by
    docID (inputs are doc-disjoint — compaction refuses duplicates), and
    re-bucket — the docvalue leg of index compaction. NUMERIC kinds only:
    string columns carry per-index dictionary RANKS that are not
    comparable across indexes — compact.py remaps them through a merged
    dictionary (decode → rank-remap join → re-encode). ``deleted``
    (broadcast sorted int64 docID array) drops tombstoned docs during
    the re-bucket — compaction's expunge leg."""

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        if not len(pdf):
            return _empty_dv_frame()
        dny = deleted.value if hasattr(deleted, "value") else deleted
        shard = int(pdf["shard_id"].iloc[0])
        out = _empty_dv_dict()
        for c in cols:
            docs, vals, nulls = decode_shard_column(pdf, c)
            if dny is not None and docs.size:
                keep = ~np.isin(docs, dny)
                docs, vals, nulls = docs[keep], vals[keep], nulls[keep]
            if docs.size == 0:
                continue
            order = np.argsort(docs, kind="stable")
            encode_buckets(
                out, shard, c,
                i64_to_u64_order(docs[order]), vals[order], nulls[order],
            )
        return pd.DataFrame(out)

    return kernel


def write_docvalues(
    spark: SparkSession,
    docs_with_ids: DataFrame,
    index_dir: str,
    docvalue_cols: Iterable[str],
    num_shards: int,
) -> None:
    """Build the sidecar: one pruned scan + one slim per-shard shuffle
    (plus, per STRING column, a vocab-sized dictionary job and a rank
    join — broadcast when the dictionary is small, shuffle otherwise,
    Catalyst/AQE's choice).

    Nulls travel as an explicit boolean (not NaN) so integral kinds never
    round-trip through float64 (which silently loses precision past 2^53).
    """
    cols = list(docvalue_cols)
    kinds: dict[str, str] = {}
    dtypes = dict(docs_with_ids.dtypes)
    str_cols = [c for c in cols if dtypes[c] == "string"]
    df = docs_with_ids
    caches = []
    for c in str_cols:
        kinds[c] = "string"
        ranks, cache = string_rank_dictionary(
            spark, df.select(F.col(c).alias("value")), num_shards
        )
        ranks.write.mode("overwrite").parquet(
            os.path.join(strings_path(index_dir), f"col={c}")
        )
        caches.append(cache)
        # join the WRITTEN dictionary back (deterministic lineage; the
        # cached sorted relation is released after the sidecar write)
        rdf = spark.read.parquet(
            os.path.join(strings_path(index_dir), f"col={c}")
        ).select(
            F.col("value").alias(c), F.col("rank").alias(f"{c}__rank")
        )
        df = df.join(rdf, c, "left")
    sel = [F.col("shard_id"), F.col("doc_id")]
    for c in cols:
        sel.append(F.col(c).isNull().alias(f"{c}__n"))
        if c in str_cols:
            sel.append(F.coalesce(F.col(f"{c}__rank"), F.lit(0)).alias(c))
            continue
        expr, kind = mapped_expr(df, c)
        kinds[c] = kind
        sel.append(F.coalesce(expr, F.lit(0).cast(
            "double" if kind == "double" else "long")).alias(c))

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        if not len(pdf):
            return _empty_dv_frame()
        shard = int(pdf["shard_id"].iloc[0])
        doc = pdf["doc_id"].to_numpy(np.int64)
        order = np.argsort(doc, kind="stable")
        u = i64_to_u64_order(doc[order])
        out = _empty_dv_dict()
        for c in cols:
            if kinds[c] == "double":
                mapped = f64_to_u64_order(
                    pdf[c].to_numpy(np.float64)[order]
                )
            else:
                mapped = i64_to_u64_order(pdf[c].to_numpy(np.int64)[order])
            nmask = pdf[f"{c}__n"].to_numpy(bool)[order]
            encode_buckets(out, shard, c, u, mapped, nmask)
        return pd.DataFrame(out)

    (
        df.select(*sel)
        .repartition(num_shards, "shard_id")
        .groupBy("shard_id")
        .applyInPandas(kernel, DV_SCHEMA)
        .write.mode("overwrite")
        .partitionBy("shard_id")
        .parquet(dv_path(index_dir))
    )
    for cache in caches:
        cache.unpersist()
    with open(os.path.join(index_dir, _META_FILE), "w") as fh:
        json.dump({"cols": kinds}, fh)


def read_meta(index_dir: str) -> dict[str, str]:
    """col → kind for the index's docvalue sidecar ({} if none)."""
    mf = os.path.join(index_dir, _META_FILE)
    if not os.path.exists(mf):
        return {}
    with open(mf) as fh:
        return json.load(fh).get("cols", {})


def decode_shard_column(dv_pdf: pd.DataFrame, col: str):
    """(sorted doc_ids int64, mapped u64 values, null mask) for one shard's
    column from its sidecar rows."""
    from katta_spark.codec import u64_to_i64_order

    rows = dv_pdf[dv_pdf["col"] == col].sort_values("bucket")
    docs_parts, val_parts, null_parts = [], [], []
    for r in rows.itertuples(index=False):
        d = np.cumsum(vb_decode(r.doc_ids), dtype=np.uint64)
        docs_parts.append(u64_to_i64_order(d))
        vals = vb_decode(r.vals)
        val_parts.append(vals)
        nm = np.zeros(vals.size, dtype=bool)
        nm[vb_decode(r.nulls).astype(np.int64)] = True
        null_parts.append(nm)
    if not docs_parts:
        e = np.empty(0, np.int64)
        return e, np.empty(0, np.uint64), np.empty(0, bool)
    return (
        np.concatenate(docs_parts),
        np.concatenate(val_parts),
        np.concatenate(null_parts),
    )


DV_ROWS_SCHEMA = (
    "shard_id int, doc_id long, rank long, isnull boolean"
)


def explode_dv_rows_kernel(col: str):
    """mapInPandas kernel: one string column's sidecar bucket rows →
    plain (shard_id, doc_id, rank, isnull) rows — the decode leg of the
    compaction rank remap (rows re-encode after the remap join). ~24 B
    per (doc, col) row, the same weight as the original sidecar shuffle."""
    from katta_spark.codec import u64_to_i64_order

    def kernel(batches):
        for pdf in batches:
            rows = pdf[pdf["col"] == col]
            for r in rows.itertuples(index=False):
                d = np.cumsum(vb_decode(r.doc_ids), dtype=np.uint64)
                docs = u64_to_i64_order(d)
                ranks = u64_to_i64_order(vb_decode(r.vals))
                nm = np.zeros(ranks.size, dtype=bool)
                nm[vb_decode(r.nulls).astype(np.int64)] = True
                yield pd.DataFrame(
                    {
                        "shard_id": np.full(
                            docs.size, int(r.shard_id), dtype=np.int32
                        ),
                        "doc_id": docs,
                        "rank": ranks,
                        "isnull": nm,
                    }
                )

    return kernel


def encode_dv_rows_kernel(col: str):
    """applyInPandas kernel over per-shard (doc_id, rank, isnull) rows:
    sort by docID and re-bucket — the encode leg of the compaction rank
    remap."""

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        if not len(pdf):
            return _empty_dv_frame()
        shard = int(pdf["shard_id"].iloc[0])
        doc = pdf["doc_id"].to_numpy(np.int64)
        order = np.argsort(doc, kind="stable")
        out = _empty_dv_dict()
        encode_buckets(
            out, shard, col,
            i64_to_u64_order(doc[order]),
            i64_to_u64_order(pdf["rank"].to_numpy(np.int64)[order]),
            pdf["isnull"].to_numpy(bool)[order],
        )
        return pd.DataFrame(out)

    return kernel
