"""Index compaction — merge [base, delta…] indexes into one, from the
postings alone (no retokenize).

Reference: the Hadoop indexer's ``optimize()`` merges Lucene segments into
one index before deploy (IndexerJob.java:118-179); Katta then swaps the
merged index in as a new version. katta_spark's incremental story is
``search_multi([base, delta…])`` (correct, cross-index stats), but
per-query cost grows with the delta count — ``compact()`` collapses the
list back to one index whose results are identical to the multi-index
search (same docs, same BM25 scores: the compacted stats ARE the combined
stats search_multi computes).

Spark shape: ONE postings-sized job — the union of the input postings
tables is hash-repartitioned by (shard, th-slice) so every (shard, term)
group lands whole in one task; single-source groups PASS THROUGH verbatim
(no decode — for a small delta that is almost the whole base), multi-
source groups decode, merge by docID (vectorized), and re-encode through
the same batch codec as the build, positions included. Doc/marker stats
and the dictionary are vocab-sized follow-ups.

Requirements: every input must share num_shards, sharding function,
keyword_fields and FORMAT_VERSION (the same document must hash to the
same shard everywhere); a doc_id present in two inputs is a duplicate
document and the merge REFUSES (Katta merges disjoint splits).
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from katta_spark.build import (
    _COLS,
    ENCODED_SCHEMA,
    FORMAT_VERSION,
    SENTINEL_HASHES,
    _meta_schemas,
    _pa_write_rows,
)
from katta_spark.codec import (
    decode_positions,
    decode_positions_concat,
    decode_posting_list,
    decode_posting_lists_concat,
    encode_positions_batch,
    encode_posting_lists_batch,
)
from katta_spark.query import IndexHandle


def _merge_kernel(
    block: int,
    positions: bool = True,
    deleted=None,
    affected: frozenset = frozenset(),
):
    """mapInPandas over (shard, th-slice) partitions, rows sorted by
    (shard_id, th): consecutive same-(shard, th) rows are one term's
    posting lists from different source indexes. ``positions=False``
    (all inputs built with omitted term positions — compact() refuses a
    mix) skips the positions decode/merge and writes empty blobs.

    ``deleted`` (broadcast sorted int64 array) + ``affected`` (shard ids
    carrying ≥1 tombstone): the EXPUNGE leg — Lucene's expungeDeletes
    during merge. Deleted docs leave every posting list (marker rows
    included, so the written markers' doc accounting is post-delete for
    free). Pass-through stays byte-identical for every single-source
    group in an unaffected shard, and for affected-shard groups whose
    posting list contains no deleted doc (one doc_ids decode to check)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # a (shard, th) group may straddle Arrow batches — buffer the
        # partition (it is one (shard, slice) of the vocab: bounded)
        parts = [pdf for pdf in batches if len(pdf)]
        if not parts:
            return
        dny = deleted.value if hasattr(deleted, "value") else deleted
        pdf = pd.concat(parts, ignore_index=True)
        pdf = pdf.sort_values(["shard_id", "th"], kind="stable")
        sh = pdf["shard_id"].to_numpy(np.int64)
        th = pdf["th"].to_numpy(np.int64)
        chg = np.empty(th.size, dtype=bool)
        chg[0] = True
        chg[1:] = (th[1:] != th[:-1]) | (sh[1:] != sh[:-1])
        starts = np.flatnonzero(chg)
        ends = np.append(starts[1:], th.size)

        single = np.zeros(len(pdf), dtype=bool)
        single[starts[(ends - starts) == 1]] = True
        # pass-through: terms present in exactly one source index keep
        # their encoded row byte-identical (no decode); column order
        # normalized to the output schema (partitioned reads move
        # shard_id last). Affected-shard singles first prove themselves
        # deletion-free (doc_ids decode only) or drop to the merge path.
        if single.any():
            idx = np.flatnonzero(single)
            if dny is not None:
                keep_idx = []
                for i in idx:
                    if int(sh[i]) not in affected:
                        keep_idx.append(i)
                        continue
                    r = pdf.iloc[i]
                    d = decode_posting_list(
                        r["doc_ids"], r["tfs"], r["doclens"]
                    )[0]
                    if np.isin(d, dny).any():
                        single[i] = False  # rewrite via the merge path
                    else:
                        keep_idx.append(i)
                idx = np.asarray(keep_idx, dtype=np.int64)
            if idx.size:
                yield pdf.iloc[idx][_COLS]

        # merge path: every multi-source group plus every single-source
        # group that needs a deletion rewrite — ONE batch decode of every
        # participating posting list (decode_posting_lists_concat), one
        # global (group, doc) lexsort to interleave the sources, one
        # vectorized batch re-encode. The per-group Python loop this
        # replaces paid a pandas row-slice + per-row numpy decode per
        # (shard, term) group — the dominant compaction cost when the
        # pass-through fraction is low.
        mrow = np.flatnonzero(~single)
        if mrow.size == 0:
            return
        grp_of_row = np.repeat(np.arange(starts.size), ends - starts)
        uniq_g, g_row = np.unique(grp_of_row[mrow], return_inverse=True)
        shard_g = sh[starts[uniq_g]]
        th_g = th[starts[uniq_g]]
        docs_a, tf_a, dl_a, cnt = decode_posting_lists_concat(
            pdf["doc_ids"].to_numpy()[mrow],
            pdf["tfs"].to_numpy()[mrow],
            pdf["doclens"].to_numpy()[mrow],
        )
        g_doc = np.repeat(g_row, cnt)
        order = np.lexsort((docs_a, g_doc))
        docs_s = docs_a[order]
        tfs_s = tf_a[order]
        dls_s = dl_a[order]
        g_s = g_doc[order]
        dup = (g_s[1:] == g_s[:-1]) & (docs_s[1:] == docs_s[:-1])
        if dup.any():
            gi = int(g_s[int(np.flatnonzero(dup)[0])])
            raise ValueError(
                "duplicate doc_id across input indexes — compaction "
                "requires disjoint document sets (same doc indexed in "
                f"two inputs; shard {int(shard_g[gi])}, th {int(th_g[gi])})"
            )
        pos_m = None
        if positions:
            pos_all = decode_positions_concat(
                pdf["positions"].to_numpy()[mrow], tf_a
            )
            # gather each doc's positions slice into the merged order
            occ_start = np.concatenate([[0], np.cumsum(tf_a)[:-1]])
            new_off = np.concatenate([[0], np.cumsum(tfs_s)[:-1]])
            gather = np.repeat(occ_start[order], tfs_s) + (
                np.arange(pos_all.size) - np.repeat(new_off, tfs_s)
            )
            pos_m = pos_all[gather]
        if dny is not None and affected:
            aff_g = np.isin(
                shard_g, np.fromiter(affected, np.int64, len(affected))
            )
            keep = ~(np.isin(docs_s, dny) & aff_g[g_s])
            if not keep.all():
                if positions:
                    pos_m = pos_m[np.repeat(keep, tfs_s)]
                docs_s = docs_s[keep]
                tfs_s = tfs_s[keep]
                dls_s = dls_s[keep]
                g_s = g_s[keep]  # groups whose last docs die just vanish
        if docs_s.size == 0:
            return
        chg_g = np.empty(g_s.size, dtype=bool)
        chg_g[0] = True
        chg_g[1:] = g_s[1:] != g_s[:-1]
        run_starts = np.flatnonzero(chg_g)
        g_run = g_s[run_starts]
        heads = list(zip(shard_g[g_run].tolist(), th_g[g_run].tolist()))
        encoded = encode_posting_lists_batch(
            docs_s, tfs_s, dls_s, run_starts, block=block
        )
        if positions:
            doc_off = np.concatenate([[0], np.cumsum(tfs_s)[:-1]])
            pos_blobs = encode_positions_batch(
                pos_m, doc_off, doc_off[run_starts]
            )
        else:
            pos_blobs = [b""] * len(heads)
        cols = [
            "df", "cf", "sum_dl", "doc_ids", "tfs", "doclens", "skips",
            "max_tf", "min_dl", "block_max_tf", "block_min_dl",
        ]
        out = pd.DataFrame(encoded, columns=cols)
        out.insert(cols.index("doclens") + 1, "positions", pos_blobs)
        out.insert(0, "th", np.array([h[1] for h in heads], dtype=np.int64))
        out.insert(
            0, "shard_id", np.array([h[0] for h in heads], dtype=np.int32)
        )
        yield out

    return kernel


def _merge_dv_sidecars(
    spark: SparkSession,
    index_dirs: list[str],
    out_dir: str,
    h0: IndexHandle,
    dv_metas: list,
    phase_t: dict,
    tomb_df=None,
    deleted_bc=None,
) -> None:
    """Docvalue sidecar merge — reads only the INPUT sidecars, so it runs
    overlapped with the postings merge on a driver thread.

    Union the per-shard bucket rows and re-bucket per shard (inputs are
    doc-disjoint — compact() checked that). Numeric kinds merge
    in-kernel; STRING kinds carry per-index dictionary ranks that are
    not comparable across indexes, so each string column's dictionaries
    are merged and re-ranked first, then its sidecar rows decode →
    remap-join (old rank → new rank, fully distributed) → re-encode per
    shard. Tombstoned docs (``deleted_bc`` broadcast / ``tomb_df``) drop
    out of the re-encoded buckets — the expunge leg.
    """
    t_v = time.time()
    from katta_spark.docvalues import (
        DV_ROWS_SCHEMA,
        DV_SCHEMA,
        dv_path,
        encode_dv_rows_kernel,
        explode_dv_rows_kernel,
        merge_docvalues_kernel,
        string_rank_dictionary,
        strings_path,
    )

    kinds = dv_metas[0]["cols"]
    num_cols = sorted(c for c, kd in kinds.items() if kd != "string")
    str_cols = sorted(c for c, kd in kinds.items() if kd == "string")
    merged_parts = []
    if num_cols:
        dv_union = None
        for d in index_dirs:
            t = spark.read.parquet(dv_path(d)).where(
                F.col("col").isin(num_cols)
            )
            dv_union = t if dv_union is None else dv_union.unionByName(t)
        merged_parts.append(
            dv_union.repartition(h0.num_shards, "shard_id")
            .groupBy("shard_id")
            .applyInPandas(
                merge_docvalues_kernel(num_cols, deleted=deleted_bc),
                DV_SCHEMA,
            )
        )
    for c in str_cols:
        # merged dictionary: union of source values, re-ranked
        vunion = None
        for d in index_dirs:
            t = spark.read.parquet(
                os.path.join(strings_path(d), f"col={c}")
            ).select("value")
            vunion = t if vunion is None else vunion.unionByName(t)
        ranks, cache = string_rank_dictionary(
            spark, vunion, h0.num_shards
        )
        ranks.write.mode("overwrite").parquet(
            os.path.join(strings_path(out_dir), f"col={c}")
        )
        cache.unpersist()
        new_dict = spark.read.parquet(
            os.path.join(strings_path(out_dir), f"col={c}")
        ).select("value", F.col("rank").alias("new_rank"))
        # per-source remap (old rank → new rank) and decoded rows
        remap = None
        rows = None
        for i, d in enumerate(index_dirs):
            rm = (
                spark.read.parquet(
                    os.path.join(strings_path(d), f"col={c}")
                )
                .select("value", F.col("rank").alias("rank"))
                .join(new_dict, "value")
                .select(F.lit(i).alias("src"), "rank", "new_rank")
            )
            remap = rm if remap is None else remap.unionByName(rm)
            rw = (
                spark.read.parquet(dv_path(d))
                .where(F.col("col") == c)
                .mapInPandas(explode_dv_rows_kernel(c), DV_ROWS_SCHEMA)
                .withColumn("src", F.lit(i))
            )
            rows = rw if rows is None else rows.unionByName(rw)
        remapped = (
            rows.join(remap, ["src", "rank"], "left")
            .select(
                "shard_id",
                "doc_id",
                # NULL docs store a placeholder rank 0 whose value may
                # be absent from the merged dictionary — keep 0, the
                # isnull mask overrides it at sort time
                F.coalesce("new_rank", F.lit(0)).alias("rank"),
                "isnull",
            )
        )
        if tomb_df is not None:
            # expunge: deleted docs leave the string sidecar (anti-join
            # against the tiny tombstone id set)
            remapped = remapped.join(
                F.broadcast(tomb_df.select("doc_id").distinct()),
                "doc_id",
                "left_anti",
            )
        merged_parts.append(
            remapped.repartition(h0.num_shards, "shard_id")
            .groupBy("shard_id")
            .applyInPandas(encode_dv_rows_kernel(c), DV_SCHEMA)
        )
    merged_dv = merged_parts[0]
    for mp in merged_parts[1:]:
        merged_dv = merged_dv.unionByName(mp)
    (
        merged_dv.write.mode("overwrite")
        .partitionBy("shard_id")
        .parquet(dv_path(out_dir))
    )
    with open(os.path.join(out_dir, "docvalues_meta.json"), "w") as fh:
        json.dump(dv_metas[0], fh)
    phase_t["docvalues"] = round(time.time() - t_v, 2)


def compact(
    spark: SparkSession,
    index_dirs: list[str],
    out_dir: str,
    block: int = 128,
    slices: int = 16,
) -> dict:
    """Merge the input indexes into ``out_dir``. Returns a summary dict.

    search(out_dir, q) is score-identical to search_multi(index_dirs, q)
    for every query — the compacted global stats equal the combined stats.
    """
    t0 = time.time()
    handles = [IndexHandle.open(spark, d) for d in index_dirs]
    if len(handles) < 2 and not any(h.has_tombstones() for h in handles):
        raise ValueError(
            "compact needs at least two input indexes (or one index "
            "carrying tombstones to expunge)"
        )
    h0 = handles[0]
    for h in handles[1:]:
        same = (
            h.num_shards == h0.num_shards
            and h.sharding == h0.sharding
            and set(h.keyword_fields) == set(h0.keyword_fields)
            # positions=True merged with positions=False would yield an
            # index whose phrase results silently miss half the corpus
            and h.positions == h0.positions
        )
        if not same:
            raise ValueError(
                "compaction inputs must share num_shards/sharding/"
                f"keyword_fields; {h.index_dir!r} differs from "
                f"{h0.index_dir!r}"
            )
    for d in index_dirs:
        vf = os.path.join(d, "FORMAT_VERSION")
        with open(vf) as fh:
            if fh.read().strip() != str(FORMAT_VERSION):
                raise ValueError(f"{d!r} is not a v{FORMAT_VERSION} index")
    dv_metas = [
        json.load(open(os.path.join(d, "docvalues_meta.json")))
        if os.path.exists(os.path.join(d, "docvalues_meta.json"))
        else None
        for d in index_dirs
    ]
    if any(m is not None for m in dv_metas):
        if not all(m == dv_metas[0] for m in dv_metas):
            raise ValueError(
                "compaction inputs must all carry the SAME docvalue "
                f"sidecar columns/kinds; got {dv_metas!r}"
            )

    os.makedirs(out_dir, exist_ok=True)
    if os.listdir(out_dir) not in ([], ["FORMAT_VERSION"]):
        raise ValueError(f"{out_dir!r} is not empty — refusing to overwrite")
    with open(os.path.join(out_dir, "FORMAT_VERSION"), "w") as fh:
        fh.write(str(FORMAT_VERSION))

    # ---- tombstones: compacting APPLIES every input's deletions (the
    # expungeDeletes-during-merge semantics of Lucene; katta_spark.delete
    # wrote them). The deleted-id set broadcasts (bounded by deletions,
    # not corpus) and only the shards that actually carry a tombstone
    # lose their pass-through fast path.
    tomb_parts = [
        h.tombstones(spark) for h in handles if h.has_tombstones()
    ]
    tomb_df = None
    deleted_bc = None
    affected: frozenset = frozenset()
    if tomb_parts:
        tomb_df = tomb_parts[0]
        for tp in tomb_parts[1:]:
            tomb_df = tomb_df.unionByName(tp)
        tomb_pdf = tomb_df.select("shard_id", "doc_id").toPandas()
        deleted_arr = np.sort(tomb_pdf["doc_id"].to_numpy(np.int64))
        affected = frozenset(int(s) for s in tomb_pdf["shard_id"].unique())
        deleted_bc = spark.sparkContext.broadcast(deleted_arr)

    # The vocab-sized follow-ups (dictionary, stats) and the docvalue
    # sidecar merge read only the INPUT indexes — none depends on the
    # merged postings write, so they run on driver threads overlapped
    # with the one postings-sized merge job (the same overlap pattern the
    # build uses for its dictionary phase; each was a serial 1-3 s
    # fixed-overhead tail job before).
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import Observation

    phase_t: dict[str, float] = {}
    pool = ThreadPoolExecutor(max_workers=3)

    def _run_dict() -> int:
        """Dictionary union; returns the cross-index th-collision count
        (riding the write as an Observation metric, like the build)."""
        t_d = time.time()
        dunion = None
        for h in handles:
            t = spark.read.parquet(os.path.join(h.index_dir, "dict.parquet"))
            dunion = t if dunion is None else dunion.unionByName(t)
        obs_d = Observation("compact_dict_collisions")
        (
            dunion.groupBy("th")
            .agg(F.min("term").alias("term"), F.max("_mx").alias("_mx"))
            .observe(
                obs_d,
                F.count(
                    F.when(F.col("term") != F.col("_mx"), F.lit(1))
                ).alias("n"),
            )
            .repartition(max(1, h0.num_shards // 8), "th")
            .sortWithinPartitions("th")
            .write.mode("overwrite")
            .parquet(os.path.join(out_dir, "dict.parquet"))
        )
        phase_t["dictionary"] = round(time.time() - t_d, 2)
        return int(obs_d.get["n"] or 0)

    def _run_stats() -> None:
        """df/cf are additive over doc-disjoint inputs, so the merged
        stats table is the SUM of the input stats tables — a vocab-sized
        union instead of re-aggregating the freshly-written postings
        (markers were already excluded from every input's stats by its
        build, so the sum carries that exclusion for free)."""
        t_s = time.time()
        sunion = None
        for h in handles:
            t = spark.read.parquet(
                os.path.join(h.index_dir, "stats.parquet")
            )
            sunion = t if sunion is None else sunion.unionByName(t)
        (
            sunion.groupBy("th")
            .agg(
                F.min("term").alias("term"),
                F.sum("df").alias("df"),
                F.sum("cf").alias("cf"),
            )
            .select("term", "df", "cf", "th")
            .write.mode("overwrite")
            .parquet(os.path.join(out_dir, "stats.parquet"))
        )
        phase_t["stats"] = round(time.time() - t_s, 2)

    def _run_ndel() -> int:
        """How many tombstoned ids actually exist in the inputs — decoded
        from the INPUT marker postings of affected shards only (256
        sentinel hashes pushed + shard partition pruning keep this
        tiny); ids never indexed are ignored, like Lucene deleting a
        non-matching term."""
        union_m = None
        for h in handles:
            p = (
                h.postings(spark)
                .where(
                    F.col("shard_id").isin(sorted(affected))
                    & F.col("th").isin(list(SENTINEL_HASHES))
                )
                .select("doc_ids", "tfs", "doclens")
            )
            union_m = p if union_m is None else union_m.unionByName(p)

        def k(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            dny = deleted_bc.value
            tot = 0
            for pdf in batches:
                for r in pdf.itertuples(index=False):
                    d = decode_posting_list(r.doc_ids, r.tfs, r.doclens)[0]
                    tot += int(np.isin(d, dny).sum())
            yield pd.DataFrame({"n": [tot]})

        row = union_m.mapInPandas(k, "n long").agg(F.sum("n")).collect()[0]
        return int(row[0] or 0)

    if tomb_df is None:
        fut_dict = pool.submit(_run_dict)
        fut_stats = pool.submit(_run_stats)
        fut_ndel = None
    else:
        # expunge leg: stats/dictionary must reflect the POST-DELETE
        # postings, so both run from the written output after the merge
        # (vocab-sized, column-pruned — the blobs are never read back);
        # the deleted-present count overlaps the merge on the pool.
        fut_dict = fut_stats = None
        fut_ndel = pool.submit(_run_ndel)
    fut_dv = (
        pool.submit(_merge_dv_sidecars, spark, index_dirs, out_dir, h0,
                    dv_metas, phase_t, tomb_df, deleted_bc)
        if dv_metas[0] is not None
        else None
    )
    try:
        # ---- postings merge: one postings-sized job
        t_m = time.time()
        union = None
        for h in handles:
            p = h.postings(spark)
            union = p if union is None else union.unionByName(p)
        n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
        merged = (
            union.repartition(
                n_parts, F.col("shard_id"), F.pmod(F.col("th"), F.lit(slices))
            )
            .sortWithinPartitions("shard_id", "th")
            .mapInPandas(
                _merge_kernel(block, h0.positions, deleted_bc, affected),
                ENCODED_SCHEMA,
            )
            .repartition(
                h0.num_shards, F.col("shard_id"), F.pmod(F.col("th"), F.lit(16))
            )
            .sortWithinPartitions("shard_id", "th")
        )
        merged.write.mode("overwrite").partitionBy("shard_id").parquet(
            os.path.join(out_dir, "postings.parquet")
        )
        phase_t["postings_merge"] = round(time.time() - t_m, 2)
        post_root = os.path.join(out_dir, "postings.parquet")
        if not any(
            f.startswith("shard_id=") for f in os.listdir(post_root)
        ):
            raise ValueError(
                "expunge/compact produced an EMPTY index (every document "
                "of every input is tombstoned) — refusing to write an "
                "index with no postings; remove the index directory "
                "instead"
            )

        if tomb_df is None:
            n_coll = fut_dict.result()
        else:
            # ---- post-delete stats + dictionary from the WRITTEN
            # postings: per-row df/cf ride the encoded schema, so the
            # re-aggregation reads three int columns (parquet prunes the
            # blobs) — vocab x shards rows. Terms whose last docs were
            # deleted vanish from postings, hence from stats AND the
            # dictionary — identical to a fresh build without those docs.
            t_sd = time.time()
            from pyspark.sql import Observation as _Obs

            post_w = spark.read.parquet(
                os.path.join(out_dir, "postings.parquet")
            )
            agg = (
                post_w.where(~F.col("th").isin(list(SENTINEL_HASHES)))
                .groupBy("th")
                .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"))
            )
            dunion = None
            for h in handles:
                t = spark.read.parquet(
                    os.path.join(h.index_dir, "dict.parquet")
                )
                dunion = t if dunion is None else dunion.unionByName(t)
            obs_d = _Obs("compact_dict_collisions_del")
            dict_g = (
                dunion.groupBy("th")
                .agg(F.min("term").alias("term"), F.max("_mx").alias("_mx"))
                .observe(
                    obs_d,
                    F.count(
                        F.when(F.col("term") != F.col("_mx"), F.lit(1))
                    ).alias("n"),
                )
            )
            (
                dict_g.join(agg.select("th"), "th", "left_semi")
                .repartition(max(1, h0.num_shards // 8), "th")
                .sortWithinPartitions("th")
                .write.mode("overwrite")
                .parquet(os.path.join(out_dir, "dict.parquet"))
            )
            n_coll = int(obs_d.get["n"] or 0)
            (
                agg.join(dict_g.select("th", "term"), "th")
                .select("term", "df", "cf", "th")
                .write.mode("overwrite")
                .parquet(os.path.join(out_dir, "stats.parquet"))
            )
            phase_t["stats_dict_post_delete"] = round(time.time() - t_sd, 2)
        if n_coll:
            raise RuntimeError(
                f"xxhash64 term collision(s) across input indexes: {n_coll}"
            )

        # ---- marker-derived scalars read back from the WRITTEN postings
        # (deliberately not derived from the inputs: comparing against
        # the input handles' sums below verifies the merge preserved the
        # doc accounting). Pushed In(th) over the 256 sentinel hashes keeps
        # the rows it returns tiny; every row group spans the whole th range,
        # so none is skipped.
        post = spark.read.parquet(os.path.join(out_dir, "postings.parquet"))
        marker = F.col("th").isin(list(SENTINEL_HASHES))
        mrows = (
            post.where(marker)
            .groupBy("shard_id")
            .agg(
                F.sum("df").alias("nd"),
                F.sum("cf").alias("nr"),
                F.sum("sum_dl").alias("dl"),
            )
            .collect()
        )
        n_docs = sum(int(r["nd"]) for r in mrows)
        n_rows = sum(int(r["nr"]) for r in mrows)
        n_del = fut_ndel.result() if fut_ndel is not None else 0
        expected = sum(h.n_docs for h in handles) - n_del
        if n_docs != expected or n_rows != n_docs:
            raise RuntimeError(
                f"compacted doc accounting mismatch: {n_docs} marker docs, "
                f"{n_rows} marker rows, expected {expected} (inputs sum "
                f"{sum(h.n_docs for h in handles)} - {n_del} deleted)"
            )
        # Metadata tables are tiny (1..num_shards rows): write them driver-
        # side exactly like the build does (_pa_write_rows — Spark-compatible
        # layout), saving one fixed-overhead Spark job each. A shard whose
        # LAST doc was expunged has no marker rows left — fill zeros so
        # every shard id keeps a row.
        corpus_s, shards_s, lineage_s = _meta_schemas()
        by_shard = {
            int(r["shard_id"]): (int(r["nd"]), int(r["dl"])) for r in mrows
        }
        _pa_write_rows(
            os.path.join(out_dir, "shards.parquet"),
            shards_s,
            [
                (sid,) + by_shard.get(sid, (0, 0))
                for sid in range(h0.num_shards)
            ],
        )
        sum_dl = sum(int(r["dl"]) for r in mrows)
        avgdl = (sum_dl / n_docs) if n_docs else 1.0
        if avgdl == 0.0:
            avgdl = 1.0
        _pa_write_rows(
            os.path.join(out_dir, "corpus.parquet"),
            corpus_s,
            [
                (
                    n_docs, avgdl, h0.num_shards, list(h0.keyword_fields),
                    h0.sharding, h0.positions,
                )
            ],
        )

        if fut_stats is not None:
            fut_stats.result()
        if fut_dv is not None:
            fut_dv.result()
    except BaseException:
        # The overlapped side jobs may already have committed their
        # outputs even though the merge failed (e.g. a duplicate-doc
        # refusal) — and out_dir was required empty at entry, so every
        # file under it belongs to THIS invocation. Wait the running
        # futures out (vocab-sized jobs; queued ones are cancelled), then
        # clear the partial artifacts so a retry isn't refused by the
        # non-empty-out_dir guard.
        pool.shutdown(wait=True, cancel_futures=True)
        import shutil as _shutil

        for name in os.listdir(out_dir):
            p_art = os.path.join(out_dir, name)
            if os.path.isdir(p_art):
                _shutil.rmtree(p_art, ignore_errors=True)
            else:
                try:
                    os.unlink(p_art)
                except OSError:
                    pass
        raise
    pool.shutdown()

    # lineage: one row recording the compaction (provenance, idempotent
    # re-runs refuse via the non-empty-out_dir guard)
    _pa_write_rows(
        os.path.join(out_dir, "lineage.parquet"),
        lineage_s,
        [
            (
                "compact",
                0,
                list(range(h0.num_shards)),
                "committed",
                0,
                0,
                0,
                int((time.time() - t0) * 1000),
            )
        ],
    )
    return {
        "n_docs": n_docs,
        "n_deleted": n_del,
        "avgdl": avgdl,
        "num_shards": h0.num_shards,
        "inputs": list(index_dirs),
        "phase_timings": phase_t,
        "elapsed_sec": round(time.time() - t0, 2),
    }


def expunge(
    spark: SparkSession,
    index_dir: str,
    out_dir: str,
    block: int = 128,
    slices: int = 16,
) -> dict:
    """Fold an index's tombstones into its postings — Lucene's
    ``expungeDeletes`` (a forced merge of one segment set): deleted docs
    leave every posting list, marker row and docvalue bucket; df/cf/
    n_docs/avgdl become exact again; the output carries no tombstones
    and is score-identical to a fresh build without the deleted docs
    (tested in tests/test_delete.py). Refuses when there is nothing to
    expunge."""
    h = IndexHandle.open(spark, index_dir)
    if not h.has_tombstones():
        raise ValueError(
            f"index {index_dir!r} has no tombstones — nothing to expunge "
            "(delete docs first via katta_spark.delete)"
        )
    return compact(spark, [index_dir], out_dir, block=block, slices=slices)
