"""Command-line surface — the analog of ``bin/katta`` (Katta.java:979-996
registers COMMANDS: addIndex, search, count, check, listIndices, ...).

Run via spark-submit:

    spark-submit --py-files katta_spark.zip -m katta_spark.cli <cmd> ...
or  python -m katta_spark.cli <cmd> ...

Commands:
  addIndex  <index_dir> <source_parquet> [--num-shards N] [--text-col C]
            [--doc-id-col C] [--shards-per-batch B]
            (Katta: addIndex <name> <path> [replication], Katta.java:689-711;
             replication is a non-goal — storage handles redundancy)
  search    <index_dir>[,<index_dir2>...] <query> [-k K] [--mode or|and]
            [--root REGISTRY] — with --root, the first arg is
            names/patterns resolved against the registry (names, '*',
            regex — Client.java:425-456)
            (Katta: search <indexNames> <query> [count], Katta.java:795-845)
  listIndices <root>
            registered indexes under a registry root (Katta: listIndices)
  removeIndex <index_dir>
            delete a deployed index (refuses non-index dirs; Katta: removeIndex)
  count     <index_dir> <query>
            (Katta: count via getResultCount, LuceneClient.java:225-251)
  check     <index_dir>
            index health/stats report (Katta: check / listIndices,
             Katta.java:542-675)
  group     <index_dir> <query> <group_col> [--k-groups N] [--k-docs N]
            grouped search over a docvalue column (Lucene grouping-module
            analog; two-pass per-shard-capped, see query.search_grouped)
  facet     <index_dir> <query> <col> [-k K] [--ranges label:lo:hi,...]
            per-value match counts over a keyword field (facet_counts),
            or — with --ranges — numeric range facets over a docvalue
            column (facet_ranges, Lucene LongRangeFacetCounts analog)
  stats     <index_dir> <query> <col>
            summary statistics of a numeric docvalue column over the
            match set (match_stats, Solr StatsComponent analog)
  delete    <index_dir> --query Q | --ids 1,2,3
            tombstone documents (IndexWriter.deleteDocuments; searches
            skip them immediately, stats stay stale until expunge)
  expunge   <index_dir> <out_dir>
            fold tombstones into the postings (Lucene expungeDeletes):
            exact stats again, no tombstones in the output
  generateIndex <index_dir> <words_per_doc> <num_docs>
            build a synthetic benchmark index (Katta: generateIndex
            <inputTextFile> <outputPath> <numOfWordsPerDoc> <numOfDocuments>,
            Katta.java:850-876 / tool/SampleIndexGenerator.java:46-95).
            The reference draws words from an input dictionary file; here the
            dictionary is the deterministic synthetic vocabulary
            (--vocab-size, no external data), generated fully distributed.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="katta_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    p_add = sub.add_parser("addIndex")
    p_add.add_argument("index_dir")
    p_add.add_argument("source_parquet")
    p_add.add_argument("--num-shards", type=int, default=8)
    p_add.add_argument("--text-col", default="text")
    p_add.add_argument("--doc-id-col", default=None)
    p_add.add_argument("--shards-per-batch", type=int, default=None)
    p_add.add_argument(
        "--keyword-cols", default="",
        help="comma-separated NOT_ANALYZED fields indexed as field:value "
        "terms (searchable via field-qualified queries)",
    )
    p_add.add_argument(
        "--docvalue-cols", default="",
        help="comma-separated sort columns written to the docvalue "
        "sidecar (field-sorted search caps per-shard output at k)",
    )
    p_add.add_argument(
        "--no-positions", action="store_true",
        help="omit term positions (phrase queries will refuse; "
        "faster build for phrase-free corpora)",
    )

    p_search = sub.add_parser("search")
    p_search.add_argument("index_dirs")
    p_search.add_argument("query")
    # Katta: `search <indexes> "<query>" [count]` — WITHOUT a count only
    # the total hit count is printed (client.count); WITH a count the
    # totalHits plus a table of the top hits (Katta.java:795-848).
    p_search.add_argument("-k", type=int, default=None)
    p_search.add_argument("--mode", choices=["or", "and"], default="or")
    p_search.add_argument(
        "--min-should-match", type=int, default=0,
        help="docs must hold >= m distinct optional clauses "
        "(BooleanQuery.setMinimumNumberShouldMatch; MUST never counts)",
    )
    p_search.add_argument(
        "--synonyms", default=None, metavar="TERM=SYN[,SYN..][;TERM=..]",
        help="blended SynonymQuery groups, e.g. 'fast=quick,speedy'; "
        "each group scores as one pseudo-term (tf summed, df = max "
        "member df)",
    )
    p_search.add_argument(
        "--root",
        default=None,
        help="index registry root: treat index_dirs as names/patterns "
        "resolved against it (Katta: names, '*', regex — Client.java:425-456)",
    )

    p_list = sub.add_parser("listIndices")
    p_list.add_argument("root")

    p_rm = sub.add_parser("removeIndex")
    p_rm.add_argument("index_dir")

    p_count = sub.add_parser("count")
    p_count.add_argument("index_dir")
    p_count.add_argument("query")

    p_check = sub.add_parser("check")
    p_check.add_argument("index_dir")

    p_group = sub.add_parser("group")
    p_group.add_argument("index_dir")
    p_group.add_argument("query")
    p_group.add_argument("group_col")
    p_group.add_argument("--k-groups", type=int, default=10)
    p_group.add_argument("--k-docs", type=int, default=3)
    p_group.add_argument(
        "--order", choices=["relevance", "key_asc", "key_desc"],
        default="relevance",
        help="group ordering (Lucene groupSort): by best hit, or by the "
        "group value asc/desc",
    )

    p_facet = sub.add_parser("facet")
    p_facet.add_argument("index_dir")
    p_facet.add_argument("query")
    p_facet.add_argument("col")
    p_facet.add_argument(
        "--ranges",
        help="numeric range facets over a docvalue column: "
        "'label:lo:hi,label:lo:hi,...' (empty lo/hi opens the end, "
        "half-open [lo,hi)); without --ranges, per-value counts over a "
        "keyword field",
    )
    p_facet.add_argument("-k", type=int, default=20,
                         help="top-k values (value facets only)")

    p_stats = sub.add_parser("stats")
    p_stats.add_argument("index_dir")
    p_stats.add_argument("query")
    p_stats.add_argument("col")

    p_compact = sub.add_parser("compact")
    p_compact.add_argument("out_dir")
    p_compact.add_argument(
        "index_dirs",
        help="comma-separated input indexes [base,delta,...] to merge "
        "(the optimize() analog, IndexerJob.java:118-179)",
    )

    p_auto = sub.add_parser("autoCompact")
    p_auto.add_argument(
        "index_root",
        help="delta-index root (stream_build output): plan tiered merges "
        "over the live delta_*/merged_* segments and execute them "
        "(TieredMergePolicy + background-merge analog)",
    )
    p_auto.add_argument(
        "--dry-run", action="store_true",
        help="print the planned merge groups (metadata only) and exit "
        "without executing",
    )
    p_auto.add_argument("--max-rounds", type=int, default=1)
    p_auto.add_argument("--max-merge-at-once", type=int, default=10)
    p_auto.add_argument("--floor-docs", type=int, default=1024)
    p_auto.add_argument("--max-merged-docs", type=int, default=None)
    p_auto.add_argument("--tier-ratio", type=float, default=10.0)
    p_auto.add_argument("--expunge-deletes-pct", type=float, default=0.25)

    p_del = sub.add_parser("delete")
    p_del.add_argument("index_dir")
    grp = p_del.add_mutually_exclusive_group(required=True)
    grp.add_argument(
        "--query",
        help="tombstone every matching doc "
        "(IndexWriter.deleteDocuments(Query))",
    )
    grp.add_argument(
        "--ids",
        help="comma-separated docIDs to tombstone "
        "(IndexWriter.deleteDocuments(Term))",
    )

    p_exp = sub.add_parser("expunge")
    p_exp.add_argument("index_dir")
    p_exp.add_argument("out_dir")

    p_gen = sub.add_parser("generateIndex")
    p_gen.add_argument("index_dir")
    p_gen.add_argument("words_per_doc", type=int)
    p_gen.add_argument("num_docs", type=int)
    p_gen.add_argument("--vocab-size", type=int, default=2000)
    p_gen.add_argument("--num-shards", type=int, default=8)
    p_gen.add_argument("--seed", type=int, default=42)
    p_gen.add_argument(
        "--keyword-cols", default="role",
        help="NOT_ANALYZED fields of the synthetic transcripts indexed as "
        "field:value terms (SampleIndexGenerator indexes 'key' NOT_ANALYZED "
        "next to the analyzed 'text')",
    )

    p_struct = sub.add_parser("showStructure")
    p_struct.add_argument(
        "root",
        help="registry root: print every deployed index's layout from "
        "metadata alone (Katta.java showStructure — no Spark session, "
        "no data scan)",
    )

    sub.add_parser("version")

    p_copy = sub.add_parser("copyIndex")
    p_copy.add_argument("src")
    p_copy.add_argument("dst")
    p_copy.add_argument(
        "--max-mb-per-sec", type=float, default=None,
        help="deploy bandwidth cap (ShardManager install throttle / "
        "ThrottledInputStream analog)",
    )
    p_copy.add_argument("--no-verify", action="store_true")

    args = ap.parse_args(argv)

    # metadata-only commands: no Spark session needed
    if args.cmd == "version":
        import pyspark

        from katta_spark import __version__
        from katta_spark.build import FORMAT_VERSION

        print(json.dumps({
            "katta_spark": __version__,
            "index_format": FORMAT_VERSION,
            "pyspark": pyspark.__version__,
        }))
        return 0
    if args.cmd == "copyIndex":
        from katta_spark.deploy import copy_index

        rate = (
            args.max_mb_per_sec * 1024 * 1024
            if args.max_mb_per_sec is not None else None
        )
        print(json.dumps(copy_index(
            args.src, args.dst,
            max_bytes_per_sec=rate, verify=not args.no_verify,
        )))
        return 0
    if args.cmd == "showStructure":
        from katta_spark.merge_policy import segment_info
        from katta_spark.registry import list_indexes

        rows = []
        for name, d in list_indexes(args.root).items():
            try:
                info = segment_info(d)
            except Exception as exc:  # unreadable index: show, don't die
                rows.append({"index": name, "error": str(exc)[:200]})
                continue
            n_shards, sharding, kw, positions, dv = info.config
            rows.append({
                "index": name,
                "n_docs": info.n_docs,
                "tombstones": info.deleted,
                "n_shards": n_shards,
                "sharding": sharding,
                "keyword_fields": list(kw),
                "positions": positions,
                "docvalues": bool(dv),
                "postings_bytes": info.bytes,
            })
        for r in rows:
            print(json.dumps(r))
        return 0

    from pyspark.sql import SparkSession

    from katta_spark.session import get_spark

    existing = SparkSession.getActiveSession()
    spark = existing or get_spark(f"katta_cli_{args.cmd}")
    try:
        if args.cmd == "addIndex":
            from katta_spark.build import build_index

            src = spark.read.parquet(args.source_parquet)
            summary = build_index(
                spark,
                src,
                args.index_dir,
                num_shards=args.num_shards,
                text_col=args.text_col,
                doc_id_col=args.doc_id_col,
                shards_per_batch=args.shards_per_batch,
                keyword_cols=tuple(
                    c for c in args.keyword_cols.split(",") if c
                ),
                docvalue_cols=tuple(
                    c for c in args.docvalue_cols.split(",") if c
                ),
                positions=not args.no_positions,
            )
            print(json.dumps(summary))
        elif args.cmd == "removeIndex":
            # Katta: removeIndex <name> (Katta.java COMMANDS). Only deletes
            # a directory that demonstrably IS an index.
            import os
            import shutil

            if not os.path.exists(os.path.join(args.index_dir, "FORMAT_VERSION")):
                raise SystemExit(
                    f"{args.index_dir!r} has no FORMAT_VERSION marker — "
                    "refusing to delete a non-index directory"
                )
            shutil.rmtree(args.index_dir)
            print(f"removed {args.index_dir}")
        elif args.cmd == "listIndices":
            from katta_spark.registry import list_indexes

            print(json.dumps(list_indexes(args.root), indent=2))
        elif args.cmd == "search":
            import time

            from katta_spark.query import count_matches, search_with_total

            if args.root:
                from katta_spark.registry import resolve

                dirs = resolve(args.root, args.index_dirs)
            else:
                dirs = args.index_dirs.split(",")
            syns = None
            if args.synonyms:
                syns = {}
                for grp in args.synonyms.split(";"):
                    key, _, vals = grp.partition("=")
                    if not vals:
                        raise SystemExit(
                            f"--synonyms group {grp!r} needs TERM=SYN[,SYN..]"
                        )
                    syns[key.strip()] = [
                        v.strip() for v in vals.split(",") if v.strip()
                    ]
            t0 = time.time()
            if args.k is None:
                # count-only form (Katta.java:839-846: client.count);
                # count_matches counts the PARSED query's matches (flat
                # queries = >=1 term OR; msm/synonyms raise the floor /
                # blend groups via the kernels' exact totals)
                if args.mode != "or":
                    raise SystemExit(
                        "count-only search counts OR matches; pass -k for "
                        "AND-mode results"
                    )
                n = count_matches(spark, dirs, args.query,
                                  min_should_match=args.min_should_match,
                                  synonyms=syns)
                print(f"{n} Hits found in {time.time() - t0:.3f}sec.")
            else:
                # totalHits + top-k hit table (Katta.java:823-838)
                out = search_with_total(
                    spark, dirs, args.query,
                    k=args.k, mode=args.mode,
                    min_should_match=args.min_should_match, synonyms=syns,
                )
                rows = out.collect()
                total = int(rows[0]["total_hits"]) if rows else 0
                print(f"{total} hits found in {time.time() - t0:.3f}sec.")
                print(f"{'Hit':>4}  {'Shard':>6}  {'DocId':>20}  Score")
                for i, r in enumerate(rows):
                    print(
                        f"{i:>4}  {r.shard_id:>6}  {r.doc_id:>20d}  "
                        f"{r.score:.6f}"
                    )
        elif args.cmd == "count":
            from katta_spark.query import count_matches

            print(count_matches(spark, args.index_dir, args.query))
        elif args.cmd == "group":
            from katta_spark.query import search_grouped

            rows = search_grouped(
                spark, args.index_dir, args.query, args.group_col,
                k_groups=args.k_groups, k_docs=args.k_docs,
                group_order=args.order,
            ).collect()
            print(
                f"{args.group_col:>16}  {'Total':>8}  {'DocId':>20}  Score"
            )
            for r in rows:
                gv = r[args.group_col]
                print(
                    f"{str(gv):>16}  {r.group_total:>8}  {r.doc_id:>20d}  "
                    f"{r.score:.6f}"
                )
        elif args.cmd == "facet":
            if args.ranges:
                from katta_spark.query import facet_ranges

                ranges = []
                for part in args.ranges.split(","):
                    bits = part.split(":")
                    if len(bits) != 3:
                        raise SystemExit(
                            f"bad range {part!r}: want label:lo:hi"
                        )
                    lab, lo, hi = bits
                    ranges.append((
                        lab,
                        float(lo) if lo else None,
                        float(hi) if hi else None,
                    ))
                rows = facet_ranges(
                    spark, args.index_dir, args.query, args.col, ranges
                ).collect()
                for r in rows:
                    print(f"{r['label']:>16}  {r['count']}")
            else:
                from katta_spark.query import facet_counts

                rows = facet_counts(
                    spark, args.index_dir, args.query, args.col, k=args.k
                ).collect()
                for r in rows:
                    print(f"{str(r['value']):>16}  {r['count']}")
        elif args.cmd == "stats":
            from katta_spark.query import match_stats

            r = match_stats(
                spark, args.index_dir, args.query, args.col
            ).collect()[0]
            print(json.dumps(
                {k: r[k] for k in (
                    "count", "missing", "vmin", "vmax", "vsum",
                    "mean", "stddev",
                )}
            ))
        elif args.cmd == "compact":
            from katta_spark.compact import compact

            print(json.dumps(
                compact(spark, args.index_dirs.split(","), args.out_dir)
            ))
        elif args.cmd == "autoCompact":
            from katta_spark.merge_policy import (
                auto_compact,
                live_index_dirs,
                plan_compaction,
                segment_infos,
            )

            if args.dry_run:
                import os as _os

                live = live_index_dirs(args.index_root)
                plan = plan_compaction(
                    segment_infos(live),
                    max_merge_at_once=args.max_merge_at_once,
                    floor_docs=args.floor_docs,
                    max_merged_docs=args.max_merged_docs,
                    tier_ratio=args.tier_ratio,
                    expunge_deletes_pct=args.expunge_deletes_pct,
                )
                print(json.dumps({
                    "live": [_os.path.basename(d) for d in live],
                    "plan": [
                        [_os.path.basename(d) for d in g] for g in plan
                    ],
                }))
                return 0
            print(json.dumps(auto_compact(
                spark, args.index_root,
                max_rounds=args.max_rounds,
                max_merge_at_once=args.max_merge_at_once,
                floor_docs=args.floor_docs,
                max_merged_docs=args.max_merged_docs,
                tier_ratio=args.tier_ratio,
                expunge_deletes_pct=args.expunge_deletes_pct,
            )))
        elif args.cmd == "delete":
            from katta_spark.delete import delete_by_query, delete_docs

            if args.query is not None:
                n = delete_by_query(spark, args.index_dir, args.query)
            else:
                n = delete_docs(
                    spark, args.index_dir,
                    [int(x) for x in args.ids.split(",") if x],
                )
            print(f"{n} documents tombstoned (search skips them now; "
                  "run expunge to reclaim space and refresh stats)")
        elif args.cmd == "expunge":
            from katta_spark.compact import expunge

            print(json.dumps(expunge(spark, args.index_dir, args.out_dir)))
        elif args.cmd == "generateIndex":
            import time

            from katta_spark.build import build_index
            from katta_spark.synth import synth_transcripts

            t0 = time.time()
            docs = synth_transcripts(
                spark,
                args.num_docs,
                seed=args.seed,
                vocab_size=args.vocab_size,
                max_doclen=max(3, args.words_per_doc),
            )
            summary = build_index(
                spark,
                docs,
                args.index_dir,
                num_shards=args.num_shards,
                keyword_cols=tuple(
                    c for c in args.keyword_cols.split(",") if c
                ),
            )
            # Katta prints "Index created with : N documents in M ms"
            # (SampleIndexGenerator.java:83-84).
            print(
                f"Index created with : {summary['n_docs']} documents in "
                f"{int((time.time() - t0) * 1000)} ms"
            )
            print(json.dumps(summary))
        elif args.cmd == "check":
            import os

            from pyspark.sql import functions as F

            from katta_spark.query import IndexHandle

            from katta_spark.build import SENTINEL_HASHES

            ix = IndexHandle.open(spark, args.index_dir)
            # exclude the doc-marker (sentinel) posting rows
            post = ix.postings(spark).where(
                ~F.col("th").isin(list(SENTINEL_HASHES))
            )
            per_shard = (
                post.groupBy("shard_id")
                .agg(
                    F.count(F.lit(1)).alias("terms"),
                    F.sum("df").alias("postings"),
                    F.sum(
                        F.length("doc_ids") + F.length("tfs")
                        + F.length("doclens") + F.length("positions")
                    ).alias("bytes"),
                )
                .orderBy("shard_id")
                .collect()
            )
            lineage_path = os.path.join(args.index_dir, "lineage.parquet")
            n_batches = (
                spark.read.parquet(lineage_path).count()
                if os.path.exists(lineage_path)
                else 0
            )
            report = {
                "index_dir": args.index_dir,
                "n_docs": ix.n_docs,
                "avgdl": round(ix.avgdl, 3),
                "num_shards": ix.num_shards,
                "committed_batches": n_batches,
                "shards": [
                    {
                        "shard_id": int(r["shard_id"]),
                        "terms": int(r["terms"]),
                        "postings": int(r["postings"]),
                        "bytes": int(r["bytes"]),
                    }
                    for r in per_shard
                ],
            }
            print(json.dumps(report, indent=2))
    finally:
        if existing is None:  # only stop a session this invocation created
            spark.stop()
    return 0


def _cli_entry() -> int:
    # User-facing errors (bad query syntax, phrase against a
    # positions=False index, format-version mismatch) print one line and a
    # nonzero exit, Katta.java-style — not a Python traceback.
    try:
        return main()
    except ValueError as exc:
        print(f"ERROR: {exc}", file=sys.stderr)
        return 1


if __name__ == "__main__":
    sys.exit(_cli_entry())
