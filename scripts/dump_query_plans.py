"""Dump the physical plans of the query entry points, so two commits can
be diffed.

Usage: python scripts/dump_query_plans.py OUT_DIR [INDEX_DIR]

Builds (unless INDEX_DIR already holds one) a 4-shard index over 2,000
synthetic turns with keyword field ``role`` and docvalue columns
``turn_idx`` and ``role``, then runs ``search``, ``search_with_total``,
``search_batch`` (one index and the list ``[index, index]``),
``count_matches``, ``facet_counts``, ``explain_score``, ``search`` with a
``filter_docs`` list, a ``filter_df`` frame and a ``CachedFilter``,
``search_sorted`` on an int and a string docvalue column,
``search_grouped``, ``facet_ranges`` and ``match_stats`` over the
benchmark's query shapes (perfbench/queries.py: or, and, phrase_term,
role_terms, prefix, phrase) plus a wildcard that expands to more than 64
terms. Every DataFrame a call collects, and the DataFrame it returns, is
written in simple explain mode with expression ids, plan ids and the
index path stripped, one file per call: OUT_DIR/<entry>__<shape>.txt. A
call that raises writes its error.

To compare commits, build the index once and pass the same INDEX_DIR to
the script in both checkouts, then ``diff -r OUT_A OUT_B``.
"""
from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SHAPES = {
    "or": "hotalpha w00011",
    "and": "+hotalpha +hotbeta",
    "phrase_term": '"hotalpha hotbeta" w00011',
    "role_terms": "role:user hotalpha w00011",
    "prefix": "w0001*",
    "phrase": '"hotalpha hotbeta"',
    "broad_wildcard": "w00*",
}


def _normalize(plan: str, index_dir: str) -> str:
    plan = plan.replace(index_dir, "<index>")
    plan = re.sub(r"#\d+L?", "#", plan)
    return re.sub(r"plan_id=\d+", "plan_id=", plan)


def main() -> None:
    from pyspark.sql import DataFrame

    from pyspark.sql import functions as F

    from katta_spark.build import build_index
    from katta_spark.oracle import with_doc_ids
    from katta_spark.plans import physical_plan
    from katta_spark.session import get_spark
    from katta_spark.synth import synth_transcripts
    import katta_spark.query as ksq

    out_dir = os.path.abspath(sys.argv[1])
    index_dir = os.path.abspath(
        sys.argv[2] if len(sys.argv) > 2 else os.path.join(out_dir, "index")
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("dump_query_plans", master="local[2]", shuffle_partitions=4)
    src = synth_transcripts(spark, 2000, seed=42)
    if not os.path.isdir(index_dir):
        build_index(
            spark, src, index_dir, num_shards=4, keyword_cols=("role",),
            docvalue_cols=("turn_idx", "role"),
        )
    h = ksq.IndexHandle.open(spark, index_dir)
    allowed = with_doc_ids(src, 4).where(F.col("role") == "user").select("doc_id")
    ids = [r.doc_id for r in allowed.collect()]
    cached = ksq.prepare_filter(spark, h, allowed)

    recorded: list[str] = []
    depth = [0]

    df_cls = type(spark.range(1))  # the concrete (classic) DataFrame

    def _hook(name: str):
        orig = getattr(df_cls, name)

        def wrapper(self, *a, **kw):
            if depth[0] == 0:
                recorded.append(_normalize(physical_plan(self, "simple"), index_dir))
            depth[0] += 1
            try:
                return orig(self, *a, **kw)
            finally:
                depth[0] -= 1

        setattr(df_cls, name, wrapper)

    top_doc = {
        shape: (ksq.search(spark, h, q, k=1).collect() or [None])[0]
        for shape, q in SHAPES.items()
    }
    _hook("collect")
    _hook("toPandas")

    calls = {
        "search": lambda q, s: ksq.search(spark, h, q, k=10),
        "search_with_total": lambda q, s: ksq.search_with_total(spark, h, q, k=10),
        "search_batch": lambda q, s: ksq.search_batch(spark, h, [q], k=10),
        "count_matches": lambda q, s: ksq.count_matches(spark, h, q),
        "facet_counts": lambda q, s: ksq.facet_counts(spark, h, q, "role", k=10),
        "explain_score": lambda q, s: ksq.explain_score(
            spark, h, q, top_doc[s]["doc_id"] if top_doc[s] else 0
        ),
        "search_batch_list": lambda q, s: ksq.search_batch(spark, [h, h], [q], k=10),
        "search_filter_docs": lambda q, s: ksq.search(spark, h, q, k=10, filter_docs=ids),
        "search_filter_df": lambda q, s: ksq.search(spark, h, q, k=10, filter_df=allowed),
        "search_cached_filter": lambda q, s: ksq.search(spark, h, q, k=10, filter_df=cached),
        "search_sorted_int": lambda q, s: ksq.search_sorted(
            spark, h, q, src, [("turn_idx", "desc")], k=10
        ),
        "search_sorted_str": lambda q, s: ksq.search_sorted(
            spark, h, q, src, [("role", "asc")], k=10
        ),
        "search_grouped": lambda q, s: ksq.search_grouped(
            spark, h, q, "role", k_groups=3, k_docs=2
        ),
        "facet_ranges": lambda q, s: ksq.facet_ranges(
            spark, h, q, "turn_idx", [("lo", 0, 10), ("hi", 10, None)]
        ),
        "match_stats": lambda q, s: ksq.match_stats(spark, h, q, "turn_idx"),
    }
    for entry, call in calls.items():
        for shape, q in SHAPES.items():
            recorded.clear()
            try:
                res = call(q, shape)
                if isinstance(res, DataFrame):
                    res.collect()
                body = "\n".join(
                    f"== collect {i} ==\n{p}" for i, p in enumerate(recorded)
                )
            except Exception as e:  # noqa: BLE001 — the error is the dump
                body = f"ERROR: {type(e).__name__}: {str(e).splitlines()[0]}"
            name = f"{entry}__{shape}.txt"
            with open(os.path.join(out_dir, name), "w") as fh:
                fh.write(f"{entry}({q!r})\n{body}\n")
            print(name, len(recorded), "plans")
    cached.unpersist()
    spark.stop()


if __name__ == "__main__":
    main()
