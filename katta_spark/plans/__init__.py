"""Physical-plan auditing helpers.

The engine adds no custom Catalyst rules (SURVEY.md §4: everything novel
lives in kernels and orchestration) — this package asserts that the plans
Catalyst DOES produce have the shapes we designed for: a search result that
is the client-merged top-k as a local relation (its shard stage ran as one
job with no SQL plan — filtered, docvalue and faceted searches included),
one shard-local stage for the lazy unbounded path, no corpus-sized shuffles
on the query path.
"""

from __future__ import annotations

import contextlib
import itertools

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame, mode: str = "formatted") -> str:
    """Full explain output (the default toString truncates long scan
    nodes, hiding PushedFilters)."""
    qe = df._jdf.queryExecution()
    jvm = df.sparkSession._jvm
    return qe.explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    )


def audit_search_plan(hits: DataFrame) -> dict:
    """Inspect a search() result plan for the designed physical shape:

    - ``local_result``: the plan is one LocalTableScan — the shard stage
      already ran inside search() as a plain job, and the driver merged
      its ≤ k·shards rows (Katta's client merge) into a ``Hits`` frame,
      whose relation is built here, on first use;
    - ``single_stage``: for the lazy ``ordered=False`` frame, phase 2 is
      one shard-local ``MapInPandas`` over a ``Range`` of shard ids;
    - either way the tasks read their shard's postings themselves (no
      postings file scan in the plan) and nothing is exchanged —
      neither a shard shuffle nor a broadcast of the stats.
    """
    plan = physical_plan(hits, mode="simple")
    body = [ln.strip() for ln in plan.splitlines()[1:] if ln.strip()]
    return {
        "local_result": len(body) == 1 and body[0].startswith("LocalTableScan"),
        "single_stage": "MapInPandas" in plan and "Range (" in plan,
        "postings_scan": "postings.parquet" in plan,
        "n_exchanges": plan.count("Exchange"),
        "plan": plan,
    }


def _subtree_lines(plan: str, anchor: str) -> list[str]:
    """Lines of the plan subtree rooted at the first line containing
    ``anchor`` (simple-mode tree: children are more-indented lines)."""
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if anchor in line:
            depth = len(line) - len(line.lstrip(" :+-"))
            out = [line]
            for nxt in lines[i + 1 :]:
                if not nxt.strip():
                    break
                nd = len(nxt) - len(nxt.lstrip(" :+-"))
                if nd <= depth:
                    break
                out.append(nxt)
            return out
    return []


def audit_details_plan(details) -> dict:
    """get_details must broadcast the TOP-K, not the corpus: the plan is a
    BroadcastHashJoin whose BroadcastExchange subtree holds the hits (the
    LocalTableScan of a merged search, or the FlatMapGroupsInPandas
    shard stage of a lazy filtered one), and no sort-merge join of the
    corpus."""
    plan = physical_plan(details, mode="simple")
    bcast_sub = "\n".join(_subtree_lines(plan, "BroadcastExchange"))
    return {
        "broadcast_join": "BroadcastHashJoin" in plan,
        "no_smj": "SortMergeJoin" not in plan,
        "topk_is_build_side": "LocalTableScan" in bcast_sub
        or "FlatMapGroupsInPandas" in bcast_sub,
        "plan": plan,
    }


def scan_read_schemas(df: DataFrame) -> list[str]:
    """ReadSchema of every file scan in the plan — the column-pruning
    audit: a 2-column projection must not read 14 columns, and the
    positions blobs must only be fetched by phrase queries."""
    plan = physical_plan(df)
    out = []
    for line in plan.splitlines():
        if "ReadSchema:" in line:
            out.append(line.split("ReadSchema:", 1)[1].strip())
    return out


def audit_sorted_search_plan(out) -> dict:
    """Field-sorted search must not run a global score sort: the only
    global ordering is the TakeOrderedAndProject on the sort fields, and
    nothing is funneled through a single partition."""
    plan = physical_plan(out, mode="simple")
    return {
        "take_ordered": "TakeOrderedAndProject" in plan,
        "no_single_partition": "Exchange SinglePartition" not in plan,
        "no_global_limit": "GlobalLimit 2147483647" not in plan,
        "plan": plan,
    }


_JOB_GROUP_SEQ = itertools.count()


@contextlib.contextmanager
def jobs_started(spark):
    """Count the Spark jobs the body starts: runs it under a fresh job
    group and yields a one-element list that holds the count on exit."""
    sc = spark.sparkContext
    gid = f"katta-jobs-{next(_JOB_GROUP_SEQ)}"
    sc.setJobGroup(gid, "jobs_started")
    out = [0]
    try:
        yield out
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        out[0] = len(sc.statusTracker().getJobIdsForGroup(gid))
