"""The benchmark's workloads, driven through the engine's public API.

Both workloads build their index from ``synth_transcripts`` turns made
from the run's seed (one corpus definition: ``VOCAB_SIZE`` words,
``KEYWORD_COLS`` keyword fields, ``NUM_SHARDS`` shards), open it, answer
a first query, warm up, and then search closed loop with one client
(each call waits for the previous reply) for the run's seconds:

- ``selective_search``: never-repeating tail-term queries
  (queries.SelectiveQueries);
- ``broad_search``: hot-term queries that repeat (queries.BroadQueries).

With ``trace`` on, every timed call is split into driver spans and its
executed plan's SQL metrics are read back, and the run ends with a write
probe (delete 1 %, expunge by compaction) for the write-path layers; it
reports per-layer metrics instead of end-to-end ones.

Every run ends with an untimed correctness gate (see ``check_results``).
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import os
import statistics
import time

import numpy as np

from gate import Gate, hits, same_hits
from layers import codec_rates, dir_bytes, index_layout
from queries import BroadQueries, SelectiveQueries, Turns
from spans import Tracer, job_group, plan_metrics, wrapped

VOCAB_SIZE = 100_000
KEYWORD_COLS = ("role", "tool")
# one shard per core of the 4-core reference host
NUM_SHARDS = 4
TURNS_PER_CONV = 20
K = 10
# turns generated per run
TURNS = 2_000
# share of all doc_ids the traced run's write probe deletes
DELETE_FRAC = 0.01
# timed flat-OR queries checked against the oracle per run
ORACLE_SAMPLE = 3
# query shapes that are a flat OR of terms, which the oracle can rank
FLAT_SHAPES = ("or", "total")

END_TO_END_UNITS = {
    "setup_s": "s",
    "query_p50_s": "s",
    "index_bytes_per_input_byte": "B/B",
}

PER_LAYER_UNITS = {
    "query.construct_s": "s",
    "query.plan_s": "s",
    "query.expand_s": "s",
    "query.execute_s": "s",
    "query.jobs_per_call": "count",
    "query.open_s": "s",
    "query.span_cover_frac": "ratio",
    "query.traced_p50_s": "s",
    "scan.files": "count",
    "scan.bytes": "B",
    "scan.rows": "count",
    "scan.time_ms": "ms",
    "scan.rows_used_frac": "ratio",
    "exchange.bytes": "B",
    "python.boot_ms": "ms",
    "python.init_ms": "ms",
    "python.total_ms": "ms",
    "python.bytes_sent": "B",
    "python.bytes_received": "B",
    "codec.decode_postings_per_s": "1/s",
    "codec.decode_positions_per_s": "1/s",
    "codec.encode_postings_per_s": "1/s",
    "build.dictionary_s": "s",
    "build.encode_write_s": "s",
    "build.stats_s": "s",
    "build.postings_bytes": "B",
    "build.index_bytes": "B",
    "build.postings_row_groups": "count",
    "compact.s": "s",
    "compact.bytes_written": "B",
    "compact.postings_merge_s": "s",
    "compact.stats_dict_s": "s",
    "delete.s": "s",
}

QUERIES = {"selective_search": SelectiveQueries, "broad_search": BroadQueries}
WORKLOADS = tuple(QUERIES)


class Run:
    """State of one benchmark run: its inputs, gate, tracer and the
    metrics and descriptors it reports."""

    def __init__(self, spark, workload: str, seed: int, seconds: float,
                 trace: bool, work_dir: str) -> None:
        if workload not in WORKLOADS:
            raise ValueError(f"unknown workload {workload!r}; one of {WORKLOADS}")
        self.spark = spark
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.work = work_dir
        self.gate = Gate()
        self.tracer = Tracer() if trace else None
        self.metrics: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.desc: dict = {}
        self.calls: list[dict] = []
        self._call_seq = itertools.count()
        # every (query, hits) the run's timed calls returned
        self.results: list[tuple[str, str, list]] = []
        self._t_phase = time.perf_counter()
        self.desc["phase_s"] = {}

    def phase(self, name: str) -> None:
        """Close the current phase of the run under ``name`` (descriptor)."""
        now = time.perf_counter()
        self.desc["phase_s"][name] = round(now - self._t_phase, 3)
        self._t_phase = now

    # ---- engine calls -------------------------------------------------

    def search(self, h, shape: str, q: str):
        """One timed call, ``search(k=K)`` or for the "total" shape
        ``search_with_total(k=K)``: (rows, wall seconds)."""
        from katta_spark.query import search, search_with_total

        fn = search_with_total if shape == "total" else search
        tr = self.tracer
        if tr is None:
            t0 = time.perf_counter()
            rows = fn(self.spark, h, q, k=K).collect()
            return rows, time.perf_counter() - t0
        call = tr.call_id = next(self._call_seq)
        with job_group(self.spark, "search") as jobs:
            with tr.span("query.call") as span:
                with tr.span("query.construct"):
                    df = fn(self.spark, h, q, k=K)
                with tr.span("query.plan"):
                    df._jdf.queryExecution().executedPlan()
                with tr.span("query.execute"):
                    rows = df.collect()
        tr.call_id = None
        wall = span["end"] - span["start"]
        rec = {
            "wall": wall,
            "query.construct_s": tr.total("query.construct", call),
            "query.plan_s": tr.total("query.plan", call),
            "query.execute_s": tr.total("query.execute", call),
            "query.expand_s": tr.total("query.expand", call),
        }
        rec["cover"] = (
            rec["query.construct_s"] + rec["query.plan_s"] + rec["query.execute_s"]
        ) / wall
        rec["query.jobs_per_call"] = jobs[0]
        rec.update(plan_metrics(df))
        self.calls.append(rec)
        return rows, wall

    @contextlib.contextmanager
    def window(self, label: str):
        """Tag the spans recorded in the body (e.g. handle opens) with
        ``label`` instead of a call id."""
        if self.tracer is not None:
            self.tracer.call_id = label
        try:
            yield
        finally:
            if self.tracer is not None:
                self.tracer.call_id = None

    def generate(self) -> tuple[str, Turns]:
        """Write the run's turns to parquet; returns (path, Turns)."""
        from katta_spark.synth import synth_transcripts

        path = os.path.join(self.work, "turns.parquet")
        synth_transcripts(
            self.spark, TURNS, seed=self.seed,
            turns_per_conv=TURNS_PER_CONV, vocab_size=VOCAB_SIZE,
        ).write.parquet(path)
        turns = Turns(path)
        self.desc.update(turns=len(turns), vocab_size=VOCAB_SIZE,
                         input_text_bytes=turns.text_bytes)
        return path, turns

    def build(self, frame, name: str) -> tuple[str, dict, float]:
        from katta_spark.build import build_index

        out = os.path.join(self.work, name)
        t0 = time.perf_counter()
        summary = build_index(
            self.spark, frame, out, num_shards=NUM_SHARDS,
            keyword_cols=KEYWORD_COLS,
        )
        return out, summary, time.perf_counter() - t0

    def loop(self, h, qs) -> list[float]:
        """Closed-loop searches for the run's seconds; returns latencies."""
        lat = []
        t_end = time.perf_counter() + self.seconds
        while time.perf_counter() < t_end:
            shape, q = qs.next()
            got = self.gate.op(q, self.search, h, shape, q)
            if got is not None:
                rows, dt = got
                lat.append(dt)
                self.results.append((shape, q, hits(rows)))
        return lat

    # ---- gate ----------------------------------------------------------

    def gate_oracle(self, docs, q: str, got: list) -> None:
        """Engine top-k ``got`` equals ``oracle.bm25_topk`` (doc_id order,
        float32 score)."""
        from katta_spark.oracle import bm25_topk

        want = hits(bm25_topk(docs, q, k=K, keyword_cols=KEYWORD_COLS).collect())
        self.gate.check("oracle", same_hits(got, want), q)

    def gate_entry_points(self, h, queries: list[str], flat_q: str) -> None:
        """search_batch over ``queries`` equals per-query search. For the
        flat-OR ``flat_q``, count_matches (its own term-OR counting path)
        equals the search_with_total total, whose hits equal search's."""
        from katta_spark.query import count_matches, search_batch, search_with_total

        got = {q: hs for _, q, hs in self.results}
        batch = search_batch(self.spark, h, queries, k=K).collect()
        for i, q in enumerate(queries):
            mine = hits(r for r in batch if r["query_id"] == i)
            self.gate.check("search_batch", same_hits(mine, got[q]), q)
        swt = search_with_total(self.spark, h, flat_q, k=K).collect()
        total = int(swt[0]["total_hits"]) if swt else 0
        n = count_matches(self.spark, h, flat_q)
        self.gate.check("count_matches", n == total, f"{flat_q}: {n} != {total}")
        self.gate.check("search_with_total", same_hits(hits(swt), got[flat_q]), flat_q)

    def check_results(self, h, docs, first_q: str, first: list) -> None:
        """The untimed gate over the timed loop's results: a repeated
        query (``first_q`` included) returns the same hits every time; a
        seeded sample of the timed flat-OR queries equals the oracle; and
        the checks of ``gate_entry_points``. The oracle and entry-point
        checks run concurrently."""
        seen = {first_q: first}
        for _, q, hs in self.results:
            self.gate.check("repeat_stable", seen.setdefault(q, hs) == hs, q)
        flat = self.sample(ORACLE_SAMPLE, FLAT_SHAPES)
        self.gate.run_all(
            *(functools.partial(self.gate_oracle, docs, q, seen[q]) for q in flat),
            lambda: self.gate_entry_points(h, self.sample(4), self.sample(1, ("or",))[0]),
        )

    def sample(self, n: int, shapes: tuple[str, ...] | None = None) -> list[str]:
        """Seeded sample of ``n`` distinct timed queries, of the given
        shapes if any."""
        pool = list(dict.fromkeys(
            q for shape, q, _ in self.results if shapes is None or shape in shapes
        ))
        rng = np.random.default_rng(self.seed + 1)
        idx = rng.choice(len(pool), min(n, len(pool)), replace=False)
        return [pool[i] for i in sorted(idx)]

    # ---- reporting -----------------------------------------------------

    def finish_search(self, lat: list[float], qs, earlier: list[str]) -> None:
        """Descriptors of the timed loop; ``earlier`` are the queries run
        before it (first query and warm-up)."""
        seen = set(earlier)
        repeats = 0
        for _, q, _ in self.results:
            repeats += q in seen
            seen.add(q)
        self.desc.update(
            timed_calls=len(lat),
            repeat_frac=repeats / max(1, len(self.results)),
            latencies_s=[round(x, 4) for x in lat],
            df_band=list(qs.df_band),
            drawn_df_min=min(qs.drawn_df),
            drawn_df_max=max(qs.drawn_df),
            drawn_df_median=statistics.median(qs.drawn_df),
        )
        if lat:
            self.metrics["query_p50_s"] = statistics.median(lat)

    def finish_layers(self, build_summary: dict, index_dir: str, layout: dict) -> None:
        """Per-layer metrics of the traced run; ``layout`` is the index's
        as built."""
        if self.tracer is None:
            return
        calls = self.calls
        med = lambda key: statistics.median(c[key] for c in calls)  # noqa: E731
        for key in (
            "query.construct_s", "query.plan_s", "query.execute_s",
            "query.jobs_per_call", "scan.files", "scan.bytes", "scan.rows",
            "scan.time_ms", "exchange.bytes", "python.boot_ms",
            "python.init_ms", "python.total_ms", "python.bytes_sent",
            "python.bytes_received",
        ):
            self.layer[key] = med(key)
        # wildcard expansion happens on one call in five: mean per call
        self.layer["query.expand_s"] = statistics.fmean(c["query.expand_s"] for c in calls)
        self.layer["query.span_cover_frac"] = min(c["cover"] for c in calls)
        self.layer["query.traced_p50_s"] = med("wall")
        rows = sum(c["scan.rows"] for c in calls)
        self.layer["scan.rows_used_frac"] = (
            sum(c["scan.rows_used"] for c in calls) / rows if rows else 1.0
        )
        self.layer["query.open_s"] = self.tracer.total("query.open", "setup")
        pt = build_summary["phase_timings"]
        self.layer["build.dictionary_s"] = pt.get("dictionary", 0.0)
        self.layer["build.encode_write_s"] = sum(
            v for k, v in pt.items() if k.endswith("_encode_write")
        )
        self.layer["build.stats_s"] = pt.get("phase3_stats", 0.0)
        self.layer.update(layout)
        self.layer.update(codec_rates(index_dir))

    def record_compact(self, summary: dict, seconds: float, out_dir: str) -> None:
        """Layer metrics of the write probe's expunging compaction; its
        stats and dictionary are rebuilt from the merged postings."""
        pt = summary["phase_timings"]
        self.layer["compact.s"] = seconds
        self.layer["compact.bytes_written"] = dir_bytes(out_dir)
        self.layer["compact.postings_merge_s"] = pt["postings_merge"]
        self.layer["compact.stats_dict_s"] = pt["stats_dict_post_delete"]

    @contextlib.contextmanager
    def traced_calls(self):
        """With tracing on, wrap the module-level functions whose time the
        query layer reports (wildcard expansion, handle open)."""
        if self.tracer is None:
            yield
            return
        import katta_spark.query as ksq

        with contextlib.ExitStack() as stack:
            stack.enter_context(wrapped(self.tracer, ksq, "expand_wildcards", "query.expand"))
            stack.enter_context(wrapped(self.tracer, ksq.IndexHandle, "open", "query.open"))
            yield

    def write_probe(self, idx: str, docs) -> None:
        """The write-path layers the timed loop does not touch: tombstone
        a seeded DELETE_FRAC of the indexed doc_ids, then expunge them by
        compacting the index. Gated: every requested id is newly
        tombstoned, and the compacted index holds exactly the rest."""
        from katta_spark.compact import compact
        from katta_spark.delete import delete_docs
        from katta_spark.query import count_matches

        all_ids = sorted(r["doc_id"] for r in docs.select("doc_id").collect())
        rng = np.random.default_rng(self.seed + 2)
        n = max(1, int(len(all_ids) * DELETE_FRAC))
        ids = [all_ids[i] for i in sorted(rng.choice(len(all_ids), n, replace=False))]
        t = time.perf_counter()
        n_del = delete_docs(self.spark, idx, ids)
        self.layer["delete.s"] = time.perf_counter() - t
        self.gate.check("delete_count", n_del == n, f"{n_del} != {n}")
        out = os.path.join(self.work, "expunged")
        t = time.perf_counter()
        csum = compact(self.spark, [idx], out)
        self.record_compact(csum, time.perf_counter() - t, out)
        left = count_matches(self.spark, out, "*:*")
        want = len(all_ids) - n
        self.gate.check("expunged", left == want, f"{left} docs left != {want}")


def search_workload(run: Run) -> None:
    from katta_spark.oracle import with_doc_ids
    from katta_spark.query import IndexHandle, search

    spark = run.spark
    t0 = time.perf_counter()
    inp, turns = run.generate()
    qs = QUERIES[run.workload](turns, run.seed)
    # the first query (SHAPES[0]) opens the index; then one untimed call
    # of every other shape, since the
    # first call of a shape pays its cold code paths (JIT, codegen)
    _, first_q = qs.next()
    warm = [qs.next() for _ in qs.SHAPES[1:]]
    run.phase("generate")
    with run.traced_calls():
        with run.window("setup"):
            idx, summary, build_s = run.build(spark.read.parquet(inp), "index")
            h = IndexHandle.open(spark, idx)
            first = hits(search(spark, h, first_q, k=K).collect())
        run.metrics["setup_s"] = time.perf_counter() - t0
        run.desc["build_s"] = round(build_s, 3)
        run.metrics["index_bytes_per_input_byte"] = dir_bytes(idx) / turns.text_bytes
        layout = index_layout(idx)
        run.desc.update(layout)
        run.phase("build_open_first_query")

        # untimed warm-up
        for shape, q in warm:
            run.gate.op(q, run.search, h, shape, q)
        run.calls.clear()
        run.phase("warmup")

        lat = run.loop(h, qs)
        run.finish_search(lat, qs, [first_q] + [q for _, q in warm])
        run.phase("loop")

        docs = with_doc_ids(spark.read.parquet(inp), NUM_SHARDS)
        run.check_results(h, docs, first_q, first)
        run.phase("gate")

        if run.tracer is not None:
            run.write_probe(idx, docs)
            run.phase("write_probe")
    run.finish_layers(summary, idx, layout)
    run.phase("layers")


def run_workload(spark, workload: str, seed: int, seconds: float, trace: bool,
                 work_dir: str) -> Run:
    run = Run(spark, workload, seed, seconds, trace, work_dir)
    search_workload(run)
    return run


def result_line(run: Run) -> dict:
    """The benchmark's last output line for ``run``."""
    if run.tracer is None:
        names = END_TO_END_UNITS
        values = run.metrics
    else:
        names = PER_LAYER_UNITS
        values = run.layer
    missing = [n for n in names if n not in values]
    for n in missing:
        run.gate.check("metric_emitted", False, n)
    return {
        "correct": run.gate.failed == 0,
        "attempted": run.gate.attempted,
        "failed": run.gate.failed,
        "metrics": {
            n: {"value": values[n], "unit": u} for n, u in names.items() if n in values
        },
    }
