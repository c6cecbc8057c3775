"""Query path — Katta's two-phase scatter-gather search re-created as one
Spark job over the pre-partitioned postings table.

Reference lifecycle (SURVEY.md §3.1, LuceneClient.java:149-203):
  phase 1: gather global df per term  → PRECOMPUTED at build time and read
           from the driver-resident term dictionary (termdict.py) — the
           invariant Katta exploits via CachedDfSource, LuceneServer.java:441
  phase 2: scatter per-shard top-k    → one task per shard that reads its
           own postings (and docvalues) and runs the kernel and collector;
           a filter frame's shard groups drive the tasks
  merge  : node + client k-way merges → the client merge on the driver

Tie-break replicated exactly from Hit.java:150-162: score DESC, doc_id ASC,
shard_id DESC.

The kernel is exact, vectorized term-at-a-time scoring with a MaxScore-style
prune: terms are processed in descending max_impact order and postings of
low-impact terms are dropped early when their upper bound cannot lift any
new document into the running top-k (block-max bounds from the index make
the prune block-granular). Pruning never changes results — property-tested
against the unpruned path and the brute-force oracle.
"""

from __future__ import annotations

import functools
import math
import os
import threading
import time
import weakref
from collections import OrderedDict
from collections.abc import Iterator
from dataclasses import dataclass
from typing import NamedTuple

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark import RDD
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame
from pyspark.sql.types import StructType, _parse_datatype_string

from katta_spark import scoring
from katta_spark.codec import (
    decode_blocks,
    decode_positions,
    decode_posting_list,
    f64_to_u64_order,
    i64_to_u64_order,
    read_skips,
    u64_to_f64_order,
    u64_to_i64_order,
    vb_decode,
)
from katta_spark.termdict import QueryTerms, TermDict, parquet_files
from katta_spark.tokenizer import tokenize_str
from katta_spark.xxhash import term_hash


class DocFilter(NamedTuple):
    """Combined allow/deny doc set for the shard kernels' second argument.

    ``allow`` — docIDs that MAY match (Katta's Filter, P2; None = no
    restriction). ``deny`` — docIDs that must NOT match: the index's
    tombstoned (deleted) documents, the analog of Lucene's liveDocs
    bitset that every collector consults before scoring a hit
    (deleted docs are skipped at collection time while df/numDocs stay
    STALE until a merge expunges them — IndexWriter.deleteDocuments
    semantics). Kernels accept either a plain ndarray (allow-only,
    the original contract) or a DocFilter."""

    allow: "np.ndarray | None"
    deny: "np.ndarray | None"


class CachedFilter:
    """A prepared, reusable query filter — the CachingWrapperFilter
    analog (Katta P3: Lucene caches a filter's per-reader bitset so
    repeated filtered searches skip recomputing it; LuceneServer wraps
    client filters in exactly that cache).

    :func:`prepare_filter` derives the (doc_id, shard_id) frame ONCE,
    hash-partitions it by shard_id with the session's shuffle
    parallelism and persists it — so every subsequent
    ``search(filter_df=<CachedFilter>)`` groups the materialized
    partitions by shard with no exchange, and each group drives its
    shard's task (:meth:`_Fetch.by_filter`).
    Valid for any index sharing the sharding config it was prepared
    under (shard assignment is a pure function of doc_id, num_shards
    and the sharding fn); mismatches refuse. Single-index paths only —
    multi-index searches offset shard ids per index, so pass the raw
    DataFrame there. Call :meth:`unpersist` when done.
    """

    def __init__(self, df: "DataFrame", num_shards: int, sharding: str):
        self.df = df
        self.num_shards = num_shards
        self.sharding = sharding

    def unpersist(self) -> None:
        self.df.unpersist()


def prepare_filter(
    spark: "SparkSession",
    index: "IndexHandle | str",
    filter_df: "DataFrame",
    doc_col: str = "doc_id",
) -> CachedFilter:
    """Materialize ``filter_df`` as a :class:`CachedFilter` for repeated
    filtered searches against ``index`` (or any sharding-compatible
    index)."""
    h = IndexHandle.open(spark, index) if isinstance(index, str) else index
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    fdf = (
        filter_df.select(F.col(doc_col).cast("long").alias("doc_id"))
        .withColumn("shard_id", h.shard_expr(F.col("doc_id")))
        .repartition(n, "shard_id")
        .persist()
    )
    fdf.count()  # materialize now, not on the first search
    return CachedFilter(fdf, h.num_shards, h.sharding)


def _filter_frame(index, filter_df, filter_doc_col: str):
    """The shard-keyed (doc_id, shard_id) frame whose groups drive the
    shard tasks: derive it from a raw DataFrame, or reuse a CachedFilter's
    materialization (after checking it was prepared under the same
    sharding config)."""
    if isinstance(filter_df, CachedFilter):
        if (
            filter_df.num_shards != index.num_shards
            or filter_df.sharding != index.sharding
        ):
            raise ValueError(
                "CachedFilter was prepared for "
                f"{filter_df.num_shards} shards/{filter_df.sharding!r}; "
                f"this index has {index.num_shards} shards/"
                f"{index.sharding!r} — prepare_filter against this index"
            )
        return filter_df.df
    return filter_df.select(
        F.col(filter_doc_col).cast("long").alias("doc_id")
    ).withColumn("shard_id", index.shard_expr(F.col("doc_id")))


def _keep_mask(d: np.ndarray, flt) -> "np.ndarray | None":
    """Boolean keep-mask of ``d`` under an allow-array or DocFilter;
    None when the filter is a no-op (no mask needed)."""
    if flt is None:
        return None
    if isinstance(flt, DocFilter):
        keep = None
        if flt.allow is not None:
            keep = np.isin(d, flt.allow)
        if flt.deny is not None and flt.deny.size:
            km = ~np.isin(d, flt.deny)
            keep = km if keep is None else keep & km
        return keep
    return np.isin(d, flt)


def _cursor_mask(
    scores: np.ndarray, docs: np.ndarray, shard_id: int, cursor: tuple
) -> np.ndarray:
    """Mask of candidates strictly AFTER ``cursor`` in the reference
    tie-break (score DESC, doc ASC, shard DESC) — the per-shard predicate
    of Lucene's IndexSearcher.searchAfter (the deep-paging cursor that
    keeps per-shard emission at k instead of offset+k). ``cursor`` is the
    (score, doc_id, shard_id) of the last already-returned hit; score
    equality is exact because the kernels recompute bit-identical
    scores."""
    cs, cd, csh = cursor
    return (
        (scores < cs)
        | ((scores == cs) & (docs > cd))
        | ((scores == cs) & (docs == cd) & (shard_id < csh))
    )


# open() memo — see IndexHandle.open. Keyed by (resolved index dir,
# corpus.parquet mtime_ns) so a rebuild into the same directory gets a
# fresh handle; bounded by the number of distinct indexes a process opens.
_OPEN_HANDLE_CACHE: dict = {}


@dataclass
class IndexHandle:
    """Opened index — the analog of Katta's deployed-index client view."""

    index_dir: str
    n_docs: int
    avgdl: float
    num_shards: int
    keyword_fields: tuple[str, ...] = ()
    sharding: str = "pmod_doc_id"
    # False for positions=False builds (Lucene omit-term-positions): the
    # postings' positions blobs are empty and phrase queries refuse.
    positions: bool = True

    @classmethod
    def open(cls, spark: SparkSession, index_dir: str) -> "IndexHandle":
        # Refuse old on-disk formats up front with a clear message — a
        # pre-v8 index would otherwise surface as an opaque
        # AnalysisException about a missing 'positions'/'sum_dl' column
        # deep inside the first phrase query or compaction.
        from katta_spark.build import FORMAT_VERSION

        vf = os.path.join(index_dir, "FORMAT_VERSION")
        stored = None
        if os.path.exists(vf):
            with open(vf) as fh:
                stored = fh.read().strip()
        if stored != str(FORMAT_VERSION):
            raise ValueError(
                f"index at {index_dir!r} has on-disk format "
                f"{stored or 'unknown (no FORMAT_VERSION file)'}; this "
                f"build reads format {FORMAT_VERSION} — rebuild the index "
                "(build_index into a fresh directory)"
            )
        # Memoized per (resolved dir, corpus mtime_ns): every API that
        # accepts a path-string opens a handle, and each open is a Spark
        # job over corpus.parquet plus a cold df cache — Katta's client
        # caches IndexMetaData for a deployed index instead
        # (Client.java/IndexMetaData). The mtime key invalidates on
        # rebuild (overwrite rewrites the corpus.parquet directory);
        # tombstones are deliberately NOT part of the handle state and
        # stay checked per call.
        corpus_path = os.path.join(index_dir, "corpus.parquet")
        key = (os.path.realpath(index_dir), os.stat(corpus_path).st_mtime_ns)
        cached = _OPEN_HANDLE_CACHE.get(key)
        if cached is not None:
            # qpm() is "queries per minute since the handle was opened":
            # before memoization every open() started its own metric
            # window, so a memo hit re-stamps the window to keep that
            # per-open semantic (Client.java:458-464)
            cached._opened_at = time.time()
            cached._n_queries = 0
            return cached
        row = spark.read.parquet(corpus_path).collect()[0]
        kw = tuple(row["keyword_fields"] or ()) if "keyword_fields" in row else ()
        sharding = row["sharding"] if "sharding" in row else "pmod_doc_id"
        pos = bool(row["positions"]) if "positions" in row else True
        h = cls(
            index_dir, int(row["n_docs"]), float(row["avgdl"]),
            int(row["n_shards"]), kw, sharding, pos,
        )
        h._opened_at = time.time()
        h._n_queries = 0
        _OPEN_HANDLE_CACHE[key] = h
        return h

    def _record_query(self) -> None:
        self._n_queries = getattr(self, "_n_queries", 0) + 1

    def qpm(self) -> float:
        """Queries per minute since the handle was opened — Katta's client
        QPS metric (Client.java:458-464, getQueryPerMinute)."""
        elapsed_min = (time.time() - getattr(self, "_opened_at", time.time())) / 60.0
        n = getattr(self, "_n_queries", 0)
        return n / elapsed_min if elapsed_min > 0 else float(n)

    def shard_expr(self, doc_col):
        """shard_id of a docID under this index's sharding function — lets
        external docID sets (filters) be co-partitioned with the postings."""
        if self.sharding == "pmod_xxhash64":
            return F.pmod(F.xxhash64(doc_col), F.lit(self.num_shards)).cast("int")
        return F.pmod(doc_col, F.lit(self.num_shards)).cast("int")

    def _rel(self, spark: SparkSession, path: str) -> DataFrame:
        """``spark.read.parquet(path)`` memoized per (path, session,
        directory mtime_ns). Every ``read.parquet`` pays a driver file
        listing + footer fetch over py4j (~60 ms measured) that repeated
        queries on a warm handle should not pay — the index is immutable
        while its directory is unchanged, the same invariant the open()
        memo keys on. An in-place rewrite (expunge/compact/delete into
        the same directory) bumps the directory mtime and invalidates;
        the session is part of the key so a handle that outlives a
        stopped SparkSession never serves a frame bound to it."""
        return self._memo(path, (path, spark), lambda: spark.read.parquet(path))

    def _memo(self, path: str, key, build):
        """``build()`` memoized per (``key``, directory mtime_ns of
        ``path``); a missing ``path`` raises naming the index and the
        sidecar."""
        try:
            mt = os.stat(path).st_mtime_ns
        except FileNotFoundError as e:
            raise FileNotFoundError(
                f"index at {self.index_dir!r} is missing its "
                f"{os.path.basename(path)} sidecar ({path})"
            ) from e
        cache = self.__dict__.setdefault("_rel_cache", {})
        hit = cache.get(key)
        if hit is None or hit[0] != mt:
            hit = cache[key] = (mt, build())
        return hit[1]

    def term_dict(self) -> TermDict:
        """The index's term dictionary (katta_spark.termdict), read with
        pyarrow once per stats.parquet directory mtime, so warm df lookups
        and rewrites run no Spark job and an in-place rewrite reloads it."""
        path = os.path.join(self.index_dir, "stats.parquet")
        return self._memo(path, "term_dict", lambda: TermDict(path))

    def postings(self, spark: SparkSession) -> DataFrame:
        return self._rel(spark, os.path.join(self.index_dir, "postings.parquet"))

    def stats(self, spark: SparkSession) -> DataFrame:
        return self._rel(spark, os.path.join(self.index_dir, "stats.parquet"))

    def shards(self, spark: SparkSession) -> DataFrame:
        return self._rel(spark, os.path.join(self.index_dir, "shards.parquet"))

    def total_dl(self, spark: SparkSession) -> float:
        """Corpus-wide Σ default-field tokens, memoized on the handle (the
        index is immutable — a client holding a deployed-index view never
        re-reads its stats, like Katta's cached IndexMetaData)."""
        if not hasattr(self, "_total_dl"):
            row = self.shards(spark).agg(F.sum("sum_dl").alias("sdl")).collect()[0]
            object.__setattr__(self, "_total_dl", float(row["sdl"] or 0))
        return self._total_dl

    def docvalue_kinds(self) -> dict[str, str]:
        """col → kind of the index's sort-value sidecar (docvalues.py),
        memoized — {} when the index was built without docvalue_cols."""
        if not hasattr(self, "_dv_kinds"):
            from katta_spark.docvalues import read_meta

            object.__setattr__(self, "_dv_kinds", read_meta(self.index_dir))
        return self._dv_kinds

    def df_of_terms(self, spark: SparkSession, terms: list[str]) -> dict[str, int]:
        """Per-term global df (0 for unindexed terms) from the term
        dictionary — Katta's CachedDfSource invariant (LuceneServer.java:441:
        an immutable deployed index never re-serves a df question through
        a job). ``spark`` is unused: the lookup runs no Spark job."""
        found = self.term_dict().lookup(terms)
        return {t: found.get(t, 0) for t in terms}

    # ---- tombstones (document deletion; katta_spark.delete) ----------
    #
    # Lucene model replicated exactly: deleteDocuments marks docs in a
    # side structure; every collector skips them at collection time
    # (liveDocs), while df/cf/numDocs/avgdl stay STALE until a merge
    # (expunge) rewrites the segments. Our tombstone set is a parquet
    # side table (shard_id, doc_id) next to the postings; at query time
    # it becomes a broadcast sorted id array — the direct analog of
    # Lucene's in-RAM liveDocs bitset, bounded by the DELETED count
    # (not maxDoc). Search paths consult it via DocFilter.deny;
    # compact()/expunge() applies and clears it.

    def tombstones_path(self) -> str:
        return os.path.join(self.index_dir, "tombstones.parquet")

    def has_tombstones(self) -> bool:
        """Checked per call (not cached): delete_docs may run after open."""
        p = self.tombstones_path()
        return os.path.isdir(p) and any(
            f.endswith(".parquet") for f in os.listdir(p)
        )

    def tombstones(self, spark: SparkSession) -> "DataFrame | None":
        if not self.has_tombstones():
            return None
        return spark.read.parquet(self.tombstones_path())

    def deleted_array(self, spark: SparkSession) -> "np.ndarray | None":
        """Sorted int64 array of tombstoned docIDs, memoized per handle
        (invalidated when the tombstone file set changes — a handle held
        across a delete_docs call sees the new set). None when empty."""
        if not self.has_tombstones():
            return None
        p = self.tombstones_path()
        sig = tuple(sorted(os.listdir(p)))
        cached = self.__dict__.get("_tomb_cache")
        if cached is not None and cached[0] == sig:
            return cached[1]
        pdf = (
            spark.read.parquet(p).select("doc_id").toPandas()
        )
        arr = np.sort(pdf["doc_id"].to_numpy(np.int64))
        if arr.size > _MAX_TOMBSTONES:
            raise ValueError(
                f"index {self.index_dir!r} carries {arr.size} tombstones "
                f"(> {_MAX_TOMBSTONES}); the live-deletion path holds the "
                "deleted-id set in memory like Lucene's liveDocs — run "
                "katta_spark.compact.expunge() to fold the deletions into "
                "the postings"
            )
        self.__dict__["_tomb_cache"] = (sig, arr)
        return arr

    def num_deleted(self, spark: SparkSession) -> int:
        """Lucene's IndexReader.numDeletedDocs analog."""
        arr = self.deleted_array(spark)
        return 0 if arr is None else int(arr.size)


# Live tombstone sets ride to the kernels as an in-memory id array (the
# liveDocs analog). Past this bound the user should expunge instead —
# the array no longer qualifies as "small side state".
_MAX_TOMBSTONES = 50_000_000


_SPACED_FIELD_RE = None
_FIELD_GROUP_RE = None


def fold_spaced_fields(query: str) -> str:
    """Lucene's QueryParser accepts whitespace between a field's ``:`` and
    its term — the reference's own tests query exactly that shape
    (``"foo: bar"`` LuceneServerTest, ``"content: the"``
    LuceneClientTest.java, wildcard ``"foo: b*"``) — so fold the gap
    BEFORE any whitespace-splitting or rewrite routing. Idempotent. For
    analyzed fallbacks the fold is a no-op (the tokenizer splits on ':'
    anyway); folding onto a quote feeds parse_bool_query's
    field-quoted-value branch (``tool: "web search"`` ≡
    ``tool:"web search"``, both one verbatim keyword term).

    Field GROUPS distribute afterwards — Lucene QueryParser's
    ``role:(user assistant)`` ≡ ``(role:user role:assistant)`` sugar,
    occur flags and group boosts carried onto each member (a member's own
    boost wins over the group's); groups containing quotes or nested
    parens are left alone. The distributed form keeps its parens, so it
    routes through the tree grammar — combining a field group with
    wildcard members therefore surfaces the documented tree-vs-rewrite
    refusal rather than silently mis-parsing."""
    global _SPACED_FIELD_RE, _FIELD_GROUP_RE
    if _SPACED_FIELD_RE is None:
        import re as _re

        _SPACED_FIELD_RE = _re.compile(r"([A-Za-z_][\w.]*):\s+(?=[^\s)])")
        _FIELD_GROUP_RE = _re.compile(
            r'([A-Za-z_][\w.]*):\(([^()"]*)\)(\^\d+(?:\.\d+)?)?'
        )
    query = _SPACED_FIELD_RE.sub(r"\1:", query)

    def _dist(m: "object") -> str:
        fld, body, boost = m.group(1), m.group(2), m.group(3) or ""
        out = []
        for tok in body.split():
            if tok in ("AND", "OR", "NOT"):
                out.append(tok)
                continue
            sign = ""
            if tok[0] in "+-" and len(tok) > 1:
                sign, tok = tok[0], tok[1:]
            b = "" if "^" in tok else boost
            out.append(f"{sign}{fld}:{tok}{b}")
        return "(" + " ".join(out) + ")"

    return _FIELD_GROUP_RE.sub(_dist, query)


def parse_query(
    query: str, keyword_fields: tuple[str, ...] | None = None
) -> dict[str, float]:
    """query string → {term: qweight}; duplicated terms weight 2x (F3).

    ``field:value`` tokens are field-qualified keyword terms (reference:
    Katta.java:825-826 parses queries with a KeywordAnalyzer QueryParser,
    so field terms are matched verbatim, case preserved) — but ONLY for
    fields the index actually declares (``keyword_fields``, carried on the
    handle). Any other colon-bearing token (URLs, 'a:b' noise) falls back
    to the standard analyzer, like Lucene analyzing an unknown-field text
    query, so e.g. 'http://x.com' matches [http, x, com] instead of
    becoming an unmatchable verbatim term."""
    query = fold_spaced_fields(query)
    fields = set(keyword_fields or ())
    qw: dict[str, float] = {}
    for raw in query.split():
        raw, boost = split_boost(raw)
        fld, sep, rest = raw.partition(":")
        if sep and rest and fld in fields:
            qw[raw] = qw.get(raw, 0.0) + boost
        else:
            for t in tokenize_str(raw):
                qw[t] = qw.get(t, 0.0) + boost
    return qw


# Lucene QueryParser boost suffix: term^2 / term^0.5 multiplies the clause's
# score contribution (Katta exposes the full parser, Katta.java:825-826).
_BOOST_RE = None  # compiled lazily below


def split_boost(raw: str) -> tuple[str, float]:
    """``term^2.5`` → ("term", 2.5); no suffix → ("term", 1.0)."""
    global _BOOST_RE
    if _BOOST_RE is None:
        import re as _re

        _BOOST_RE = _re.compile(r"^(.*)\^(\d+(?:\.\d+)?)$")
    m = _BOOST_RE.match(raw)
    if m and m.group(1):
        return m.group(1), float(m.group(2))
    return raw, 1.0


def parse_bool_query(
    query: str, keyword_fields: tuple[str, ...] | None = None
) -> tuple[dict[str, float], set[str], set[str], list[tuple[list[str], int]]]:
    """Lucene-QueryParser-style boolean clauses (F2 — the syntax Katta
    exposes verbatim through Lucene's QueryParser, Katta.java:825-826):

    - ``+term``    MUST: the doc must contain the term (it also scores)
    - ``-term``    MUST_NOT: the doc must not contain the term (never scores)
    - ``"a b c"``  phrase: the doc must contain the exact consecutive token
                   sequence, executed against the index's positional
                   postings alone (LuceneServer.java:682 runs PhraseQuery
                   per shard with no stored-text access); each phrase
                   token scores as a normal term. Phrases are MUST clauses
                   here (a documented simplification of Lucene's
                   default-OR bare phrase; negated phrases are rejected).
    - ``"a b"~N``  proximity (sloppy) phrase, Lucene SloppyPhraseMatcher
                   semantics: token i's positions are adjusted by its
                   phrase offset and the doc matches iff max(adj) -
                   min(adj) <= N over distinct chosen positions —
                   reorderings are admitted at their displacement cost
                   ('"b a"~2' matches an adjacent "a b"; the r3
                   ordered-only divergence is closed).
    - plain terms  SHOULD: score when present.

    Returns (qweights, must, must_not, phrases): qweights covers every
    SCORING term (should + must + phrase tokens), duplicated clauses
    weight additively like parse_query. Each phrases entry is
    ``(tokens, slop)`` with slop 0 for exact phrases.
    """
    import re as _re

    query = fold_spaced_fields(query)
    fields = set(keyword_fields or ())
    qw: dict[str, float] = {}
    must: set[str] = set()
    must_not: set[str] = set()
    phrases: list[list[str]] = []

    def _terms_of(raw: str) -> list[str]:
        fld, sep, val = raw.partition(":")
        if sep and val and fld in fields:
            return [raw]
        return tokenize_str(raw)

    def _phrase(m: "_re.Match") -> str:
        sign, fldpfx, body, slop_g, boost_g = m.groups()
        if fldpfx and fldpfx[:-1] in fields:
            # Keyword-field quoted value — KeywordAnalyzer semantics
            # (Katta parses with a KeywordAnalyzer QueryParser,
            # Katta.java:825-826): ``tool:"web search"`` is ONE verbatim
            # term on that field (value case+spaces preserved), NOT a
            # positional phrase — the only way to query keyword values
            # containing whitespace, and it needs no positions.
            if slop_g:
                raise ValueError(
                    f"slop on keyword field value {m.group(0)!r} is not "
                    "supported (KeywordAnalyzer indexes the value "
                    "verbatim; there are no positions to slop over)"
                )
            term = fldpfx + body
            if sign == "-":
                must_not.add(term)
                return " "
            boost = float(boost_g[1:]) if boost_g else 1.0
            qw[term] = qw.get(term, 0.0) + boost
            if sign == "+":
                must.add(term)
            return " "
        if fldpfx:
            # undeclared field: keep the analyzed fallback exactly as if
            # the prefix were a separate token (it re-enters `rest`)
            out = f" {sign}{fldpfx} "
            sign = ""
        else:
            out = " "
        if sign == "-":
            raise ValueError("negated phrases are not supported")
        slop = int(slop_g[1:]) if slop_g else 0
        # '"a b"^2' boosts every phrase token (Lucene boosts the clause)
        boost = float(boost_g[1:]) if boost_g else 1.0
        toks = tokenize_str(body)
        if toks:
            phrases.append((toks, slop))
            for t in toks:
                qw[t] = qw.get(t, 0.0) + boost
                must.add(t)
        return out

    rest = _re.sub(
        r'([+-]?)([A-Za-z_][\w.]*:)?"([^"]*)"(~\d+)?(\^\d+(?:\.\d+)?)?',
        _phrase,
        query,
    )
    for raw in rest.split():
        if raw.startswith("+") and len(raw) > 1:
            clause, boost = split_boost(raw[1:])
            for t in _terms_of(clause):
                qw[t] = qw.get(t, 0.0) + boost
                must.add(t)
        elif raw.startswith("-") and len(raw) > 1:
            # a boost on MUST_NOT is meaningless (the clause never scores)
            must_not.update(_terms_of(split_boost(raw[1:])[0]))
        else:
            clause, boost = split_boost(raw)
            for t in _terms_of(clause):
                qw[t] = qw.get(t, 0.0) + boost
    return qw, must, must_not, phrases


def parse_tree_query(
    query: str, keyword_fields: tuple[str, ...] | None = None
) -> tuple[tuple, dict[str, float]]:
    """Grouped boolean queries — Lucene QueryParser's explicit operator
    grammar (Katta.java:825-826): ``(a AND b) OR c``, ``NOT d``, with
    parentheses. Returns ``(tree, qweights)`` where tree nodes are
    ``("term", t)`` / ``("and", [children])`` / ``("or", [children])`` /
    ``("not", child)``.

    Grammar (precedence low→high): OR (also implicit juxtaposition —
    Lucene's default-OR), AND, unary NOT, parens. Uppercase AND/OR/NOT
    only, like Lucene. NOT children follow Lucene's occur-flag model: a
    NOT clause is a MUST_NOT of its ENCLOSING boolean, so ``a NOT b`` ≡
    ``a OR NOT b`` ≡ (a) AND NOT (b), and a level with only NOT clauses
    matches nothing. Scoring follows BooleanQuery: a doc's score sums
    the contributions of the sub-clauses that MATCH on its matching path
    (a non-matching AND group contributes nothing even if one of its
    terms is present). Leaf nodes carry their own boost —
    ``("term", t, boost)`` — and duplicate leaves each contribute once,
    so ``a OR a`` scores 2x like the flat parse of ``a a`` (qweights in
    the returned dict are informational sums; the kernel scores per
    leaf)."""
    import re as _re

    query = fold_spaced_fields(query)
    toks = _re.findall(r"\(|\)|[^\s()]+", query)
    fields = set(keyword_fields or ())
    qw: dict[str, float] = {}
    pos = 0

    def _leaf(raw: str):
        base, boost = split_boost(raw)
        fld, sep, val = base.partition(":")
        if sep and val and fld in fields:
            terms = [base]
        else:
            terms = tokenize_str(base)
        if not terms:
            return None
        for t in terms:
            qw[t] = qw.get(t, 0.0) + boost
        # the boost lives ON THE LEAF: the kernel's per-term contribution
        # is unweighted and each leaf occurrence multiplies by its own
        # boost, so 'a OR a' scores 2x (the flat-parse precedent) instead
        # of the 4x a global additive weight would square into
        if len(terms) == 1:
            return ("term", terms[0], boost)
        # a raw token that analyzes into several tokens (e.g. 'foo-bar')
        # becomes a conjunctive group — the conservative reading
        return ("and", [("term", t, boost) for t in terms])

    def peek():
        return toks[pos] if pos < len(toks) else None

    def take():
        nonlocal pos
        t = toks[pos]
        pos += 1
        return t

    def parse_or():
        children = [parse_and()]
        while peek() is not None and peek() != ")":
            if peek() == "OR":
                take()
            children.append(parse_and())
        children = [c for c in children if c is not None]
        if not children:
            return None
        return children[0] if len(children) == 1 else ("or", children)

    def parse_and():
        children = [parse_not()]
        while peek() == "AND":
            take()
            children.append(parse_not())
        children = [c for c in children if c is not None]
        if not children:
            return None
        return children[0] if len(children) == 1 else ("and", children)

    def parse_not():
        if peek() == "NOT":
            take()
            child = parse_not()
            if child is None:
                raise ValueError("NOT requires an operand")
            return ("not", child)
        return parse_primary()

    def parse_primary():
        t = peek()
        if t is None or t in (")", "AND", "OR"):
            raise ValueError(f"unexpected token {t!r} in boolean query")
        if t == "(":
            take()
            node = parse_or()
            if peek() != ")":
                raise ValueError("unbalanced parentheses in boolean query")
            take()
            return node
        leaf_tok = take()
        # Plain field groups 'role:(user admin)' distribute in
        # fold_spaced_fields before reaching this grammar; what still
        # lands here is the undistributed residue (quoted bodies, nested
        # groups) — analyzing the dangling 'role:' as a default-field
        # term would silently score the WORD 'role', so refuse instead.
        if leaf_tok.endswith(":") and peek() == "(":
            raise ValueError(
                f"field grouping {leaf_tok}(...) with quoted or nested "
                f"members is not supported — write "
                f"({leaf_tok}a OR {leaf_tok}b) instead"
            )
        return _leaf(leaf_tok)

    tree = parse_or()
    if pos != len(toks):
        raise ValueError("unbalanced parentheses in boolean query")
    if tree is None:
        raise ValueError("empty boolean query")
    return tree, qw


def tree_terms(tree: tuple, positive: bool = True) -> tuple[set, set]:
    """(positive_terms, negated_terms) of a parse_tree_query tree."""
    pos_s: set = set()
    neg_s: set = set()

    def walk(node, sign):
        kind = node[0]
        if kind == "term":
            (pos_s if sign else neg_s).add(node[1])
        elif kind == "not":
            walk(node[1], not sign)
        else:
            for ch in node[1]:
                walk(ch, sign)

    walk(tree, positive)
    return pos_s, neg_s


# Lucene guards wildcard rewrites with BooleanQuery.maxClauseCount (default
# 1024): a broad prefix over a web-scale vocabulary must error, not build a
# million-clause query. Same analog here.
MAX_WILDCARD_EXPANSIONS = 1024


def _capped_terms(terms: list[str], cap: int, clause: str, hint: str) -> list[str]:
    """One rewrite clause's expansion, refusing more than ``cap`` terms
    (Lucene's maxClauseCount analog)."""
    if len(terms) > cap:
        raise ValueError(
            f"{clause} expands to more than {cap} terms (Lucene "
            f"maxClauseCount analog) — {hint} max_expansions"
        )
    return terms


def expand_wildcards(
    spark: SparkSession,
    index: "IndexHandle",
    query: str,
    max_expansions: int = MAX_WILDCARD_EXPANSIONS,
) -> dict[str, float]:
    """P5 query rewrite: prefix wildcards (``ab*``) expand against the term
    dictionary, like Lucene's per-shard rewrite of WildcardQuery
    (LuceneServer.java:602-624; reference test query 'text:ab*',
    LuceneClientTest.java:310). Expansion is global (stats table) so all
    shards score the same rewritten term set.

    Expansion is capped at ``max_expansions`` terms per wildcard (Lucene's
    maxClauseCount analog): a scan collects at most cap+1 terms — a
    too-broad prefix fails fast without pulling the vocabulary through
    the driver.

    Fuzzy terms (``term~`` / ``term~1`` — Lucene QueryParser FuzzyQuery
    syntax) expand the same way, to every analyzed dictionary term within
    the given Levenshtein distance (default 2, computed JVM-side with
    ``F.levenshtein``'s bounded form); each expanded term scores as a
    normal OR term (the scoring-rewrite simplification used for wildcards,
    documented vs Lucene's similarity-boosted rewrite).

    Prefix and pattern wildcards expand against the term dictionary
    (``TermDict.match``, no Spark job); fuzzy terms scan the stats
    relation in the JVM."""
    import re as _re

    qw: dict[str, float] = {}
    td = index.term_dict()

    def _collect_capped(terms, clause: str, boost: float = 1.0) -> None:
        for t in _capped_terms(
            terms, max_expansions, repr(clause), "narrow it or raise"
        ):
            qw[t] = qw.get(t, 0.0) + boost

    def _fuzzy(frame, clause: str, boost: float) -> None:
        rows = frame.select("term").limit(max_expansions + 1).collect()
        _collect_capped([r["term"] for r in rows], clause, boost)

    kw = set(index.keyword_fields or ())
    for raw in query.split():
        # strip a '^boost' suffix FIRST so 'ab*^2' boosts the expansion
        # instead of silently falling through to the plain-term parser
        raw_clause, boost = split_boost(raw)
        fld, sep, val = raw_clause.partition(":")
        if sep and fld in kw and val and any(c in val for c in "*?~"):
            # Field-qualified rewrites — the reference's own test shape
            # ('foo: b*', LuceneServerTest.java; Lucene rewrites
            # WildcardQuery/FuzzyQuery per field): expand against THIS
            # field's verbatim keyword terms. Values keep their case,
            # consistent with parse_query's KeywordAnalyzer semantics
            # (a documented divergence from Lucene 3.5's
            # lowercaseExpandedTerms default).
            pfx = fld + ":"
            fz_f = _re.fullmatch(r"([\w.-]+)~([0-2]?)", val)
            if fz_f:
                word, dist = fz_f.group(1), int(fz_f.group(2) or 2)
                _fuzzy(
                    index.stats(spark)
                    .where(F.col("term").startswith(pfx))
                    .where(
                        F.abs(
                            F.length("term") - F.lit(len(pfx) + len(word))
                        ) <= F.lit(dist)
                    )
                    .where(
                        F.levenshtein(
                            F.col("term").substr(
                                F.lit(len(pfx) + 1), F.length("term")
                            ),
                            F.lit(word),
                            dist,
                        ) >= 0
                    ),
                    raw,
                    boost,
                )
            elif _re.fullmatch(r"[\w.*?-]+", val):
                if val[0] in "*?":
                    raise ValueError(
                        f"leading wildcard in {raw!r} is not allowed "
                        "(Lucene QueryParser default) — anchor the pattern"
                    )
                parts = _re.split(r"([*?])", val)
                rx_val = "".join(
                    "[^:]*" if p == "*" else "[^:]" if p == "?"
                    else _re.escape(p)
                    for p in parts
                )
                lit_pre = pfx + (parts[0] if parts[0] not in "*?" else "")
                rx = "^" + _re.escape(fld) + ":" + rx_val + "$"
                _collect_capped(
                    td.match(lit_pre, rx, limit=max_expansions), raw, boost
                )
            else:
                raise ValueError(
                    f"invalid field-qualified rewrite {raw!r}: fuzzy "
                    "distance must be 0-2 (field:value~N), wildcard "
                    "values must be [\\w.*?-]+ with no leading wildcard"
                )
            continue
        low = raw_clause.lower()
        fz = _re.fullmatch(r"([a-z0-9]+)~([0-2]?)", low)
        if _re.fullmatch(r"[a-z0-9]+\*", low):
            _collect_capped(
                td.match(low[:-1], bare=True, limit=max_expansions), raw, boost
            )
        elif _re.fullmatch(r"[a-z0-9*?]+", low) and ("*" in low or "?" in low):
            # general pattern wildcards (te*t, t?st — WildcardQuery);
            # leading wildcards are refused like Lucene's QueryParser
            # default (allowLeadingWildcard=false: an unanchored scan of
            # the whole vocabulary per shard)
            if low[0] in "*?":
                raise ValueError(
                    f"leading wildcard in {raw!r} is not allowed (Lucene "
                    "QueryParser default) — anchor the pattern"
                )
            rx = "^" + low.replace("*", "[a-z0-9]*").replace("?", "[a-z0-9]") + "$"
            prefix = _re.match(r"[a-z0-9]*", low).group(0)
            _collect_capped(
                td.match(prefix, rx, limit=max_expansions), raw, boost
            )
        elif fz:
            word, dist = fz.group(1), int(fz.group(2) or 2)
            _fuzzy(
                index.stats(spark)
                .where(~F.col("term").contains(":"))
                # cheap length prefilter keeps the bounded levenshtein scan
                # from touching wildly different-length terms
                .where(
                    F.abs(F.length("term") - F.lit(len(word))) <= F.lit(dist)
                )
                .where(F.levenshtein(F.col("term"), F.lit(word), dist) >= 0),
                raw,
                boost,
            )
        else:
            # A clause that CONTAINS rewrite syntax but matched none of the
            # valid forms must error, not silently tokenize: 'term~3' would
            # otherwise score the literal token '3' (Lucene rejects
            # maxEdits > 2), and a malformed pattern would score its
            # fragments.
            if "~" in low or "*" in low or "?" in low:
                raise ValueError(
                    f"invalid wildcard/fuzzy clause {raw!r}: fuzzy distance "
                    "must be 0-2 (term~N), wildcards must be [a-z0-9*?]+ "
                    "with no leading wildcard"
                )
            for t, w in parse_query(raw, index.keyword_fields).items():
                qw[t] = qw.get(t, 0.0) + w
    return qw


import re as _re_mod

# Lucene QueryParser range syntax: field:[lo TO hi] inclusive,
# field:{lo TO hi} exclusive; '*' as an open bound (Katta exposes the full
# QueryParser surface, Katta.java:825-826; Lucene 3.5 TermRangeQuery
# compares term text lexicographically).
_RANGE_RE = _re_mod.compile(
    r"(?:([A-Za-z_][A-Za-z0-9_]*):)?([\[\{])\s*(\S+)\s+TO\s+(\S+)\s*([\]\}])"
    r"(\^\d+(?:\.\d+)?)?"
)

# Explicit-grammar boolean queries: uppercase AND/OR/NOT keywords (Lucene
# QueryParser convention — lowercase 'and' is just a term) or parentheses.
_TREE_RE = _re_mod.compile(r"(?:^|\s)(?:AND|OR|NOT)(?:\s|$)|[()]")


def expand_ranges(
    spark: SparkSession,
    index: "IndexHandle",
    query: str,
    max_expansions: int = MAX_WILDCARD_EXPANSIONS,
) -> dict[str, float]:
    """Term-range rewrite: ``field:[lo TO hi]`` expands against the term
    dictionary to every indexed ``field:value`` whose value sorts inside the
    bounds (lexicographic, Lucene TermRangeQuery semantics), each scoring as
    a normal OR term — the same scoring-rewrite precedent as
    ``expand_wildcards``. ``{lo TO hi}`` excludes the bounds; ``*`` opens a
    bound. A bare ``[lo TO hi]`` (no field) ranges over the ANALYZED default
    field's terms. Expansion is capped at ``max_expansions`` (Lucene
    maxClauseCount analog) and is global (stats table) so every shard scores
    the same rewritten term set.

    The non-range remainder of the query is rewritten by
    ``expand_wildcards`` (which itself falls back to plain parsing), so
    ranges, wildcards and plain terms compose."""
    qw: dict[str, float] = {}
    fields = set(index.keyword_fields or ())
    td = index.term_dict()

    def _expand(m: "_re_mod.Match") -> str:
        fld, lbr, lo, hi, rbr, boost_s = m.groups()
        boost = float(boost_s[1:]) if boost_s else 1.0
        if fld is not None and fld not in fields:
            raise ValueError(
                f"range on unknown keyword field {fld!r}; index declares "
                f"{sorted(fields)!r}"
            )
        if fld is None:
            # analyzed default field: term text is the value itself —
            # bounds are lowercased like the analyzer lowercases terms
            # (Lucene's lowercaseExpandedTerms default; keyword-field
            # bounds stay verbatim, KeywordAnalyzer semantics)
            lo, hi = lo.lower(), hi.lower()
        pfx = "" if fld is None else fld + ":"
        # the field's terms share the prefix, so comparing whole term
        # strings against prefixed bounds compares the values
        terms = td.match(
            pfx,
            lo=None if lo == "*" else pfx + lo, lo_incl=lbr == "[",
            hi=None if hi == "*" else pfx + hi, hi_incl=rbr == "]",
            bare=fld is None, limit=max_expansions,
        )
        for t in _capped_terms(
            terms, max_expansions, f"range {m.group(0)!r}",
            "narrow the bounds or raise",
        ):
            qw[t] = qw.get(t, 0.0) + boost
        return " "

    rest = _RANGE_RE.sub(_expand, query)
    for t, w in expand_wildcards(
        spark, index, rest, max_expansions=max_expansions
    ).items():
        qw[t] = qw.get(t, 0.0) + w
    return qw


# Columns the scoring kernels actually read — the shard reader fetches
# nothing else (notably not the positions blobs, which only phrase
# queries fetch, nor cf/sum_dl, which only build stats read).
_KERNEL_COLS = [
    "shard_id", "th", "df", "doc_ids", "tfs", "doclens", "skips",
    "max_tf", "min_dl", "block_max_tf", "block_min_dl",
]

def _local_df(
    spark: SparkSession, rows: list, columns: list[str] | None, schema: str
) -> DataFrame:
    """Arrow-backed LocalRelation from driver-side rows.

    ``spark.createDataFrame(list_of_tuples)`` plans as a parallelized RDD,
    so every job that consumes it — including a bare ``.collect()`` on a
    10-row result — pays a Python-deserialization stage (~1-3 s on cold
    workers). A pandas input plans as LocalTableScan: broadcast builds and
    result collects stay JVM/driver-local with no Python tasks.

    ``rows`` may also be a pandas frame; ``columns=None`` takes the names
    from the DDL ``schema`` string.
    """
    struct = _ddl_schema(schema)
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=columns or struct.names), struct
    )


# a DDL parse is a JVM round trip (~4 ms): each schema string is parsed once
_ddl_schema = functools.lru_cache(maxsize=256)(_parse_datatype_string)

# the numpy dtype Spark's Arrow path gives each column type in toPandas
_NP_TYPES = {
    "long": np.int64, "integer": np.int32, "float": np.float32,
    "double": np.float64, "boolean": np.bool_,
}


class Hits(ClassicDataFrame):
    """A result merged on the driver — Katta's client ``Hits``
    (Hits.java:34-51): the rows as pandas plus their DDL schema.

    ``collect``, ``toPandas``, ``count``, ``take``, ``head``, ``first``,
    ``isEmpty``, ``schema`` and ``columns`` answer from those rows with
    no JVM call, as a :func:`_local_df` frame of the same rows would; a
    column that holds NULLs keeps them as ``None``. The
    Spark relation is that frame, built the first time a Spark operator
    or ``_jdf`` needs it."""

    def __new__(cls, *args, **kwargs):
        # the classic DataFrame.__new__ calls __init__(jdf, session) itself
        return object.__new__(cls)

    def __init__(self, spark: SparkSession, rows, schema: str) -> None:
        struct = _ddl_schema(schema)
        if not isinstance(rows, pd.DataFrame):
            rows = pd.DataFrame(rows, columns=struct.names, dtype=object)

        def column(f) -> np.ndarray:
            col = rows[f.name]
            if col.dtype == object and any(v is None for v in col):
                return col.to_numpy(object)  # NULLs stay None, as collect returns them
            return col.to_numpy(_NP_TYPES.get(f.dataType.typeName(), object))

        self._pdf = pd.DataFrame({f.name: column(f) for f in struct.fields})
        self._ddl = schema
        self._rel = None
        self._session = spark
        self._sc = spark.sparkContext
        self.is_cached = False
        self._support_repr_html = False

    @property
    def _jdf(self):
        if self._rel is None:
            self._rel = _local_df(self._session, self._pdf, None, self._ddl)._jdf
        return self._rel

    @functools.cached_property
    def schema(self) -> StructType:
        return StructType.fromJson(_ddl_schema(self._ddl).jsonValue())

    def collect(self) -> list[Row]:
        row = Row(*self.columns)
        cols = (c.tolist() for _, c in self._pdf.items())
        return [row(*vals) for vals in zip(*cols)]

    def toPandas(self) -> pd.DataFrame:
        return self._pdf.copy()

    def count(self) -> int:
        return len(self._pdf)

    def isEmpty(self) -> bool:
        return self._pdf.empty

    def take(self, num: int) -> list[Row]:
        return self.collect()[:num]


# Positions arithmetic packs (candidate doc index, adjusted position) into
# one int64 key; adjusted positions are < 2^22 (MAX_DOCLEN 2^21 + phrase
# length), so 2^24 per-doc key space is safe and slop is clamped to it.
_POS_KEY_SPACE = np.int64(1 << 24)
_MAX_SLOP = (1 << 22) - 1

# Repeated-token sloppy phrases are verified per candidate doc with a
# distinct-occurrence assignment search; the configuration space is capped.
def _phrase_match_mask(
    cand: np.ndarray,
    tokens: list[str],
    slop: int,
    pdata: dict[str, tuple[np.ndarray, np.ndarray, np.ndarray]],
) -> np.ndarray:
    """Which candidate docs match the phrase — Lucene SloppyPhraseMatcher
    semantics (SloppyPhraseScorer in the Lucene 3.5 the reference embeds):
    token i's positions are adjusted by its phrase offset (adj = pos - i),
    and the doc matches iff tokens can be chosen at DISTINCT absolute
    positions with max(adj) - min(adj) <= slop. slop=0 degenerates to the
    exact consecutive phrase; reorderings cost their displacement, so
    '"b a"~2' matches an adjacent "a b" (the r3 ordered-only divergence is
    closed). Distinct tokens can never share an absolute position (one
    term per position), so the distinctness constraint only binds for
    phrases with REPEATED tokens, which take the per-doc assignment path.

    ``cand``: sorted candidate docIDs, every one already known to contain
    every phrase token (the kernel's must-set). ``pdata``: per token the
    FULL (doc_ids, tfs, flat positions) of its posting list in this shard.
    """
    m = len(tokens)
    nc = cand.size
    ok = np.zeros(nc, dtype=bool)
    if nc == 0:
        return ok
    slop = min(int(slop), _MAX_SLOP)
    # per-slot occurrence arrays restricted to candidate docs:
    # (doc index into cand, absolute pos, adjusted pos), plus a sorted
    # (doc_idx, adj) key array for O(log) window probes
    per_slot = []
    slot_keys = []
    for i, t in enumerate(tokens):
        d, tf, pos = pdata[t]
        occ_doc = np.repeat(d, tf)
        keep = np.isin(occ_doc, cand)
        di = np.searchsorted(cand, occ_doc[keep]).astype(np.int64)
        p_abs = pos[keep]
        adj = p_abs - i + m  # +m keeps adj strictly positive
        per_slot.append((di, p_abs, adj))
        slot_keys.append(np.sort(di * _POS_KEY_SPACE + adj))
    if len(set(tokens)) < m:
        return _phrase_match_repeats(nc, per_slot, slop, tokens)
    # A config with span <= slop exists iff SOME slot j occurrence is its
    # minimum adjusted position and every other slot has an adjusted
    # position within [anchor, anchor + slop] in the same doc.
    for j in range(m):
        dj, _, aj = per_slot[j]
        good = np.ones(dj.size, dtype=bool)
        lo = dj * _POS_KEY_SPACE + aj
        for i in range(m):
            if i == j:
                continue
            keys = slot_keys[i]
            if keys.size == 0:
                good[:] = False
                break
            li = np.searchsorted(keys, lo, side="left")
            good &= (li < keys.size) & (
                keys[np.minimum(li, keys.size - 1)] <= lo + slop
            )
        ok[dj[good]] = True
    return ok


def _phrase_match_repeats(
    nc: int, per_slot: list, slop: int, tokens: list[str]
) -> np.ndarray:
    """Distinct-occurrence phrase check for phrases with repeated tokens
    ('"a b a"') — polynomial in the occurrence counts, no configuration
    cap (the r4 itertools.product enumeration was exponential and raised
    past a defensive cap mid-job).

    Two structural facts make this easy. (1) Slots holding DIFFERENT
    tokens can never collide on an absolute position (one term occupies a
    position), so the distinct-positions constraint decomposes per token
    GROUP. (2) For a fixed window anchor ``a`` (candidate minimum
    adjusted position), the slot at phrase offset ``i`` accepts exactly
    the absolute positions ``p`` with ``a <= p - i + m <= a + slop`` — an
    INTERVAL of p whose endpoints grow with i — so within a group a
    system of distinct representatives exists iff the greedy sweep
    (offsets ascending, each taking the smallest unused position in its
    interval) completes: interval bipartite matching. A feasible
    assignment's minimum adjusted position is always some occurrence's
    adjusted position, so trying every such anchor is exhaustive.
    """
    m = len(tokens)
    ok = np.zeros(nc, dtype=bool)
    # one entry per DISTINCT token: (ascending phrase offsets using it,
    # that token's (doc-index, abs-position) occurrence arrays — identical
    # across its slots, so taken from the first)
    by_tok: dict[str, list[int]] = {}
    for i, t in enumerate(tokens):
        by_tok.setdefault(t, []).append(i)
    groups = [
        (offs, per_slot[offs[0]][0], per_slot[offs[0]][1])
        for offs in by_tok.values()
    ]
    for c in range(nc):
        pos_by_g = [p_abs[di == c] for _, di, p_abs in groups]
        anchors = np.unique(
            np.concatenate(
                [
                    (p[None, :] - np.asarray(offs)[:, None] + m).ravel()
                    for (offs, _, _), p in zip(groups, pos_by_g)
                ]
            )
        )
        for a in anchors:
            good = True
            for (offs, _, _), p in zip(groups, pos_by_g):
                ptr = 0
                for i in offs:
                    lo = a + i - m
                    # positions consumed or skipped at earlier (smaller-lo)
                    # offsets stay unusable — the pointer never rewinds
                    ptr += int(np.searchsorted(p[ptr:], lo))
                    if ptr >= p.size or p[ptr] > lo + slop:
                        good = False
                        break
                    ptr += 1
                if not good:
                    break
            if good:
                ok[c] = True
                break
    return ok


def _empty_hits(score_dtype: str, with_total: bool = False) -> pd.DataFrame:
    cols = {
        "shard_id": pd.array([], dtype="int32"),
        "doc_id": pd.array([], dtype="int64"),
        "score": pd.array([], dtype=score_dtype),
    }
    if with_total:
        cols["shard_total"] = pd.array([], dtype="int64")
    return pd.DataFrame(cols)


def _tree_has_not(node: tuple) -> bool:
    if node[0] == "term":
        return False
    if node[0] == "not":
        return True
    return any(_tree_has_not(c) for c in node[1])


def _tree_leaves(node: tuple) -> list[tuple[str, float]]:
    if node[0] == "term":
        return [(node[1], node[2])]
    kids = [node[1]] if node[0] == "not" else node[1]
    out: list[tuple[str, float]] = []
    for c in kids:
        out.extend(_tree_leaves(c))
    return out


def _make_tree_kernel(
    tree: tuple,
    n_docs: float,
    avgdl: float,
    k: int,
    score_dtype: str = "float32",
    stats: dict | None = None,
):
    """Per-shard MaxScore kernel of a NOT-free grouped boolean query
    (parse_tree_query) — the pruned tree path.

    Scoring is BooleanQuery's path-sum: a node's score sums the scores of
    its MATCHING children only — a failed AND group contributes nothing
    even when one of its terms is present.

    The tree is viewed as an OR of top-level children; children are
    evaluated in descending impact-bound order (:func:`_tree_top_order`),
    every accumulated doc is known to MATCH (it entered via a matching
    child), so θ = kth best accumulated score is a valid lower bound, and
    a child whose bound + suffix cannot reach θ is evaluated RESTRICTED to
    the accumulated docs — decoding only the postings blocks that contain
    them (skip pointers). Because bounds are sorted descending, once one
    child is restricted every later child is too, so no doc is ever
    introduced after a restricted evaluation — scores stay exact (the
    same argument as the flat MaxScore kernel; fuzz-tested against the
    clause kernel). Inside AND groups the intersection narrows with
    skip-pointer block decoding.

    A filter or tombstone set (the DocFilter second argument) masks each
    leaf's decoded docs, so every accumulated doc is an allowed match and
    θ stays a valid bound — pruning carries on under deletions, as
    Lucene's scorers skip blocks under ``acceptDocs``.

    :func:`search` builds it only for prunable trees; trees with NOT
    (bounds don't compose through negation), totals (exact counts must
    visit every match), cursors or docvalue collectors run in
    :func:`_make_clause_kernel`.

    ``stats`` (tests): counts blocks_decoded / blocks_total."""

    def kernel(pdf: pd.DataFrame, filter_docs=None) -> pd.DataFrame:
        shard_id = int(pdf["shard_id"].iloc[0])
        idf_col = scoring.idf_np(pdf["df_g"].to_numpy(np.float64), n_docs)
        tf_max = scoring.tf_norm_np(
            pdf["max_tf"].to_numpy(), pdf["min_dl"].to_numpy(), avgdl
        )
        rows_map = {
            row.term: (row, idf, tfm)
            for row, idf, tfm in zip(pdf.itertuples(index=False), idf_col, tf_max)
        }

        def _count(decoded: int, total_b: int) -> None:
            if stats is not None:
                stats["blocks_decoded"] = stats.get("blocks_decoded", 0) + decoded
                stats["blocks_total"] = stats.get("blocks_total", 0) + total_b

        docs, sc = _pruned_tree_topk(tree, rows_map, avgdl, k, _count, filter_docs)
        if docs is None:
            return _empty_hits(score_dtype)
        sc = sc.astype(score_dtype)
        if docs.size > k:
            order = np.lexsort((docs, -sc.astype(np.float64)))[:k]
            docs, sc = docs[order], sc[order]
        return pd.DataFrame(
            {
                "shard_id": np.full(docs.size, shard_id, dtype=np.int32),
                "doc_id": docs,
                "score": pd.array(sc, dtype=score_dtype),
            }
        )

    return kernel


def _tree_top_order(
    tree: tuple, impact: dict[str, float]
) -> tuple[list, list[float]]:
    """The tree's top-level children (an OR's children, else the tree
    itself) in descending impact-bound order, with their bounds: a
    child's bound is Σ leaf boost × ``impact[term]``, where impact is the
    term's idf × tf_norm(max_tf, min_dl) in this shard (0 without a row).
    The pruned tree path evaluates the children in this order and the
    clause kernel sums them in it, so both add a doc's child scores in
    the same order and score it bit-identically."""
    children = list(tree[1]) if tree[0] == "or" else [tree]
    bounds = [
        sum(b * impact.get(t, 0.0) for t, b in _tree_leaves(ch))
        for ch in children
    ]
    order = np.argsort(bounds)[::-1]
    return [children[i] for i in order], [bounds[i] for i in order]


def _pruned_tree_topk(
    tree: tuple, rows_map: dict, avgdl: float, k: int, count, flt=None
):
    """MaxScore-style evaluation of a NOT-free tree (see _make_tree_kernel
    docstring for the soundness argument) over the docs ``flt`` keeps.
    Returns (docs, scores) over every allowed doc that matched a
    fully-evaluated child — a superset of the exact top-k, each with its
    EXACT score."""
    MARGIN = 1.0 + 1e-9
    children, bounds = _tree_top_order(
        tree, {t: idf * tfm for t, (_, idf, tfm) in rows_map.items()}
    )
    suffix = np.concatenate([np.cumsum(bounds[::-1])[::-1][1:], [0.0]])

    # Per-kernel decode cache: a term appearing as several leaves (or
    # re-evaluated under different AND restricts) decodes at most its
    # total block count — the second request upgrades to a cached full
    # decode, and the block charge per term is capped at nblocks, so the
    # pruned path NEVER decodes more than the full path.
    full_cache: dict[str, tuple] = {}
    charged: dict[str, int] = {}
    requested: set[str] = set()

    def _term_decode(t: str, restrict: np.ndarray | None):
        row, idf, _ = rows_map[t]
        skips = read_skips(row.skips)
        nb = skips.shape[0]
        if t not in requested:
            requested.add(t)
            count(0, nb)

        def _charge(n: int) -> None:
            prev = charged.get(t, 0)
            add = max(0, min(n, nb - prev))
            charged[t] = prev + add
            count(add, 0)

        if t in full_cache:
            return full_cache[t] + (idf,)
        if restrict is None or nb <= 1 or charged.get(t, 0):
            d, tf, dl = decode_posting_list(row.doc_ids, row.tfs, row.doclens)
            full_cache[t] = (d, tf, dl)
            _charge(nb)
            return d, tf, dl, idf
        firsts = skips["first_doc"]
        idx = np.searchsorted(
            firsts, i64_to_u64_order(restrict), side="right"
        ) - 1
        need = np.unique(np.clip(idx, 0, nb - 1))
        d, tf, dl = decode_blocks(
            row.doc_ids, row.tfs, row.doclens, row.skips, need, int(row.df)
        )
        _charge(need.size)
        return d, tf, dl, idf

    def ev(node, restrict: np.ndarray | None):
        """Exact (docs, scores) of the subtree; if ``restrict`` is given,
        exact over restrict's docs only (both sorted)."""
        kind = node[0]
        if kind == "term":
            t, boost = node[1], node[2]
            if t not in rows_map:
                return np.empty(0, np.int64), np.empty(0, np.float64)
            d, tf, dl, idf = _term_decode(t, restrict)
            # restrict's docs were masked when they accumulated
            keep = _keep_mask(d, flt) if restrict is None else np.isin(d, restrict)
            if keep is not None:
                d, tf, dl = d[keep], tf[keep], dl[keep]
            # boost × (idf × tf_norm): the clause kernel's leaf product
            return d, boost * (idf * scoring.tf_norm_np(tf, dl, avgdl))
        if kind == "and":
            docs, scores = ev(node[1][0], restrict)
            for ch in node[1][1:]:
                if docs.size == 0:
                    return docs, scores
                d2, s2 = ev(ch, docs)  # d2 ⊆ docs, sorted
                pos = np.searchsorted(docs, d2)
                scores = scores[pos] + s2
                docs = d2
            return docs, scores
        # or: union-merge summing matching children's scores
        parts = [ev(ch, restrict) for ch in node[1]]
        parts = [(d, s) for d, s in parts if d.size]
        if not parts:
            return np.empty(0, np.int64), np.empty(0, np.float64)
        if len(parts) == 1:
            return parts[0]
        docs_cat = np.concatenate([d for d, _ in parts])
        s_cat = np.concatenate([s for _, s in parts])
        docs_u, inv = np.unique(docs_cat, return_inverse=True)
        scores = np.zeros(docs_u.size, dtype=np.float64)
        np.add.at(scores, inv, s_cat)
        return docs_u, scores

    acc_docs: np.ndarray | None = None
    acc_scores: np.ndarray | None = None
    theta = -np.inf
    for i, child in enumerate(children):
        restrict = None
        if (
            acc_docs is not None
            and acc_docs.size >= k
            and (bounds[i] + suffix[i]) * MARGIN < theta
        ):
            restrict = acc_docs
        d, s = ev(child, restrict)
        if d.size == 0:
            continue
        if acc_docs is None:
            acc_docs, acc_scores = d, np.asarray(s, dtype=np.float64)
        else:
            pos_in = np.searchsorted(acc_docs, d)
            pos_c = np.minimum(pos_in, max(acc_docs.size - 1, 0))
            hit = acc_docs[pos_c] == d
            acc_scores[pos_c[hit]] += s[hit]
            if not hit.all():
                new_d, new_s = d[~hit], s[~hit]
                ins = np.searchsorted(acc_docs, new_d)
                acc_docs = np.insert(acc_docs, ins, new_d)
                acc_scores = np.insert(acc_scores, ins, new_s)
        if acc_docs.size >= k:
            theta = np.partition(acc_scores, acc_scores.size - k)[
                acc_scores.size - k
            ]
    if acc_docs is None or acc_docs.size == 0:
        return None, None
    return acc_docs, acc_scores


def _eval_tree_scores(
    tree: tuple, per_term: dict
) -> "tuple[np.ndarray | None, np.ndarray | None]":
    """Evaluate a parse_tree_query tree over decoded postings.

    ``per_term``: term → (sorted docIDs, UNWEIGHTED BM25 contributions).
    Returns (matched docs sorted, float64 scores) or (None, None) when no
    positive term has postings. Scoring is
    BooleanQuery's path-sum: a node's score sums the scores of its
    MATCHING children only; Lucene occur-flag NOT semantics ('a NOT b' ≡
    'a OR NOT b' ≡ (a) AND NOT (b); a level with only NOT children
    matches nothing)."""
    pos_terms, _ = tree_terms(tree)
    pos_arrays = [per_term[t][0] for t in sorted(pos_terms) if t in per_term]
    if not pos_arrays:
        return None, None
    universe = np.unique(np.concatenate(pos_arrays))
    n = universe.size

    def leaf(t: str, boost: float) -> tuple[np.ndarray, np.ndarray]:
        m = np.zeros(n, dtype=bool)
        s = np.zeros(n, dtype=np.float64)
        if t in per_term:
            d, c = per_term[t]
            ix = np.searchsorted(universe, d)
            ok = (ix < n) & (universe[np.minimum(ix, n - 1)] == d)
            m[ix[ok]] = True
            s[ix[ok]] = boost * c[ok]
        return m, s

    def ev(node) -> tuple[np.ndarray, np.ndarray]:
        kind = node[0]
        if kind == "term":
            return leaf(node[1], node[2])
        if kind == "not":
            # bare top-level NOT (or nested not-of-not): pure negative
            return np.zeros(n, dtype=bool), np.zeros(n, dtype=np.float64)
        pos_parts, neg_ms = [], []
        for ch in node[1]:
            if ch[0] == "not":
                neg_ms.append(ev(ch[1])[0])
            else:
                pos_parts.append(ev(ch))
        if not pos_parts:
            return np.zeros(n, dtype=bool), np.zeros(n, dtype=np.float64)
        ms = [p[0] for p in pos_parts]
        s = np.zeros(n, dtype=np.float64)
        for mi, si in pos_parts:
            s += np.where(mi, si, 0.0)
        m = (
            np.logical_and.reduce(ms)
            if kind == "and"
            else np.logical_or.reduce(ms)
        )
        for nm in neg_ms:
            m = m & ~nm
        return m, s

    m, s = ev(tree)
    return universe[m], s[m]


def _impact_order(wts: np.ndarray, tf_max: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(order, bounds) of a shard's scoring terms — MaxScore ordering:
    each term's score upper bound qweight × idf × tf_norm(max_tf, min_dl)
    (``wts`` = qweight × idf and ``tf_max`` = tf_norm(max_tf, min_dl) per
    term), and the processing order that sorts the bounds descending.
    The flat and clause kernels both sum a doc's per-term contributions
    in this order, so they score it bit-identically (search_after
    compares scores exactly). Ties fall as in a descending pandas
    ``sort_values`` (an argsort of the reversed array, reversed), which
    keeps scores bit-identical to the kernels that sorted with pandas."""
    bounds = wts * tf_max
    order = (bounds.size - 1 - bounds[::-1].argsort())[::-1]
    return order, bounds[order]


def _make_score_kernel(
    qweights: dict[str, float],
    n_docs: float,
    avgdl: float,
    k: int,
    prune: bool,
    score_dtype: str = "float32",
    with_total: bool = False,
):
    """Per-shard scoring kernel of a flat OR query (``KERNEL_MODES["or"]``).

    Input: the ≤len(query) postings rows of one shard, plus an optional
    per-shard array of allowed docIDs (the filter — Katta's
    Filter restricts the matched set without affecting scores, P2).
    Output: that shard's top-k (shard_id, doc_id, score) — the analog of
    Katta's per-shard TopScoreDocCollector capped at min(limit, maxDoc)
    (LuceneServer.java:664-679) — and, when ``with_total``, the shard's
    exact match count (totalHits partial, Hits.java:34-51).

    Clause forms (MUST/MUST_NOT, phrases, min_should_match, synonyms) and
    cursor paging run in :func:`_make_clause_kernel`."""

    def kernel(
        pdf: pd.DataFrame, filter_docs: np.ndarray | None = None
    ) -> pd.DataFrame:
        if not len(pdf):
            return _empty_hits(score_dtype, with_total)
        shard_id = int(pdf["shard_id"].iloc[0])
        # idf from the per-row GLOBAL df (attached from the query's term
        # dictionary slice in the task — no phase-1 job or join); terms
        # run in descending impact-bound order so the prune threshold
        # grows as fast as possible
        wts = np.array([qweights[t] for t in pdf["term"]]) * scoring.idf_np(
            pdf["df_g"].to_numpy(np.float64), n_docs
        )
        order, qimps = _impact_order(wts, scoring.tf_norm_np(
            pdf["max_tf"].to_numpy(), pdf["min_dl"].to_numpy(), avgdl
        ))
        # suffix[i] = Σ qimpact of terms AFTER position i — upper bound of
        # what a doc can still gain from the remaining (lower-impact) terms.
        suffix = np.concatenate([np.cumsum(qimps[::-1])[::-1][1:], [0.0]])
        MARGIN = 1.0 + 1e-9  # guard float rounding of the bound arithmetic

        theta = -np.inf  # running lower bound of the k-th best score
        # Exact accumulation: upper bounds only *skip decoding blocks* that
        # provably cannot create a NEW top-k entry AND contain no already-
        # accumulated candidate (whose exact score must stay exact).
        # The accumulator is kept SORTED by doc_id (postings decode in
        # sorted order), so each term merges in O(|acc| + |postings|) —
        # no per-term np.unique re-sort of the whole accumulated set
        # (that re-sort was O(T·M log M) and quadratic-ish for a 500-term
        # wildcard expansion). Per doc the sum runs in term order.
        acc_docs: np.ndarray | None = None  # int64, sorted ascending
        acc_scores: np.ndarray | None = None

        rows = pdf.iloc[order].itertuples(index=False)
        for pos, (row, w) in enumerate(zip(rows, wts[order])):
            # block-max bound: idf * tf_norm(block max_tf, block min_dl)
            bmi = w * scoring.tf_norm_np(
                vb_decode(row.block_max_tf), vb_decode(row.block_min_dl), avgdl
            )
            use_prune = prune and acc_docs is not None and acc_docs.size >= k
            if use_prune:
                # block is needed if it may contain an accumulated doc
                # (must stay exact) or its new-doc bound can reach θ.
                skips = read_skips(row.skips)
                firsts = skips["first_doc"]
                # acc_docs is sorted in int64 order == u64 order (the map
                # is order-preserving), so no sort is needed here.
                acc_u = i64_to_u64_order(acc_docs)
                # block bi covers [firsts[bi], firsts[bi+1])
                idx = np.searchsorted(firsts, acc_u, side="right") - 1
                has_acc = np.zeros(firsts.size, dtype=bool)
                has_acc[np.clip(idx, 0, firsts.size - 1)] = True
                can_enter = (bmi + suffix[pos]) * MARGIN >= theta
                need = has_acc | can_enter
                if not need.all():
                    sel = np.flatnonzero(need)
                    d, t, l = decode_blocks(
                        row.doc_ids, row.tfs, row.doclens, row.skips, sel, int(row.df)
                    )
                else:
                    d, t, l = decode_posting_list(row.doc_ids, row.tfs, row.doclens)
            else:
                d, t, l = decode_posting_list(row.doc_ids, row.tfs, row.doclens)

            keep = _keep_mask(d, filter_docs)
            if keep is not None:
                d, t, l = d[keep], t[keep], l[keep]
            contrib = w * scoring.tf_norm_np(t, l, avgdl)
            if acc_docs is None:
                acc_docs = d.copy()
                acc_scores = np.asarray(contrib, dtype=np.float64).copy()
            elif d.size:
                pos_in = np.searchsorted(acc_docs, d)
                pos_c = np.minimum(pos_in, max(acc_docs.size - 1, 0))
                hit = (
                    acc_docs[pos_c] == d
                    if acc_docs.size
                    else np.zeros(d.size, dtype=bool)
                )
                # docs are unique within a posting list → indices unique
                acc_scores[pos_c[hit]] += contrib[hit]
                if not hit.all():
                    new_d, new_c = d[~hit], contrib[~hit]
                    ins = np.searchsorted(acc_docs, new_d)
                    acc_docs = np.insert(acc_docs, ins, new_d)
                    acc_scores = np.insert(acc_scores, ins, new_c)
            if acc_docs.size >= k and k > 0:
                theta = np.partition(acc_scores, acc_scores.size - k)[
                    acc_scores.size - k
                ]

        if acc_docs is None or acc_docs.size == 0 or k <= 0:
            return _empty_hits(score_dtype, with_total)
        scores32 = acc_scores.astype(score_dtype)
        # top-k with exact tie-break: score DESC, doc_id ASC
        kk = min(k, acc_docs.size)
        order = np.lexsort((acc_docs, -scores32))[:kk]
        out = pd.DataFrame(
            {
                "shard_id": np.full(kk, shard_id, dtype=np.int32),
                "doc_id": acc_docs[order],
                "score": scores32[order],
            }
        )
        if with_total:
            out["shard_total"] = np.int64(acc_docs.size)
        return out

    return kernel


def _make_clause_kernel(
    plans: "list[_Clauses]",
    n_docs: float,
    avgdl: float,
    k: int,
    score_dtype: str,
    with_total: bool = False,
    cursor: tuple | None = None,
):
    """Per-shard kernel of every clause form, over one or more lowered
    queries (``plans``) at once — the single home of the clause
    semantics, like Lucene's per-shard BooleanQuery scorer
    (LuceneServer.java:682). It is a vectorized columnar evaluator: each
    distinct term decodes ONCE per shard, then every plan scores with a
    few numpy operators over those columns. It is the one unpruned
    evaluator: :func:`search` runs it for one plan (boolean queries,
    ``mode="and"`` — every term a MUST —, cursor pages and the trees
    :func:`_make_tree_kernel` cannot prune), :func:`explain_score` for
    one allowed doc and :func:`search_batch` for the whole batch.

    Input: one shard's postings rows of the plans' terms, plus an optional
    allow-array or DocFilter (the filter and the tombstone
    deny, applied through _keep_mask before anything scores). Output, per
    plan: the shard's top-k (query_id, shard_id, doc_id, score) — plus,
    when ``with_total``, the plan's exact shard match count before the
    cap. A searchAfter ``cursor`` masks candidates before the cap.
    Nothing is pruned: the clause masks apply after accumulation, so a θ
    bound over unmasked scores could not drive block skipping. A plan's
    terms accumulate in the flat kernel's order (_impact_order).

    Boolean clauses (parse_bool_query): MUST docs must contain every
    listed term (they score too — Lucene MUST clauses score); MUST_NOT
    docs are excluded and never score. Docs live wholly in one shard, so
    both masks are exact per shard.

    Phrases — (tokens, slop) — are verified ENTIRELY in-index against the
    positions blobs (Lucene executes PhraseQuery per shard with no
    stored-text access, LuceneServer.java:682): every phrase token is a
    MUST, so candidates are the must-intersection, then
    _phrase_match_mask applies Lucene's sloppy-span semantics. Surviving
    docs keep their BM25 scores unchanged.

    ``min_should`` — Lucene BooleanQuery.setMinimumNumberShouldMatch: a
    doc matches only if it contains at least this many DISTINCT optional
    (SHOULD) clauses; MUST clauses never count toward the minimum, and a
    synonym group counts as ONE clause (it matches when any member does).
    If the minimum exceeds the number of optional clauses the query
    matches nothing (Lucene rewrites that case to MatchNoDocsQuery).

    ``syn_groups`` — Lucene SynonymQuery blended scoring (what
    QueryParser emits when the analyzer chain holds a SynonymGraphFilter):
    each entry is ``(weight, group_df, members)``; the group scores as a
    SINGLE pseudo-term with tf = Σ member tfs per doc and df = max member
    GLOBAL df (SynonymQuery.java uses the max docFreq across terms), so
    a doc matching two synonyms is scored like one term seen twice, not
    twice over. group_df is resolved from global stats driver-side so
    every shard scores with the same idf.

    AND/OR/NOT trees evaluate through _eval_tree_scores, their top-level
    OR children summed in the pruned tree path's order
    (:func:`_tree_top_order`)."""
    phrase_terms = {t for p in plans for toks, _ in p.phrases for t in toks}

    def kernel(
        pdf: pd.DataFrame, filter_docs: np.ndarray | None = None
    ) -> pd.DataFrame:
        shard_id = int(pdf["shard_id"].iloc[0]) if len(pdf) else 0
        idf = scoring.idf_np(pdf["df_g"].to_numpy(np.float64), n_docs)
        tf_max = scoring.tf_norm_np(
            pdf["max_tf"].to_numpy(), pdf["min_dl"].to_numpy(), avgdl
        )
        # term -> (row, docs, tfs, doclens, tf_norm), filter applied;
        # phrase tokens also keep their FULL (docs, tfs, positions), taken
        # before the mask (the verify runs over masked candidates only)
        post: dict[str, tuple] = {}
        pos_data: dict[str, tuple] = {}
        for i, row in enumerate(pdf.itertuples(index=False)):
            d, t, l = decode_posting_list(row.doc_ids, row.tfs, row.doclens)
            if row.term in phrase_terms:
                pos_data[row.term] = (d, t, decode_positions(row.positions, t))
            keep = _keep_mask(d, filter_docs)
            if keep is not None:
                d, t, l = d[keep], t[keep], l[keep]
            post[row.term] = (i, d, t, l, scoring.tf_norm_np(t, l, avgdl))

        def clause_scores(p: _Clauses):
            """(docs, float64 scores) of a plan without a tree."""
            members = {m for _, _, mem in p.syn_groups for m in mem}
            should = [
                t for t in p.qweights if t not in p.must and t not in members
            ]
            if any(t not in post for t in p.must):
                return None, None  # a MUST term without postings here
            if p.min_should > len(should) + len(p.syn_groups):
                return None, None  # Lucene's MatchNoDocsQuery rewrite
            # in row order; members only take their place in the order:
            # they blend into their group's pseudo-term below
            terms = sorted(
                (t for t in (set(p.qweights) | members) - p.must_not if t in post),
                key=lambda t: post[t][0],
            )
            ix = np.array([post[t][0] for t in terms], dtype=np.int64)
            wts = np.array([p.qweights.get(t, 0.0) for t in terms]) * idf[ix]
            order, _ = _impact_order(wts, tf_max[ix])
            parts = [
                (post[terms[j]][1], wts[j] * post[terms[j]][4])
                for j in order if terms[j] not in members
            ]
            # blended synonym groups: member postings unioned with per-doc
            # tf SUMMED, scored ONCE with idf(max member global df)
            group_docs = []
            for weight, group_df, mem in p.syn_groups:
                # members without postings here, or with every posting
                # filtered or deleted, add nothing
                got = [post[m] for m in mem if m in post and post[m][1].size]
                if not got:
                    continue
                gd = np.concatenate([g[1] for g in got])
                gt = np.concatenate([g[2] for g in got]).astype(np.float64)
                gl = np.concatenate([g[3] for g in got]).astype(np.float64)
                order = np.argsort(gd, kind="stable")
                gd, gt, gl = gd[order], gt[order], gl[order]
                starts = np.flatnonzero(
                    np.concatenate([[True], gd[1:] != gd[:-1]])
                )
                tf_sum = np.add.reduceat(gt, starts)
                # doclen is a per-doc property — identical across members
                gd, gl = gd[starts], gl[starts]
                gidf = scoring.idf_np(np.array([group_df], np.float64), n_docs)
                parts.append(
                    (gd, weight * float(gidf[0]) * scoring.tf_norm_np(
                        tf_sum, gl, avgdl
                    ))
                )
                group_docs.append(gd)
            if not parts:
                return None, None
            # per doc, add.at sums the parts in list order
            docs, inv = np.unique(
                np.concatenate([d for d, _ in parts]), return_inverse=True
            )
            scores = np.zeros(docs.size, dtype=np.float64)
            np.add.at(scores, inv, np.concatenate([c for _, c in parts]))
            keep = np.ones(docs.size, dtype=bool)
            for t in p.must:
                keep &= np.isin(docs, post[t][1])
            for t in p.must_not:
                if t in post:
                    keep &= ~np.isin(docs, post[t][1])
            if p.min_should > 0:
                seen = [post[t][1] for t in should if t in post] + group_docs
                counts = np.zeros(docs.size, dtype=np.int64)
                for arr in seen:
                    counts += np.isin(docs, arr)
                keep &= counts >= p.min_should
            docs, scores = docs[keep], scores[keep]
            for toks, slop in p.phrases:
                if docs.size == 0:
                    break
                pm = _phrase_match_mask(docs, toks, slop, pos_data)
                docs, scores = docs[pm], scores[pm]
            return docs, scores

        tree_terms = impact = None
        # one empty array per column keeps the dtypes when nothing matches
        out_q, out_d = [np.empty(0, np.int32)], [np.empty(0, np.int64)]
        out_s = [np.empty(0, score_dtype)]
        out_t = [np.empty(0, np.int64)]
        for qi, p in enumerate(plans):
            if p.tree is None:
                docs, s64 = clause_scores(p)
            else:
                if tree_terms is None:
                    # UNWEIGHTED contributions: each leaf applies its boost
                    tree_terms = {
                        t: (v[1], idf[v[0]] * v[4]) for t, v in post.items()
                    }
                    impact = {t: idf[v[0]] * tf_max[v[0]] for t, v in post.items()}
                tree = p.tree
                if tree[0] == "or":
                    # the top-level children sum in the pruned path's order
                    tree = ("or", _tree_top_order(tree, impact)[0])
                docs, s64 = _eval_tree_scores(tree, tree_terms)
            if docs is None or docs.size == 0:
                continue
            sc = s64.astype(score_dtype)
            total = docs.size
            if cursor is not None:
                cm = _cursor_mask(sc, docs, shard_id, cursor)
                docs, sc = docs[cm], sc[cm]
            if docs.size > k:
                # top-k with exact tie-break: score DESC, doc_id ASC
                order = np.lexsort((docs, -sc.astype(np.float64)))[:k]
                docs, sc = docs[order], sc[order]
            out_q.append(np.full(docs.size, qi, dtype=np.int32))
            out_d.append(docs)
            out_s.append(sc)
            out_t.append(np.full(docs.size, total, dtype=np.int64))
        qs = np.concatenate(out_q)
        out = pd.DataFrame(
            {
                "query_id": qs,
                "shard_id": np.full(qs.size, shard_id, dtype=np.int32),
                "doc_id": np.concatenate(out_d),
                "score": np.concatenate(out_s),
            }
        )
        if with_total:
            out["shard_total"] = np.concatenate(out_t)
        return out

    return kernel


def _make_match_kernel(
    qweights: dict[str, float], n_docs: float, avgdl: float, k: int,
    score_dtype: str = "float32",
    with_total: bool = False,
):
    """Match-only kernel: the distinct docIDs matching ≥1 query term, no
    scoring, no stats — the cheap path for field-sorted search with
    track_scores=False (Katta skips score tracking unless asked,
    LuceneServer.java:97,145) and for coverage counts."""

    def kernel(
        pdf: pd.DataFrame, filter_docs: np.ndarray | None = None
    ) -> pd.DataFrame:
        if not len(pdf):
            return _empty_hits(score_dtype, with_total)
        shard_id = int(pdf["shard_id"].iloc[0])
        parts = [
            decode_posting_list(r.doc_ids, r.tfs, r.doclens)[0]
            for r in pdf.itertuples(index=False)
        ]
        docs = np.unique(np.concatenate(parts)) if parts else np.empty(0, np.int64)
        keep_m = _keep_mask(docs, filter_docs)
        if keep_m is not None:
            docs = docs[keep_m]
        kk = min(k, docs.size)
        out = pd.DataFrame(
            {
                "shard_id": np.full(kk, shard_id, dtype=np.int32),
                "doc_id": docs[:kk],
                "score": np.zeros(kk, dtype=score_dtype),
            }
        )
        if with_total:
            out["shard_total"] = np.int64(docs.size)
        return out

    return kernel


# The deny broadcasts of each SparkContext, keyed on (index dirs, tombstone
# signatures): a broadcast is bound to the context that made it, and a
# handle memoized across sessions (_OPEN_HANDLE_CACHE) must not carry one
# into the next session. A broadcast refers back to its context, so the
# entry of a stopped context lives as long as the process; it holds
# broadcast handles, not the id arrays.
_DENY_BROADCASTS: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def _deny_handle(spark: SparkSession, handles: list):
    """Broadcast of the searched indexes' deleted-id array (the in-RAM
    liveDocs analog, torrent-distributed to executors once); None without
    tombstones. DocIDs are globally unique over doc-disjoint indexes, so
    one sorted union array is exact."""
    tagged = [(h, h.deleted_array(spark)) for h in handles]
    tagged = [(h, a) for h, a in tagged if a is not None and a.size]
    if not tagged:
        return None
    key = tuple((h.index_dir, h.__dict__["_tomb_cache"][0]) for h, _ in tagged)
    sc = spark.sparkContext
    held = _DENY_BROADCASTS.setdefault(sc, {})
    if key not in held:
        held[key] = sc.broadcast(np.sort(np.concatenate([a for _, a in tagged])))
    return held[key]


def _deny_val(deny) -> "np.ndarray | None":
    """A deny broadcast's id array, inside a task (None stays None)."""
    return None if deny is None else deny.value


def _shard_fn(kernel, deny, allow=None, collect=None, dv_cols=()):
    """A search's per-shard function for :meth:`_Fetch._task`: ``kernel``
    over the shard's rows under DocFilter(allow, deny) — a filter frame's
    group ids replace ``allow`` when the task passes them — then, with a
    collector (Lucene's Collector: per-shard code that consumes the
    kernel's matches and keeps a bounded result), ``collect(hits, dv)``
    over the shard's docvalue rows of ``dv_cols``."""

    def fn(pdf, where, group_allow=None):
        ids = allow if group_allow is None else group_allow
        if ids is None and deny is None:
            hits = kernel(pdf)
        else:
            hits = kernel(pdf, DocFilter(ids, _deny_val(deny)))
        if collect is None or not len(hits):
            return hits
        return collect(hits, _read_dv(*where, dv_cols))

    return fn


def _dv_lookup(docs: np.ndarray, dv: pd.DataFrame, col: str):
    """(mapped u64 value, NULL flag) of docvalue column ``col`` for each of
    ``docs``, from one shard's sidecar rows; a doc missing from the sidecar
    is NULL, and NULL rows carry value 0."""
    from katta_spark.docvalues import decode_shard_column

    dv_docs, dv_vals, dv_null = decode_shard_column(dv, col)
    if not dv_docs.size:
        return np.zeros(docs.size, np.uint64), np.ones(docs.size, bool)
    ix = np.minimum(np.searchsorted(dv_docs, docs), dv_docs.size - 1)
    isnull = (dv_docs[ix] != docs) | dv_null[ix]
    return np.where(isnull, np.uint64(0), dv_vals[ix]), isnull


def _field_order(
    keys: list, docs: np.ndarray, shard: "np.ndarray | None" = None
) -> np.ndarray:
    """Row order of a field sort over ``keys``, one ``(u64 value, NULL
    flag, 'asc'|'desc')`` per sort spec: ascending puts NULLs first,
    descending puts them last (Spark's asc_nulls_first /
    desc_nulls_last); doc_id ascending, then ``shard`` descending (the
    reference tie-break), break ties."""
    # np.lexsort's LAST key is the primary one
    lex = [docs] if shard is None else [-shard, docs]
    for vals, isnull, direction in reversed(keys):
        vkey = vals if direction == "asc" else ~vals
        lex.append(np.where(isnull, np.uint64(0), vkey))
        lex.append((~isnull if direction == "asc" else isnull).astype(np.uint8))
    return np.lexsort(tuple(lex))


def _dv_sort_collector(specs: list, dv_k: int):
    """The field-sort collector — Lucene's TopFieldCollector
    (LuceneServer.java:672-677): the kernel emits every shard match, and
    the collector keeps the ``dv_k`` best by ``specs`` [(col,
    'asc'|'desc'), ...] over the shard's docvalue sidecar, each tagged
    with its order-preserving mapped key ``__sv<i>`` and NULL flag
    ``__sn<i>`` for the driver merge. Returns (collect, docvalue columns,
    the columns it adds as DDL)."""

    def collect(hits: pd.DataFrame, dv: pd.DataFrame) -> pd.DataFrame:
        docs = hits["doc_id"].to_numpy(np.int64)
        keys = [(*_dv_lookup(docs, dv, name), d) for name, d in specs]
        order = _field_order(keys, docs)[:dv_k]
        out = hits.iloc[order].reset_index(drop=True)
        for i, (vals, isnull, _) in enumerate(keys):
            out[f"__sv{i}"] = u64_to_i64_order(vals[order])
            out[f"__sn{i}"] = isnull[order]
        return out

    extra = ", ".join(f"__sv{i} long, __sn{i} boolean" for i in range(len(specs)))
    return collect, [n for n, _ in specs], extra


def _dv_group_collector(group_col: str, pass_spec: tuple):
    """One pass of two-pass grouped search as a collector — the Lucene
    grouping-module analog (TermFirstPassGroupingCollector /
    TermSecondPassGroupingCollector), distributed with per-shard caps.
    Each hit's group key is its mapped ``group_col`` docvalue (i64
    order, 0 for the NULL group, which carries ``gnull``).

    pass_spec = ('pass1', k_groups, order): emit each shard's top-k_groups
    GROUP HEADS. order='score' (Lucene's relevance groupSort) ranks
    groups by (best score desc, doc asc) — exact, because a group in the
    global top-k_groups has its global-best doc in some shard where at
    most k_groups-1 other groups' shard-bests beat it. order='key_asc' /
    'key_desc' (field groupSort) ranks groups by the group KEY — exact
    because a key in the global top-k precedes at most k-1 other keys in
    EVERY shard it appears in (asc: NULL group first, Spark
    asc_nulls_first; desc: NULL group last). ≤ k_groups rows leave per
    shard either way; each emitted row is the group's shard-best hit so
    the score tie-break stays available to the merge.

    pass_spec = ('pass2', k_docs, selected_keys, null_selected): restrict
    matches to the selected groups (tiny tuple, travels in the closure)
    and emit each shard's top-k_docs docs PER GROUP plus the shard's exact
    per-group match count ``gtotal`` — ≤ |selected|·k_docs rows per
    shard; the driver merge (Katta's client merge shape) sums counts and
    takes the global per-group top-k_docs.

    Returns (collect, docvalue columns, the columns it adds as DDL)."""
    mode = pass_spec[0]
    if mode == "pass2":
        _, k_docs, selected_keys, null_selected = pass_spec
        sel = np.asarray(selected_keys, dtype=np.int64)
    else:
        _, k_groups, g_order = pass_spec

    def collect(hits: pd.DataFrame, dv: pd.DataFrame) -> pd.DataFrame:
        docs = hits["doc_id"].to_numpy(np.int64)
        scores = hits["score"].to_numpy(np.float64)
        vals, isnull = _dv_lookup(docs, dv, group_col)
        gkey = np.where(isnull, np.int64(0), u64_to_i64_order(vals))
        if mode == "pass2":
            m = (~isnull & np.isin(gkey, sel)) | (isnull & null_selected)
            hits = hits.loc[m]
            docs, scores, gkey, isnull = docs[m], scores[m], gkey[m], isnull[m]
        # one sort groups runs contiguously AND orders docs within each run
        # by the reference tie-break (score desc, doc asc; shard constant)
        order = np.lexsort((docs, -scores, gkey, isnull.astype(np.uint8)))
        gk_s, gn_s = gkey[order], isnull[order]
        newgrp = np.ones(order.size, dtype=bool)
        newgrp[1:] = (gk_s[1:] != gk_s[:-1]) | (gn_s[1:] != gn_s[:-1])
        if mode == "pass1":
            heads = order[newgrp]
            if g_order == "score":
                top = heads[
                    np.lexsort((docs[heads], -scores[heads]))[:k_groups]
                ]
            elif g_order == "key_asc":
                # lexsort put non-null keys (asc) first, the NULL group
                # last; asc_nulls_first moves the NULL head to the FRONT
                top = np.concatenate(
                    [heads[isnull[heads]], heads[~isnull[heads]]]
                )[:k_groups]
            else:  # key_desc: keys descending, NULL group last
                nn = heads[~isnull[heads]][::-1]
                top = np.concatenate([nn, heads[isnull[heads]]])[:k_groups]
            out = hits.iloc[top].reset_index(drop=True)
            out["gkey"] = gkey[top]
            out["gnull"] = isnull[top]
            return out
        starts = np.flatnonzero(newgrp)
        run_lens = np.diff(np.append(starts, order.size))
        rank_in_grp = np.arange(order.size) - np.repeat(starts, run_lens)
        keep = rank_in_grp < k_docs
        pick = order[keep]
        out = hits.iloc[pick].reset_index(drop=True)
        out["gkey"] = gkey[pick]
        out["gnull"] = isnull[pick]
        out["gtotal"] = np.repeat(run_lens, run_lens)[keep]
        return out

    extra = "gkey long, gnull boolean" + (", gtotal long" if mode == "pass2" else "")
    return collect, [group_col], extra


def _dv_agg_collector(col: str, spec: tuple, kind: str):
    """An AGGREGATE of the matched docs' docvalue column ``col`` as a
    collector — the Lucene facet-module range-count (LongRangeFacetCounts
    / DoubleRangeFacetCounts) and Solr StatsComponent analog. The kernel
    emits every shard match (k=maxint, prune=False upstream — MaxScore
    pruning would drop low-scoring matches the aggregate must count);
    the collector looks each match's value up in the shard's docvalue
    sidecar and collapses to a CONSTANT-size partial per shard — nothing
    per-doc leaves the task.

    spec = ('ranges', ((ge, le), ...)): closed intervals in MAPPED i64
    key space (resolved driver-side — mapped keys are integers under a
    strictly monotonic bijection, so >lo ⇔ ≥lo+1 and <hi ⇔ ≤hi-1 hold
    exactly); emits (ridx, count) rows for non-empty ranges — ranges may
    overlap (each doc counts in every range containing it, the Lucene
    range-facet contract); docs with NULL / missing values count in no
    range.

    spec = ('stats',): emits one partial row per shard — n (matched docs
    with a value), missing (matched docs without), kmin/kmax (mapped
    keys; 0 when n is 0), sum_l (exact int64 sum for the 'long' kind),
    sum_d/sumsq (float64 sums of the ORIGINAL values, for mean/stddev).

    Returns (collect, docvalue columns, the partial rows' DDL)."""
    mode = spec[0]
    if mode == "ranges":
        bounds = np.asarray(spec[1], dtype=np.int64).reshape(-1, 2)

    def collect(hits: pd.DataFrame, dv: pd.DataFrame) -> pd.DataFrame:
        vals, isnull = _dv_lookup(hits["doc_id"].to_numpy(np.int64), dv, col)
        keys = u64_to_i64_order(vals[~isnull])
        if mode == "ranges":
            ns = [
                int(np.count_nonzero((keys >= lo) & (keys <= hi)))
                for lo, hi in bounds
            ]
            ridx = np.flatnonzero(ns)
            return pd.DataFrame({
                "ridx": ridx.astype(np.int32),
                "n": np.asarray(ns, dtype=np.int64)[ridx],
            })
        n = int(keys.size)
        kmin = kmax = sum_l = 0
        sum_d = sumsq = 0.0
        if n:
            kmin, kmax = int(keys.min()), int(keys.max())
            if kind == "double":
                orig = u64_to_f64_order(i64_to_u64_order(keys))
                sum_d = float(orig.sum())
                sumsq = float((orig * orig).sum())
            else:
                # exact int64 sum (overflow needs ~9e18 — a shard would
                # have to hold 1e14 docs of 1e4-valued keys)
                sum_l = int(keys.sum(dtype=np.int64))
                sum_d = float(sum_l)
                sumsq = float((keys.astype(np.float64) ** 2).sum())
        return pd.DataFrame({
            "n": [n], "missing": [int(isnull.sum())], "kmin": [kmin],
            "kmax": [kmax], "sum_l": [sum_l], "sum_d": [sum_d],
            "sumsq": [sumsq],
        })

    schema = "ridx int, n long" if mode == "ranges" else (
        "n long, missing long, kmin long, kmax long, sum_l long, "
        "sum_d double, sumsq double"
    )
    return collect, [col], schema


# Kernel-mode registry — the content-server extension point (SURVEY.md
# §2.12; reference IContentServer, node/IContentServer.java:28-107):
# registering a factory adds a new search mode. Factories share the
# signature (qweights, n_docs, avgdl, k, prune, score_dtype, with_total).
# mode="and" is no kernel: it lowers to MUST clauses (_parse_clauses).
KERNEL_MODES: dict[str, object] = {
    "or": lambda qw, n, a, k, prune, dt, wt: _make_score_kernel(
        qw, n, a, k, prune, dt, wt
    ),
    "match": lambda qw, n, a, k, prune, dt, wt: _make_match_kernel(
        qw, n, a, k, dt, wt
    ),
}


def _resolve_syn_groups(
    spark: SparkSession,
    handles: "list[IndexHandle]",
    synonyms: "dict[str, list[str]] | None",
    c: "_Clauses",
) -> list[tuple[float, int, tuple[str, ...]]]:
    """Validate a ``synonyms`` mapping against the parsed clauses and
    resolve each group to ``(weight, group_df, members)`` — the
    SynonymQuery construction step. members[0] is the query term itself
    (Lucene's SynonymQuery includes the original term); group_df = max
    member GLOBAL df (SynonymQuery.java's docFreq), resolved once
    driver-side (memoized per handle) so every shard scores the group
    with the same idf. Over several indexes a member's df is its sum
    across them — the df of the merged index."""
    if not synonyms:
        return []
    qweights, must, must_not = c.qweights, c.must, c.must_not
    syn_groups: list[tuple[float, int, tuple[str, ...]]] = []
    phrase_toks = {t for toks, _ in c.phrases for t in toks}
    claimed: set[str] = set()
    for raw_key, raw_syns in sorted(synonyms.items()):
        ktoks = tokenize_str(raw_key)
        if len(ktoks) != 1:
            raise ValueError(
                f"synonym key {raw_key!r} must analyze to exactly one "
                f"term (got {ktoks!r}) — multi-token synonyms need "
                "phrase positions, which SynonymQuery does not model"
            )
        key = ktoks[0]
        if key not in qweights:
            raise ValueError(
                f"synonym key {raw_key!r} is not a term of the query"
            )
        if key in must or key in must_not or key in phrase_toks:
            raise ValueError(
                f"synonym key {raw_key!r} is a MUST/MUST_NOT/phrase "
                "clause — SynonymQuery replaces an optional term "
                "clause only"
            )
        members = [key]
        for s in raw_syns:
            stoks = tokenize_str(s)
            if len(stoks) != 1:
                raise ValueError(
                    f"synonym {s!r} must analyze to exactly one term "
                    f"(got {stoks!r})"
                )
            if stoks[0] != key and stoks[0] not in members:
                members.append(stoks[0])
        for m in members[1:]:
            if (
                m in qweights
                or m in must_not
                or m in phrase_toks
                or m in claimed
            ):
                raise ValueError(
                    f"synonym {m!r} collides with another query "
                    "clause or synonym group — each term may belong "
                    "to one clause"
                )
        claimed.update(members)
        dfs = [h.df_of_terms(spark, members) for h in handles]
        group_df = max(sum(d[m] for d in dfs) for m in members)
        syn_groups.append((qweights[key], group_df, tuple(members)))
    return syn_groups


def _open_handles(
    spark: SparkSession, index: "IndexHandle | str | list[IndexHandle | str]"
) -> list[IndexHandle]:
    """The searched indexes as opened handles — a bare index (handle or
    path) is the one-element list."""
    ixs = index if isinstance(index, (list, tuple)) else [index]
    if not ixs:
        raise ValueError("need at least one index")
    return [
        IndexHandle.open(spark, ix) if isinstance(ix, str) else ix for ix in ixs
    ]


def _union_shards(handles: list[IndexHandle], frame_of) -> DataFrame:
    """Bag union of one shard-keyed frame per index (SURVEY.md §2.7).
    Each index's shard ids are offset past the earlier indexes' so
    per-shard kernel groups never collide; one index returns its frame
    untouched."""
    if len(handles) == 1:
        return frame_of(handles[0])
    out, off = None, 0
    for h in handles:
        part = frame_of(h).withColumn(
            "shard_id", (F.col("shard_id") + F.lit(off)).cast("int")
        )
        out = part if out is None else out.unionByName(part)
        off += h.num_shards
    return out


def _corpus_stats(
    spark: SparkSession, handles: list[IndexHandle]
) -> tuple[float, float]:
    """(numDocs, avgdl) of the searched corpus — Katta's phase-1 summing
    across indexes (LuceneClient.java:271-281). One index returns its
    stored scalars (no Spark job); several sum the memoized per-handle
    totals. avgdl == 0 (every analyzed text empty) becomes 1.0, as at
    build time and in the oracle, so keyword-term scores stay finite."""
    if len(handles) == 1:
        return float(handles[0].n_docs), handles[0].avgdl
    n_docs = float(sum(h.n_docs for h in handles))
    tot_dl = sum(h.total_dl(spark) for h in handles)
    return n_docs, (tot_dl / n_docs if n_docs else 0.0) or 1.0


class _Clauses(NamedTuple):
    """A query lowered once — the analog of Lucene's Query→Weight step
    (SURVEY.md §2), shared by every entry point. ``tree`` is the
    parse_tree_query tree of an AND/OR/NOT query (None otherwise);
    ``rewrite`` is the folded query string while its wildcard/fuzzy/range
    clauses still await dictionary expansion (None once expanded, or when
    the query has none)."""

    tree: "tuple | None"
    qweights: dict[str, float]
    must: set[str]
    must_not: set[str]
    phrases: list[tuple[list[str], int]]
    syn_groups: list[tuple[float, int, tuple[str, ...]]]
    min_should: int
    rewrite: "str | None"

    @property
    def flat(self) -> bool:
        """Plain OR of terms (boosts and keyword terms included): what the
        match-only count and facet_counts evaluate."""
        return (
            self.tree is None
            and self.rewrite is None
            and not (self.must or self.must_not or self.phrases)
            and self.min_should == 0
        )

    @property
    def boolean(self) -> bool:
        return (
            bool(self.must or self.must_not or self.phrases)
            or self.min_should > 0
            or bool(self.syn_groups)
        )

    @property
    def terms(self) -> list[str]:
        """The fetch set: scoring terms ∪ excluded terms (the kernel needs
        their postings for the exclusion mask) ∪ synonym-group members
        (they blend into their group's pseudo-term)."""
        return sorted(
            set(self.qweights)
            | self.must_not
            | {m for _, _, members in self.syn_groups for m in members}
        )


def _parse_clauses(
    handles: list[IndexHandle],
    query: str,
    mode: str = "or",
    min_should_match: int = 0,
    synonyms: "dict[str, list[str]] | None" = None,
) -> _Clauses:
    """The pure half of :func:`_lower_query`: fold, route, parse and refuse
    the clause combinations that have no semantics — no Spark job. A
    rewrite query comes back with its expansion pending (``rewrite``).
    Keyword terms are those of any searched index's keyword fields.
    ``mode="and"`` is the default-AND operator (Lucene's
    ``setDefaultOperator(AND)``): every term lowers to a MUST clause."""
    keyword_fields = tuple(
        dict.fromkeys(f for h in handles for f in h.keyword_fields)
    )
    # Route on the UNQUOTED remainder: '~' inside '"a b"~3' is a phrase
    # slop, not a fuzzy operator, and quoted spans must never reach the
    # dictionary-expansion paths.
    query = fold_spaced_fields(query)
    if min_should_match < 0:
        raise ValueError(
            f"min_should_match must be >= 0, got {min_should_match}"
        )
    unquoted = _re_mod.sub(r'"[^"]*"(~\d+)?(\^\d+(?:\.\d+)?)?', " ", query)
    has_phrase = unquoted != query
    rewrite = (
        "*" in unquoted
        or "~" in unquoted
        or "?" in unquoted
        or bool(_RANGE_RE.search(unquoted))
    )
    is_tree = bool(_TREE_RE.search(unquoted))
    if (min_should_match or synonyms) and (is_tree or rewrite):
        raise ValueError(
            "min_should_match/synonyms apply to analyzed term clauses "
            "only — not to AND/OR/NOT grouping or wildcard/fuzzy/range "
            "rewrites (Lucene's parser applies synonym graphs and "
            "minimumNumberShouldMatch at the term-clause level too)"
        )
    if is_tree:
        if has_phrase:
            raise ValueError(
                "phrases cannot be combined with AND/OR/NOT grouping"
            )
        if rewrite:
            raise ValueError(
                "wildcard/fuzzy/range clauses cannot be combined with "
                "AND/OR/NOT grouping"
            )
        if mode != "or":
            raise ValueError(
                "AND/OR/NOT grouping defines its own clause semantics; "
                f"mode={mode!r} is not combinable with it"
            )
        # qweights covers every leaf, negated ones included: the fetch set
        tree, qweights = parse_tree_query(query, keyword_fields)
        return _Clauses(tree, qweights, set(), set(), [], [], 0, None)
    if rewrite:
        if has_phrase:
            raise ValueError(
                "phrases cannot be combined with wildcard/fuzzy/range "
                "clauses"
            )
        return _Clauses(None, {}, set(), set(), [], [], 0, query)
    qweights, must, must_not, phrases = parse_bool_query(
        query, keyword_fields
    )
    if mode != "or" and (
        must or must_not or phrases or min_should_match or synonyms
    ):
        raise ValueError(
            "boolean operators (+/-/phrase/min_should_match/synonyms) "
            f"define their own clause semantics; mode={mode!r} is not "
            "combinable with them"
        )
    return _Clauses(
        None, qweights, set(qweights) if mode == "and" else must, must_not,
        phrases, [], min_should_match, None,
    )


def _lower_query(
    spark: SparkSession,
    handles: list[IndexHandle],
    query: str,
    mode: str = "or",
    min_should_match: int = 0,
    synonyms: "dict[str, list[str]] | None" = None,
) -> _Clauses:
    """Lower ``query`` once for every entry point: :func:`_parse_clauses`,
    then the steps that read the indexes — rewrite expansion (under
    ``mode="and"`` every expanded term becomes a MUST), the positions
    check and synonym-group resolution."""
    c = _parse_clauses(handles, query, mode, min_should_match, synonyms)
    if c.rewrite is not None:
        # Over several indexes the rewrites expand PER INDEX (Lucene
        # rewrites against each shard's own dictionary), and a term
        # expanded by several indexes scores ONCE at its clause boost —
        # summing would double-weight shared terms.
        qweights: dict[str, float] = {}
        for h in handles:
            for t, w in expand_ranges(spark, h, c.rewrite).items():
                qweights[t] = max(qweights.get(t, 0.0), w)
        c = c._replace(
            qweights=qweights, rewrite=None,
            must=set(qweights) if mode == "and" else set(),
        )
    for h in handles if c.phrases else ():
        if not h.positions:
            raise ValueError(
                f"phrase query against index {h.index_dir!r} built with "
                "positions=False (omitted term positions) — rebuild with "
                "positions=True to run phrase/slop queries"
            )
    return c._replace(
        syn_groups=_resolve_syn_groups(spark, handles, synonyms, c)
    )


# Decoded postings bytes one process keeps open — Katta's node opens a
# shard's IndexSearcher once and keeps it (LuceneServer.java:184-193).
OPEN_SHARD_BYTES = 64 << 20


class _OpenShard(NamedTuple):
    """One shard's decoded postings columns, in file-then-row order, with
    a th-sorted permutation of its rows."""

    table: pa.Table
    th: np.ndarray
    perm: np.ndarray

    @classmethod
    def of(cls, table: pa.Table) -> "_OpenShard":
        th = table["th"].to_numpy()
        perm = np.argsort(th, kind="stable")
        return cls(table, th[perm], perm)

    def rows(self, hashes) -> pd.DataFrame:
        """The rows whose th is in ``hashes``, in file-then-row order (the
        order a th-filtered read of the files returns)."""
        h = np.unique(np.asarray(hashes, np.int64))
        lo = np.searchsorted(self.th, h, "left")
        n = np.searchsorted(self.th, h, "right") - lo
        at = np.repeat(lo - np.cumsum(n) + n, n) + np.arange(n.sum())
        # a few rows: a conversion thread pool costs more than it saves
        return self.table.take(np.sort(self.perm[at])).to_pandas(use_threads=False)


class _OpenShards:
    """A per-process LRU of :class:`_OpenShard`, bounded by
    ``OPEN_SHARD_BYTES`` of decoded columns. Keys are a shard's files,
    each with (path, st_mtime_ns, st_size), plus the column set: a
    rewritten file is a new key, and the stale entry ages out."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._held: OrderedDict = OrderedDict()
        self._bytes = 0

    def get(self, key) -> "_OpenShard | None":
        with self._lock:
            shard = self._held.get(key)
            if shard is not None:
                self._held.move_to_end(key)
            return shard

    def put(self, key, shard: _OpenShard) -> None:
        with self._lock:
            if key in self._held:
                return
            self._held[key] = shard
            self._bytes += shard.table.nbytes
            while self._bytes > OPEN_SHARD_BYTES:
                _, old = self._held.popitem(last=False)
                self._bytes -= old.table.nbytes


_OPEN_SHARDS = _OpenShards()


def _shard_files(root: str, shard: int) -> list[str]:
    """The data files of table ``root``'s partition ``shard_id=<shard>``:
    none for a shard with no directory (no documents), while a table this
    process cannot see at all raises."""
    files = parquet_files(os.path.join(root, f"shard_id={shard}"))
    if not files and not os.path.isdir(root):
        raise FileNotFoundError(f"table {root!r} is not readable here")
    return files


def _read_dv(index_dir: str, shard: int, cols) -> pd.DataFrame:
    """One shard's docvalue sidecar rows of ``cols`` (``docvalues.parquet``
    is partitioned by shard_id, docvalues.py), read with pyarrow like
    :func:`_read_shard` reads the postings."""
    import pyarrow.dataset as pads

    from katta_spark.docvalues import dv_path

    fcols = ["col", "bucket", "doc_ids", "vals", "nulls"]
    files = _shard_files(dv_path(index_dir), shard)
    if not files:
        return pd.DataFrame(columns=fcols)
    return pads.dataset(files, format="parquet").to_table(
        columns=fcols, filter=pads.field("col").isin(list(cols))
    ).to_pandas()


def _read_shard(index_dir: str, shard: int, cols: list[str], hashes) -> pd.DataFrame:
    """The ``cols`` of one shard's postings rows whose th is in ``hashes``,
    in file-then-row order; a shard with no directory (no documents)
    reads as no rows, a postings table this process cannot see raises.

    Every file of a shard spans the whole th range (the writers
    repartition by ``(shard_id, th % 16)``), so a th-filtered read decodes
    every row group. The shard is therefore read once in full and served
    from :data:`_OPEN_SHARDS`; a shard whose files exceed
    ``OPEN_SHARD_BYTES`` on disk is read with the th filter on every
    call, and one whose decoded columns exceed it is not kept."""
    import pyarrow.dataset as pads

    fcols = [c for c in cols if c != "shard_id"]
    files = _shard_files(os.path.join(index_dir, "postings.parquet"), shard)
    if not files:
        return pd.DataFrame(columns=fcols)
    stats = [os.stat(f) for f in files]
    key = (
        tuple((f, st.st_mtime_ns, st.st_size) for f, st in zip(files, stats)),
        tuple(fcols),
    )
    held = _OPEN_SHARDS.get(key)
    if held is None:
        data = pads.dataset(files, format="parquet")
        if sum(st.st_size for st in stats) > OPEN_SHARD_BYTES:
            return data.to_table(
                columns=fcols, filter=pads.field("th").isin(hashes)
            ).to_pandas()
        held = _OpenShard.of(data.to_table(columns=fcols))
        if held.table.nbytes <= OPEN_SHARD_BYTES:
            _OPEN_SHARDS.put(key, held)
    return held.rows(hashes)


# One empty n-partition RDD per SparkContext and n: parallelize writes a
# temp file on every call. Only its JVM handle is held, so a stopped
# context is not pinned.
_SHARD_TARGETS: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def _shard_targets(sc, n: int) -> RDD:
    """An RDD of ``n`` empty partitions: partition i runs shard target i."""
    held = _SHARD_TARGETS.setdefault(sc, {})
    if n not in held:
        base = sc.parallelize([], n)
        held[n] = (base._jrdd, base._jrdd_deserializer)
    return RDD(held[n][0], sc, held[n][1])


class _Fetch(NamedTuple):
    """Phase 1 of a search, resolved on the driver: the query's
    dictionary ``terms``, the postings columns ``cols`` the kernels read
    and (numDocs, avgdl) of the searched corpus."""

    handles: list
    cols: list[str]
    terms: QueryTerms
    n_docs: float
    avgdl: float
    shard_ids: "list[int] | None"

    def _task(self, fn, only: "list[int] | None" = None):
        """``(task, targets)``: ``task(ids, allow=None)`` runs phase 2 for
        the shard targets ``ids`` — Katta's node-local IndexSearcher
        (LuceneServer.java:184-193): target i, an (index dir, shard,
        offset shard id) triple, reads its shard's rows of the query's
        terms, attaches term/df_g and yields ``fn(pdf, (dir, shard),
        allow)``; a shard without such rows calls nothing. Shard ids are
        offset per index as in :func:`_union_shards`; ``only`` or
        ``shard_ids`` keeps a subset."""
        keep = only if only is not None else self.shard_ids
        targets, off = [], 0
        for h in self.handles:
            d = os.path.abspath(h.index_dir)
            targets += [
                (d, s, off + s) for s in range(h.num_shards)
                if keep is None or s in keep
            ]
            off += h.num_shards
        cols, terms = self.cols, self.terms

        def task(ids, allow=None):
            for i in ids:
                d, s, g = targets[i]
                pdf = terms.attach(_read_shard(d, s, cols, terms.th))
                if len(pdf):
                    out = fn(pdf.assign(shard_id=np.int32(g)), (d, s), allow)
                    if len(out):
                        yield out

        return task, targets

    def run(
        self, spark: SparkSession, fn, schema: str, only: "list[int] | None" = None
    ) -> pd.DataFrame:
        """Phase 2 as ONE eager RDD job (no SQL plan, scan, exchange or
        broadcast) whose per-shard frames concatenate on the driver; for
        kernels and collectors that emit a bounded number of rows per
        shard."""
        task, targets = self._task(fn, only)
        n = len(targets)

        def part(i, rows):
            for _ in rows:  # a worker is reused only if it drains its input
                pass
            return task([i])

        parts = _shard_targets(spark.sparkContext, n).mapPartitionsWithIndex(
            part
        ).collect() if n else []
        return pd.concat(parts, ignore_index=True) if parts else pd.DataFrame(
            columns=_ddl_schema(schema).names
        )

    def frame(self, spark: SparkSession, fn, schema: str) -> DataFrame:
        """Phase 2 as a LAZY ``mapInPandas`` stage over a ``Range`` of shard
        targets, for unbounded callers: no match reaches the driver."""
        task, targets = self._task(fn)
        n = len(targets)
        return spark.range(0, n, 1, max(n, 1)).mapInPandas(
            lambda batches: (out for b in batches for out in task(b["id"])),
            schema,
        )

    def by_filter(self, fdf: DataFrame, fn, schema: str) -> DataFrame:
        """Phase 2 driven by a shard-keyed (doc_id, shard_id) filter frame
        — Katta's Filter applied inside the node's searcher
        (ILuceneServer.java:84-101, LuceneServer.java:334-345): each
        shard's group runs that shard's target with the group's docIDs
        allowed, so the ids never reach the driver. A lazy frame; a
        filter already partitioned by shard_id (a CachedFilter) groups
        with no exchange."""
        task, targets = self._task(fn)
        at = {g: i for i, (_, _, g) in enumerate(targets)}
        names = _ddl_schema(schema).names

        def group(f: pd.DataFrame) -> pd.DataFrame:
            i = at.get(f["shard_id"].iloc[0])  # None for a NULL doc_id
            outs = [] if i is None else list(
                task([i], np.unique(f["doc_id"].to_numpy(np.int64)))
            )
            if not outs:
                return pd.DataFrame(columns=names)
            return pd.concat(outs, ignore_index=True)

        return fdf.groupBy("shard_id").applyInPandas(group, schema)


def _fetch_postings(
    spark: SparkSession,
    handles: list[IndexHandle],
    terms: list[str],
    cols: list[str],
    shard_ids: list[int] | None = None,
) -> _Fetch:
    """Phase 1 of a search (Katta's getDocFrequencies,
    LuceneClient.java:264-286) from the term dictionaries, with no Spark
    job on a warm handle: the query terms the indexes hold and their df,
    summed across indexes (DocumentFrequencyWritable,
    LuceneClient.java:271-281), plus (numDocs, avgdl). ``shard_ids`` (one
    index only) scores with the selected shards' own stats: numDocs and
    avgdl from the shard table, df summed over their postings rows."""
    n_docs, avgdl = _corpus_stats(spark, handles)
    dfs: dict[str, int] = {}
    for h in handles:
        for t, d in h.term_dict().lookup(terms).items():
            dfs[t] = dfs.get(t, 0) + d
    if shard_ids is not None:
        index = handles[0]
        srows = (
            index.shards(spark).where(F.col("shard_id").isin(shard_ids)).collect()
        )
        n_docs = float(sum(r["n_docs"] for r in srows))
        avgdl = (
            float(sum(r["sum_dl"] for r in srows)) / n_docs if n_docs else 1.0
        )
        by_th = {term_hash(t): t for t in dfs}
        parts = [_read_shard(index.index_dir, s, ["th", "df"], list(by_th))
                 for s in shard_ids]
        sub = pd.concat(parts).groupby("th")["df"].sum() if parts else {}
        dfs = {by_th[int(th)]: int(d) for th, d in sub.items()}
    return _Fetch(
        handles, cols, QueryTerms.of(dfs), n_docs, avgdl, shard_ids
    )


def _merge_order(pdf: pd.DataFrame, lead: str | None = None) -> np.ndarray:
    """Row order of Katta's client merge (LuceneClient.java:180-198):
    the reference tie-break score DESC, doc_id ASC, shard_id DESC, after
    the ``lead`` column ascending when one is given."""
    keys = [
        -pdf["shard_id"].to_numpy(np.int64),
        pdf["doc_id"].to_numpy(np.int64),
        -pdf["score"].to_numpy(np.float64),
    ]
    if lead is not None:
        keys.append(pdf[lead].to_numpy(np.int64))
    # np.lexsort's LAST key is the primary one
    return np.lexsort(keys)


def search(
    spark: SparkSession,
    index: "IndexHandle | str | list[IndexHandle | str]",
    query: str,
    k: int = 10,
    shard_ids: list[int] | None = None,
    prune: bool = True,
    mode: str = "or",
    min_should_match: int = 0,
    synonyms: "dict[str, list[str]] | None" = None,
    score_dtype: str = "float32",
    ordered: bool = True,
    filter_docs: list[int] | None = None,
    filter_df: DataFrame | None = None,
    filter_doc_col: str = "doc_id",
    source: DataFrame | None = None,
    offset: int = 0,
    _with_total: bool = False,
    _dv_sort: tuple | None = None,
    _dv_group: tuple | None = None,
    _dv_agg: tuple | None = None,
    _cursor: tuple | None = None,
) -> DataFrame:
    """Top-k BM25 search. Returns DataFrame(doc_id, shard_id, score) ordered
    by the exact reference tie-break, ≤ k rows.

    ``index`` is one index (handle or path) or a LIST of indexes searched
    as one corpus — Katta's multi-index search (``search(query, ["idx1",
    "idx2"])``, LuceneClient.java:149-203, LuceneClientTest.java:266-279);
    a one-element list is the bare index. Phase 1 aggregates df / numDocs
    / avgdl across ALL searched indexes (DocumentFrequencyWritable
    summing, LuceneClient.java:271-281), so scores are identical to one
    merged index; phase 2 is a bag union of per-index shard streams
    (shard ids offset per index) through the same kernels and final top-k
    merge (SURVEY.md §2.7). Every clause option, filter, tombstone deny
    and paging form below applies to lists too, except ``shard_ids``
    (shards of ONE index) and a CachedFilter (prepared for one index's
    sharding). A list is also the INCREMENTAL-UPDATE story: new documents
    build a small delta index and queries span [base, delta] with
    combined stats — the analog of deploying an additional index version
    in Katta.

    ``_dv_sort`` / ``_dv_group`` / ``_dv_agg`` (internal, used by
    :func:`search_sorted`, :func:`search_grouped`, :func:`facet_ranges`
    and :func:`match_stats`): the arguments of a docvalue collector
    (:func:`_dv_sort_collector`, :func:`_dv_group_collector`,
    :func:`_dv_agg_collector`) that each shard task runs over the
    kernel's matches and its shard's docvalue rows — e.g. ``(specs,
    dv_k)`` with specs = [(col, 'asc'|'desc'), ...] keeps each shard's
    dv_k best rows (TopFieldCollector analog), tagged with
    order-preserving mapped keys ``__sv<i>``. The result is the
    collectors' unmerged per-shard rows, held on the driver.

    Query syntax (the Lucene QueryParser surface Katta exposes verbatim,
    Katta.java:825-826): plain terms (default OR), ``field:value``
    keyword terms, ``term^2.5`` boosts, and three dictionary rewrites —
    ``ab*`` prefix wildcards, ``term~N`` fuzzy (bounded Levenshtein),
    ``field:[lo TO hi]`` / ``{lo TO hi}`` / open-``*`` term ranges —
    each expanded against the stats table under the maxClauseCount cap,
    every expanded term scoring with its own df/idf. Over a list the
    rewrites expand PER INDEX — Lucene rewrites against each shard's own
    dictionary (LuceneServer.java:602-624) — and a term expanded by
    several indexes scores once at its clause boost.

    Boolean syntax (parse_bool_query — Lucene QueryParser's operators,
    which Katta exposes verbatim, Katta.java:825-826): ``+term`` MUST,
    ``-term`` MUST_NOT, ``"a b"`` phrase and ``"a b"~N`` sloppy phrase.
    MUST/MUST_NOT/phrase are all enforced inside the shard kernels (one
    job, no extra shuffles): phrases execute against the index's
    positional postings alone — like Lucene running PhraseQuery per shard
    (LuceneServer.java:682) — over the must-intersection candidates only.
    ``source`` is accepted for backward compatibility but no longer
    consulted (v8 indexes store positions). ``mode`` must be
    'or' when boolean operators are present. ``mode="and"`` is the
    default-AND operator (Lucene's ``setDefaultOperator(AND)``): every
    term — every expansion of a rewrite — lowers to a MUST clause, so
    ``search("a b", mode="and")`` is ``search("+a +b")``.

    Plan at scale: one job of per-shard tasks, each taking its shard's
    rows of the query's terms from the worker's open copy of the shard
    (:func:`_read_shard`) into the kernel → ≤ k·shards rows → Katta's
    client merge on the driver. Nothing is shuffled or broadcast and no
    SQL plan is built (:meth:`_Fetch.run`). So the call is EAGER: the job
    runs before it returns and the result is :class:`Hits`, the merged
    rows held on the driver. Only ``ordered=False`` (every match,
    unsorted, for callers that pass a huge k) stays a lazy Spark plan.

    Filtered search (Katta's Filter, ILuceneServer.java:84-101, applied at
    LuceneServer.java:334-345: restricts the matched set WITHOUT changing
    surviving docs' scores): pass ``filter_df`` — any DataFrame whose
    ``filter_doc_col`` holds allowed docIDs. It is keyed by each index's
    own sharding function and grouped by shard, and each shard's group
    runs that shard's task with the group's ids as the kernel's allowed
    set (:meth:`_Fetch.by_filter`) — fully distributed, no id travels
    through the driver; a CachedFilter is grouped with no exchange. A
    ``filter_docs`` list (tiny driver-side sets) rides in the task
    closure as the allowed set instead, with no extra job.

    Paging: ``offset=N`` returns ranks N..N+k of the merged ranking —
    Lucene's shallow paging (a TopScoreDocCollector over offset+k, then
    slice; each shard emits offset+k rows, so cost grows with depth
    exactly as in Lucene). For deep pages use :func:`search_after`
    (IndexSearcher.searchAfter — per-shard emission stays at k).

    ``min_should_match=m`` — Lucene
    BooleanQuery.setMinimumNumberShouldMatch: a doc matches only if it
    contains >= m DISTINCT optional (SHOULD) clauses. MUST clauses never
    count toward m; a synonym group counts as ONE clause; m greater than
    the number of optional clauses matches nothing (Lucene's
    MatchNoDocsQuery rewrite). Scores of surviving docs are unchanged.

    ``synonyms={term: [syn, ...]}`` — Lucene SynonymQuery, the query
    QueryParser emits when the analyzer holds a SynonymGraphFilter: each
    mapped query term expands to a blended pseudo-term over
    (term, *syns) with per-doc tf = Σ member tfs and df = max member
    GLOBAL df (SynonymQuery.java's docFreq), so a doc matching two
    synonyms scores like one term seen twice. Keys must be single
    analyzed query terms; members must not collide with other query
    clauses. Plain-OR queries only (no tree/rewrite/shard-subset
    composition — Lucene's parser likewise applies synonyms to analyzed
    term clauses, not to wildcard/range rewrites).
    """
    handles = _open_handles(spark, index)
    for h in handles:
        h._record_query()
    if len(handles) > 1:
        if shard_ids is not None:
            raise ValueError(
                "shard_ids select shards of ONE index — search that index "
                "alone"
            )
        if isinstance(filter_df, CachedFilter):
            raise ValueError(
                "CachedFilter is single-index (multi-index searches offset "
                "shard ids per index) — pass the raw filter DataFrame"
            )
    # ---- result paging (Lucene parity): ``offset`` pages like a
    # TopScoreDocCollector over offset+k (every shard emits offset+k —
    # exact, and exactly Lucene's shallow-paging cost model); ``_cursor``
    # (via search_after) is IndexSearcher.searchAfter — per-shard
    # emission stays at k regardless of page depth.
    if offset < 0:
        raise ValueError(f"offset must be >= 0, got {offset}")
    if offset and _cursor is not None:
        raise ValueError(
            "offset and search_after are alternative paging forms — "
            "pass one"
        )
    if (offset or _cursor is not None) and (
        _dv_sort is not None
        or _dv_group is not None
        or _dv_agg is not None
        or not ordered
    ):
        raise ValueError(
            "offset/search_after page the score-ranked result; use "
            "search_sorted(offset=...) for field-sorted paging"
        )
    if _cursor is not None:
        if _with_total:
            raise ValueError("search_after does not combine with totals")
        if len(_cursor) != 3:
            raise ValueError(
                "after must be (score, doc_id, shard_id) of the last hit"
            )
        prune = False
    # at most every doc of the searched corpus can rank: a larger k would
    # only size the kernels' top-k buffers
    k_eff = min(k + offset, sum(h.n_docs for h in handles))
    # tombstoned (deleted) docs are denied inside the kernels before any
    # cap — Lucene's liveDocs skip at collection time; df/N/avgdl stay
    # STALE until expunge, exactly like Lucene pre-merge
    deny = _deny_handle(spark, handles)
    sql_t = "float" if score_dtype == "float32" else "double"
    result_schema = f"doc_id long, shard_id int, score {sql_t}"
    if _with_total:
        result_schema += ", total_hits long, shards_hit int, shards_total int"
    out_schema = f"shard_id int, doc_id long, score {sql_t}"
    if _with_total:
        out_schema += ", shard_total long"
    # a collector keeps each shard's bounded share of the matches in the
    # shard task; the rows it returns are the result, merged by the caller
    collect, dv_cols = None, ()
    if _dv_agg is not None:
        collect, dv_cols, out_schema = _dv_agg_collector(*_dv_agg)
    elif _dv_group is not None or _dv_sort is not None:
        collect, dv_cols, extra = (
            _dv_group_collector(*_dv_group) if _dv_group is not None
            else _dv_sort_collector(*_dv_sort)
        )
        out_schema = f"{result_schema}, {extra}"
    if collect is not None and _with_total:
        raise ValueError(
            "_dv_sort/_dv_group/_dv_agg do not combine with _with_total"
        )
    if synonyms and shard_ids is not None:
        raise ValueError(
            "synonyms resolve the blended group df from GLOBAL stats; "
            "shard-subset search scores with subset stats — the two do "
            "not compose"
        )
    c = _lower_query(
        spark, handles, query, mode, min_should_match, synonyms
    )
    if not c.qweights or k <= 0:
        return Hits(spark, [], result_schema if collect is None else out_schema)
    # only phrase queries fetch the positions blobs
    kcols = _KERNEL_COLS + (["positions"] if c.phrases else [])
    fetch = _fetch_postings(spark, handles, c.terms, kcols, shard_ids)
    n_docs, avgdl = fetch.n_docs, fetch.avgdl
    if shard_ids is not None:
        # the baked block maxima assume corpus stats
        prune = False

    if (
        c.tree is not None and prune and not _tree_has_not(c.tree)
        and not _with_total and collect is None
    ):
        # a prunable tree (a cursor turned prune off above): MaxScore
        kernel = _make_tree_kernel(c.tree, n_docs, avgdl, k_eff, score_dtype)
    elif c.tree is not None or c.boolean or (_cursor is not None and mode == "or"):
        # the clause kernel tags rows with their plan's query_id; one plan
        # here, so the tag is dropped once and every collector sees hits
        clauses = _make_clause_kernel(
            [c], n_docs, avgdl, k_eff, score_dtype, _with_total, _cursor
        )

        def kernel(pdf, filter_docs=None):
            return clauses(pdf, filter_docs).drop(columns="query_id")
    elif _cursor is not None:
        # the registry's factory signature has no cursor slot
        raise ValueError(
            "search_after requires a scoring mode ('or'/'and' or a "
            f"boolean/tree query); got mode={mode!r}"
        )
    else:
        if mode not in KERNEL_MODES:
            raise ValueError(
                f"unknown search mode {mode!r}; registered: "
                f"{sorted(['and', *KERNEL_MODES])}"
            )
        kernel = KERNEL_MODES[mode](
            c.qweights, n_docs, avgdl, k_eff, prune, score_dtype, _with_total
        )
    allow = None
    if filter_docs is not None and filter_df is None:
        allow = np.unique(np.asarray(list(filter_docs), dtype=np.int64))
    fn = _shard_fn(kernel, deny, allow, collect, dv_cols)
    fdf = None
    if filter_df is not None:
        # the allowed set keyed by each index's own sharding function
        fdf = _union_shards(
            handles, lambda h: _filter_frame(h, filter_df, filter_doc_col)
        )
    sel = ["doc_id", "shard_id", "score"] + (["shard_total"] if _with_total else [])
    if not ordered and collect is None:
        # unbounded callers (k up to 2**31-1) get a lazy frame: their
        # matches never reach the driver
        if fdf is None:
            return fetch.frame(spark, fn, out_schema).select(*sel)
        return fetch.by_filter(fdf, fn, out_schema).select(*sel)
    if fdf is None:
        pdf = fetch.run(spark, fn, out_schema)
    else:
        pdf = fetch.by_filter(fdf, fn, out_schema).toPandas()
    if collect is not None:
        return Hits(spark, pdf, out_schema)
    # Katta's client merge of the ≤ k·shards per-shard hits; totals sum
    # every answering shard's match count first (Hits.java:34-51),
    # whatever the page
    top = pdf.iloc[_merge_order(pdf)[offset:k_eff]]
    if _with_total:
        per_shard = pdf.groupby("shard_id")["shard_total"].first()
        top = top.assign(
            total_hits=int(per_shard.sum()), shards_hit=len(per_shard),
            shards_total=sum(h.num_shards for h in handles),
        )
    return Hits(spark, top, result_schema)


# Katta's multi-index search is search() over a list of indexes; the
# older name stays bound to the same function.
search_multi = search


def search_after(
    spark: SparkSession,
    index: "IndexHandle | str | list[IndexHandle | str]",
    query: str,
    after: tuple,
    k: int = 10,
    mode: str = "or",
    min_should_match: int = 0,
    synonyms: "dict[str, list[str]] | None" = None,
    score_dtype: str = "float32",
    shard_ids: list[int] | None = None,
    filter_df: DataFrame | None = None,
    filter_doc_col: str = "doc_id",
) -> DataFrame:
    """Deep-paging cursor search — ``IndexSearcher.searchAfter`` (the
    reference serves Lucene, whose consumers page exactly this way; the
    shallow form, Lucene's offset+k TopScoreDocCollector, is
    ``search(offset=...)``).

    ``after`` is the (score, doc_id, shard_id) triple of the LAST hit of
    the previous page (exactly the columns every search result carries).
    Each shard kernel masks candidates strictly after the cursor in the
    reference tie-break BEFORE its top-k cap, so per-shard emission stays
    at k rows no matter how deep the page — the property searchAfter
    exists for. Scores are deterministic re-computation, so the
    score-equality comparison in the cursor predicate is exact.

    Page-1 rows never reappear and pages concatenate to the full ranking
    (tested in tests/test_paging.py). A LIST of indexes pages the
    combined ranking (cursor shard_ids are the offset ids the multi-index
    results carry). Requires a scoring query (or/and/boolean/tree);
    totals don't combine (Lucene's searchAfter collectors don't track
    them either)."""
    return search(
        spark, index, query, k=k, mode=mode, score_dtype=score_dtype,
        min_should_match=min_should_match, synonyms=synonyms,
        shard_ids=shard_ids, filter_df=filter_df,
        filter_doc_col=filter_doc_col, _cursor=tuple(after),
    )


def search_with_total(
    spark: SparkSession,
    index: "IndexHandle | str | list[IndexHandle | str]",
    query: str,
    k: int = 10,
    mode: str = "or",
    min_should_match: int = 0,
    synonyms: "dict[str, list[str]] | None" = None,
    score_dtype: str = "float32",
    filter_df: DataFrame | None = None,
    filter_doc_col: str = "doc_id",
    offset: int = 0,
) -> DataFrame:
    """Top-k AND exact totalHits in ONE job — Katta returns both in one
    response (Hits.java:34-51: total hit count + merged top-k;
    LuceneServer.java:460-472 sums per-shard totals).

    Each shard kernel emits its top-k rows tagged with the shard's exact
    match count; the driver merge (≤ k·shards rows — exactly Katta's
    client-level merge, LuceneClient.java:180-198) sums per-shard totals
    and applies the reference tie-break. Block pruning is disabled so the
    count is exact (Lucene's TopScoreDocCollector also visits every match
    when totalHits is tracked; under WAND it degrades to a lower bound).

    ``index`` may be a LIST of indexes: totals then accumulate across all
    searched indexes with cross-index stats, exactly like Katta's
    multi-index count summing per-node results over every index
    (LuceneClient.java:225-251) — scores stay identical to a single
    merged index.

    Returns DataFrame(doc_id, shard_id, score, total_hits, shards_hit,
    shards_total), ≤ k rows; total_hits / coverage constant across rows.
    shards_hit vs shards_total is the coverage report (Katta's Hits
    exposes missing shards, Hits.java:214-220; under Spark a job is
    all-or-nothing so "searched" coverage is always full — what varies,
    and is reported, is how many shards contributed matches).
    """
    return search(
        spark, index, query, k=k, mode=mode, score_dtype=score_dtype,
        min_should_match=min_should_match, synonyms=synonyms, prune=False,
        filter_df=filter_df, filter_doc_col=filter_doc_col, offset=offset,
        _with_total=True,
    )


def search_sorted(
    spark: SparkSession,
    index: "IndexHandle | str | list[IndexHandle | str]",
    query: str,
    source: DataFrame,
    sort_cols: list,
    k: int = 10,
    track_scores: bool = True,
    id_cols: tuple[str, str] = ("conv_id", "turn_idx"),
    doc_id_col: str | None = None,
    filter_df: DataFrame | None = None,
    filter_doc_col: str = "doc_id",
    offset: int = 0,
) -> DataFrame:
    """Field-sorted search — Katta's TopFieldCollector path (T2/T4:
    LuceneServer.java:672-677, typed sort fields WritableType.java:33-35,
    score tracking flag LuceneServer.java:97 / LuceneClientTest.java:379).

    ``sort_cols`` entries may be column names, ``(name, 'asc'|'desc')``
    tuples, or arbitrary Columns. When every entry names a column the
    index carries in its docvalue sidecar (build_index docvalue_cols),
    the FAST path runs: one shard job in which each shard task looks the
    sort keys up IN-INDEX and keeps only its k best rows — ≤ k·shards
    rows total leave the tasks, exactly Katta's per-shard
    TopFieldCollector cap at min(limit, maxDoc) — then the client merge
    on the driver, and only the merged top-k joins back to ``source``
    for the display columns. ``filter_df`` composes with the fast path
    (Katta's search(query, sort, filter) one-call surface,
    ILuceneServer.java:84-101): the allowed set reaches the kernels
    ahead of the per-shard dv cap. Otherwise every match joins to its
    stored fields and the distributed TakeOrderedAndProject does the
    k-way merge (correct, but a high-df query shuffles |matches| rows).

    ``track_scores=False`` omits the BM25 score column (Katta's default —
    scores are only computed when requested).

    A LIST of indexes sorts across all of them (Katta sorted search spans
    the searched indices, LuceneClientTest.java:330) via search()'s
    combined-stats bag union; ``source`` must cover the union corpus.
    """
    if offset < 0:
        raise ValueError(f"offset must be >= 0, got {offset}")
    ihs = _open_handles(spark, index)
    specs = _norm_sort_specs(sort_cols)
    if specs is not None:
        kinds0 = ihs[0].docvalue_kinds()
        if all(
            all(n in h.docvalue_kinds() for n, _ in specs) for h in ihs
        ) and all(
            h.docvalue_kinds()[n] == kinds0[n] for h in ihs for n, _ in specs
        ):
            # (a column stored as a different KIND in different indexes —
            # string in one, long in another — has no comparable mapped
            # key; those take the source-join path below, which sorts on
            # the original values)
            return _search_sorted_dv(
                spark, ihs, query, source, specs, k, track_scores, id_cols,
                doc_id_col, filter_df, filter_doc_col, offset,
            )
    # fallback: candidate docs = union of posting lists (huge k caps
    # nothing away); when scores aren't tracked, the match-only kernel
    # skips BM25 entirely
    if specs is not None:
        sort_cols = [
            F.col(n).asc() if d == "asc" else F.col(n).desc()
            for n, d in specs
        ]
    matches = search(
        spark, ihs, query, k=2**31 - 1, prune=False, score_dtype="float64",
        ordered=False, mode="or" if track_scores else "match",
        filter_df=filter_df, filter_doc_col=filter_doc_col,
    )
    if doc_id_col is None:
        src = source.withColumn("doc_id", F.xxhash64(*[F.col(c) for c in id_cols]))
    else:
        src = source.withColumn("doc_id", F.col(doc_id_col).cast("long"))
    joined = matches.join(_join_safe_source(src, matches.columns), "doc_id")
    cols = [F.col(c) if isinstance(c, str) else c for c in sort_cols]
    out = joined.orderBy(*cols, F.col("doc_id").asc()).limit(k + offset)
    if offset:
        # TopFieldCollector paging (offset+k then slice) — the window
        # runs over <= offset+k rows
        from pyspark.sql import Window

        w = Window.orderBy(*cols, F.col("doc_id").asc())
        out = (
            out.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") > offset)
            .drop("__rn")
        )
    if not track_scores:
        out = out.drop("score")
    return out


def _join_safe_source(src: DataFrame, hit_cols) -> DataFrame:
    """Drop source columns whose names collide with engine hit columns
    (``shard_id``, ``score``, internal sort keys) before a hits↔source
    join. The hit-side values are authoritative — Katta's HitsMapWritable
    carries shard/score, the stored document only its fields — and a
    duplicate name would make every later reference ambiguous (a source
    produced by oracle.with_doc_ids carries its own ``shard_id``)."""
    clash = [c for c in src.columns if c != "doc_id" and c in set(hit_cols)]
    return src.drop(*clash) if clash else src


def _norm_sort_specs(sort_cols) -> "list[tuple[str, str]] | None":
    """Normalize sort_cols to [(name, 'asc'|'desc'), ...] — None when any
    entry is an opaque Column (those take the source-join path)."""
    specs: list[tuple[str, str]] = []
    for c in sort_cols:
        if isinstance(c, str):
            specs.append((c, "asc"))
        elif (
            isinstance(c, (tuple, list))
            and len(c) == 2
            and isinstance(c[0], str)
            and c[1] in ("asc", "desc")
        ):
            specs.append((c[0], c[1]))
        else:
            return None
    return specs


def _search_sorted_dv(
    spark: SparkSession,
    handles: list[IndexHandle],
    query: str,
    source: DataFrame,
    specs: list,
    k: int,
    track_scores: bool,
    id_cols: tuple[str, str],
    doc_id_col: str | None,
    filter_df: DataFrame | None = None,
    filter_doc_col: str = "doc_id",
    offset: int = 0,
) -> DataFrame:
    """Docvalue fast path: ONE shard job in which each shard's field-sort
    collector keeps its k+offset best hits (:func:`_dv_sort_collector`),
    the client merge of those ≤ (k+offset)·shards rows on the driver,
    then ONE broadcast join of the merged page to ``source`` for the
    display columns. Several dv-carrying handles search with combined
    stats. ``filter_df`` composes with the cap: the allowed docIDs reach
    the kernels ahead of the per-shard dv selection — Katta's
    search(query, sort, filter) in one call (ILuceneServer.java:84-101,
    LuceneClientTest.java:562-617)."""
    hits = search(
        spark, handles, query, k=2**31 - 1, prune=False,
        score_dtype="float64", ordered=False,
        mode="or" if track_scores else "match",
        # TopFieldCollector pages at offset+k per shard
        _dv_sort=(specs, k + offset),
        filter_df=filter_df, filter_doc_col=filter_doc_col,
    ).toPandas()
    shard = hits["shard_id"].to_numpy(np.int64)
    keys = []
    for i, (name, direction) in enumerate(specs):
        sv = hits[f"__sv{i}"].to_numpy(np.int64)
        isnull = hits[f"__sn{i}"].to_numpy(bool)
        if len(handles) > 1 and handles[0].docvalue_kinds()[name] == "string":
            vals = _string_keys(handles, name, shard, sv, isnull)
        else:
            vals = i64_to_u64_order(sv)
        keys.append((vals, isnull, direction))
    order = _field_order(keys, hits["doc_id"].to_numpy(np.int64), shard)
    top = hits.iloc[order[offset:offset + k]][["doc_id", "shard_id", "score"]]
    page = Hits(
        spark, top.assign(__rank=np.arange(len(top), dtype=np.int32)),
        "doc_id long, shard_id int, score double, __rank int",
    )
    if doc_id_col is None:
        src = source.withColumn(
            "doc_id", F.xxhash64(*[F.col(c) for c in id_cols])
        )
    else:
        src = source.withColumn("doc_id", F.col(doc_id_col).cast("long"))
    src = _join_safe_source(src, page.columns)
    out = src.join(F.broadcast(page), "doc_id").orderBy("__rank")
    # column shape matches the join path: doc_id, shard_id, [score], source
    lead = ["doc_id", "shard_id"] + (["score"] if track_scores else [])
    rest = [c for c in out.columns if c not in lead + ["score", "__rank"]]
    return out.select(*lead, *rest)


def _rank_values(h: IndexHandle, col: str, ranks) -> dict:
    """rank → value of string docvalue column ``col`` for ``ranks``: a
    pyarrow read of the index's rank dictionary
    (``dv_strings.parquet/col=<col>``), cut to those ranks."""
    import pyarrow.dataset as pads

    from katta_spark.docvalues import strings_path

    files = parquet_files(os.path.join(strings_path(h.index_dir), f"col={col}"))
    t = pads.dataset(files, format="parquet").to_table(
        columns=["rank", "value"],
        filter=pads.field("rank").isin([int(r) for r in ranks]),
    )
    return dict(zip(t["rank"].to_pylist(), t["value"].to_pylist()))


def _string_keys(
    handles: list, col: str, shard: np.ndarray, ranks: np.ndarray,
    isnull: np.ndarray,
) -> np.ndarray:
    """u64 sort keys of string docvalue ranks from several indexes. Each
    index's ranks order only its own dictionary, so the candidates' ranks
    resolve to their values through each index's dictionary
    (:func:`_rank_values`; offset shard ids tell the index) and the keys
    are the values' order among the candidates."""
    vals = np.empty(ranks.size, dtype=object)
    off = 0
    for h in handles:
        m = (shard >= off) & (shard < off + h.num_shards) & ~isnull
        if m.any():
            got = _rank_values(h, col, np.unique(ranks[m]))
            vals[m] = [got[r] for r in ranks[m].tolist()]
        off += h.num_shards
    keys = np.zeros(ranks.size, dtype=np.uint64)
    if (~isnull).any():
        keys[~isnull] = np.unique(vals[~isnull], return_inverse=True)[1]
    return keys


def search_grouped(
    spark: SparkSession,
    index: IndexHandle | str,
    query: str,
    group_col: str,
    k_groups: int = 10,
    k_docs: int = 3,
    group_order: str = "relevance",
    shard_ids: list[int] | None = None,
    filter_df: DataFrame | None = None,
    filter_doc_col: str = "doc_id",
) -> DataFrame:
    """Grouped search — the Lucene grouping-module analog
    (TermFirstPassGroupingCollector / TermSecondPassGroupingCollector;
    beyond-Katta, but built from Katta's own two-phase client-merge shape,
    LuceneClient.java:264-286), distributed with per-shard caps and run
    entirely IN-INDEX: the group keys come from the docvalue sidecar, and
    the group VALUES are decoded straight back from the mapped keys
    (codec.u64_to_f64_order / the string rank dictionary), so no stored-
    field join happens at all.

    Returns the top ``k_groups`` groups of ``group_col`` with each
    group's top ``k_docs`` hits and its EXACT total match count.
    ``group_order`` is Lucene's groupSort: 'relevance' (default) orders
    groups by their best hit under the reference tie-break (score desc,
    doc asc, shard desc); 'key_asc' / 'key_desc' order groups by the
    group VALUE (asc: NULLs first, desc: NULLs last — Spark's sort
    conventions). Columns: ``<group_col>, group_total, doc_id, shard_id,
    score`` — group blocks in group order, docs by the tie-break within.
    NULL group values form their own group (SQL GROUP BY semantics).

    Two passes, both bounded exactly like Katta's scatter-gather:

    1. every shard emits its top-``k_groups`` group HEADS (≤ k_groups
       rows/shard — exact: a group in the global top-k_groups has its
       best doc in some shard where at most k_groups-1 other groups'
       shard-bests beat it); the driver merge dedups to the selected
       group set (the Katta client-merge analog, ≤ k_groups·shards rows);
    2. every shard emits its top-``k_docs`` docs PER SELECTED GROUP plus
       its exact per-group count (≤ k_groups·k_docs rows/shard); the
       driver sums the totals, takes the global per-group top-k_docs and
       decodes the group values — all over ≤ k_groups·k_docs·shards
       rows, never corpus-sized.

    Each pass is one shard job whose tasks run the kernel and the group
    collector (:func:`_dv_group_collector`) over the shard's docvalue
    rows; the result is held on the driver (:class:`Hits`).
    ``filter_df`` composes like in :func:`search_sorted`: the allowed
    set reaches the kernels ahead of both passes' caps.

    Single-index only: string group keys are per-index dictionary ranks
    (not comparable across indexes) and the two-pass cap proof assumes
    one docID space.
    """
    if isinstance(index, (list, tuple)):
        raise ValueError(
            "search_grouped is single-index; compact the indexes first "
            "(katta_spark.compact) or group each separately"
        )
    if isinstance(index, str):
        index = IndexHandle.open(spark, index)
    kinds = index.docvalue_kinds()
    if group_col not in kinds:
        raise ValueError(
            f"group column {group_col!r} is not in the index's docvalue "
            f"sidecar (available: {sorted(kinds)}); rebuild with "
            "docvalue_cols including it"
        )
    if k_groups <= 0 or k_docs <= 0:
        raise ValueError("k_groups and k_docs must be positive")
    korder = {
        "relevance": "score", "key_asc": "key_asc", "key_desc": "key_desc",
    }.get(group_order)
    if korder is None:
        raise ValueError(
            f"group_order must be 'relevance', 'key_asc' or 'key_desc'; "
            f"got {group_order!r}"
        )
    kind = kinds[group_col]
    common = dict(
        k=2**31 - 1, prune=False, ordered=False, score_dtype="float64",
        shard_ids=shard_ids, filter_df=filter_df,
        filter_doc_col=filter_doc_col,
    )
    heads = search(
        spark, index, query,
        _dv_group=(group_col, ("pass1", k_groups, korder)), **common,
    )
    # ≤ k_groups·shards rows — the Katta client-merge analog
    if korder == "score":
        merge_key = lambda r: (-r["score"], r["doc_id"], -r["shard_id"])  # noqa: E731
    elif korder == "key_asc":
        # asc_nulls_first: the NULL group sorts before every key
        merge_key = lambda r: (  # noqa: E731
            0 if r["gnull"] else 1, r["gkey"] if not r["gnull"] else 0,
        )
    else:  # key_desc: keys descending, NULL group last
        merge_key = lambda r: (  # noqa: E731
            1 if r["gnull"] else 0, -r["gkey"] if not r["gnull"] else 0,
        )
    rows = sorted(heads.collect(), key=merge_key)
    order_of: dict[tuple[bool, int], int] = {}
    selected: list[int] = []
    null_selected = False
    for r in rows:
        key = (bool(r["gnull"]), 0 if r["gnull"] else int(r["gkey"]))
        if key in order_of:
            continue
        order_of[key] = len(order_of)
        if key[0]:
            null_selected = True
        else:
            selected.append(key[1])
        if len(order_of) >= k_groups:
            break
    gv_type = {"long": "long", "double": "double", "string": "string"}[kind]
    out_schema = (
        f"{group_col} {gv_type}, group_total long, doc_id long, "
        "shard_id int, score double"
    )
    if not order_of:
        return Hits(spark, [], out_schema)
    hits = search(
        spark, index, query,
        _dv_group=(
            group_col, ("pass2", k_docs, tuple(selected), null_selected),
        ),
        **common,
    ).toPandas()
    # the client merge of ≤ k_groups·k_docs·shards rows: gtotal is the
    # exact count of a (group, shard) on each of its rows, so a group's
    # total sums one row per shard; then each group's top-k_docs by the
    # reference tie-break, groups in pass-1 order
    gnull, gkey = hits["gnull"].to_numpy(bool), hits["gkey"].to_numpy(np.int64)
    first = ~hits.duplicated(["gnull", "gkey", "shard_id"])
    total = hits["gtotal"].where(first, 0).groupby([gnull, gkey]).transform("sum")
    rank = np.array([order_of[g] for g in zip(gnull.tolist(), gkey.tolist())])
    order = np.lexsort((
        -hits["shard_id"].to_numpy(np.int64), hits["doc_id"].to_numpy(np.int64),
        -hits["score"].to_numpy(np.float64), rank,
    ))
    order = order[pd.Series(rank[order]).groupby(rank[order]).cumcount().to_numpy() < k_docs]
    if kind == "string":
        # the selected ranks are known from pass 1: the dictionary read is
        # cut to them
        values = list(map(_rank_values(index, group_col, selected).get, gkey.tolist()))
    elif kind == "double":
        values = u64_to_f64_order(i64_to_u64_order(gkey)).tolist()
    else:
        values = gkey.tolist()
    return Hits(
        spark,
        pd.DataFrame({
            group_col: pd.Series(
                [None if gnull[i] else values[i] for i in order.tolist()],
                dtype=object,
            ),
            "group_total": total.to_numpy(np.int64)[order],
            "doc_id": hits["doc_id"].to_numpy(np.int64)[order],
            "shard_id": hits["shard_id"].to_numpy(np.int32)[order],
            "score": hits["score"].to_numpy(np.float64)[order],
        }),
        out_schema,
    )


def search_batch(
    spark: SparkSession,
    index: "IndexHandle | str | list[IndexHandle | str]",
    queries: "list[str | dict]",
    k: int = 10,
    score_dtype: str = "float32",
) -> DataFrame:
    """Execute MANY queries in ONE Spark job — the throughput shape of the
    reference's query benchmark (LuceneSearchPerformanceTest.java:20-45
    fires a whole query batch and measures aggregate QPS; Katta amortizes
    per-query cost across its node fleet, Spark amortizes the per-job
    fixed cost across the batch).

    Returns DataFrame(query_id, doc_id, shard_id, score) with ≤ k rows per
    query, ordered by (query_id, score DESC, doc_id ASC, shard_id DESC).

    Plan: one shard-local stage (:meth:`_Fetch.run`) reads each shard's
    rows of the UNION of all queries' terms → the clause kernel
    (:func:`_make_clause_kernel`, the one search runs for boolean
    queries) decodes each distinct term once and scores every query
    against it → ≤ |queries|·k rows per shard → a driver-side merge per
    query_id.

    The call is EAGER: it runs that one job before it returns, and the
    returned frame is a local one over the merged rows, not a lazy plan.
    The merge runs in driver pandas and holds every per-shard row at
    once — up to |queries|·k·shards rows — so size batches to the
    driver's memory.

    Query surface: flat terms, ``+``/``-`` boolean clauses, phrases
    (in-index positional verify, like :func:`search`), AND/OR/NOT
    grouping, and the dictionary rewrites (wildcard/fuzzy/range — each
    expanded once driver-side, then batched like flat terms). Every query
    is lowered by the same front end as :func:`search`, so the same
    clause-combination guards apply per query.

    ``index`` may be a LIST of indexes, searched as one corpus exactly as
    :func:`search` does: rewrites expand per index, df and corpus stats
    sum across the indexes, and result shard ids are offset per index.

    A batch entry may also be a dict ``{"q": <query string>,
    "min_should_match": m, "synonyms": {...}}`` carrying the per-query
    clause options of :func:`search` — semantics identical to the
    single-query path (a synonym group scores as one blended pseudo-term
    and counts as one msm clause)."""
    handles = _open_handles(spark, index)
    for h in handles:
        h._record_query()
    # tombstoned docs masked at decode time for every batched query
    # (liveDocs; see search())
    deny = _deny_handle(spark, handles)
    sql_t = "float" if score_dtype == "float32" else "double"
    out_schema = f"query_id int, shard_id int, doc_id long, score {sql_t}"
    plans: list[_Clauses] = []
    for entry in queries:
        if isinstance(entry, dict):
            qstr = entry["q"]
            q_msm = int(entry.get("min_should_match", 0) or 0)
            q_syns = entry.get("synonyms") or None
        else:
            qstr, q_msm, q_syns = entry, 0, None
        plans.append(_lower_query(spark, handles, qstr, "or", q_msm, q_syns))
    all_terms = sorted({t for plan in plans for t in plan.terms})
    if not all_terms or k <= 0:
        return Hits(spark, [], out_schema)
    bcols = _KERNEL_COLS + (
        ["positions"] if any(plan.phrases for plan in plans) else []
    )
    fetch = _fetch_postings(spark, handles, all_terms, bcols)
    kernel = _make_clause_kernel(
        plans, fetch.n_docs, fetch.avgdl, k, score_dtype
    )
    # the ≤ |queries|·k rows per shard merge driver-side, per query, in
    # the reference tie-break (Katta's client merge)
    hits = fetch.run(spark, _shard_fn(kernel, deny), out_schema)
    hits = hits.iloc[_merge_order(hits, "query_id")]
    return Hits(spark, hits.groupby("query_id").head(k), out_schema)


def _live_tombstone_count(
    spark: SparkSession, h: "IndexHandle", dead: "np.ndarray | None"
) -> int:
    """Number of tombstoned docIDs that actually EXIST in ``h`` — decoded
    from the doc-marker (sentinel) postings, the index's authoritative
    docID set (build.py SENTINEL_HASHES: one marker posting row per
    (shard, doc_id % SENTINEL_SALT) slice, every doc in exactly one).
    The scan is th-pruned to the dead ids' own sentinel slices — bounded
    by |touched slices| x slice size (<= min(|dead|, SENTINEL_SALT)
    slices of ~n_docs/SENTINEL_SALT ids per shard), never a full-corpus
    postings scan; an empty tombstone set costs zero jobs. The dead-id
    array rides the memoized deny broadcast (_deny_handle), so repeated
    counts on a tombstoned index never re-ship it."""
    if dead is None or dead.size == 0:
        return 0
    from katta_spark.build import SENTINEL_HASHES, SENTINEL_SALT

    slices = np.unique(dead % np.int64(SENTINEL_SALT))
    hashes = [int(SENTINEL_HASHES[int(s)]) for s in slices]
    rows = (
        h.postings(spark)
        .where(F.col("th").isin(hashes))
        .select("doc_ids", "tfs", "doclens")
    )
    bc = _deny_handle(spark, [h])

    def kern(batches):
        dny = _deny_val(bc)
        n = 0
        for pdf in batches:
            for r in pdf.itertuples(index=False):
                docs = decode_posting_list(r.doc_ids, r.tfs, r.doclens)[0]
                n += int(np.intersect1d(dny, docs).size)
        yield pd.DataFrame({"n": [n]})

    out = (
        rows.mapInPandas(kern, "n long")
        .agg(F.sum("n").alias("t"))
        .collect()[0]
    )
    return int(out["t"] or 0)


def count_matches(
    spark: SparkSession,
    index: "IndexHandle | str | list[IndexHandle | str]",
    query: str,
    min_should_match: int = 0,
    synonyms: "dict[str, list[str]] | None" = None,
) -> int:
    """Hit-count fast path (Katta getResultCount, LuceneServer.java:413-423):
    number of docs matching the PARSED query: the exact total of
    :func:`search_with_total` at k=1, so the counted set matches search()
    exactly. Flat queries count docs matching ≥1 term through the
    match-only kernel (no scores); ``min_should_match``, ``synonyms``,
    boolean clauses (``+``/``-``, phrases, AND/OR/NOT grouping) and
    rewrites count through the scoring kernels — Katta's count() likewise
    counts the PARSED query's matches, not term-OR matches (phrases verify
    in-index against the positional postings).

    A LIST of indexes counts across all of them (Katta's count() sums
    per-node results over every searched index, LuceneClient.java:225-251):
    per-shard counts simply sum across the indexes' shards."""
    handles = _open_handles(spark, index)
    c = _parse_clauses(
        handles, query, min_should_match=min_should_match, synonyms=synonyms
    )
    if query.strip() == "*:*":
        # MatchAllDocsQuery — Lucene QueryParser's *:* production; the
        # classic "how many docs are deployed" probe
        # (client.count(new MatchAllDocsQuery())). min_should_match /
        # synonyms were refused above, like for any '*' query.
        # Counted from the corpus scalars minus the tombstones that
        # reference REAL docs: delete_docs accepts ids absent from the
        # index ("ignored at query time", delete.py) — Lucene's
        # numDocs = maxDoc - numDeletedDocs is likewise unmoved by
        # deleting a non-matching term, so phantom tombstones must not
        # shift the match-all count. Tombstone-free indexes stay zero-job.
        return sum(
            int(h.n_docs)
            - _live_tombstone_count(spark, h, h.deleted_array(spark))
            for h in handles
        )
    # the search kernels' exact totals ARE the count: tombstones are
    # denied there and rewrites expand against the dictionary (per index
    # when several are searched); a flat query only needs the match set
    hits = search_with_total(
        spark, handles, query, k=1,
        mode="match" if c.flat and not synonyms else "or",
        min_should_match=min_should_match, synonyms=synonyms,
    ).toPandas()
    return int(hits["total_hits"].iloc[0]) if len(hits) else 0


def facet_counts(
    spark: SparkSession,
    index: "IndexHandle | str | list[IndexHandle | str]",
    query: str,
    field: str,
    k: int = 10,
    mode: str = "or",
    shard_ids: list[int] | None = None,
) -> DataFrame:
    """(value, count): matching-document counts per value of NOT_ANALYZED
    keyword ``field`` — faceted search, the standard Lucene-consumer
    aggregation layered over a Katta deployment (the reference returns
    stored fields via getDetails, LuceneServer.java:390-410, and leaves
    grouping to the caller; counting in-index avoids materializing any
    per-document rows at all). Top-k facet values by (count DESC,
    value ASC); values with zero matching docs are omitted (Lucene facet
    convention). A LIST of indexes (base + streaming deltas, Katta's
    multi-index search surface) facets across all of them: the inputs are
    doc-disjoint, so per-shard counts simply sum per value.

    In-index dataflow: ONE shard job (:meth:`_Fetch.run`) fetches the
    query terms' postings together with the field's value terms (the
    ``field:`` terms of the term dictionary). Each shard task takes its
    match set from the kernel :func:`search` runs — the match kernel for
    mode='or', the all-MUST clause kernel for 'and', tombstones denied —
    and intersects it with every value's sorted doc list, emitting one
    (value, n) row per value it meets: |values| rows per shard, never
    per-doc. The driver sums the counts per value and takes the top-k.
    Flat term queries only (a quoted keyword value ``field:"v"`` is one
    term) — rewrites/phrases/+/-/trees are refused (compose via search +
    get_details groupBy for those); the returned frame holds the counts
    on the driver (:class:`Hits`).
    """
    handles = _open_handles(spark, index)
    for h in handles:
        if field not in h.keyword_fields:
            raise ValueError(
                f"field {field!r} is not a keyword field of this index "
                f"(declared: {sorted(h.keyword_fields)})"
            )
    if mode not in ("or", "and"):
        raise ValueError(f"mode must be 'or' or 'and', got {mode!r}")
    c = _parse_clauses(handles, query, mode)
    # mode="and" lowered every term to a MUST (an explicit +a +b stays
    # refused, like every other boolean clause)
    conj = mode == "and"
    if not (c.flat or conj and c._replace(must=set()).flat):
        raise ValueError(
            "facet_counts supports flat term queries; for boolean/"
            "phrase/rewrite queries compose search() + get_details() and "
            "group client-side"
        )
    out_schema = "value string, count long"
    terms = set(c.qweights)
    if not terms:
        return Hits(spark, [], out_schema)
    prefix = field + ":"  # build.FIELD_SEP — keyword terms are "field:value"
    values = {t for h in handles for t in h.term_dict().match(prefix)}
    fetch = _fetch_postings(spark, handles, sorted(terms | values), _KERNEL_COLS)
    k_all = sum(h.n_docs for h in handles)
    if conj:
        matcher = _make_clause_kernel([c], fetch.n_docs, fetch.avgdl, k_all, "float64")
    else:
        matcher = _make_match_kernel(c.qweights, fetch.n_docs, fetch.avgdl, k_all)
    matched = _shard_fn(matcher, _deny_handle(spark, handles))

    def counts(pdf: pd.DataFrame, where, allow=None) -> pd.DataFrame:
        out: dict = {"value": [], "n": []}
        is_q = pdf["term"].isin(terms).to_numpy()
        if not is_q.any():
            return pd.DataFrame(out)
        hits = matched(pdf[is_q].reset_index(drop=True), where)
        docs = np.sort(hits["doc_id"].to_numpy(np.int64))
        for r in pdf[pdf["term"].isin(values).to_numpy()].itertuples(index=False):
            d = decode_posting_list(r.doc_ids, r.tfs, r.doclens)[0]
            n = int(np.intersect1d(d, docs, assume_unique=True).size)
            if n:
                out["value"].append(r.term[len(prefix):])
                out["n"].append(n)
        return pd.DataFrame(out)

    per_shard = fetch.run(spark, counts, "value string, n long", only=shard_ids)
    total = per_shard.groupby("value")["n"].sum()
    top = sorted(zip(total.index, total.tolist()), key=lambda vn: (-vn[1], vn[0]))
    return Hits(spark, top[:k], out_schema)


def _dv_numeric_kind(handles: list, col: str) -> str:
    """The docvalue kind of ``col`` in every searched index, refusing
    strings — range facets and match stats are numeric operators (Lucene
    Long/DoubleRangeFacetCounts; string sidecar values are per-index
    dictionary RANKS, meaningless to sum or bin) — and kinds that differ
    between indexes (their mapped keys do not compare)."""
    found = set()
    for h in handles:
        kinds = h.docvalue_kinds()
        if col not in kinds:
            raise ValueError(
                f"column {col!r} is not in the index's docvalue sidecar "
                f"(available: {sorted(kinds)}); rebuild with docvalue_cols "
                "including it"
            )
        if kinds[col] == "string":
            raise ValueError(
                f"column {col!r} is a string docvalue; facet_ranges/"
                "match_stats are numeric operators (use facet_counts or "
                "search_grouped for string fields)"
            )
        found.add(kinds[col])
    if len(found) > 1:
        raise ValueError(
            f"column {col!r} has kinds {sorted(found)} in different "
            "indexes — their mapped keys cannot compare"
        )
    return found.pop()


_I64_MIN, _I64_MAX = -(2**63), 2**63 - 1


def _mapped_point(v, kind: str) -> int:
    """A range edge mapped into the sidecar's order-preserving i64 key
    space (identity for integral kinds; the float bijection for doubles).
    date/timestamp docvalue columns store unix_date / unix_micros — edges
    for them are those integers."""
    if isinstance(v, float) and v != v:
        raise ValueError("range edges cannot be NaN")
    if kind == "long":
        return int(v)
    u = f64_to_u64_order(np.asarray([float(v)], dtype=np.float64))
    return int(u64_to_i64_order(u)[0])


def _resolve_ranges(ranges, kind: str):
    """(labels, [(ge, le), ...]) — each input range resolved to a CLOSED
    interval in mapped i64 key space. Accepts (label, lo, hi) with
    half-open [lo, hi) semantics, or (label, lo, hi, lo_incl, hi_incl)
    with explicit inclusivity (Lucene LongRange's minInclusive /
    maxInclusive); lo=None / hi=None open the end (an open top excludes
    NaN for double columns — Lucene ranges never match NaN). The mapped
    keys are integers under a strictly monotonic bijection, so
    exclusive bounds shift by exactly one key: >lo ⇔ ≥lo+1, <hi ⇔ ≤hi-1."""
    if not ranges:
        raise ValueError("facet_ranges needs at least one range")
    labels: list[str] = []
    bounds: list[tuple[int, int]] = []
    for r in ranges:
        if not isinstance(r, (tuple, list)) or not 3 <= len(r) <= 5:
            raise ValueError(
                "each range is (label, lo, hi) or "
                "(label, lo, hi, lo_incl, hi_incl); got "
                f"{r!r}"
            )
        label, lo, hi = r[0], r[1], r[2]
        lo_incl = bool(r[3]) if len(r) > 3 else True
        hi_incl = bool(r[4]) if len(r) > 4 else False
        if lo is not None and hi is not None and float(lo) > float(hi):
            raise ValueError(f"range {label!r}: lo {lo!r} > hi {hi!r}")
        if lo is None:
            ge = _I64_MIN
        else:
            ge = _mapped_point(lo, kind) + (0 if lo_incl else 1)
        if hi is None:
            le = (
                _mapped_point(float("inf"), kind)
                if kind == "double"
                else _I64_MAX
            )
        else:
            le = _mapped_point(hi, kind) - (0 if hi_incl else 1)
        labels.append(str(label))
        bounds.append((
            max(_I64_MIN, min(_I64_MAX, ge)),
            max(_I64_MIN, min(_I64_MAX, le)),
        ))
    return labels, bounds


def _dv_agg_partials(
    spark: SparkSession, handles: list, query: str, col: str, spec: tuple,
    kind: str, **kw,
) -> pd.DataFrame:
    """The per-shard partial rows of the aggregate collector
    (:func:`_dv_agg_collector`) over ``query``'s matches, one search per
    index, concatenated on the driver."""
    return pd.concat([
        search(
            spark, h, query, k=2**31 - 1, prune=False, ordered=False,
            score_dtype="float64", _dv_agg=(col, spec, kind), **kw,
        ).toPandas()
        for h in handles
    ], ignore_index=True)


def facet_ranges(
    spark: SparkSession,
    index: "IndexHandle | str | list[IndexHandle | str]",
    query: str,
    col: str,
    ranges: list,
    mode: str = "or",
    shard_ids: list[int] | None = None,
    filter_df: DataFrame | None = None,
    filter_doc_col: str = "doc_id",
) -> DataFrame:
    """(label, count): matching-document counts per declared numeric range
    of docvalue column ``col`` — the Lucene facet-module
    LongRangeFacetCounts / DoubleRangeFacetCounts analog (beyond-Katta,
    layered over Katta's scatter-gather shape exactly like facet_counts;
    the reference leaves aggregation to the Lucene consumer).

    ``ranges``: (label, lo, hi) half-open [lo, hi), or (label, lo, hi,
    lo_incl, hi_incl) with explicit inclusivity; None opens an end.
    Ranges may OVERLAP (each doc counts in every range containing it —
    the Lucene contract) and every declared range appears in the output,
    zero counts included, in declaration order. Docs whose ``col`` is
    NULL count in no range. For date/timestamp docvalue columns the
    sidecar stores unix_date / unix_micros — pass edges in those units.

    Unlike facet_counts, the FULL query surface applies (boolean/
    phrase/tree/rewrites): the match set comes from the standard scoring
    kernels with pruning disabled, and each shard task's range collector
    (:func:`_dv_agg_collector`) reads the shard's docvalue rows and emits
    only the non-empty (range, count) partials — one shard job per
    index; the driver sums the partials. ``filter_df`` and deletion
    tombstones compose like in search(). A LIST of doc-disjoint indexes
    sums per-range counts (numeric mapped keys are globally comparable
    across indexes)."""
    ihs = _open_handles(spark, index)
    kind = _dv_numeric_kind(ihs, col)
    labels, bounds = _resolve_ranges(ranges, kind)
    parts = _dv_agg_partials(
        spark, ihs, query, col, ("ranges", tuple(bounds)), kind, mode=mode,
        shard_ids=shard_ids, filter_df=filter_df, filter_doc_col=filter_doc_col,
    )
    counts = np.zeros(len(labels), dtype=np.int64)
    np.add.at(counts, parts["ridx"].to_numpy(np.int64), parts["n"].to_numpy(np.int64))
    return Hits(spark, list(zip(labels, counts.tolist())), "label string, count long")


def match_stats(
    spark: SparkSession,
    index: "IndexHandle | str | list[IndexHandle | str]",
    query: str,
    col: str,
    mode: str = "or",
    shard_ids: list[int] | None = None,
    filter_df: DataFrame | None = None,
    filter_doc_col: str = "doc_id",
) -> DataFrame:
    """One row of summary statistics of docvalue column ``col`` over the
    query's matching documents — the Solr StatsComponent analog
    (count/missing/min/max/sum/mean/stddev), run entirely IN-INDEX: each
    shard task's stats collector (:func:`_dv_agg_collector`) collapses
    its match set to a constant-size partial, the driver combines the
    partials in shard order, and min/max map back to original values
    through the order-preserving bijection — no stored-field join, no
    per-doc rows past the tasks.

    Columns: ``count`` (matched docs with a value), ``missing`` (matched
    docs whose ``col`` is NULL), ``vmin``/``vmax``/``vsum`` (typed by the
    column kind — exact int64 sum for integral columns), ``mean``,
    ``stddev`` (sample stddev, NULL when count < 2). count=0 leaves
    vmin/vmax/mean/stddev NULL and vsum 0 (the empty sum). The full
    query surface applies; ``filter_df``, ``shard_ids`` and deletion
    tombstones compose like in search(). A LIST of doc-disjoint indexes
    combines partials across all of them."""
    ihs = _open_handles(spark, index)
    kind = _dv_numeric_kind(ihs, col)
    parts = _dv_agg_partials(
        spark, ihs, query, col, ("stats",), kind, mode=mode,
        shard_ids=shard_ids, filter_df=filter_df, filter_doc_col=filter_doc_col,
    )
    cnt = int(parts["n"].sum())
    sum_d = sum(parts["sum_d"].tolist(), 0.0)
    sumsq = sum(parts["sumsq"].tolist(), 0.0)
    vmin = vmax = mean = stddev = None
    if cnt:
        has = parts[parts["n"] > 0]
        vmin, vmax = int(has["kmin"].min()), int(has["kmax"].max())
        if kind == "double":
            vmin, vmax = u64_to_f64_order(
                i64_to_u64_order(np.array([vmin, vmax], np.int64))
            ).tolist()
        mean = sum_d / cnt
    if cnt > 1:
        # sample variance from the sum/sumsq partials; clamped at 0
        # against float round-off on near-constant columns
        stddev = math.sqrt(max(0.0, (sumsq - sum_d * sum_d / cnt) / (cnt - 1)))
    vt = "double" if kind == "double" else "long"
    vsum = sum_d if kind == "double" else int(parts["sum_l"].sum())
    return Hits(
        spark,
        [(cnt, int(parts["missing"].sum()), vmin, vmax, vsum, mean, stddev)],
        f"count long, missing long, vmin {vt}, vmax {vt}, vsum {vt}, "
        "mean double, stddev double",
    )


def suggest_terms(
    spark: SparkSession,
    index: "IndexHandle | str",
    word: str,
    k: int = 5,
    max_edits: int = 2,
) -> DataFrame:
    """(term, df, distance): did-you-mean suggestions — the Lucene contrib
    SpellChecker analog (suggestSimilar; Katta bundles Lucene 3.x contrib
    and leaves spell-correction to the consumer): dictionary terms within
    ``max_edits`` Levenshtein of the analyzed ``word``, ranked
    (distance ASC, df DESC, term ASC), the word itself excluded.

    One pushed, vocab-sized dictionary scan: length prefilter then the
    BOUNDED levenshtein (threshold form returns -1 past max_edits, so the
    scan never pays full edit-distance on wildly different terms) —
    exactly the fuzzy-rewrite scan shape (expand_wildcards). Keyword
    ``field:value`` terms are excluded (suggestions are analyzed tokens).
    """
    h = IndexHandle.open(spark, index) if isinstance(index, str) else index
    if not 1 <= max_edits <= 2:
        raise ValueError("max_edits must be 1 or 2 (Lucene fuzzy cap)")
    toks = tokenize_str(word)
    if len(toks) != 1:
        raise ValueError(
            f"suggest_terms takes one analyzed term; {word!r} analyzed to "
            f"{toks!r}"
        )
    w = toks[0]
    return (
        h.stats(spark)
        .where(~F.col("term").contains(":"))
        .where(F.col("term") != w)
        .where(F.abs(F.length("term") - F.lit(len(w))) <= F.lit(max_edits))
        .withColumn(
            "distance", F.levenshtein(F.col("term"), F.lit(w), max_edits)
        )
        .where(F.col("distance") >= 0)
        .orderBy(F.asc("distance"), F.desc("df"), F.asc("term"))
        .select("term", "df", "distance")
        .limit(k)
    )


def more_like_this(
    spark: SparkSession,
    index: "IndexHandle | str",
    text: str,
    k: int = 10,
    max_query_terms: int = 16,
    min_tf: int = 1,
    boost: bool = False,
    exclude_doc_id: int | None = None,
) -> DataFrame:
    """Top-k documents similar to ``text`` — the Lucene contrib
    MoreLikeThis analog (Katta bundles Lucene 3.x contrib; MLT is the
    classic find-similar feature its consumers run): extract the text's
    most characteristic terms by tf·idf against THIS index's corpus
    statistics, then run them as an OR query through the normal BM25
    path.

    Term selection is driver-side and bounded (one document's distinct
    terms — the same budget as query parsing): tf from the analyzed
    text, df from a pushed stats-table probe, score = tf · ln(n_docs/df),
    top ``max_query_terms`` by (score DESC, term ASC). ``boost=True``
    carries each term's tf·idf weight into the query via the ^boost
    syntax (MoreLikeThis.setBoost analog); default False matches
    Lucene's default. ``exclude_doc_id`` drops the seed document from
    the results (find-similar excludes self).
    """
    h = IndexHandle.open(spark, index) if isinstance(index, str) else index
    if max_query_terms < 1:
        raise ValueError("max_query_terms must be >= 1")
    from collections import Counter

    tf = Counter(tokenize_str(text))
    tf = Counter({t: c for t, c in tf.items() if c >= min_tf})
    if not tf:
        return spark.createDataFrame([], "doc_id long, shard_id int, score float")
    dfs = {
        r["term"]: r["df"]
        for r in h.stats(spark)
        .where(F.col("term").isin(list(tf)))
        .select("term", "df")
        .collect()
    }
    import math

    scored = sorted(
        (
            (t, tf[t] * math.log(h.n_docs / dfs[t]))
            for t in tf
            if dfs.get(t, 0) > 0 and dfs[t] < h.n_docs
        ),
        key=lambda x: (-x[1], x[0]),
    )[:max_query_terms]
    if not scored:
        return spark.createDataFrame([], "doc_id long, shard_id int, score float")
    if boost:
        q = " ".join(f"{t}^{w:.6f}" for t, w in scored)
    else:
        q = " ".join(t for t, _ in scored)
    fetch = k + 1 if exclude_doc_id is not None else k
    hits = search(spark, h, q, k=fetch)
    if exclude_doc_id is not None:
        hits = hits.where(F.col("doc_id") != exclude_doc_id).limit(k)
    return hits


def term_vectors(
    spark: SparkSession,
    index: "IndexHandle | str",
    doc_ids: list[int] | None = None,
    keyword_terms: bool = False,
    broadcast_dict: bool = True,
) -> DataFrame:
    """(doc_id, term, tf, dl, tfidf): the index re-pivoted doc-major — the
    Lucene term-vectors surface (IndexReader.getTermFreqVector; Katta
    serves stored fields via getDetails and leaves term vectors to the
    consumer). Two uses: ``doc_ids`` bounded (driver-list, the getDetails
    budget) fetches per-doc sparse feature vectors for reranking/MLT;
    ``doc_ids=None`` exports the WHOLE corpus as (doc, term, tf, tfidf)
    rows — the index as a sparse feature store for downstream ML
    (tf-idf document vectors without re-tokenizing the corpus).

    Dataflow: one mapInPandas decode pass over the postings (each row
    explodes to its (doc, tf, dl) triples — vectorized, no per-row
    Python beyond the blob decode the search kernels already pay), then
    the vocab-sized (th → term, df) dictionary joins back (broadcast by
    default — same knob and rationale as unigram_lm_scores' vocab) and
    tfidf = tf · ln(n_docs / df) computes in-column. With a bounded
    ``doc_ids`` list the kernel np.isin-filters each decoded row, and
    for ``pmod_doc_id`` sharding the scan additionally prunes to the
    docs' shards (hash sharding reads all shards — the filter still
    collapses in-kernel). Sentinel doc-marker rows never appear (the
    dictionary join is inner and markers are not in the dictionary).
    ``keyword_terms=True`` includes NOT_ANALYZED ``field:value`` terms
    (tf=1 stored-field postings); default excludes them (text vectors).
    """
    h = IndexHandle.open(spark, index) if isinstance(index, str) else index
    posts = h.postings(spark).select(
        "shard_id", "th", "doc_ids", "tfs", "doclens"
    )
    want: np.ndarray | None = None
    if doc_ids is not None:
        if not doc_ids:
            return spark.createDataFrame(
                [], "doc_id long, term string, tf long, dl long, tfidf double"
            )
        want = np.unique(np.asarray(list(doc_ids), dtype=np.int64))
        if h.sharding == "pmod_doc_id":
            shards = sorted({int(d) % h.num_shards for d in want.tolist()})
            posts = posts.where(F.col("shard_id").isin(shards))
    want_arr = want

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            ths, docs_o, tfs_o, dls_o = [], [], [], []
            for r in pdf.itertuples(index=False):
                docs, tfs, dls = decode_posting_list(
                    r.doc_ids, r.tfs, r.doclens
                )
                if want_arr is not None:
                    m = np.isin(docs, want_arr, assume_unique=False)
                    if not m.any():
                        continue
                    docs, tfs, dls = docs[m], tfs[m], dls[m]
                ths.append(np.full(docs.size, r.th, dtype=np.int64))
                docs_o.append(docs)
                tfs_o.append(tfs)
                dls_o.append(dls)
            if not ths:
                continue
            yield pd.DataFrame(
                {
                    "th": np.concatenate(ths),
                    "doc_id": np.concatenate(docs_o),
                    "tf": np.concatenate(tfs_o),
                    "dl": np.concatenate(dls_o),
                }
            )

    triples = posts.mapInPandas(
        kernel, "th long, doc_id long, tf long, dl long"
    )
    dct = h.stats(spark).select("th", "term", "df")
    if not keyword_terms:
        dct = dct.where(~F.col("term").contains(":"))
    if broadcast_dict:
        dct = F.broadcast(dct)
    return triples.join(dct, "th").select(
        "doc_id",
        "term",
        "tf",
        "dl",
        F.round(
            F.col("tf") * F.log(F.lit(float(h.n_docs)) / F.col("df")), 4
        ).alias("tfidf"),
    )


def get_details(
    spark: SparkSession,
    hits: DataFrame,
    source: DataFrame,
    fields: list[str] | None = None,
    id_cols: tuple[str, str] = ("conv_id", "turn_idx"),
) -> DataFrame:
    """Fetch stored fields for hits — Katta getDetails (LuceneServer.java:
    390-410; client fan-out LuceneClient.java:308-369) as a broadcast join
    of the tiny top-k against the source table (J2).

    The broadcast side must be the BUILD side: an inner join with the
    top-k broadcast lets every source partition probe the tiny hash table
    (hits are by construction drawn from the source corpus, so inner ==
    left-outer here). Broadcasting the preserved side of an outer join is
    impossible and silently degrades to a corpus-wide sort-merge join.
    """
    src = source.withColumn("doc_id", F.xxhash64(*[F.col(c) for c in id_cols]))
    if fields:
        src = src.select("doc_id", *fields)
    src = _join_safe_source(src, hits.columns)
    return src.join(F.broadcast(hits), "doc_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )


def snippet_col(
    terms: list[str], text_col: str = "text",
    before: int = 3, after: int = 3,
):
    """Column: a keyword-in-context snippet — up to ``before`` tokens, the
    first occurrence of any query term, up to ``after`` tokens after it;
    empty string when no term matches. The client-side highlighting step
    every Lucene consumer runs on getDetails output (the reference returns
    stored fields and leaves this to the caller), as ONE whole-stage-
    codegen regexp_extract — no Python in the row path. Analyzed terms
    only (keyword field:value terms match nothing in running text)."""
    import re as _re

    words = sorted(
        {t for t in terms if ":" not in t and t}, key=len, reverse=True
    )
    if not words:
        return F.lit("")
    alt = "|".join(_re.escape(w) for w in words)
    pat = (
        r"(?i)((?:[A-Za-z0-9]+[^A-Za-z0-9]+){0," + str(before) + r"}"
        r"\b(?:" + alt + r")\b"
        r"(?:[^A-Za-z0-9]+[A-Za-z0-9]+){0," + str(after) + r"})"
    )
    return F.regexp_extract(F.col(text_col), pat, 1)


def get_snippets(
    spark: SparkSession,
    index: "IndexHandle | str",
    query: str,
    hits: DataFrame,
    source: DataFrame,
    text_col: str = "text",
    before: int = 3,
    after: int = 3,
    id_cols: tuple[str, str] = ("conv_id", "turn_idx"),
) -> DataFrame:
    """get_details + a ``snippet`` column for the query's analyzed terms
    — hits stay the broadcast build side, the snippet evaluates in the
    same codegen stage as the probe, nothing extra shuffles."""
    if isinstance(index, str):
        index = IndexHandle.open(spark, index)
    terms = sorted(parse_query(query, index.keyword_fields))
    out = get_details(
        spark, hits, source, fields=None, id_cols=id_cols
    )
    return out.withColumn(
        "snippet", snippet_col(terms, text_col, before, after)
    )


def explain_score(
    spark: SparkSession,
    index: "IndexHandle | str",
    query: str,
    doc_id: int,
    mode: str = "or",
    min_should_match: int = 0,
    synonyms: "dict[str, list[str]] | None" = None,
    score_dtype: str = "float32",
) -> DataFrame:
    """Lucene ``Searcher.explain`` analog: the per-clause BM25 breakdown of
    ONE document's score under ``query`` — the relevance-debugging surface
    every Lucene consumer reaches for (the reference serves Lucene 3.5,
    whose Searchable interface carries explain(Weight, int) right next to
    the search methods Katta scatter-gathers).

    Returns one row per clause, ordered contribution DESC then term ASC:

      term          the clause (a scoring/excluded term, or the phrase text)
      clause        'should' | 'must' | 'must_not' | 'phrase' | 'synonym'
                    (under mode='and' every term is a MUST: 'must')
      qweight       query-side weight (occurrences x boost; 0 for must_not)
      tf, dl        this doc's term frequency and field length in the
                    clause's OWN posting (keyword postings carry dl=1)
      df            global document frequency (CachedDfSource invariant —
                    scores never depend on which shard serves the doc)
      idf, tf_norm  the BM25 factors (float64, scoring.py formulas)
      contribution  qweight * idf * tf_norm (0 when the doc lacks the term;
                    must_not and phrase rows never contribute)
      satisfied     this clause's verdict for THIS doc (a must_not row is
                    satisfied when the doc does NOT contain the term; a
                    phrase row when the positional match succeeds)
      matches       doc-level verdict, repeated on every row
      total_score   the engine score (score_dtype, same float32 cast as
                    Hit.java:39) when matches, else 0.0 — equal to the
                    ``score`` column search() returns for this doc

    ``matches`` and ``total_score`` are the verdict of the search's own
    clause kernel (:func:`_make_clause_kernel`), run over the doc's shard
    with only this doc allowed and the tombstones denied: the doc matches
    exactly when search() would return it. Dictionary rewrites
    (wildcard/fuzzy/range) explain the expanded OR, each expansion
    scoring with its own df. ``synonyms`` groups explain as ONE blended
    row (clause='synonym', term='Synonym(a b)', tf = Σ member tfs, df =
    max member df — Lucene's explain prints SynonymQuery the same
    collapsed way). Tombstoned (deleted) docs never match — the liveDocs
    skip, while the reported stats stay stale until expunge, exactly like
    Lucene. AND/OR/NOT tree grouping is refused (a tree's match condition
    is not a flat clause list — run search() for tree queries).

    Dataflow: the postings read prunes to the query's terms and — under
    pmod sharding — to the ONE shard that can hold the doc; each shard
    task emits <= |terms| + |phrases| tiny rows (the doc's tf/dl per
    clause) plus the kernel's one hit row, never a per-doc result set.
    The per-clause BM25 arithmetic runs driver-side.
    """
    handles = _open_handles(spark, index)
    if len(handles) > 1:
        raise ValueError(
            "explain_score explains one index — pass the index that holds "
            "the doc"
        )
    index = handles[0]
    index._record_query()
    target = int(doc_id)
    c = _lower_query(
        spark, handles, query, mode, min_should_match, synonyms
    )
    if c.tree is not None:
        raise ValueError(
            "explain_score does not support AND/OR/NOT tree grouping — "
            "a tree's match condition is not a flat clause list; run "
            "search() for tree queries"
        )
    if mode not in ("or", "and"):
        raise ValueError(
            f"explain_score explains scoring searches; mode={mode!r} "
            "has no score to explain"
        )
    qweights, must, must_not, phrases, syn_groups = (
        c.qweights, c.must, c.must_not, c.phrases, c.syn_groups
    )
    syn_members = {m for _, _, members in syn_groups for m in members}
    out_schema = (
        "term string, clause string, qweight double, tf long, dl long, "
        "df long, idf double, tf_norm double, contribution double, "
        "satisfied boolean, matches boolean, total_score double"
    )
    if not qweights and not must_not:
        return Hits(spark, [], out_schema)

    phrase_tokens = {t for toks, _ in phrases for t in toks}
    # (skips/block maxima are pruning state — a single-doc probe never
    # needs them)
    kcols = ["shard_id", "th", "doc_ids", "tfs", "doclens", "max_tf", "min_dl"] + (
        ["positions"] if phrases else []
    )
    fetch = _fetch_postings(spark, handles, c.terms, kcols)
    n_docs, avgdl = fetch.n_docs, fetch.avgdl
    phrase_specs = [(tuple(toks), int(slop)) for toks, slop in phrases]
    want_pos = bool(phrase_specs)
    verdict = _make_clause_kernel([c], n_docs, avgdl, 1, score_dtype)
    deny = _deny_handle(spark, [index])

    def kernel(pdf: pd.DataFrame, *_) -> pd.DataFrame:
        rows_out: list[tuple] = []
        tf_of: dict[str, int] = {}
        dl_of: dict[str, int] = {}
        pdata: dict[str, tuple] = {}
        for r in pdf.itertuples(index=False):
            docs, tfs, dls = decode_posting_list(r.doc_ids, r.tfs, r.doclens)
            i = int(np.searchsorted(docs, target))
            hit = i < docs.size and int(docs[i]) == target
            if hit:
                tf_of[r.term] = int(tfs[i])
                dl_of[r.term] = int(dls[i])
            if want_pos and r.term in phrase_tokens and hit:
                pdata[r.term] = (docs, tfs, decode_positions(r.positions, tfs))
        for t, tf in tf_of.items():
            rows_out.append((t, tf, dl_of[t], False, 0.0))
        cand = np.array([target], dtype=np.int64)
        for toks, slop in phrase_specs:
            if all(t in pdata for t in toks):
                ok = bool(
                    _phrase_match_mask(cand, list(toks), slop, pdata)[0]
                )
            else:
                ok = False
            rows_out.append((" ".join(toks), 0, 0, ok, 0.0))
        # the doc's hit row, term None: the search kernel's verdict
        hits = verdict(pdf, DocFilter(cand, _deny_val(deny)))
        for sc in hits["score"]:
            rows_out.append((None, 0, 0, False, float(sc)))
        return pd.DataFrame(
            rows_out, columns=["term", "tf", "dl", "phrase_ok", "score"]
        )

    probe = fetch.run(
        spark, kernel,
        "term string, tf long, dl long, phrase_ok boolean, score double",
        # under pmod sharding only the ONE shard that can hold the doc
        only=[target % index.num_shards]
        if index.sharding == "pmod_doc_id" else None,
    )
    tf_of = {}
    dl_of = {}
    phrase_ok: dict[str, bool] = {}
    # a term row always carries the doc's dl >= 1; phrase verdict rows
    # carry tf=dl=0, so the two never collide even for one-token phrases
    pnames = {" ".join(toks) for toks, _ in phrase_specs}
    scores = []
    for r in probe.itertuples(index=False):
        if pd.isna(r.term):
            scores.append(r.score)
        elif r.term in pnames and (r.tf == 0 and r.dl == 0):
            phrase_ok[r.term] = phrase_ok.get(r.term, False) or bool(
                r.phrase_ok
            )
        else:
            tf_of[r.term] = int(r.tf)
            dl_of[r.term] = int(r.dl)
    matches = bool(scores)
    total = float(scores[0]) if matches else 0.0
    dfm = index.df_of_terms(spark, sorted(set(qweights)))

    def _factors(df: int, tf: int, dl: int) -> tuple[float, float]:
        """(idf, tf_norm) of one clause for this doc, scoring.py formulas;
        tf_norm is 0 when the doc lacks the clause."""
        idf = float(scoring.idf_np(np.array([df], np.float64), n_docs)[0])
        if tf <= 0:
            return idf, 0.0
        tfn = scoring.tf_norm_np(
            np.array([tf], np.float64), np.array([dl], np.float64), avgdl
        )
        return idf, float(tfn[0])

    out_rows: list[tuple] = []
    for t in sorted(qweights):
        if t in syn_members:
            # the key term explains inside its group's blended row
            continue
        qw = float(qweights[t])
        tf = tf_of.get(t, 0)
        dl = dl_of.get(t, 0)
        dfv = int(dfm.get(t, 0))
        idf, tfn = _factors(dfv, tf, dl)
        contrib = qw * idf * tfn if tf > 0 else 0.0
        clause = "must" if t in must else "should"
        out_rows.append(
            (t, clause, qw, tf, dl, dfv, idf, tfn, contrib, tf > 0)
        )
    for weight, gdf, members in syn_groups:
        # one blended row per group — Lucene's explain collapses
        # SynonymQuery the same way (weight(Synonym(f:a f:b)) ...)
        tf_sum = int(sum(tf_of.get(m, 0) for m in members))
        dl = next(
            (dl_of[m] for m in members if tf_of.get(m, 0) > 0), 0
        )
        gidf, gtfn = _factors(gdf, tf_sum, dl)
        contrib = float(weight) * gidf * gtfn if tf_sum > 0 else 0.0
        out_rows.append(
            (f"Synonym({' '.join(members)})", "synonym", float(weight),
             tf_sum, dl, int(gdf), gidf, gtfn, contrib, tf_sum > 0)
        )
    for t in sorted(must_not):
        tf = tf_of.get(t, 0)
        out_rows.append(
            (t, "must_not", 0.0, tf, dl_of.get(t, 0), 0, 0.0, 0.0, 0.0, tf == 0)
        )
    for toks, slop in phrase_specs:
        name = " ".join(toks)
        label = name if slop == 0 else f'"{name}"~{slop}'
        out_rows.append(
            (label, "phrase", 0.0, 0, 0, 0, 0.0, 0.0, 0.0,
             phrase_ok.get(name, False))
        )
    out_rows = [
        r + (matches, total)
        for r in sorted(out_rows, key=lambda r: (-r[8], r[0]))
    ]
    return Hits(spark, out_rows, out_schema)
