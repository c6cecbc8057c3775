"""Driver-resident term dictionary — an index's ``stats.parquet`` rows
``(th, term, df)`` held as sorted numpy arrays, Lucene's in-RAM terms
index and the full form of Katta's ``CachedDfSource``
(LuceneServer.java:441): every df question, synonym group df,
multi-index df sum and prefix/range rewrite of a query is answered by an
array lookup on the driver, with no Spark job.

The dictionary is read once per ``stats.parquet`` generation (the handle
keys it on the directory mtime, like its relation memo). Past
``MAX_RESIDENT_TERMS`` (counted from the parquet footers) it is not held
in memory: each lookup and rewrite reads only the rows it needs from
``stats.parquet`` with a pyarrow filter (``th`` for a lookup, the term
bounds for a rewrite), so callers see one interface either way.
"""

from __future__ import annotations

import os
import re
from typing import NamedTuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from katta_spark.xxhash import term_hash

# Largest vocabulary held on the driver. Measured driver RSS on a 4-core
# x86 host, synthetic 8-12 character terms: 113 B per term at 1M terms,
# 83 B at 2M (hash, df, the Python string and two object arrays), so the
# cap holds at most ~170 MB and loads in ~3 s. Past it, a lookup scans the
# th column of every row group (stats.parquet is not sorted by th) and a
# rewrite reads the terms in its bounds: ~40-70 ms and ~25-60 ms per call
# at 1M-2M terms on the same host, against ~0.03 ms held in memory.
MAX_RESIDENT_TERMS = 2_000_000

_SCHEMA = pa.schema([("th", pa.int64()), ("term", pa.string()), ("df", pa.int64())])

# Sorts after every character a term can hold: ``p + _TOP`` bounds the
# run of terms that start with ``p``.
_TOP = "\U0010ffff"


def parquet_files(path: str) -> list[str]:
    """The data files of a Spark-written parquet directory (markers such as
    ``_SUCCESS`` and ``.crc`` checksums skipped); [] when it is missing."""
    try:
        names = os.listdir(path)
    except FileNotFoundError:
        return []
    return sorted(
        os.path.join(path, n)
        for n in names
        if n.endswith(".parquet") and not n.startswith(("_", "."))
    )


class TermDict:
    """``(th, term, df)`` of one index, ordered by ``th`` for df lookups and
    by ``term`` for prefix and range rewrites."""

    def __init__(self, path: str) -> None:
        self.files = parquet_files(path)
        self.n_terms = sum(pq.ParquetFile(f).metadata.num_rows for f in self.files)
        self.resident = self.n_terms <= MAX_RESIDENT_TERMS
        if not self.resident:
            return
        t = self._scan().to_table()
        t = t.take(pc.sort_indices(t["th"]))
        self.th = t["th"].to_numpy()
        self.df = t["df"].to_numpy()
        self.term = np.array(t["term"].to_pylist(), dtype=object)
        # Arrow orders strings by UTF-8 bytes, i.e. by code point — the
        # order of both Python's and Spark's string comparisons
        self.by_term = self.term[pc.sort_indices(t["term"]).to_numpy()]

    def _scan(self, filt=None, columns=None):
        return ds.dataset(self.files, schema=_SCHEMA, format="parquet").scanner(
            columns=columns, filter=filt
        )

    def lookup(self, terms) -> dict[str, int]:
        """term → global df of the ``terms`` the index holds. A row counts
        only when its term text equals the query term, so a query term whose
        xxhash64 collides with a different indexed term is absent."""
        terms = list(dict.fromkeys(terms))
        if not terms:
            return {}
        hashes = np.array([term_hash(t) for t in terms], dtype=np.int64)
        if self.resident:
            if not self.th.size:
                return {}
            pos = np.minimum(np.searchsorted(self.th, hashes), self.th.size - 1)
            found = {
                self.term[p]: int(self.df[p]) for p in pos[self.th[pos] == hashes]
            }
        else:
            rows = self._scan(pc.field("th").isin(hashes)).to_table().to_pydict()
            found = dict(zip(rows["term"], map(int, rows["df"])))
        return {t: found[t] for t in terms if t in found}

    def match(
        self,
        prefix: str,
        pattern: "str | None" = None,
        lo: "str | None" = None,
        lo_incl: bool = True,
        hi: "str | None" = None,
        hi_incl: bool = True,
        bare: bool = False,
        limit: "int | None" = None,
    ) -> list[str]:
        """Terms that start with ``prefix``, in term order, further narrowed
        to those ``pattern`` finds (a regex), to those between ``lo`` and
        ``hi`` (inclusive unless ``*_incl`` is False; None is an open bound)
        and, with ``bare``, to default-field terms (no ``:``). A dictionary
        not held in memory stops reading once it has ``limit`` + 1 matches,
        so a too-broad rewrite fails fast without pulling the vocabulary."""
        rx = re.compile(pattern) if pattern is not None else None

        def keep(ts):
            return [
                t for t in ts
                if t.startswith(prefix)
                and not (bare and ":" in t)
                and (rx is None or rx.search(t))
            ]

        if self.resident:
            a = self.by_term
            a = a[np.searchsorted(a, prefix):np.searchsorted(a, prefix + _TOP)]
            if lo is not None:
                a = a[np.searchsorted(a, lo, "left" if lo_incl else "right"):]
            if hi is not None:
                a = a[:np.searchsorted(a, hi, "right" if hi_incl else "left")]
            return keep(a)
        term = pc.field("term")
        filt = (term >= prefix) & (term < prefix + _TOP)
        if lo is not None:
            filt &= (term >= lo) if lo_incl else (term > lo)
        if hi is not None:
            filt &= (term <= hi) if hi_incl else (term < hi)
        out: list[str] = []
        for b in self._scan(filt, ["term"]).to_batches():
            out += keep(b.column(0).to_pylist())
            if limit is not None and len(out) > limit:
                break
        # code-point order, the order of the resident by_term array
        return sorted(out)


class QueryTerms(NamedTuple):
    """One query's slice of the dictionaries: hash (sorted), term and df of
    each query term the searched indexes hold — all of phase 1 that rides
    in a task's closure."""

    th: np.ndarray
    term: np.ndarray
    df: np.ndarray

    @classmethod
    def of(cls, dfs: dict[str, int]) -> "QueryTerms":
        th = np.array([term_hash(t) for t in dfs], dtype=np.int64)
        o = np.argsort(th)
        terms = np.array(list(dfs), dtype=object)
        return cls(th[o], terms[o], np.array(list(dfs.values()), dtype=np.int64)[o])

    def attach(self, pdf):
        """``pdf``'s postings rows of these terms, each with its term string
        and df (``term``, ``df_g``) — the phase-1 join, done in the task."""
        th = pdf["th"].to_numpy(np.int64)
        if not self.th.size:
            return pdf[:0].assign(term=self.term, df_g=self.df)
        pos = np.minimum(np.searchsorted(self.th, th), self.th.size - 1)
        keep = self.th[pos] == th
        return pdf[keep].assign(term=self.term[pos[keep]], df_g=self.df[pos[keep]])
