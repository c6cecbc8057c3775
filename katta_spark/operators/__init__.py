"""Operator/extension surface — the content-server plugin point.

Katta's extension mechanism is the ``IContentServer`` plugin
(node/IContentServer.java:28-107): implement a per-shard serving class and
a matching client and any directory format becomes searchable; the worked
example in the reference docs is a grep server
(doc/custom_server.txt:17-80, ``grep(Text regex, String[] shards)``).

The Spark-native translation: a "content server" is a per-partition kernel
factory registered under a search mode. ``register_kernel`` adds one; the
built-ins ("or" and "match") live in :mod:`katta_spark.query`. Mode "and"
is not a kernel but the default-AND operator: the query front end lowers
every term to a MUST clause, which the clause kernel evaluates. A
factory receives (qweights, n_docs, avgdl, k, prune, score_dtype,
with_total) and returns ``kernel(pdf, filter_docs=None) -> pd.DataFrame``
with columns (shard_id, doc_id, score[, shard_total]).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from katta_spark.build import build_index, token_rows  # noqa: F401
from katta_spark.query import (  # noqa: F401
    KERNEL_MODES,
    count_matches,
    get_details,
    search,
    search_multi,
    search_sorted,
    search_with_total,
)


def register_kernel(mode: str, factory) -> None:
    """Register a custom per-shard kernel factory under ``mode`` — the
    analog of deploying a custom IContentServer. ``search(mode=...)``
    dispatches to it."""
    KERNEL_MODES[mode] = factory


def kernel_modes() -> list[str]:
    return sorted(KERNEL_MODES)


def grep_docs(source: DataFrame, pattern: str, text_col: str = "text") -> DataFrame:
    """The reference's worked custom-content-server example — a grep over
    all shards (doc/custom_server.txt:55-80) — as its one-line Spark
    equivalent: a pushed/codegen'd rlike scan, parallel over partitions
    exactly like the plugin's per-shard threads."""
    return source.where(F.col(text_col).rlike(pattern))
