"""Index registry: name / pattern → index directories.

Katta registers indexes by name in ZooKeeper and resolves client-supplied
index names, ``*``, or regex patterns against that registry
(client/Client.java:425-456, ``Pattern.compile(index)``; reference test
LuceneClientTest.java:526 searches ``index[12]``). The Spark-native
registry is a filesystem root: every child directory carrying a
FORMAT_VERSION marker is a deployed index, its name the directory name —
"deploying" an index is exactly dropping/committing it under the root
(immutable snapshot semantics, same as Katta's addIndex).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession


def list_indexes(root: str) -> dict[str, str]:
    """name → index_dir for every valid index under ``root``."""
    out: dict[str, str] = {}
    if not os.path.isdir(root):
        return out
    for name in sorted(os.listdir(root)):
        d = os.path.join(root, name)
        if os.path.isdir(d) and os.path.exists(os.path.join(d, "FORMAT_VERSION")):
            out[name] = d
    return out


def resolve(root: str, patterns: str | list[str]) -> list[str]:
    """Resolve index names / ``*`` / regex patterns to index dirs.

    Exactly Katta's order (Client.java:425-456): an exact name match wins;
    the bare ``*`` selects every registered index (Client.java:428); any
    other pattern is compiled VERBATIM as a regex (``Pattern.compile``) and
    matched against all registered names. A pattern that matches nothing
    only logs a warning (Client.java per-miss warn); the call errors only
    when the union of all patterns resolves to nothing.
    """
    import warnings

    if isinstance(patterns, str):
        patterns = [p for p in patterns.split(",") if p]
    registry = list_indexes(root)
    hit: dict[str, str] = {}
    for pat in patterns:
        if pat in registry:
            hit[pat] = registry[pat]
            continue
        if pat == "*":
            hit.update(registry)
            continue
        try:
            rx = re.compile(pat)
        except re.error:
            matched = {}
        else:
            matched = {n: d for n, d in registry.items() if rx.fullmatch(n)}
        if not matched:
            warnings.warn(
                f"no index matches {pat!r} under {root!r} "
                f"(registered: {sorted(registry)})",
                stacklevel=2,
            )
            continue
        hit.update(matched)
    if not hit:
        raise ValueError(
            f"no index matches any of {patterns!r} under {root!r} "
            f"(registered: {sorted(registry)})"
        )
    return [hit[n] for n in sorted(hit)]


def search_by_name(
    spark: SparkSession,
    root: str,
    patterns: str | list[str],
    query: str,
    k: int = 10,
    mode: str = "or",
    score_dtype: str = "float32",
) -> DataFrame:
    """Search indexes by registered name/pattern — the
    ``search("idx1,idx2", q)`` / ``search("index[12]", q)`` client surface
    (ILuceneClient.java:61-112). The resolved indexes are searched as one
    corpus with combined stats.
    """
    from katta_spark.query import search

    return search(
        spark, resolve(root, patterns), query, k=k, mode=mode,
        score_dtype=score_dtype,
    )
