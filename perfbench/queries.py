"""Seeded query drawing from the benchmark's own generated turns.

Document frequencies are counted here, driver-side, over the generated
input (the synthetic text is lowercase ``[a-z0-9]+`` words separated by
single spaces, so a whitespace split is the engine's tokenization). The
engine only ever receives the finished query strings.
"""

from __future__ import annotations

from collections import Counter

import numpy as np
import pyarrow.parquet as pq


class Turns:
    """The generated turns (role, text) and their term document
    frequencies."""

    def __init__(self, input_path: str) -> None:
        t = pq.read_table(input_path, columns=["role", "text"])
        self.roles = t["role"].to_pylist()
        self.tokens = [s.split() for s in t["text"].to_pylist()]
        self.text_bytes = sum(len(s.encode()) for s in t["text"].to_pylist())
        df: Counter = Counter()
        for toks in self.tokens:
            df.update(set(toks))
        self.df = df

    def __len__(self) -> int:
        return len(self.tokens)


class SelectiveQueries:
    """Never-repeating queries over tail terms (2 <= df <= 0.1 % of the
    turns, at least 3), cycling through five shapes: OR terms, ``+a +b``, phrase +
    term, ``role:<v> a b`` and a rare prefix wildcard. Every shape but
    the wildcard is drawn from one sampled turn, so it matches at least
    that turn."""

    SHAPES = ("or", "and", "phrase_term", "role_terms", "prefix")

    def __init__(self, turns: Turns, seed: int) -> None:
        self.turns = turns
        self.rng = np.random.default_rng(seed)
        self.df_band = (2, max(3, len(turns) // 1000))
        self.seen: set[str] = set()
        self.drawn_df: list[int] = []
        self._i = 0

    def _tail(self, tok: str) -> bool:
        lo, hi = self.df_band
        return lo <= self.turns.df[tok] <= hi

    def _draw(self, shape: str) -> tuple[str, list[str]] | None:
        i = int(self.rng.integers(len(self.turns)))
        toks = self.turns.tokens[i]
        tail = list(dict.fromkeys(t for t in toks if self._tail(t)))
        if shape == "prefix":
            # w + 5 digits with a non-zero leading digit: the 10 terms
            # under the prefix are all deep in the tail
            cands = [t for t in tail if len(t) == 6 and t[1] != "0"]
            if not cands:
                return None
            t = cands[int(self.rng.integers(len(cands)))]
            return t[:-1] + "*", [t]
        if shape == "phrase_term":
            pairs = [
                (a, b) for a, b in zip(toks, toks[1:])
                if a != b and self._tail(a) and self._tail(b)
            ]
            if not pairs or len(tail) < 3:
                return None
            a, b = pairs[int(self.rng.integers(len(pairs)))]
            others = [t for t in tail if t not in (a, b)]
            c = others[int(self.rng.integers(len(others)))]
            return f'"{a} {b}" {c}', [a, b, c]
        if len(tail) < 2:
            return None
        a, b = (tail[j] for j in self.rng.choice(len(tail), 2, replace=False))
        if shape == "or":
            return f"{a} {b}", [a, b]
        if shape == "and":
            return f"+{a} +{b}", [a, b]
        return f"role:{self.turns.roles[i]} {a} {b}", [a, b]

    def next(self) -> tuple[str, str]:
        """(shape, query) of the next never-seen query."""
        shape = self.SHAPES[self._i % len(self.SHAPES)]
        self._i += 1
        return self._next(shape)

    def _next(self, shape: str) -> tuple[str, str]:
        for _ in range(100_000):
            got = self._draw(shape)
            if got is None or got[0] in self.seen:
                continue
            q, terms = got
            self.seen.add(q)
            self.drawn_df.extend(self.turns.df[t] for t in terms)
            return shape, q
        raise RuntimeError(f"no unseen {shape!r} query left in the corpus")


class BroadQueries:
    """Hot-term queries (df >= 5 % of the turns) from a seeded pool of
    POOL queries, so queries repeat. Shapes cycle in a fixed order: OR
    terms, ``+a +b``, a two-term phrase, and OR terms through
    ``search_with_total`` (exact totals, which turn pruning off); within
    a shape the query is drawn with Zipf skew."""

    SHAPES = ("or", "and", "phrase", "total")
    POOL = 12

    def __init__(self, turns: Turns, seed: int) -> None:
        self.turns = turns
        self.rng = np.random.default_rng(seed)
        lo = -(-len(turns) * 5 // 100)
        hot = sorted(t for t, d in turns.df.items() if d >= lo)
        self.df_band = (lo, max(turns.df[t] for t in hot))
        self.drawn_df: list[int] = []
        self.pool: dict[str, list[tuple[str, list[str]]]] = {s: [] for s in self.SHAPES}
        seen: set[str] = set()
        per_shape = self.POOL // len(self.SHAPES)
        for shape in self.SHAPES:
            while len(self.pool[shape]) < per_shape:
                got = self._draw(shape, hot)
                if got is not None and got[0] not in seen:
                    seen.add(got[0])
                    self.pool[shape].append(got)
        w = 1.0 / np.arange(1, per_shape + 1)
        self.weights = w / w.sum()
        self._i = 0

    def _draw(self, shape: str, hot: list[str]) -> tuple[str, list[str]] | None:
        if shape == "phrase":
            toks = self.turns.tokens[int(self.rng.integers(len(self.turns)))]
            pairs = [(a, b) for a, b in zip(toks, toks[1:])
                     if a != b and self.turns.df[a] >= self.df_band[0]
                     and self.turns.df[b] >= self.df_band[0]]
            if not pairs:
                return None
            a, b = pairs[int(self.rng.integers(len(pairs)))]
            return f'"{a} {b}"', [a, b]
        a, b = (hot[j] for j in self.rng.choice(len(hot), 2, replace=False))
        return (f"+{a} +{b}" if shape == "and" else f"{a} {b}"), [a, b]

    def next(self) -> tuple[str, str]:
        shape = self.SHAPES[self._i % len(self.SHAPES)]
        self._i += 1
        sub = self.pool[shape]
        q, terms = sub[int(self.rng.choice(len(sub), p=self.weights))]
        self.drawn_df.extend(self.turns.df[t] for t in terms)
        return shape, q
