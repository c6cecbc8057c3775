"""Boolean query clauses: +MUST, -MUST_NOT, "phrase" (F2).

Reference: Katta hands query strings verbatim to Lucene's QueryParser
(Katta.java:825-826), whose boolean surface is +/-/quoted phrases over a
default-OR query. Clause semantics here: a doc matches if it contains all
MUST terms (incl. phrase tokens), no MUST_NOT term, and phrases appear as
consecutive token runs in the stored text; surviving docs keep their plain
BM25 scores (sum over matching scoring clauses) — so the oracle is the
FULL OR ranking post-filtered by the constraints.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from katta_spark.build import build_index
from katta_spark.oracle import bm25_topk, with_doc_ids
from katta_spark.query import (
    IndexHandle,
    parse_bool_query,
    search,
    search_batch,
    search_multi,
)
from katta_spark.tokenizer import tokenize_col


@pytest.fixture(scope="module")
def bidx(spark, tiny_transcripts, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("bool_idx"))
    build_index(spark, tiny_transcripts, d, num_shards=4)
    return d


@pytest.fixture(scope="module")
def docs(tiny_transcripts):
    return with_doc_ids(tiny_transcripts, 4).cache()


def _docs_with_term(docs, term):
    return docs.where(
        F.array_contains(tokenize_col(F.col("text")), term)
    ).select("doc_id")


def _oracle_filtered(docs, scoring_query, keep_df, k):
    """Full OR ranking post-filtered to keep_df docIDs, first k — scores
    of surviving docs are unchanged by constraints (filter semantics)."""
    full = bm25_topk(docs, scoring_query, k=10**6, shard_col="shard_id")
    return (
        full.join(keep_df, "doc_id")
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(k)
        .collect()
    )


def test_parse_bool_query():
    qw, must, must_not, phrases = parse_bool_query('+alpha -beta "gam ma" delta')
    assert qw == {"alpha": 1.0, "gam": 1.0, "ma": 1.0, "delta": 1.0}
    assert must == {"alpha", "gam", "ma"}
    assert must_not == {"beta"}
    assert phrases == [(["gam", "ma"], 0)]
    # proximity (sloppy) phrase: '"a b"~N' carries its window
    _, _, _, ph = parse_bool_query('"gam ma"~3 delta')
    assert ph == [(["gam", "ma"], 3)]
    with pytest.raises(ValueError, match="negated phrases"):
        parse_bool_query('-"a b"')


def test_must_clause(spark, bidx, docs):
    got = search(spark, bidx, "hotalpha +w00011", k=10).collect()
    want = _oracle_filtered(
        docs, "hotalpha w00011", _docs_with_term(docs, "w00011"), 10
    )
    assert [r.doc_id for r in got] == [r.doc_id for r in want]
    np.testing.assert_allclose(
        np.array([r.score for r in got], np.float32),
        np.array([r.score for r in want], np.float32),
        rtol=2e-6,
    )


def test_must_not_clause(spark, bidx, docs):
    got = search(spark, bidx, "hotalpha -hotbeta", k=10).collect()
    keep = docs.select("doc_id").exceptAll(
        _docs_with_term(docs, "hotbeta")
    )
    want = _oracle_filtered(docs, "hotalpha", keep, 10)
    assert [r.doc_id for r in got] == [r.doc_id for r in want]
    np.testing.assert_allclose(
        np.array([r.score for r in got], np.float32),
        np.array([r.score for r in want], np.float32),
        rtol=2e-6,
    )
    # and no hit contains the excluded term
    hit_ids = [r.doc_id for r in got]
    bad = _docs_with_term(docs, "hotbeta").where(
        F.col("doc_id").isin(hit_ids)
    ).count()
    assert bad == 0


def test_phrase_clause(spark, bidx, docs, tiny_transcripts):
    # no source= — phrases execute against the positional postings alone
    got = search(spark, bidx, '"hotalpha hotbeta"', k=10).collect()
    padded = F.concat(
        F.lit(" "), F.array_join(tokenize_col(F.col("text")), " "), F.lit(" ")
    )
    keep = docs.where(padded.contains(" hotalpha hotbeta ")).select("doc_id")
    assert keep.count() > 0, "fixture must contain the phrase"
    want = _oracle_filtered(docs, "hotalpha hotbeta", keep, 10)
    assert [r.doc_id for r in got] == [r.doc_id for r in want]
    np.testing.assert_allclose(
        np.array([r.score for r in got], np.float32),
        np.array([r.score for r in want], np.float32),
        rtol=2e-6,
    )


def test_phrase_with_should_term(spark, bidx, docs, tiny_transcripts):
    """Phrase + extra SHOULD term: constraint from the phrase, scoring from
    all three terms."""
    got = search(spark, bidx, '"hotalpha hotbeta" w00011', k=10).collect()
    padded = F.concat(
        F.lit(" "), F.array_join(tokenize_col(F.col("text")), " "), F.lit(" ")
    )
    keep = docs.where(padded.contains(" hotalpha hotbeta ")).select("doc_id")
    want = _oracle_filtered(docs, "hotalpha hotbeta w00011", keep, 10)
    assert [r.doc_id for r in got] == [r.doc_id for r in want]


def test_boolean_guard_rails(spark, bidx, tiny_transcripts):
    with pytest.raises(ValueError, match="not combinable"):
        search(spark, bidx, "+hotalpha hotbeta", k=5, mode="and")
    # a legacy source= is accepted (and ignored): results identical to the
    # index-only positional path
    got = search(
        spark, bidx, '"hotalpha hotbeta"', k=10, source=tiny_transcripts
    ).collect()
    want = search(spark, bidx, '"hotalpha hotbeta"', k=10).collect()
    assert [(r.doc_id, r.score) for r in got] == [
        (r.doc_id, r.score) for r in want
    ]


def test_must_term_absent_everywhere(spark, bidx):
    assert search(spark, bidx, "hotalpha +zzzqqq", k=5).collect() == []


# ---- boosts (term^2) and fuzzy (term~N) — the remaining QueryParser
# operator surface (Katta.java:825-826 hands queries verbatim to Lucene)


def test_split_boost_and_parse():
    from katta_spark.query import parse_query, split_boost

    assert split_boost("join^2") == ("join", 2.0)
    assert split_boost("join^2.5") == ("join", 2.5)
    assert split_boost("join") == ("join", 1.0)
    assert split_boost("^2") == ("^2", 1.0)  # bare boost is not a term
    assert parse_query("join^2 hash") == {"join": 2.0, "hash": 1.0}
    assert parse_query("role:user^3", ("role",)) == {"role:user": 3.0}
    qw, must, _, _ = parse_bool_query("+join^2 -scan hash^0.5")
    assert qw == {"join": 2.0, "hash": 0.5} and must == {"join"}


def test_boost_rank_identity(spark, bidx, docs):
    """join^2 must rank identically to the literal duplicated term (the
    additive-weight semantics parse_query defines for duplicates)."""
    got = search(spark, bidx, "hotalpha^2 w00011", k=10).collect()
    want = bm25_topk(
        docs, "hotalpha hotalpha w00011", k=10, shard_col="shard_id"
    ).collect()
    assert [(r.doc_id, r.shard_id) for r in got] == [
        (r.doc_id, r.shard_id) for r in want
    ]
    np.testing.assert_allclose(
        np.array([r.score for r in got], np.float32),
        np.array([r.score for r in want], np.float32),
        rtol=2e-6,
    )


def test_fuzzy_expansion_matches_python_levenshtein(spark, bidx):
    """term~N expands to exactly the dictionary terms within edit distance
    N (cross-checked against a pure-Python Levenshtein over the vocab)."""
    import os

    from katta_spark.query import IndexHandle, expand_wildcards

    def lev(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    ix = IndexHandle.open(spark, bidx)
    vocab = [r["term"] for r in ix.stats(spark).select("term").collect()]
    for q, dist in [("w00010", 1), ("hotalpha", 2), ("w0001", 1)]:
        got = set(expand_wildcards(spark, ix, f"{q}~{dist}"))
        want = {t for t in vocab if lev(t, q) <= dist}
        assert got == want, (q, dist, got ^ want)


def test_fuzzy_query_rank_identity(spark, bidx, docs):
    """A fuzzy query scores exactly like the explicit OR of its expansion."""
    from katta_spark.query import IndexHandle, expand_wildcards

    ix = IndexHandle.open(spark, bidx)
    expanded = sorted(expand_wildcards(spark, ix, "w00010~1"))
    assert len(expanded) > 3
    got = search(spark, bidx, "w00010~1", k=10).collect()
    want = bm25_topk(
        docs, " ".join(expanded), k=10, shard_col="shard_id"
    ).collect()
    assert [(r.doc_id, round(r.score, 4)) for r in got] == [
        (r.doc_id, round(r.score, 4)) for r in want
    ]


# ---- proximity (sloppy) phrases: '"a b"~N' — Lucene SloppyPhraseMatcher
# semantics: adjusted-position span <= slop over distinct positions
# (reorderings admitted at their displacement cost)


def _slop_docs(docs, words, slop):
    """Brute-force matching doc_ids under the sloppy-span semantics."""
    from itertools import product

    from katta_spark.tokenizer import tokenize_str

    out = []
    m = len(words)
    for r in docs.select("doc_id", "text").collect():
        toks = tokenize_str(r.text or "")
        poss = [[i for i, t in enumerate(toks) if t == w] for w in words]
        if any(not p for p in poss):
            continue
        for cfg in product(*poss):
            if len(set(cfg)) < m:
                continue
            adj = [p - i for i, p in enumerate(cfg)]
            if max(adj) - min(adj) <= slop:
                out.append(r.doc_id)
                break
    return out


def test_slop_phrase_rank_identity(spark, bidx, docs, tiny_transcripts):
    words, slop = ["hotalpha", "hotbeta"], 8
    got = search(spark, bidx, f'"hotalpha hotbeta"~{slop}', k=15).collect()
    keep_ids = _slop_docs(docs, words, slop)
    assert keep_ids, "fixture must contain in-window matches"
    keep_df = docs.sparkSession.createDataFrame(
        [(int(x),) for x in keep_ids], "doc_id long"
    )
    want = _oracle_filtered(docs, "hotalpha hotbeta", keep_df, 15)
    assert [r.doc_id for r in got] == [r.doc_id for r in want]
    np.testing.assert_allclose(
        np.array([r.score for r in got], np.float32),
        np.array([r.score for r in want], np.float32),
        rtol=2e-6,
    )


def test_slop_supersets_exact(spark, bidx, tiny_transcripts):
    """Every exact-phrase match must also match the sloppy phrase."""
    exact = {
        r.doc_id
        for r in search(spark, bidx, '"hotalpha hotbeta"', k=10**6).collect()
    }
    sloppy = {
        r.doc_id
        for r in search(
            spark, bidx, '"hotalpha hotbeta"~4', k=10**6
        ).collect()
    }
    assert exact <= sloppy
    assert len(sloppy) > len(exact)  # the window admits non-adjacent pairs


def test_slop_reordering_lucene_semantics(spark, bidx, docs):
    """'"b a"~2' matches an adjacent "a b" (reordering costs its
    displacement — the r3 ordered-only divergence is closed), and the
    full reversed-slop match set equals the brute-force span oracle."""
    exact_fwd = set(_slop_docs(docs, ["hotalpha", "hotbeta"], 0))
    got_rev = {
        r.doc_id
        for r in search(
            spark, bidx, '"hotbeta hotalpha"~2', k=10**6
        ).collect()
    }
    want_rev = set(_slop_docs(docs, ["hotbeta", "hotalpha"], 2))
    assert got_rev == want_rev
    assert exact_fwd and exact_fwd <= want_rev
    # ...but NOT within ~1 (a transposition costs 2 moves, like Lucene)
    got_rev1 = {
        r.doc_id
        for r in search(
            spark, bidx, '"hotbeta hotalpha"~1', k=10**6
        ).collect()
    }
    assert got_rev1 == set(_slop_docs(docs, ["hotbeta", "hotalpha"], 1))


def test_repeated_token_phrase(spark, bidx, docs):
    """Phrases with REPEATED tokens require distinct occurrences ('"a a"'
    needs two different positions of a within the window)."""
    got = {
        r.doc_id
        for r in search(
            spark, bidx, '"hotalpha hotalpha"~6', k=10**6
        ).collect()
    }
    want = set(_slop_docs(docs, ["hotalpha", "hotalpha"], 6))
    assert got == want
    assert want, "fixture must contain a doc with two close hotalpha"


# ---- grouped boolean queries: (a AND b) OR c, NOT — explicit grammar


def _tree_oracle(docs, qweights, match_fn, score_terms_fn, k):
    """Brute-force: per-doc term contributions -> match + BooleanQuery
    path-sum scoring via the python callbacks."""
    from katta_spark.tokenizer import tokenize_str

    rows = docs.select("doc_id", "shard_id", "text").collect()
    n_docs = len(rows)
    tf = {}
    dl = {}
    for r in rows:
        toks = tokenize_str(r.text or "")
        dl[r.doc_id] = len(toks)
        for t in toks:
            tf.setdefault(t, {}).setdefault(r.doc_id, 0)
            tf[t][r.doc_id] += 1
    import math

    avgdl = sum(dl.values()) / n_docs
    out = []
    for r in rows:
        present = {t for t in qweights if r.doc_id in tf.get(t, {})}
        if not match_fn(present):
            continue

        def contrib(t):
            if r.doc_id not in tf.get(t, {}):
                return 0.0
            df = len(tf[t])
            idf = math.log(1 + (n_docs - df + 0.5) / (df + 0.5))
            f = tf[t][r.doc_id]
            return qweights[t] * idf * (f * 2.2) / (
                f + 1.2 * (0.25 + 0.75 * dl[r.doc_id] / avgdl)
            )

        s = sum(contrib(t) for t in score_terms_fn(present))
        out.append((r.doc_id, s))
    out.sort(key=lambda x: (-x[1], x[0]))
    return out[:k]


def test_tree_and_or(spark, bidx, docs):
    """(hotalpha AND hotbeta) OR w00011 — a failed AND group contributes
    nothing even when one of its terms is present."""
    got = search(
        spark, bidx, "(hotalpha AND hotbeta) OR w00011", k=12,
        score_dtype="float64",
    ).collect()

    def match(present):
        return {"hotalpha", "hotbeta"} <= present or "w00011" in present

    def score_terms(present):
        ts = []
        if {"hotalpha", "hotbeta"} <= present:
            ts += ["hotalpha", "hotbeta"]
        if "w00011" in present:
            ts.append("w00011")
        return ts

    want = _tree_oracle(
        docs, {"hotalpha": 1.0, "hotbeta": 1.0, "w00011": 1.0},
        match, score_terms, 12,
    )
    assert [(r.doc_id, round(r.score, 6)) for r in got] == [
        (d, round(s, 6)) for d, s in want
    ]


def test_tree_not_semantics(spark, bidx, docs):
    """'hotalpha NOT hotbeta' ≡ '(hotalpha) AND NOT (hotbeta)' (Lucene
    occur flags) — identical to the flat '-hotbeta' form."""
    a = search(spark, bidx, "hotalpha NOT hotbeta", k=20).collect()
    b = search(spark, bidx, "hotalpha -hotbeta", k=20).collect()
    assert [(r.doc_id, r.score) for r in a] == [(r.doc_id, r.score) for r in b]
    # OR NOT spells the same thing
    c = search(spark, bidx, "hotalpha OR NOT hotbeta", k=20).collect()
    assert [r.doc_id for r in a] == [r.doc_id for r in c]


def test_tree_pure_negative_and_guards(spark, bidx):
    assert search(spark, bidx, "NOT hotalpha", k=5).collect() == []
    with pytest.raises(ValueError, match="not combinable"):
        search(spark, bidx, "(hotalpha OR hotbeta)", k=5, mode="and")
    with pytest.raises(ValueError, match="unbalanced"):
        search(spark, bidx, "(hotalpha OR hotbeta", k=5)


def test_tree_nested(spark, bidx, docs):
    """Nested groups: ((w00011 OR w00012) AND hotalpha) NOT hotgamma."""
    got = search(
        spark, bidx, "((w00011 OR w00012) AND hotalpha) NOT hotgamma",
        k=10, score_dtype="float64",
    ).collect()

    def match(p):
        return (
            ({"w00011"} <= p or {"w00012"} <= p)
            and "hotalpha" in p
            and "hotgamma" not in p
        )

    def score_terms(p):
        ts = [t for t in ("w00011", "w00012") if t in p]
        if ts and "hotalpha" in p:
            return ts + ["hotalpha"]
        return []

    want = _tree_oracle(
        docs,
        {"w00011": 1.0, "w00012": 1.0, "hotalpha": 1.0, "hotgamma": 1.0},
        match, score_terms, 10,
    )
    assert [(r.doc_id, round(r.score, 6)) for r in got] == [
        (d, round(s, 6)) for d, s in want
    ]


def test_count_phrases_delegates_to_kernel_totals(spark, bidx, docs):
    """count() of a phrase query counts the PHRASE's matches via the
    kernels' exact totals (in-index positional verify)."""
    from katta_spark.query import count_matches

    n = count_matches(spark, bidx, '"hotalpha hotbeta"~3')
    assert n == len(_slop_docs(docs, ["hotalpha", "hotbeta"], 3))


# ---- review fixes: guards, leaf boosts, phrase/rewrite boosts


def test_tree_duplicate_leaf_scores_like_flat_duplicate(spark, bidx, docs):
    """'a OR a' must score 2x like the flat 'a a' — the leaf-boost model
    (a global additive weight would square duplicates to 4x)."""
    got = search(spark, bidx, "hotalpha OR hotalpha", k=8,
                 score_dtype="float64").collect()
    want = search(spark, bidx, "hotalpha hotalpha", k=8,
                  score_dtype="float64").collect()
    assert [(r.doc_id, round(r.score, 9)) for r in got] == [
        (r.doc_id, round(r.score, 9)) for r in want
    ]


def test_tree_leaf_boost(spark, bidx):
    """(a^2 OR b): the boosted leaf contributes 2x inside the tree."""
    got = search(spark, bidx, "(hotalpha^2 OR zzzqqq)", k=5,
                 score_dtype="float64").collect()
    want = search(spark, bidx, "hotalpha^2", k=5,
                  score_dtype="float64").collect()
    assert [(r.doc_id, round(r.score, 9)) for r in got] == [
        (r.doc_id, round(r.score, 9)) for r in want
    ]


def test_tree_refuses_rewrite_clauses(spark, bidx):
    for q in ("(hotalpha AND hot*)", "(merg~1 OR hotbeta)",
              "(hotalpha OR w00?11)", "([a TO b] AND hotbeta)"):
        with pytest.raises(ValueError, match="cannot be combined"):
            search(spark, bidx, q, k=5)


def test_phrase_boost_no_orphan_token(spark, bidx, docs, tiny_transcripts):
    """'"a b"^2 c' boosts the phrase tokens and must NOT leak a literal
    '2' scoring term."""
    qw, must, _, ph = parse_bool_query('"join scan"^2 merge')
    assert qw == {"join": 2.0, "scan": 2.0, "merge": 1.0}
    assert ph == [(["join", "scan"], 0)] and "2" not in qw
    # end-to-end it still runs the phrase path
    hits = search(spark, bidx, '"hotalpha hotbeta"^2 w00011', k=5)
    assert hits.count() >= 0


def test_boosted_wildcard_and_fuzzy_and_range(spark, fidx_free, docs):
    """'ab*^2' / 'merg~1^2' / range^2 keep BOTH the rewrite and the boost."""
    from katta_spark.query import IndexHandle, expand_ranges, expand_wildcards

    ix = IndexHandle.open(spark, fidx_free)
    w = expand_wildcards(spark, ix, "w0001*^2")
    assert w and all(v == 2.0 for v in w.values())
    assert all(t.startswith("w0001") for t in w)
    f = expand_wildcards(spark, ix, "w00010~1^3")
    assert f and all(v == 3.0 for v in f.values())
    # bare-range bounds are lowercased (analyzer semantics)
    r = expand_ranges(spark, ix, "[W00010 TO W00012]^2")
    assert set(r) == {"w00010", "w00011", "w00012"}
    assert all(v == 2.0 for v in r.values())


@pytest.fixture(scope="module")
def fidx_free(bidx):
    return bidx


def test_tree_query_fuzz(spark, bidx, docs):
    """20 random boolean trees vs an independent brute-force evaluator of
    the documented semantics (occur-flag NOT, path-sum scoring, per-leaf
    boosts). Trees are generated as STRUCTURES first and rendered to query
    strings, so the oracle never goes through the engine's parser."""
    import math
    import random

    from katta_spark.tokenizer import tokenize_str

    rng = random.Random(20260817)
    TERMS = ["hotalpha", "hotbeta", "hotgamma", "w00011", "w00012", "w00015"]

    def gen(depth):
        r = rng.random()
        if depth >= 3 or r < 0.45:
            t = rng.choice(TERMS)
            boost = rng.choice([1.0, 1.0, 2.0, 0.5])
            return ("term", t, boost)
        kind = rng.choice(["and", "or"])
        n = rng.randint(2, 3)
        kids = [gen(depth + 1) for _ in range(n)]
        if rng.random() < 0.4:
            kids[rng.randrange(len(kids))] = ("not", gen(depth + 1))
        return (kind, kids)

    def render(node, top=False):
        k = node[0]
        if k == "term":
            t, b = node[1], node[2]
            return t if b == 1.0 else f"{t}^{b:g}"
        if k == "not":
            return "NOT " + render(node[1])
        joiner = " AND " if k == "and" else " OR "
        s = joiner.join(render(c) for c in node[1])
        return s if top else f"({s})"

    # per-doc contributions (exact BM25 over the fixture corpus)
    rows = docs.select("doc_id", "text").collect()
    n_docs = len(rows)
    tf, dl = {}, {}
    for r in rows:
        toks = tokenize_str(r.text or "")
        dl[r.doc_id] = len(toks)
        for t in toks:
            tf.setdefault(t, {}).setdefault(r.doc_id, 0)
            tf[t][r.doc_id] += 1
    avgdl = sum(dl.values()) / n_docs

    def contrib(t, d):
        if d not in tf.get(t, {}):
            return None
        df = len(tf[t])
        idf = math.log(1 + (n_docs - df + 0.5) / (df + 0.5))
        f = tf[t][d]
        return idf * (f * 2.2) / (f + 1.2 * (0.25 + 0.75 * dl[d] / avgdl))

    def ev(node, d):
        k = node[0]
        if k == "term":
            c = contrib(node[1], d)
            return (c is not None), (node[2] * c if c is not None else 0.0)
        if k == "not":
            return False, 0.0  # bare NOT level: pure negative
        pos, negs = [], []
        for ch in node[1]:
            if ch[0] == "not":
                negs.append(ch[1])
            else:
                pos.append(ch)
        if not pos:
            return False, 0.0
        parts = [ev(p, d) for p in pos]
        m = (
            all(p[0] for p in parts)
            if k == "and"
            else any(p[0] for p in parts)
        )
        for ng in negs:
            # the negated child's own match (not its score) is the mask
            nm, _ = ev(ng, d)
            m = m and not nm
        s = sum(sc for mi, sc in parts if mi)
        return m, s

    n_nonempty = 0
    for _ in range(20):
        tree = gen(0)
        if tree[0] == "term":
            continue
        q = render(tree, top=True)
        got = search(spark, bidx, q, k=25, score_dtype="float64").collect()
        brute = []
        for r in rows:
            m, s = ev(tree, r.doc_id)
            if m:
                brute.append((r.doc_id, s))
        brute.sort(key=lambda x: (-x[1], x[0]))
        brute = brute[:25]
        assert [(r.doc_id, round(r.score, 6)) for r in got] == [
            (d, round(s, 6)) for d, s in brute
        ], q
        n_nonempty += 1 if brute else 0
    assert n_nonempty >= 5  # the fuzz actually exercised matching trees


def test_tree_prune_equals_noprune_fuzz(spark, bidx, docs):
    """NOT-free trees admit the flat-OR MaxScore/suffix bound (r3 verdict
    task 7): the pruned tree kernel must return EXACTLY the clause
    kernel's results (the unpruned evaluator search runs for every other
    tree) on random NOT-free trees, bit for bit, and the block counter
    must show real skips against a full decode of the fetched rows.
    Each tree runs a second time with a tombstone (deny) set through both
    kernels: the pruned kernel masks its leaves and must still rank
    equally and skip blocks. Kernels are exercised directly on the
    per-shard pandas groups (they are pure functions of their input)."""
    import random

    from katta_spark.codec import read_skips
    from katta_spark.query import (
        DocFilter,
        IndexHandle,
        _Clauses,
        _make_clause_kernel,
        _make_tree_kernel,
        parse_tree_query,
    )

    rng = random.Random(20260818)
    TERMS = ["hotalpha", "hotbeta", "hotgamma", "w00011", "w00012",
             "w00015", "merge"]

    def gen(depth):
        r = rng.random()
        if depth >= 3 or r < 0.4:
            t = rng.choice(TERMS)
            boost = rng.choice([1.0, 1.0, 2.0, 0.5])
            return f"{t}" if boost == 1.0 else f"{t}^{boost:g}"
        kind = rng.choice([" AND ", " OR "])
        kids = [gen(depth + 1) for _ in range(rng.randint(2, 3))]
        return "(" + kind.join(kids) + ")"

    ix = IndexHandle.open(spark, bidx)
    from katta_spark.xxhash import term_hash

    hashes = [term_hash(t) for t in TERMS]
    pdf_all = (
        ix.postings(spark)
        .where(F.col("th").isin(hashes))
        .join(
            ix.stats(spark)
            .where(F.col("th").isin(hashes))
            .select("th", "term", F.col("df").alias("df_g")),
            "th",
        )
        .toPandas()
    )
    n_docs, avgdl = float(ix.n_docs), ix.avgdl
    all_blocks = sum(read_skips(s).shape[0] for s in pdf_all["skips"])

    def ranked(hits):
        return sorted(zip(-hits["score"].to_numpy(np.float64), hits["doc_id"]))

    all_ids = np.sort([r.doc_id for r in docs.select("doc_id").collect()])
    deny = DocFilter(None, all_ids[::3])
    total_skipped = skipped_denied = 0
    for trial in range(15):
        q = gen(0)
        tree, qw = parse_tree_query(q, ())
        s_p: dict = {}
        s_d: dict = {}
        kp = _make_tree_kernel(tree, n_docs, avgdl, 5, "float64", stats=s_p)
        kd = _make_tree_kernel(tree, n_docs, avgdl, 5, "float64", stats=s_d)
        kf = _make_clause_kernel(
            [_Clauses(tree, qw, set(), set(), [], [], 0, None)],
            n_docs, avgdl, 5, "float64",
        )
        for _, grp in pdf_all.groupby("shard_id"):
            grp = grp.reset_index(drop=True)
            assert ranked(kp(grp)) == ranked(kf(grp)), q
            denied = kd(grp, deny)
            assert ranked(denied) == ranked(kf(grp, deny)), q
            assert not np.isin(denied["doc_id"], deny.deny).any(), q
        assert s_p.get("blocks_decoded", 0) <= all_blocks
        assert s_d.get("blocks_decoded", 0) <= all_blocks
        total_skipped += all_blocks - s_p.get("blocks_decoded", 0)
        skipped_denied += all_blocks - s_d.get("blocks_decoded", 0)
    assert total_skipped > 0, "pruning never skipped a block across 15 trees"
    assert skipped_denied > 0, "no block skipped under the deny set"


# boosted trees whose float64 scores differed between the pruned tree
# path and the clause kernel (leaf product order, top-level OR order)
FLOAT64_TREES = [
    "hotalpha^3 AND w00011",
    "(hotalpha^0.7 OR hotbeta^3) AND hotgamma",
    "hotalpha^3 OR (hotbeta^1.5 AND hotgamma)",
    "hotalpha^2 OR hotbeta^0.5 OR w00011^3 OR hotgamma",
    "(hotalpha AND hotbeta^2) OR (w00011^0.5 AND hotgamma) OR w00015^4",
    "hotgamma^1.5 OR (hotalpha^0.3 AND merge) OR hotbeta^2.5 OR w00012",
]


def test_tree_float64_pruned_equals_clause_kernel(spark, bidx):
    """At float64 a boosted tree scores bit-identically through the pruned
    tree kernel (search, prune on), the clause kernel (search with
    prune=False) and search_batch."""
    batch = search_batch(spark, bidx, FLOAT64_TREES, k=10,
                         score_dtype="float64").collect()
    for qi, q in enumerate(FLOAT64_TREES):
        pruned = search(spark, bidx, q, k=10, score_dtype="float64").collect()
        full = search(spark, bidx, q, k=10, score_dtype="float64",
                      prune=False).collect()
        got = [(r.doc_id, r.shard_id, r.score) for r in pruned]
        assert got, q
        assert got == [(r.doc_id, r.shard_id, r.score) for r in full], q
        assert got == [
            (r.doc_id, r.shard_id, r.score) for r in batch if r.query_id == qi
        ], q


def test_tree_prune_end_to_end(spark, bidx, docs):
    """Pruned trees through the full search() path still match the
    brute-force oracle (and the NOT fallback still works)."""
    for q in ("(hotalpha AND hotbeta) OR merge",
              "hotalpha OR (w00011 AND w00012) OR hotgamma",
              "(hotalpha OR hotbeta) AND merge"):
        got = search(spark, bidx, q, k=10, score_dtype="float64").collect()
        want = search(spark, bidx, q, k=10, score_dtype="float64",
                      prune=False).collect()
        assert [(r.doc_id, round(r.score, 9)) for r in got] == [
            (r.doc_id, round(r.score, 9)) for r in want
        ], q


def test_positions_false_build(spark, bidx, tiny_transcripts, tmp_path_factory):
    """positions=False (Lucene omit-term-positions analog): every
    non-phrase query is bit-identical to a positional build — only the
    positions blobs differ (empty) — and phrase/slop queries refuse with
    a clear rebuild message across search / search_multi / search_batch."""
    d = str(tmp_path_factory.mktemp("nopos_idx"))
    build_index(
        spark, tiny_transcripts, d, num_shards=4, positions=False
    )
    h = IndexHandle.open(spark, d)
    assert h.positions is False
    for q in ("hotalpha hotbeta", "+hotalpha -hotbeta", "w00011"):
        a = [
            (r.doc_id, r.score)
            for r in search(spark, bidx, q, k=10).collect()
        ]
        b = [(r.doc_id, r.score) for r in search(spark, h, q, k=10).collect()]
        assert a == b, q
    # postings bytes: positions column empty, everything else present
    import os as _os

    post = spark.read.parquet(_os.path.join(d, "postings.parquet"))
    row = post.agg(
        F.sum(F.length("positions")).alias("p"),
        F.sum(F.length("doc_ids")).alias("d"),
    ).collect()[0]
    assert row["p"] == 0 and row["d"] > 0
    with pytest.raises(ValueError, match="positions=False"):
        search(spark, h, '"hotalpha hotbeta"', k=5)
    with pytest.raises(ValueError, match="positions=False"):
        search_multi(spark, [h, bidx], '"hotalpha hotbeta"~2', k=5)
    with pytest.raises(ValueError, match="positions=False"):
        search_batch(spark, h, ["w00011", '"hotalpha hotbeta"'], k=5)
