"""Training-data ops: cross-checks vs DuckDB and structural properties."""

from __future__ import annotations

import os

import duckdb
import pytest
from pyspark.sql import functions as F

import katta_spark.similarity as sim
import katta_spark.textops as tx

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(os.path.join(SF, "documents.parquet")).cache()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(os.path.join(SF, "embeddings.parquet")).cache()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    return con


def test_exact_dedup_structure(docs):
    r = tx.exact_dedup(docs)
    assert r.count() == docs.count()
    # canonical ids are non-dup rows
    assert r.where((F.col("doc_id") == F.col("canonical_id")) & F.col("is_dup")).count() == 0


def test_jaccard_symmetric_bounds(docs):
    rows = tx.jaccard_pairs(docs, threshold=0.05).collect()
    assert all(0 < r.jaccard <= 1.0 and r.a < r.b for r in rows)


def test_lsh_candidates_superset_of_high_jaccard(docs):
    """LSH with 8 hashes / 4 bands catches every pair with jaccard >= 0.9
    here (band match prob 1-(1-J^2)^4 ≈ 1 at J=0.9)."""
    high = {(r.a, r.b) for r in tx.jaccard_pairs(docs, threshold=0.9).collect()}
    cand = {(r.a, r.b) for r in tx.minhash_lsh_pairs(docs).collect()}
    assert high <= cand


def test_winnow_fingerprints_reference(spark):
    """Winnowing == a plain-Python reference (MOSS semantics), and the
    guarantee holds: a shared substring of length >= w+k-1 shares a
    fingerprint."""
    import hashlib

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox leaps over a sleeping cat"),
        (3, "zz"),
    ]
    docs2 = spark.createDataFrame(rows, "doc_id long, text string")
    got: dict[int, set] = {}
    for r in tx.winnow_fingerprints(docs2, k=8, w=4).collect():
        got.setdefault(r.doc_id, set()).add(r.fingerprint)

    def ref(text, k=8, w=4):
        if len(text) < k:
            return set()
        hs = [hashlib.md5(text[i:i + k].encode()).hexdigest()
              for i in range(len(text) - k + 1)]
        if len(hs) < w:
            return {min(hs)}
        return {min(hs[i:i + w]) for i in range(len(hs) - w + 1)}

    for d, text in rows:
        assert got.get(d, set()) == ref(text), d
    assert got[1] & got[2]  # shared prefix >= w+k-1 chars


def test_near_dup_pairs_equals_lsh_intersect_jaccard(docs):
    """The composed pipeline == (LSH candidates) ∩ (jaccard >= t)."""
    t = 0.2
    got = {(r.a, r.b, r.jaccard) for r in tx.near_dup_pairs(docs, threshold=t).collect()}
    cand = {(r.a, r.b) for r in tx.minhash_lsh_pairs(docs).collect()}
    jac = {(r.a, r.b): r.jaccard for r in tx.jaccard_pairs(docs, threshold=t).collect()}
    want = {(a, b, j) for (a, b), j in jac.items() if (a, b) in cand}
    assert got == want


def test_dedup_near_matches_union_find(docs):
    """Canonical assignment == connected components (union-find oracle)
    over the verified pairs; canonicals are cluster minima."""
    t = 0.2
    pairs = [(r.a, r.b) for r in tx.near_dup_pairs(docs, threshold=t).collect()]
    ids = [r.doc_id for r in docs.select("doc_id").collect()]
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical = min doc_id of the component
    comp_min: dict[int, int] = {}
    for i in ids:
        r = find(i)
        comp_min[r] = min(comp_min.get(r, i), i)
    want = {i: comp_min[find(i)] for i in ids}
    got = {r.doc_id: r.canonical_id for r in tx.dedup_near(docs, threshold=t).collect()}
    assert got == want


def test_simhash_duck_parity(docs, duck):
    import importlib

    m = importlib.import_module("__spark_entry__")
    got = {(r.doc_id, r.simhash) for r in tx.simhash16(docs).collect()}
    want = set(duck.execute(m.oracle_sql()["simhash"]).fetchall())
    assert got == want


def test_quality_scores_ranges(docs):
    rows = tx.quality_scores(docs).collect()
    assert all(r.n_tokens >= 0 and 0 <= r.stopword_ratio <= 1 for r in rows)
    assert all(0 <= r.alnum_ratio <= 1.0 for r in rows)


def test_lang_id_values(docs):
    rows = tx.lang_id(docs).collect()
    assert {r.lang_pred for r in rows} <= {"en", "fr", "es", "de", "und"}


def test_cosine_topk_exact(emb):
    rows = sim.cosine_topk(emb, 0, 5).collect()
    assert len(rows) == 5
    assert all(-1.0001 <= r.cos <= 1.0001 for r in rows)
    # descending
    assert [r.cos for r in rows] == sorted((r.cos for r in rows), reverse=True)


def test_lsh_recall_floor(emb):
    exact = {r.vec_id for r in sim.cosine_topk(emb, 0, 10).collect()}
    approx = {r.vec_id for r in sim.cosine_topk_lsh(emb, 0, 10, dim=64).collect()}
    assert len(exact & approx) >= 3  # ANN floor on random vectors


def test_ann_index_persisted_equals_on_the_fly(emb, tmp_path):
    """The persisted bucket-partitioned index (scale path: one build, each
    query scans only its probe buckets) returns exactly the on-the-fly
    result — and the bucket column survives the partition round-trip."""
    d = str(tmp_path / "ann")
    sim.build_ann_index(emb, d, dim=64, planes=6, seed=7)
    on_fly = sim.cosine_topk_lsh(emb, 0, 10, dim=64).collect()
    persisted = sim.cosine_topk_lsh(emb, 0, 10, dim=64, ann_dir=d).collect()
    assert [(r.vec_id, r.cos) for r in persisted] == [
        (r.vec_id, r.cos) for r in on_fly
    ]
    # partition pruning: the probe predicate hits the bucket partition col
    import os

    vecs = [f for f in os.listdir(os.path.join(d, "vectors.parquet"))
            if f.startswith("bucket=")]
    assert len(vecs) >= 2  # multiple bucket partitions materialized


def test_ann_query_prunes_bucket_partitions(emb, tmp_path):
    """The probe predicate must reach the PARTITION level of the persisted
    index: the scan's PartitionFilters carry the bucket IN-list, so at
    100 TB a query reads only its Hamming-ball partitions."""
    d = str(tmp_path / "ann_prune")
    sim.build_ann_index(emb, d, dim=64, planes=6, seed=7)
    qvec = list(emb.where(emb.vec_id == 0).collect()[0]["embedding"])
    out = sim.ann_topk(emb.sparkSession, d, qvec, k=5, probe_radius=1)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "bucket" in plan, plan[:2000]
    # radius 1 over 6 planes = at most 7 probe buckets
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "bucket" in m.group(1), plan[:2000]


def test_ann_query_names_a_missing_sidecar(emb, tmp_path):
    import os
    import shutil

    d = str(tmp_path / "ann_gone")
    sim.build_ann_index(emb, d, dim=64, planes=6, seed=7)
    shutil.rmtree(os.path.join(d, "vectors.parquet"))
    qvec = list(emb.where(emb.vec_id == 0).collect()[0]["embedding"])
    with pytest.raises(FileNotFoundError, match=r"ann_gone'.*vectors\.parquet sidecar"):
        sim.ann_topk(emb.sparkSession, d, qvec, k=5, probe_radius=1)


def test_embedding_near_dup_pairs_subset_of_exact(emb):
    """Every reported pair is genuinely >= threshold; candidates restricted
    to shared buckets (a ⊂ of the exact all-pairs result)."""
    pairs = sim.embedding_near_dup_pairs(emb, threshold=0.3).collect()
    assert pairs and all(r.a < r.b and r.cos >= 0.3 for r in pairs)


def test_bucket_col_matches_driver_fold(emb):
    """JVM fold and the driver-side fold assign identical buckets."""
    H = sim.rademacher_hyperplanes(64, 6, 7)
    rows = sim.lsh_signatures(emb, dim=64).limit(50).collect()
    for r in rows:
        assert r.bucket == sim._bucket_of(list(r.embedding), H)


def test_stratified_sample_nested_and_deterministic(spark, docs):
    from katta_spark.textops import stratified_sample

    lo = stratified_sample(docs, {"src3": 0.2, "src7": 0.2}, "source")
    hi = stratified_sample(docs, {"src3": 0.7, "src7": 0.7}, "source")
    lo_ids = {r.doc_id for r in lo.select("doc_id").collect()}
    hi_ids = {r.doc_id for r in hi.select("doc_id").collect()}
    assert lo_ids < hi_ids  # nested samples: raising a quota only adds rows
    again = {
        r.doc_id
        for r in stratified_sample(
            docs, {"src3": 0.2, "src7": 0.2}, "source"
        ).select("doc_id").collect()
    }
    assert again == lo_ids  # reproducible
    # default_rate=0: other strata contribute nothing
    srcs = {r.source for r in lo.select("source").distinct().collect()}
    assert srcs <= {"src3", "src7"}


def test_pack_sequences_greedy_per_bucket(spark, docs):
    from katta_spark.textops import pack_sequences

    packed = pack_sequences(docs, max_tokens=200, buckets=4).collect()
    by_bucket = {}
    for r in packed:
        by_bucket.setdefault(r.bucket, []).append(r)
    assert set(by_bucket) == {0, 1, 2, 3}
    for b, rows in by_bucket.items():
        rows.sort(key=lambda r: r.doc_id)
        cum = 0
        for r in rows:
            assert r.pack_id == cum // 200, (b, r)
            cum += r.n_tokens
        # pack ids are dense and nondecreasing in id order
        ids = [r.pack_id for r in rows]
        assert ids == sorted(ids)


def test_stratum_quota_exact_and_monotone(spark, docs):
    from katta_spark.textops import stratum_quota

    small = stratum_quota(docs, {"src3": 4, "src7": 2}, "source")
    counts = {
        r.source: r["count"]
        for r in small.groupBy("source").count().collect()
    }
    assert counts == {"src3": 4, "src7": 2}
    big = stratum_quota(docs, {"src3": 9, "src7": 2}, "source")
    small_ids = {r.doc_id for r in small.select("doc_id").collect()}
    big_ids = {r.doc_id for r in big.select("doc_id").collect()}
    assert small_ids < big_ids  # raising a quota only adds rows


def test_redact_text(spark):
    from katta_spark.textops import redact_text

    df = spark.createDataFrame(
        [(1, "write to a.b@x-mail.org or visit http://ex.io/a?b=1 at 192.168.0.1 ok"),
         (2, "nothing here"),
         (3, "two mails p@q.io r@s.co and 999.1.2.3 is not clamped but matches")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.redacted for r in redact_text(df).collect()}
    assert out[1] == "write to <EMAIL> or visit <URL> at <IP> ok"
    assert out[2] == "nothing here"
    assert out[3] == "two mails <EMAIL> <EMAIL> and <IP> is not clamped but matches"


def test_decontaminate_hand_checked(spark):
    """Benchmark 3-gram overlap: exact hit counts, zero-hit docs kept,
    min_hits threshold honored."""
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "alpha beta gamma delta"),
            (3, "one two"),  # < n tokens -> whole-text fallback shingle
            (4, "quick brown fox quick brown fox runs"),
        ],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame(
        [("quick brown fox something else",), ("one two",)], ["text"]
    )
    got = {
        r.doc_id: (r.n_hit_shingles, r.contaminated)
        for r in tx.decontaminate(docs, bench, n=3).collect()
    }
    # doc 1: distinct doc shingle "quick brown fox" hits; doc 4 has the
    # same shingle (distinct per doc, so it counts ONCE) plus
    # "brown fox quick"/"fox quick brown" which don't appear in bench.
    assert got == {
        1: (1, True),
        2: (0, False),
        3: (1, True),  # whole-text fallback "one two" == bench fallback? no:
        # bench "one two" has 2 tokens -> fallback shingle "one two" matches.
        4: (1, True),
    }
    # min_hits=2: nobody reaches two distinct hit shingles
    got2 = {
        r.doc_id: r.contaminated
        for r in tx.decontaminate(docs, bench, n=3, min_hits=2).collect()
    }
    assert got2 == {1: False, 2: False, 3: False, 4: False}


def test_decontaminate_plan_broadcasts_bench(docs):
    """100-TB shape: the benchmark side broadcasts (BroadcastHashJoin, no
    SortMergeJoin) — the corpus never shuffles for the probe; the only
    exchange is the per-doc count collapse."""
    bench = docs.limit(20)
    out = tx.decontaminate(docs, bench)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # every doc with a non-empty shingle is in the verdict
    assert out.count() == docs.where(F.length("text") > 0).count()


def _py_fuzzy_decontam(doc_rows, bench_rows, threshold, num_hashes, bands, n):
    """Independent pure-Python reference of the decontaminate_fuzzy spec
    (md5 MinHash, banding, exact-Jaccard verify on LSH candidates)."""
    import hashlib

    from katta_spark.tokenizer import tokenize_str

    def sh(text):
        t = tokenize_str(text or "")
        out = (
            {" ".join(t[i:i + n]) for i in range(len(t) - n + 1)}
            if len(t) >= n
            else {" ".join(t)}
        )
        return {s for s in out if s}

    def sig(ss):
        return [
            min(
                hashlib.md5(f"{i}|{s}".encode()).hexdigest() for s in ss
            )
            for i in range(num_hashes)
        ]

    rp = num_hashes // bands

    def bandset(sg):
        return {
            "#".join([str(bi)] + sg[bi * rp:(bi + 1) * rp])
            for bi in range(bands)
        }

    bsh = {bid: sh(t) for bid, t in bench_rows}
    bband = {bid: bandset(sig(ss)) for bid, ss in bsh.items() if ss}
    out = {}
    for did, t in doc_rows:
        ss = sh(t)
        best = (0.0, None)
        if ss:
            bb = bandset(sig(ss))
            for bid in sorted(bband):
                if not (bb & bband[bid]):
                    continue
                inter = len(ss & bsh[bid])
                if not inter:
                    continue
                j = round(inter / (len(ss) + len(bsh[bid]) - inter), 4)
                if j > best[0]:
                    best = (j, bid)
        out[did] = (best[0] >= threshold, best[0], best[1])
    return out


def test_decontaminate_fuzzy_matches_reference(spark, docs):
    """Engine == the independent pure-Python reference on a real-corpus
    slice: same candidates, same best match, same rounded Jaccard."""
    corpus = docs.select("doc_id", "text").limit(60)
    bench = docs.select(
        F.col("doc_id").alias("bid"), F.col("text").alias("btext")
    ).where(F.col("doc_id") % 7 == 0).limit(12)
    got = {
        r.doc_id: (r.contaminated, r.jaccard, r.bench_id)
        for r in tx.decontaminate_fuzzy(
            corpus, bench, threshold=0.5,
            bench_id_col="bid", bench_text_col="btext",
        ).collect()
    }
    want = _py_fuzzy_decontam(
        [(r.doc_id, r.text) for r in corpus.collect()],
        [(r.bid, r.btext) for r in bench.collect()],
        0.5, 8, 4, 3,
    )
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == want[k][0], k
        assert got[k][1] == pytest.approx(want[k][1], abs=1e-9), k
        assert got[k][2] == want[k][2], k
    # bench docs themselves are in the corpus slice iff doc_id%7==0 —
    # an exact copy must verify at jaccard 1.0
    exact = [k for k in want if want[k][1] == 1.0]
    assert exact and all(got[k][0] for k in exact)


def test_decontaminate_fuzzy_hand_checked(spark):
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),  # copy
            (2, "alpha beta gamma delta epsilon zeta"),          # unrelated
            (3, ""),                                             # empty
        ],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        ["doc_id", "text"],
    )
    got = {
        r.doc_id: (r.contaminated, r.jaccard, r.bench_id)
        for r in tx.decontaminate_fuzzy(docs, bench, threshold=0.8).collect()
    }
    assert got[1] == (True, 1.0, 100)
    assert got[2] == (False, 0.0, None)
    assert got[3] == (False, 0.0, None)
    with pytest.raises(ValueError, match="threshold"):
        tx.decontaminate_fuzzy(docs, bench, threshold=0.0)
    with pytest.raises(ValueError, match="bands"):
        tx.decontaminate_fuzzy(docs, bench, num_hashes=8, bands=3)


def test_decontaminate_fuzzy_plan_broadcasts_bench(docs):
    """100-TB shape: every benchmark-side join broadcasts — the corpus
    relation is never the build side of a shuffle join for the probe."""
    bench = docs.limit(15)
    out = tx.decontaminate_fuzzy(docs.limit(200), bench)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_repetition_scores_hand_checked(spark):
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma alpha beta gamma alpha beta gamma"),
            (2, "all distinct tokens here now"),
            (3, "solo"),
        ],
        ["doc_id", "text"],
    )
    got = {r.doc_id: r for r in tx.repetition_scores(docs).collect()}
    # doc 1: 8 2-gram occurrences, 3 distinct -> dup 1-3/8; top gram
    # "alpha beta" occurs 3 times -> 3/8; 7 3-grams, 3 distinct.
    assert got[1].n_2grams == 8
    assert got[1].dup_2gram_frac == pytest.approx(round(1 - 3 / 8, 4))
    assert got[1].dup_3gram_frac == pytest.approx(round(1 - 3 / 7, 4))
    assert got[1].top_2gram_frac == pytest.approx(round(3 / 8, 4))
    # doc 2: no repetition; top gram is any single occurrence 1/4
    assert got[2].dup_2gram_frac == 0.0
    assert got[2].top_2gram_frac == pytest.approx(0.25)
    # doc 3: no 2-grams at all -> all zeros
    assert (got[3].n_2grams, got[3].dup_2gram_frac, got[3].top_2gram_frac) == (
        0, 0.0, 0.0,
    )


def test_repetition_scores_no_exchange(docs):
    """Pure in-row codegen: the operator adds ZERO exchanges at any
    corpus size, and bounds hold on real data."""
    out = tx.repetition_scores(docs)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    rows = out.collect()
    assert len(rows) == docs.count()
    for r in rows:
        assert 0.0 <= r.dup_2gram_frac <= 1.0
        assert 0.0 <= r.dup_3gram_frac <= 1.0
        assert 0.0 <= r.top_2gram_frac <= 1.0
        if r.n_2grams > 0:
            assert r.top_2gram_frac >= round(1.0 / r.n_2grams, 4) - 1e-9


def test_unigram_lm_hand_checked(spark):
    """Corpus counts a:2 b:2 c:1 (total 5) -> p(a)=p(b)=0.4, p(c)=0.2;
    exact cross-entropy / perplexity / min_logp; empty doc dropped."""
    import math

    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "b c"), (3, "")], ["doc_id", "text"]
    )
    got = {r.doc_id: r for r in tx.unigram_lm_scores(docs).collect()}
    assert set(got) == {1, 2}
    ce1 = -math.log(0.4)
    assert got[1].n_tokens == 3
    assert got[1].cross_entropy == pytest.approx(round(ce1, 4))
    assert got[1].perplexity == pytest.approx(round(math.exp(ce1), 4))
    assert got[1].min_logp == pytest.approx(round(math.log(0.4), 4))
    ce2 = -(math.log(0.4) + math.log(0.2)) / 2
    assert got[2].n_tokens == 2
    assert got[2].cross_entropy == pytest.approx(round(ce2, 4))
    # exp(ce2) == 1/sqrt(0.08)
    assert got[2].perplexity == pytest.approx(round(0.08 ** -0.5, 4))
    assert got[2].min_logp == pytest.approx(round(math.log(0.2), 4))


def test_bigram_lm_reference_values(spark):
    """Exact values vs a pure-Python reference of the documented model:
    p(cur|prev) = (c(prev,cur) + p_uni(cur)) / (c_left(prev) + 1), first
    token under the unigram; single-token docs score unigram-only; empty
    docs drop; word salad (good words, bad transitions) scores above the
    coherent doc that shares its vocabulary."""
    import math
    from collections import Counter

    texts = {
        1: "the cat sat on the mat",
        2: "the cat sat",
        3: "mat on cat the zq",
        4: "solo",
        5: "",
    }
    docs = spark.createDataFrame(
        list(texts.items()), ["doc_id", "text"]
    )
    got = {r.doc_id: r for r in tx.bigram_lm_scores(docs).collect()}
    assert set(got) == {1, 2, 3, 4}

    toks = {k: v.split() for k, v in texts.items() if v}
    uni = Counter(t for ts in toks.values() for t in ts)
    total = sum(uni.values())
    bg = Counter(
        (ts[i], ts[i + 1]) for ts in toks.values()
        for i in range(len(ts) - 1)
    )
    left = Counter()
    for (p, _), c in bg.items():
        left[p] += c
    for k, ts in toks.items():
        lps = [math.log(uni[ts[0]] / total)]
        for i in range(1, len(ts)):
            pu = uni[ts[i]] / total
            lps.append(
                math.log((bg[(ts[i - 1], ts[i])] + pu) / (left[ts[i - 1]] + 1))
            )
        ce = -sum(lps) / len(lps)
        assert got[k].n_tokens == len(ts)
        assert got[k].cross_entropy == pytest.approx(round(ce, 4), abs=2e-4)
        assert got[k].perplexity == pytest.approx(
            round(math.exp(ce), 4), abs=2e-3
        )
        assert got[k].min_logp == pytest.approx(
            round(min(lps), 4), abs=2e-4
        )
    # the transition signal: salad doc 3 beats coherent doc 1 on ce
    assert got[3].cross_entropy > got[1].cross_entropy
    with pytest.raises(ValueError):
        tx.bigram_lm_scores(docs, alpha=0)


def test_bigram_lm_plan_broadcasts_stats(docs):
    out = tx.bigram_lm_scores(docs)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_unigram_lm_plan_broadcasts_vocab(docs):
    """100-TB shape: the vocab-sized logp table broadcasts back onto the
    corpus — no SortMergeJoin anywhere; the per-doc collapse combines
    map-side."""
    out = tx.unigram_lm_scores(docs)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    rows = out.collect()
    for r in rows:
        assert r.cross_entropy >= 0.0
        assert r.perplexity >= 1.0  # exp of a non-negative mean
        assert r.min_logp <= 0.0


def test_boilerplate_hand_checked(spark):
    """Shared 3-gram 'header foo bar' has df=2 of ndocs=3; exact
    fractions; sub-3-token docs dropped."""
    docs = spark.createDataFrame(
        [
            (1, "header foo bar one two three"),
            (2, "header foo bar four five six"),
            (3, "totally different words here"),
            (4, "too short"),
        ],
        ["doc_id", "text"],
    )
    got = {r.doc_id: r for r in tx.boilerplate_scores(docs).collect()}
    assert set(got) == {1, 2, 3}
    assert got[1].n_grams == 4
    assert got[1].frequent_frac == pytest.approx(0.25)
    assert got[1].max_df_frac == pytest.approx(round(2 / 3, 4))
    assert got[1].avg_df_frac == pytest.approx(round(1.25 / 3, 4))
    assert got[3].n_grams == 2
    assert got[3].frequent_frac == 0.0
    assert got[3].max_df_frac == pytest.approx(round(1 / 3, 4))
    assert got[3].avg_df_frac == pytest.approx(round(1 / 3, 4))


def test_boilerplate_plan_broadcasts_df_table(docs):
    """100-TB shape: the gram->df table broadcasts; no SortMergeJoin."""
    out = tx.boilerplate_scores(docs)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    for r in out.collect():
        assert 0.0 <= r.frequent_frac <= 1.0
        assert 0.0 < r.max_df_frac <= 1.0
        assert 0.0 < r.avg_df_frac <= r.max_df_frac + 1e-9


def test_new_quality_ops_random_cross_check(spark):
    """Seeded randomized corpus (120 docs, skewed Zipf-ish vocab, empty/
    short/duplicate-heavy docs mixed in) cross-checked against pure-Python
    references for all four round-5 ops — the net beyond hand-picked
    cases."""
    import math
    import random
    from collections import Counter
    from decimal import ROUND_HALF_UP, Decimal

    from katta_spark.tokenizer import tokenize_str

    def r4(x):
        # Spark's round() is BigDecimal HALF_UP on the double's shortest
        # decimal repr (ties away from zero; DuckDB matches) — Python's
        # built-in round is banker's, so 21/32=0.65625 would diverge.
        return float(
            Decimal(repr(float(x))).quantize(
                Decimal("0.0001"), rounding=ROUND_HALF_UP
            )
        )

    rng = random.Random(20260817)
    vocab = [f"w{i}" for i in range(30)]
    texts = []
    for i in range(120):
        kind = i % 6
        if kind == 0:
            texts.append("")  # empty
        elif kind == 1:
            texts.append(" ".join(rng.choices(vocab[:3], k=2)))  # short
        elif kind == 2:  # loop-y
            base = " ".join(rng.choices(vocab, k=4))
            texts.append(" ".join([base] * rng.randint(2, 5)))
        else:  # Zipf-ish prose
            w = [vocab[min(int(rng.paretovariate(1.2)), 29)] for _ in
                 range(rng.randint(5, 60))]
            texts.append(" ".join(w))
    rows = [(i, t) for i, t in enumerate(texts)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    toks = {i: tokenize_str(t) for i, t in rows}

    def grams(ts, n):
        return [" ".join(ts[j:j + n]) for j in range(len(ts) - n + 1)]

    # --- repetition_scores ---
    got = {r.doc_id: r for r in tx.repetition_scores(docs).collect()}
    assert set(got) == set(toks)
    for i, ts in toks.items():
        g2, g3 = grams(ts, 2), grams(ts, 3)
        r = got[i]
        assert r.n_2grams == len(g2)
        exp_d2 = r4(1 - len(set(g2)) / len(g2)) if g2 else 0.0
        exp_d3 = r4(1 - len(set(g3)) / len(g3)) if g3 else 0.0
        exp_top = (r4(Counter(g2).most_common(1)[0][1] / len(g2))
                   if g2 else 0.0)
        assert (r.dup_2gram_frac, r.dup_3gram_frac, r.top_2gram_frac) == (
            exp_d2, exp_d3, exp_top), i

    # --- unigram_lm_scores ---
    uni = Counter(t for ts in toks.values() for t in ts)
    total = sum(uni.values())
    got = {r.doc_id: r for r in tx.unigram_lm_scores(docs).collect()}
    assert set(got) == {i for i, ts in toks.items() if ts}
    for i, r in got.items():
        lps = [math.log(uni[t] / total) for t in toks[i]]
        ce = -sum(lps) / len(lps)
        assert r.n_tokens == len(lps)
        assert r.cross_entropy == pytest.approx(r4(ce), abs=1e-9)
        assert r.perplexity == pytest.approx(r4(math.exp(ce)), abs=1e-9)
        assert r.min_logp == pytest.approx(r4(min(lps)), abs=1e-9)

    # --- boilerplate_scores (min_df=2) ---
    df = Counter()
    for ts in toks.values():
        for gm in set(grams(ts, 3)):
            df[gm] += 1
    ndocs = sum(1 for ts in toks.values() if len(ts) >= 3)
    got = {r.doc_id: r for r in tx.boilerplate_scores(docs).collect()}
    assert set(got) == {i for i, ts in toks.items() if len(ts) >= 3}
    for i, r in got.items():
        g3 = grams(toks[i], 3)
        dfs = [df[gm] for gm in g3]
        assert r.n_grams == len(g3)
        assert r.frequent_frac == pytest.approx(
            r4(sum(1 for d in dfs if d >= 2) / len(dfs)), abs=1e-9)
        assert r.max_df_frac == pytest.approx(
            r4(max(dfs) / ndocs), abs=1e-9)
        assert r.avg_df_frac == pytest.approx(
            r4(sum(dfs) / len(dfs) / ndocs), abs=1e-9)

    # --- decontaminate (bench = every 7th doc) ---
    bench_ids = [i for i in toks if i % 7 == 0]
    bench_sh = set()
    for i in bench_ids:
        ts = toks[i]
        if len(ts) >= 3:
            bench_sh.update(grams(ts, 3))
        elif ts:
            bench_sh.add(" ".join(ts))
    got = {r.doc_id: r for r in tx.decontaminate(
        docs, docs.where(F.col("doc_id") % 7 == 0), n=3).collect()}
    assert set(got) == {i for i, ts in toks.items() if ts}
    for i, r in got.items():
        ts = toks[i]
        mine = set(grams(ts, 3)) if len(ts) >= 3 else {" ".join(ts)}
        hits = len(mine & bench_sh)
        assert (r.n_hit_shingles, r.contaminated) == (hits, hits >= 1), i


def test_curate_hand_checked(spark):
    """End-to-end verdict: every reason code on a constructed corpus,
    first-match-wins priority, canonical doc kept."""
    long_clean = " ".join(f"tok{i}" for i in range(30))
    near_a = " ".join(f"word{i}" for i in range(25))
    near_b = near_a + " tail"                     # jaccard >> 0.5 with a
    repetitive = "spam ham " * 15                 # top 2-gram dominates
    bench_text = " ".join(f"eval{i}" for i in range(20))
    docs = spark.createDataFrame(
        [
            (1, long_clean),        # keep
            (2, "too short"),       # 1
            (3, repetitive.strip()),  # 2 (30 tokens, passes length)
            (4, near_a),            # canonical of {4,5} -> keep
            (5, near_b),            # 3
            (6, bench_text),        # 4 (verbatim eval doc in corpus)
            (7, ""),                # 1 (0 tokens)
        ],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame([(bench_text,)], ["text"])
    got = {r.doc_id: (r.keep, r.reason) for r in tx.curate(
        docs, bench, min_tokens=5, max_top2_frac=0.3,
        dedup_threshold=0.5,
    ).collect()}
    assert got == {
        1: (True, 0), 2: (False, 1), 3: (False, 2),
        4: (True, 0), 5: (False, 3), 6: (False, 4), 7: (False, 1),
    }
    # priority: a doc that is BOTH repetitive and a near-dup reports 2
    docs2 = spark.createDataFrame(
        [(1, repetitive.strip()), (2, repetitive.strip() + " x")],
        ["doc_id", "text"],
    )
    got2 = {r.doc_id: r.reason for r in tx.curate(
        docs2, None, min_tokens=5, max_top2_frac=0.3, dedup_threshold=0.5,
    ).collect()}
    assert got2 == {1: 2, 2: 2}
    # bench=None skips rule 4 entirely
    got3 = {r.doc_id: r.reason for r in tx.curate(
        docs, None, min_tokens=5, max_top2_frac=0.3, dedup_threshold=0.5,
    ).collect()}
    assert got3[6] == 0


def test_temperature_quotas(spark):
    """Gopher/PaLM mixture rule: quota ∝ n^alpha with largest-remainder
    rounding summing EXACTLY to total; alpha=1 proportional, alpha=0
    uniform; integrates with stratum_quota."""
    rows = (
        [(i, "big") for i in range(80)]
        + [(i + 100, "mid") for i in range(16)]
        + [(i + 200, "small") for i in range(4)]
    )
    docs = spark.createDataFrame(rows, ["doc_id", "source"])

    # alpha=1: exactly proportional (all raw shares integral here)
    q1 = {r.stratum: r.quota for r in
          tx.temperature_quotas(docs, "source", alpha=1.0).collect()}
    assert q1 == {"big": 80, "mid": 16, "small": 4}

    # alpha=0: uniform weights, total 100 over 3 strata -> 34/33/33 with
    # the remainder unit going to the lexicographically first stratum
    q0 = {r.stratum: r.quota for r in
          tx.temperature_quotas(docs, "source", alpha=0.0).collect()}
    assert sum(q0.values()) == 100 and sorted(q0.values()) == [33, 33, 34]
    assert q0["big"] == 34  # tie on fraction 1/3 -> stratum name asc

    # alpha=0.5 with explicit total: hand-computed largest remainder
    # weights: sqrt(80)=8.9443, sqrt(16)=4, sqrt(4)=2 -> sum 14.9443
    # shares of 50: 29.923, 13.383, 6.6926 -> floors 29/13/6 (48), two
    # leftover units go to the two largest fractions (.923, .6926)
    qh = {r.stratum: r.quota for r in
          tx.temperature_quotas(docs, "source", alpha=0.5, total=50).collect()}
    assert qh == {"big": 30, "mid": 13, "small": 7}
    assert sum(qh.values()) == 50

    # flattening: alpha<1 gives small strata a larger share than raw
    assert qh["small"] / 50 > 4 / 100

    # end-to-end: materialize via stratum_quota — exact sizes, capped by
    # availability
    out = tx.stratum_quota(docs, qh, strata_col="source")
    got = {r["source"]: r["cnt"] for r in
           out.groupBy("source").agg(F.count("*").alias("cnt")).collect()}
    assert got == {"big": 30, "mid": 13, "small": 4}  # small capped at 4


def test_substring_dup_spans_hand_checked(spark):
    """ExactSubstr profile (Lee et al. 2021), k=3: cross-doc AND within-doc
    repeats count toward min_count; overlapping hits merge into one span;
    a hit starting exactly at the previous span's end opens a NEW span;
    short (< k) and empty docs keep a zero row."""
    docs = spark.createDataFrame(
        [
            (1, "a b c d e a b c d"),   # abc@0,5 bcd@1,6 dup -> [0,4)+[5,9)
            (2, "x y z w v"),            # all grams unique
            (3, "a b c q r s"),          # abc@0 (count 3 w/ doc 1)
            (4, "hi"),                   # < k tokens -> no grams
            (5, ""),                     # empty
            (6, "p q r p q r"),          # pqr@0,3: adjacent spans [0,3)[3,6)
        ],
        ["doc_id", "text"],
    )
    with pytest.raises(ValueError):
        tx.substring_dup_spans(docs, k=0)
    got = {
        r.doc_id: (r.n_tokens, r.n_dup_tokens, r.dup_token_frac, r.n_dup_spans)
        for r in tx.substring_dup_spans(docs, k=3).collect()
    }
    assert got == {
        1: (9, 8, 0.8889, 2),
        2: (5, 0, 0.0, 0),
        3: (6, 3, 0.5, 1),
        4: (1, 0, 0.0, 0),
        5: (0, 0, 0.0, 0),
        6: (6, 6, 1.0, 2),
    }
    # min_count=3: only the abc gram (2 occurrences in doc 1 + 1 in doc 3)
    # survives; bcd and pqr (2 each) drop out.
    got3 = {
        r.doc_id: (r.n_dup_tokens, r.n_dup_spans)
        for r in tx.substring_dup_spans(docs, k=3, min_count=3).collect()
    }
    assert got3 == {
        1: (6, 2),  # abc@0 -> [0,3), abc@5 -> [5,8)
        2: (0, 0), 3: (3, 1), 4: (0, 0), 5: (0, 0), 6: (0, 0),
    }


def test_substring_dup_spans_random_cross_check(spark):
    """Seeded random small-vocab corpus vs a pure-Python ExactSubstr
    reference (occurrence counting, interval union, merged-span count)."""
    import random

    from katta_spark.tokenizer import tokenize_str

    rng = random.Random(20260818)
    vocab = [f"w{i}" for i in range(6)]
    texts = []
    for i in range(40):
        n = rng.randint(0, 18)
        texts.append((i, " ".join(rng.choice(vocab) for _ in range(n))))
    k = 3
    toks = {d: tokenize_str(t) for d, t in texts}
    from collections import Counter

    counts = Counter()
    grams = {}
    for d, t in toks.items():
        gs = (
            [tuple(t[i : i + k]) for i in range(len(t) - k + 1)]
            if len(t) >= k
            else []
        )
        grams[d] = gs
        counts.update(gs)
    expect = {}
    for d, t in toks.items():
        starts = [i for i, gm in enumerate(grams[d]) if counts[gm] >= 2]
        covered, spans, end = 0, 0, -1
        for s in starts:
            covered += max(0, s + k - max(end, s))
            if s >= end:
                spans += 1
            end = max(end, s + k)
        frac = round(covered / len(t), 4) if t else 0.0
        expect[d] = (len(t), covered, frac, spans)
    got = {
        r.doc_id: (r.n_tokens, r.n_dup_tokens, r.dup_token_frac, r.n_dup_spans)
        for r in tx.substring_dup_spans(
            spark.createDataFrame(texts, ["doc_id", "text"]), k=k
        ).collect()
    }
    assert got == expect


def test_chunk_documents_hand_checked(spark):
    """Token-window chunking: exact starts/lengths/texts, overlap via
    stride < max_tokens, drop_partial keeps chunk 0, empty/short docs
    keep one chunk."""
    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h i j"),  # n=10
            (2, "p q r s t u"),          # n=6
            (3, "hi"),                   # n=1
            (4, ""),                     # n=0
        ],
        ["doc_id", "text"],
    )
    got = {
        (r.doc_id, r.chunk_idx): (r.start_tok, r.n_tokens, r.chunk_text)
        for r in tx.chunk_documents(docs, max_tokens=4).collect()
    }
    assert got == {
        (1, 0): (0, 4, "a b c d"),
        (1, 1): (4, 4, "e f g h"),
        (1, 2): (8, 2, "i j"),
        (2, 0): (0, 4, "p q r s"),
        (2, 1): (4, 2, "t u"),
        (3, 0): (0, 1, "hi"),
        (4, 0): (0, 0, ""),
    }
    # overlapping stride: consecutive chunks share max_tokens - stride toks
    ov = {
        r.chunk_idx: (r.start_tok, r.chunk_text)
        for r in tx.chunk_documents(
            docs.where("doc_id = 2"), max_tokens=4, stride=2
        ).collect()
    }
    assert ov == {0: (0, "p q r s"), 1: (2, "r s t u"), 2: (4, "t u")}
    # drop_partial: only full chunks survive, except chunk 0
    dp = {
        (r.doc_id, r.chunk_idx)
        for r in tx.chunk_documents(
            docs, max_tokens=4, drop_partial=True
        ).collect()
    }
    assert dp == {(1, 0), (1, 1), (2, 0), (3, 0), (4, 0)}
    import pytest as _pytest

    with _pytest.raises(ValueError):
        tx.chunk_documents(docs, max_tokens=0)


def test_chunk_documents_reconstructs_stream(docs):
    """stride == max_tokens partitions the token stream: concatenating a
    doc's chunk_texts in chunk_idx order reproduces its full analyzed
    token stream, and token counts sum exactly."""
    from katta_spark.tokenizer import tokenize_col

    chunks = tx.chunk_documents(docs, max_tokens=7)
    rebuilt = (
        chunks.orderBy("doc_id", "chunk_idx")
        .groupBy("doc_id")
        .agg(
            F.concat_ws(
                " ",
                F.flatten(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("chunk_idx", "chunk_text"))
                        ),
                        lambda s: F.split(s["chunk_text"], " "),
                    )
                ),
            ).alias("joined"),
            F.sum("n_tokens").alias("total"),
        )
    )
    src = docs.select(
        "doc_id",
        F.array_join(tokenize_col(F.col("text")), " ").alias("stream"),
        F.size(tokenize_col(F.col("text"))).cast("long").alias("n"),
    )
    bad = (
        rebuilt.join(src, "doc_id")
        .where(
            (F.regexp_replace("joined", "^ | $", "") != F.col("stream"))
            | (F.col("total") != F.col("n"))
        )
        .count()
    )
    assert bad == 0


def test_dsir_weights_hand_checked(spark):
    """DSIR importance weights vs a pure-Python reference (hashed uni+
    bigram buckets, Laplace smoothing): exact log_weight/avg/unseen_frac,
    empty docs dropped, target-favored docs outscore off-target docs."""
    import hashlib
    import math
    from collections import Counter
    from decimal import ROUND_HALF_UP, Decimal

    from katta_spark.tokenizer import tokenize_str

    def r4(x):
        return float(
            Decimal(repr(float(x))).quantize(
                Decimal("0.0001"), rounding=ROUND_HALF_UP
            )
        )

    corpus = [
        (1, "alpha beta alpha beta gamma"),
        (2, "delta epsilon zeta delta"),
        (3, "alpha beta gamma delta"),
        (4, ""),
    ]
    target = [("alpha beta alpha",), ("beta gamma",)]

    def feats(text):
        t = tokenize_str(text)
        grams = t + [" ".join(t[i : i + 2]) for i in range(len(t) - 1)]
        return [hashlib.md5(g.encode()).hexdigest()[:3] for g in grams]

    B = 4096
    ct = Counter(b for (txt,) in target for b in feats(txt))
    cq = Counter(b for _, txt in corpus for b in feats(txt))
    tt, tq = sum(ct.values()), sum(cq.values())

    def lr(b):
        return math.log((ct.get(b, 0) + 1) / (tt + B)) - math.log(
            (cq[b] + 1) / (tq + B)
        )

    expect = {}
    for d, txt in corpus:
        fs = feats(txt)
        if not fs:
            continue  # empty doc: no features, dropped
        lrs = [lr(b) for b in fs]
        unseen = [1.0 if ct.get(b, 0) == 0 else 0.0 for b in fs]
        expect[d] = (
            len(fs), r4(sum(lrs)), r4(sum(lrs) / len(fs)),
            r4(sum(unseen) / len(unseen)),
        )
    docs = spark.createDataFrame(corpus, ["doc_id", "text"])
    tgt = spark.createDataFrame(target, ["text"])
    got = {
        r.doc_id: (r.n_feats, r.log_weight, r.avg_log_ratio, r.unseen_frac)
        for r in tx.dsir_weights(docs, tgt).collect()
    }
    assert got == expect
    assert 4 not in got
    with pytest.raises(ValueError):
        tx.dsir_weights(docs, tgt, hex_chars=0)
    # direction: doc 1 (pure target vocabulary) outweighs doc 2 (disjoint)
    assert got[1][1] > got[2][1]
    assert got[2][3] == 1.0  # doc 2's features never occur in the target


def test_dsir_plan_broadcasts_ratio_table(docs):
    """100-TB shape: the bucket→log-ratio table (fixed <= 4096 rows)
    broadcasts back onto the corpus features — no SortMergeJoin anywhere;
    the corpus side never shuffles for the apply pass."""
    out = tx.dsir_weights(docs, docs.where("doc_id % 41 = 0"))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
