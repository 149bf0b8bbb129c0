"""Randomized property tests: invariants over seeded random corpora,
batched as single Spark jobs (one DataFrame per property, not one per
example).

These complement the DuckDB-oracle suite: the oracle pins agreement with
another engine on fixed data; these pin semantic invariants that must hold
on ANY data."""

from __future__ import annotations

import random
import string

from pyspark.sql import functions as F

from connected_data_lake_spark.functions import text as TX
from connected_data_lake_spark.functions import vectors as VX

RNG = random.Random(20260813)


def _random_text(n_tokens: int) -> str:
    return " ".join(
        "".join(RNG.choice(string.ascii_lowercase) for _ in range(RNG.randint(1, 8)))
        for _ in range(n_tokens)
    )


def _py_shingles(text: str, n: int = 3) -> list[str]:
    """Pure-Python reference for the zip_with shingle construction."""
    toks = " ".join(text.lower().split()).split(" ")
    return [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]


def test_shingles_match_python_reference(spark):
    rows = [(i, _random_text(RNG.randint(0, 12))) for i in range(300)]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {
        r["id"]: r["sh"]
        for r in df.select("id", TX.shingles("text", 3).alias("sh")).collect()
    }
    for i, text in rows:
        assert got[i] == _py_shingles(text, 3), (i, text)


def test_fingerprint_invariant_under_case_and_whitespace(spark):
    base = [(i, _random_text(RNG.randint(1, 20))) for i in range(200)]

    def perturb(t: str) -> str:
        out = []
        for ch in t:
            if ch == " ":
                out.append(" " * RNG.randint(1, 3) + ("\t" if RNG.random() < 0.3 else ""))
            else:
                out.append(ch.upper() if RNG.random() < 0.5 else ch)
        return "  " + "".join(out) + "\n"

    rows = [(i, t, perturb(t)) for i, t in base]
    df = spark.createDataFrame(rows, "id long, a string, b string")
    bad = df.filter(TX.fingerprint("a") != TX.fingerprint("b")).count()
    assert bad == 0


def test_cosine_bounds_and_symmetry(spark):
    rows = [
        (i, [RNG.gauss(0, 1) for _ in range(16)], [RNG.gauss(0, 1) for _ in range(16)])
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "id long, a array<double>, b array<double>")
    out = df.select(
        VX.cosine("a", "b").alias("ab"),
        VX.cosine("b", "a").alias("ba"),
        VX.cosine("a", "a").alias("aa"),
    )
    assert out.filter(~F.col("ab").between(-1.0 - 1e-9, 1.0 + 1e-9)).count() == 0
    assert out.filter(F.abs(F.col("ab") - F.col("ba")) > 1e-12).count() == 0
    assert out.filter(F.abs(F.col("aa") - 1.0) > 1e-9).count() == 0


def test_exact_dedup_idempotent_and_complete(spark):
    # corpus with planted exact duplicates under normalization
    uniq = [_random_text(RNG.randint(1, 10)) for _ in range(100)]
    rows, rid = [], 0
    for t in uniq:
        for _ in range(RNG.randint(1, 3)):
            rows.append((rid, t.upper() if RNG.random() < 0.5 else t))
            rid += 1
    df = spark.createDataFrame(rows, "doc_id long, text string")
    from connected_data_lake_spark.operators.dedup import exact_dedup

    once = exact_dedup(df).cache()
    # complete: one survivor per normalized fingerprint
    assert once.count() == df.select(TX.fingerprint("text")).distinct().count()
    # idempotent: deduping the survivors changes nothing
    assert exact_dedup(once).count() == once.count()
    # survivor is the minimum doc_id of its group (deterministic policy)
    joined = (
        df.withColumn("fp", TX.fingerprint("text"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep"))
        .join(once.withColumn("fp", TX.fingerprint("text")), "fp")
    )
    assert joined.filter(F.col("keep") != F.col("doc_id")).count() == 0


def test_minhash_estimate_tracks_exact_jaccard(spark):
    # pairs with controlled overlap: share a prefix of tokens
    rows = []
    for i in range(40):
        shared = _random_text(30)
        own_a, own_b = _random_text(RNG.randint(0, 20)), _random_text(RNG.randint(0, 20))
        rows.append((2 * i, f"{shared} {own_a}"))
        rows.append((2 * i + 1, f"{shared} {own_b}"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    from connected_data_lake_spark.operators.dedup import (
        jaccard_verify,
        minhash_lsh_candidates,
    )

    cand = minhash_lsh_candidates(df, num_hashes=128, bands=32)
    exact = jaccard_verify(cand, df, threshold=0.0)
    # every surviving estimate is within 0.25 of the exact jaccard
    # (128 hashes → se ≈ sqrt(j(1-j)/128) ≤ 0.045; 0.25 = >5 se slack)
    bad = exact.join(cand, ["id_a", "id_b"]).filter(
        F.abs(F.col("jaccard") - F.col("est_jaccard")) > 0.25
    )
    assert bad.count() == 0


def test_incremental_probe_matches_bruteforce_cross_jaccard(spark):
    # random corpus + planted one-token-edit copies as the "new batch":
    # the asymmetric LSH probe + exact verify must equal the brute-force
    # batch x corpus Jaccard join (planted J >= 0.7 at >= 20 tokens, where
    # a 4-row/32-band miss has prob (1-J^4)^32 < 1e-4; the seeded corpus
    # makes the test deterministic)
    corpus_rows = [(i, _random_text(RNG.randint(20, 30))) for i in range(60)]
    batch_rows = []
    for i in range(0, 60, 3):
        toks = corpus_rows[i][1].split(" ")
        toks[RNG.randrange(2, len(toks) - 2)] = "zzzedit"
        batch_rows.append((1000 + i, " ".join(toks)))
    batch_rows += [(2000 + i, _random_text(RNG.randint(20, 30))) for i in range(10)]

    from connected_data_lake_spark.operators import dedup as DD

    corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
    batch = spark.createDataFrame(batch_rows, "doc_id long, text string")
    sh_c, sh_n = DD.shingle_relation(corpus), DD.shingle_relation(batch)
    cand = DD.minhash_lsh_probe(sh_n, sh_c, num_hashes=128, bands=32)
    got = {
        (r.new_id, r.corpus_id)
        for r in cand.join(
            sh_n.withColumnsRenamed({"id": "new_id", "sh": "a"}), "new_id"
        )
        .join(sh_c.withColumnsRenamed({"id": "corpus_id", "sh": "b"}), "corpus_id")
        .filter(
            F.size(F.array_intersect("a", "b")) / F.size(F.array_union("a", "b"))
            >= 0.5
        )
        .select("new_id", "corpus_id")
        .collect()
    }
    sh = {i: set(_py_shingles(t)) for i, t in corpus_rows + batch_rows}
    want = {
        (n, c)
        for n, _ in batch_rows
        for c, _ in corpus_rows
        if len(sh[n] & sh[c]) / len(sh[n] | sh[c]) >= 0.5
    }
    assert got == want
    assert len(want) >= 15, "planted edits should survive the threshold"


def test_bigram_logprob_matches_python_reference(spark, tmp_path):
    # the declared query's semantics on ANY corpus: mean log2 of
    # C(w1 w2)/C(w1 .) over each doc's bigrams, prefix counts from the
    # bigram relation itself
    import math
    from collections import Counter

    def _tiny(n):  # tokens from a tiny vocab => plenty of shared bigrams
        return " ".join(RNG.choice(["aa", "bb", "cc", "dd"]) for _ in range(n))

    rows = [(i, _tiny(RNG.randint(0, 15))) for i in range(150)]
    docs_dir = tmp_path / "documents.parquet"
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(str(docs_dir))

    from connected_data_lake_spark.plans.extensions import text_logprob_bigram as zz_text_logprob_bigram

    got = {
        r.doc_id: (r.n_bigrams, r.avg_logprob)
        for r in zz_text_logprob_bigram(spark, str(tmp_path)).collect()
    }

    bigrams = {
        i: [f"{a} {b}" for a, b in zip(t.split(" "), t.split(" ")[1:])] if t else []
        for i, t in rows
    }
    c2 = Counter(bg for bgs in bigrams.values() for bg in bgs)
    c1 = Counter()
    for bg, c in c2.items():
        c1[bg.split(" ")[0]] += c
    want = {}
    for i, bgs in bigrams.items():
        if not bgs:
            continue
        sl = sum(math.log2(c2[bg]) - math.log2(c1[bg.split(" ")[0]]) for bg in bgs)
        want[i] = (len(bgs), round(sl / len(bgs), 6))
    assert {k: v[0] for k, v in got.items()} == {k: v[0] for k, v in want.items()}
    for k in want:
        assert abs(got[k][1] - want[k][1]) < 1e-5, (k, got[k], want[k])
