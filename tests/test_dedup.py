"""Dedup operators recover the corpus's planted near-duplicates.

Ground truth = exact all-pairs 3-gram Jaccard >= 0.5 with NO blocking
(the documents fixture plants near-dup pairs whose `lang` labels differ,
so lang-blocked exact counts are a strict subset)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from connected_data_lake_spark.operators import dedup as DD
from connected_data_lake_spark.sources import tables as TB
from connected_data_lake_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").cache()


@pytest.fixture(scope="module")
def truth_pairs(docs):
    rows = (
        DD.ngram_jaccard_pairs(docs, threshold=0.5, shingle_n=3)
        .select("id_a", "id_b")
        .collect()
    )
    pairs = {(r.id_a, r.id_b) for r in rows}
    assert len(pairs) > 0, "fixture should contain planted near-duplicates"
    return pairs


def test_exact_dedup_keeps_min_id_per_fingerprint(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "unrelated text")],
        "doc_id long, text string",
    )
    kept = sorted(r.doc_id for r in DD.exact_dedup(df).collect())
    assert kept == [1, 3]
    groups = DD.duplicate_groups(df).collect()
    assert len(groups) == 1 and groups[0].n_dups == 2 and groups[0].keep_id == 1


def test_minhash_lsh_full_recall_at_threshold(docs, truth_pairs):
    cand = DD.minhash_lsh_candidates(docs, num_hashes=128, bands=32)
    verified = {
        (r.id_a, r.id_b)
        for r in DD.jaccard_verify(cand, docs, threshold=0.5).select("id_a", "id_b").collect()
    }
    # verify step computes exact jaccard, so no false positives by construction;
    # 128/32 banding gives ~certain recall at j>=0.5 on this corpus
    assert verified == truth_pairs


def test_minhash_estimate_tracks_exact_jaccard(docs):
    cand = DD.minhash_lsh_candidates(docs, num_hashes=128, bands=32)
    joined = DD.jaccard_verify(cand, docs, threshold=0.5).join(
        cand.select("id_a", "id_b", "est_jaccard"), ["id_a", "id_b"]
    )
    bad = joined.filter(F.abs(F.col("est_jaccard") - F.col("jaccard")) > 0.2).count()
    assert bad == 0


def test_simhash_high_recall_no_false_positives(docs, truth_pairs):
    got = {
        (r.id_a, r.id_b)
        for r in DD.simhash_candidates(docs, max_hamming=7).select("id_a", "id_b").collect()
    }
    recall = len(got & truth_pairs) / len(truth_pairs)
    assert recall >= 0.8, f"recall {recall}"
    assert not (got - truth_pairs), "hamming<=7 should admit no noise pairs on this corpus"


def test_minhash_lsh_probe_matches_cross_split_truth(docs, truth_pairs):
    # asymmetric batch-vs-index probe: split the corpus, keep only the
    # truth pairs that straddle the split, and require the probe + exact
    # verify to find exactly those (in either id order — the probe has no
    # id_a < id_b constraint)
    is_new = (F.col("doc_id") % 5) == 0
    sh_c = DD.shingle_relation(docs.filter(~is_new))
    sh_n = DD.shingle_relation(docs.filter(is_new))
    cand = DD.minhash_lsh_probe(sh_n, sh_c, num_hashes=128, bands=32)
    got = {
        (r.new_id, r.corpus_id)
        for r in cand.join(
            sh_n.withColumnsRenamed({"id": "new_id", "sh": "sh_new"}), "new_id"
        )
        .join(sh_c.withColumnsRenamed({"id": "corpus_id", "sh": "sh_corp"}), "corpus_id")
        .filter(
            F.size(F.array_intersect("sh_new", "sh_corp"))
            / F.size(F.array_union("sh_new", "sh_corp"))
            >= 0.5
        )
        .select("new_id", "corpus_id")
        .collect()
    }
    straddle = {
        (a, b) if a % 5 == 0 else (b, a)
        for a, b in truth_pairs
        if (a % 5 == 0) != (b % 5 == 0)
    }
    assert got == straddle
    assert len(straddle) > 0, "fixture should plant pairs across the split"


def test_embedding_near_duplicates_finds_planted_pair(spark):
    import random

    rng = random.Random(7)
    base = [rng.gauss(0, 1) for _ in range(64)]
    near = [x + rng.gauss(0, 0.01) for x in base]  # cosine ~0.9999
    far = [rng.gauss(0, 1) for _ in range(64)]
    df = spark.createDataFrame(
        [(0, base), (1, near), (2, far)], "vec_id long, embedding array<double>"
    )
    got = DD.embedding_near_duplicates(df, threshold=0.95).collect()
    assert {(r.id_a, r.id_b) for r in got} == {(0, 1)}
    assert got[0].cos > 0.99


def test_ngram_jaccard_max_df_lever(docs, truth_pairs):
    """df-cap semantics: a cap above the corpus's max shingle df is exact;
    cap 0 drops every posting (no pairs); an intermediate cap only ever
    UNDERcounts intersections, so capped pairs are a subset of exact."""
    exact = {
        (r.id_a, r.id_b)
        for r in DD.ngram_jaccard_pairs(docs, threshold=0.5, max_df=10**6)
        .select("id_a", "id_b")
        .collect()
    }
    assert exact == truth_pairs
    assert (
        DD.ngram_jaccard_pairs(docs, threshold=0.5, max_df=0).count() == 0
    )
    capped = {
        (r.id_a, r.id_b)
        for r in DD.ngram_jaccard_pairs(docs, threshold=0.5, max_df=2)
        .select("id_a", "id_b")
        .collect()
    }
    assert capped <= truth_pairs


def test_ngram_containment_max_df_caps_boilerplate_blowup(spark):
    """VERDICT r8 #3: a planted ultra-common shingle must not blow up the
    containment postings self-join. Every doc shares one boilerplate
    sentence; only one genuine excerpt pair exists. With max_df the
    boilerplate postings are dropped BEFORE the self-join (bounding its
    input to the rare-shingle postings), boilerplate-only pairs vanish,
    and the genuine pair survives on its unique shingles."""
    # 16-word boilerplate: each base doc = 8 unique + 16 boiler words ->
    # 22 shingles, 14 boiler-internal shared by ALL docs (C = 14/22 = .64);
    # with max_df=2 the boiler postings drop (df = 5 > 2) and only doc 0's
    # 6 unique-internal shingles still intersect doc 4 (C_capped = 6/22 =
    # .27), so threshold 0.25 separates the three regimes exactly.
    boiler = (
        "subscribe to our newsletter for updates today and never miss "
        "another exclusive story from this award winning team"
    )
    uniq = [
        "quick brown fox jumps over the lazy dog",
        "pack my box with five dozen liquor jugs",
        "sphinx of black quartz judge my vow now",
        "how vexingly quick daft zebras jump high",
    ]
    rows = [(i, f"{u} {boiler}") for i, u in enumerate(uniq)]
    # doc 4 fully contains doc 0's unique text (genuine excerpt pair)
    rows.append((4, f"prefix words then {uniq[0]} and a tail {boiler}"))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    exact = DD.ngram_containment_pairs(df, threshold=0.25, shingle_n=3)
    exact_pairs = {(r.src_id, r.dst_id) for r in exact.collect()}
    # boilerplate glues every doc pair at threshold 0.25 in the exact run
    assert (1, 2) in exact_pairs and (0, 4) in exact_pairs

    capped = DD.ngram_containment_pairs(df, threshold=0.25, shingle_n=3, max_df=2)
    capped_pairs = {(r.src_id, r.dst_id) for r in capped.collect()}
    assert capped_pairs <= exact_pairs  # UNDERcount only: subset of exact
    assert (0, 4) in capped_pairs  # genuine excerpt pair survives the cap
    assert (1, 2) not in capped_pairs  # boilerplate-only pair is gone
    assert DD.ngram_containment_pairs(df, threshold=0.25, max_df=0).count() == 0


def test_session_index_registry_is_opt_in(docs):
    """ADVICE r9: plain library use must NOT accumulate strong DataFrame
    references in the module-global registry — only a runner that opted
    in (bench.py) pays for session-wide tracking, and disabling again
    clears what was recorded."""
    assert TB._TRACK_SESSION_INDEXES is False  # library default
    before = len(TB._LIVE_INDEX_RELATIONS)
    out = DD.minhash_lsh_candidates(docs, num_hashes=32, bands=8)
    out.count()
    assert len(TB._LIVE_INDEX_RELATIONS) == before  # nothing retained
    # result-attached release still works without the registry
    TB.release_index(out)
    try:
        TB.track_session_indexes(True)
        out2 = DD.minhash_lsh_candidates(docs, num_hashes=32, bands=8)
        out2.count()
        assert len(TB._LIVE_INDEX_RELATIONS) > 0
        TB.release_session_indexes()
        assert len(TB._LIVE_INDEX_RELATIONS) == 0
    finally:
        TB.track_session_indexes(False)
