"""Unit tests for functions.text — semantics pinned on hand-made samples
(these back the declared rows-only queries, e.g. text_language_guess)."""

from __future__ import annotations

from pyspark.sql import functions as F

from connected_data_lake_spark.functions import text as TX


def _one(spark, text: str, col):
    return spark.createDataFrame([(text,)], "text string").select(col.alias("v")).first()["v"]


def test_normalize_collapses_whitespace(spark):
    assert _one(spark, "  Hello\t\tWorld \n", TX.normalize_text("text")) == "hello world"


def test_fingerprint_is_normalization_invariant(spark):
    a = _one(spark, "The  Quick\nFox", TX.fingerprint("text"))
    b = _one(spark, "the quick fox", TX.fingerprint("text"))
    assert a == b and len(a) == 32


def test_token_count_and_avg_length(spark):
    assert _one(spark, "one two three", TX.token_count("text")) == 3
    assert _one(spark, "ab cd", TX.avg_token_length("text")) == 2.0


def test_shingles(spark):
    got = _one(spark, "a b c d", TX.shingles("text", 3))
    assert got == ["a b c", "b c d"]
    assert _one(spark, "a b", TX.shingles("text", 3)) == []


def test_stopword_and_punct_ratio(spark):
    assert _one(spark, "the cat", TX.stopword_ratio("text")) == 0.5
    assert _one(spark, "ab!?", TX.punctuation_ratio("text")) == 0.5


def test_language_guess_samples(spark):
    samples = {
        "the cat sat on the mat and it is happy": "en",
        "der hund und die katze ist nicht da": "de",
        "le chat et le chien est pour la maison": "fr",
        "el perro y el gato es una casa por ahi": "es",
        "zzz qqq xxx www": "und",
    }
    for text, want in samples.items():
        assert _one(spark, text, TX.language_guess("text")) == want, text


def test_quality_score_bands(spark):
    # natural-ish english sentence: all three bands pass
    good = _one(spark, "the quick brown fox jumps over the lazy dog today", TX.quality_score("text"))
    assert good == 1.0
    # too short + no stopwords
    bad = _one(spark, "x y", TX.quality_score("text"))
    assert bad < 0.5


def test_bpe_estimate_counts_symbol_runs(spark):
    # "hello, world 42" -> hello / , / world / 42
    assert _one(spark, "hello, world 42", TX.bpe_token_estimate("text")) == 4


def test_rolling_hash_fingerprint_stable_under_tail_edit(spark):
    base = " ".join(f"w{i}" for i in range(40))
    edited = base + " extra"
    a = _one(spark, base, TX.rolling_hash_fingerprint("text", window=8))
    b = _one(spark, edited, TX.rolling_hash_fingerprint("text", window=8))
    # winnowing min-hash usually survives a tail append (same min window)
    assert a == b


def test_pii_count_and_scrub(spark):
    s = "mail a.b+c@x-y.org or 10.1.2.3 tel 555-0142 not 1234-5 nor 1.2.3"
    assert _one(spark, s, TX.pii_count("text", "email")) == 1
    assert _one(spark, s, TX.pii_count("text", "ipv4")) == 1
    assert _one(spark, s, TX.pii_count("text", "phone")) == 1
    got = _one(spark, s, TX.pii_scrub("text"))
    assert got == "mail <EMAIL> or <IP> tel <PHONE> not 1234-5 nor 1.2.3"


def test_pii_scrub_order_email_before_phone(spark):
    # the email local part contains digits that the phone pattern would
    # clip if phones were scrubbed first
    s = "x 555-0100@example.com y"
    assert _one(spark, s, TX.pii_scrub("text")) == "x <EMAIL> y"
    assert _one(spark, s, TX.pii_count("text", "email")) == 1


def test_unigram_logprob_flags_rare_tokens(spark, sf_dir):
    from connected_data_lake_spark.sources.tables import release_index
    from connected_data_lake_spark.plans import spec_of

    df = spec_of("text_logprob_unigram").spark(spark, sf_dir)
    rows = {r["doc_id"]: r for r in df.collect()}
    release_index(df)
    assert rows, "documents fixture is non-empty"
    # every score is a mean of log2(count/total) over the doc's tokens:
    # strictly negative (no token covers the whole corpus) and bounded
    # below by log2(1/total)
    import math

    total = sum(r["n_tokens"] for r in rows.values())
    lo = -math.log2(total) - 1e-6
    assert all(lo <= r["avg_logprob"] < 0 for r in rows.values())


def test_pack_sequences_bins_are_contiguous(spark, sf_dir):
    from connected_data_lake_spark.plans import spec_of

    rows = spec_of("pack_sequences").spark(spark, sf_dir).collect()
    assert rows
    cum = 0
    for r in sorted(rows, key=lambda r: r["doc_id"]):
        assert r["start_bin"] == cum // 2048
        assert r["offset_in_bin"] == cum % 2048
        cum += r["n_tokens"]
        assert r["end_bin"] == (cum - 1) // 2048


def test_chunk_overlap_reconstructs_token_stream(spark, sf_dir):
    from connected_data_lake_spark.plans import spec_of

    rows = spec_of("text_chunk_overlap").spark(spark, sf_dir).collect()
    assert rows
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for doc, chunks in by_doc.items():
        chunks.sort(key=lambda r: r["chunk_id"])
        # contiguous ids from 0; chunk i covers tokens [48i+1, min(48i+64, n)]
        # where n is recoverable from the final chunk
        assert [c["chunk_id"] for c in chunks] == list(range(len(chunks)))
        n = 48 * chunks[-1]["chunk_id"] + chunks[-1]["chunk_tokens"]
        for c in chunks:
            assert c["chunk_tokens"] == min(64, n - 48 * c["chunk_id"])


def test_tfidf_ranks_rare_terms_over_common(spark, sf_dir):
    from connected_data_lake_spark.sources.tables import release_index
    from connected_data_lake_spark.plans import spec_of

    df = spec_of("text_tfidf_keywords").spark(spark, sf_dir)
    rows = df.collect()
    release_index(df)
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for doc, terms in by_doc.items():
        assert 1 <= len(terms) <= 5
        assert sorted(t["rank"] for t in terms) == list(range(1, len(terms) + 1))
        assert all(t["tfidf"] > 0 for t in terms)


def test_mixture_rebalance_quotas_are_exact(spark, sf_dir):
    from connected_data_lake_spark.plans import spec_of
    from connected_data_lake_spark.sources.tables import load_table

    rows = spec_of("sample_mixture_rebalance").spark(spark, sf_dir).collect()
    assert rows
    counts = {
        r["source"]: r["n"]
        for r in load_table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    k = min(n * (int(src[3:]) + 1) for src, n in counts.items())
    kept: dict[str, int] = {}
    for r in rows:
        kept[r["source"]] = kept.get(r["source"], 0) + 1
    for src, n in counts.items():
        expected = min(n, k // (int(src[3:]) + 1))
        assert kept.get(src, 0) == expected, src


def test_repeated_spans_align_at_any_offset(spark, tmp_path):
    # content-defined chunking must flag a long passage copied at a
    # DIFFERENT offset in another doc — exactly what fixed-stride windows
    # miss — and leave unrelated docs at zero shared fraction
    import random
    import string

    rng = random.Random(99)

    def words(n):
        return " ".join(
            "".join(rng.choice(string.ascii_lowercase) for _ in range(5))
            for _ in range(n)
        )

    # chunks align from the first content-defined boundary INSIDE the
    # shared passage; the partial chunks at its edges merge with each
    # doc's own text, so a long passage keeps the aligned interior large
    passage = words(150)
    rows = [
        (1, words(20) + " " + passage),          # passage at offset 20
        (2, passage + " " + words(35)),          # passage at offset 0
        (3, words(80)),                          # unrelated
    ]
    (tmp_path / "documents.parquet").mkdir(parents=True, exist_ok=True)
    spark.createDataFrame(rows, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "documents.parquet"))

    from connected_data_lake_spark.plans.extensions import text_repeated_spans as zz_text_repeated_spans

    got = {r.doc_id: r for r in zz_text_repeated_spans(spark, str(tmp_path)).collect()}
    assert got[1].shared_token_fraction > 0.5
    assert got[2].shared_token_fraction > 0.5
    assert got[3].shared_token_fraction == 0.0
    assert got[1].n_shared_chunks >= 5


def test_repeated_spans_chunking_matches_window_reference(spark, tmp_path):
    """The r14 document-local chunk assembly (boundary-position filter +
    per-span slices) must reproduce the running-SUM(bnd)-window semantics
    exactly: a boundary token STARTS a new chunk and belongs to it,
    tokens before the first boundary form chunk 0, and duplicate chunk
    fingerprints WITHIN one doc do not make a chunk 'shared'. Expected
    values come from an independent pure-Python reference of the window
    formulation over engineered boundary/non-boundary tokens."""
    import hashlib
    import itertools
    import string

    def is_bnd(tok: str) -> bool:
        return hashlib.md5(tok.encode()).hexdigest()[0] in ("0", "1")

    # deterministically mine boundary and non-boundary tokens
    pool = (
        "".join(p) for n in (3, 4) for p in itertools.product(string.ascii_lowercase, repeat=n)
    )
    bnds, nons = [], []
    for w in pool:
        (bnds if is_bnd(w) else nons).append(w)
        if len(bnds) >= 3 and len(nons) >= 4:
            break
    b1, b2, _b3 = bnds[:3]
    n1, n2, n3, _n4 = nons[:4]

    rows = [
        (1, f"{b1} {n1} {n2} {b2} {n3}"),  # boundary-first doc: 2 chunks
        (2, f"{n1} {n2} {n3}"),            # no boundaries: 1 chunk (chunk 0)
        (3, b1),                            # single boundary token: 1 chunk
        (4, f"{b1} {n1} {b1} {n1}"),       # same chunk TWICE within one doc
        (5, f"{n2} {b1} {n1}"),            # shares the (b1 n1) chunk with doc 4
        (6, "   "),                         # empty after normalize: excluded
        # duplicated chunk (b2 n2) occurs NOWHERE else: a regression from
        # count_distinct(doc_id) to count(*) in the shared-set census would
        # mark it shared (ADVICE r14 #1) — doc 4's duplicate alone can't
        # catch that because its chunk is also in doc 5
        (7, f"{b2} {n2} {b2} {n2}"),
    ]
    (tmp_path / "documents.parquet").mkdir(parents=True, exist_ok=True)
    spark.createDataFrame(rows, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "documents.parquet"))

    # pure-Python reference of the window formulation
    def ref_chunks(text: str) -> list[tuple[str, int]]:
        toks = " ".join(text.split()).lower().split(" ")
        if toks == [""]:
            return []
        # running-sum semantics: boundary starts a new chunk and belongs
        # to it; a leading non-boundary run is chunk 0
        out = []
        members: dict[int, list[str]] = {}
        s = 0
        for t in toks:
            s += 1 if is_bnd(t) else 0
            members.setdefault(s, []).append(t)
        for _cid in sorted(members):
            ctoks = members[_cid]
            out.append(
                (hashlib.md5(" ".join(ctoks).encode()).hexdigest(), len(ctoks))
            )
        return out

    per_doc = {d: ref_chunks(t) for d, t in rows}
    fp_docs: dict[str, set[int]] = {}
    for d, chs in per_doc.items():
        for fp, _n in chs:
            fp_docs.setdefault(fp, set()).add(d)
    shared = {fp for fp, ds in fp_docs.items() if len(ds) >= 2}

    from connected_data_lake_spark.plans.extensions import text_repeated_spans as zz_text_repeated_spans

    got = {r.doc_id: r for r in zz_text_repeated_spans(spark, str(tmp_path)).collect()}
    assert 6 not in got  # empty normalized text excluded
    # doc 7's duplicated chunk exists in no other doc: within-doc
    # duplication alone must NOT count as shared (distinct-doc census)
    assert got[7].n_shared_chunks == 0
    assert got[7].shared_token_fraction == 0.0
    for d, chs in per_doc.items():
        if not chs:
            continue
        n_sh = sum(1 for fp, _n in chs if fp in shared)
        tok_sh = sum(n for fp, n in chs if fp in shared)
        tok_all = sum(n for _fp, n in chs)
        assert got[d].n_chunks == len(chs), d
        assert got[d].n_shared_chunks == n_sh, d
        assert abs(got[d].shared_token_fraction - round(tok_sh / tok_all, 6)) < 1e-9, d


def test_has_tokens_matches_token_count_and_normalize_emptiness(spark):
    """r15: has_tokens(col, n) is the filter-shaped twin of the normalize/
    tokenize folds — for n >= 2 it must equal token_count >= n, and for
    n = 1 it must equal length(normalize) > 0 and bpe_token_estimate > 0
    (NOT token_count >= 1, which is vacuous: split('') yields ['']).
    Adversarial rows pin the whitespace-class edge cases: \f/\v are NOT
    collapsed by normalize, so they count as token characters."""
    from pyspark.sql import functions as F

    from connected_data_lake_spark.functions import text as TX

    rows = [
        (None,), ("",), (" ",), ("\t\n\r ",), ("a",), (" a ",), ("a b",),
        ("a\fb",), ("\f",), ("a \f b",), ("x\t\ty",), ("  x  y  z ",),
        ("\fa\f",), ("one two three four",), ("\v\v",),
    ]
    df = spark.createDataFrame(rows, "text string")
    fb = lambda c: F.coalesce(c, F.lit(False))  # noqa: E731
    n1_refs = [
        F.length(TX.normalize_text("text")) > 0,
        # pack_sequences' predicate shape: BPE tokens of the NORMALIZED
        # text (raw-text BPE would count \t\n\r as symbol tokens)
        F.size(
            F.regexp_extract_all(
                TX.normalize_text("text"), F.lit(TX.BPE_ISH_PATTERN), F.lit(0)
            )
        )
        > 0,
    ]
    for ref in n1_refs:
        assert df.filter(fb(TX.has_tokens("text", 1)) != fb(ref)).count() == 0
    for n in (2, 3, 5):
        ref = F.size(TX.tokens("text")) >= n
        assert df.filter(fb(TX.has_tokens("text", n)) != fb(ref)).count() == 0
