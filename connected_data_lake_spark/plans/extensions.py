"""Declared LLM-pipeline extension queries (dedup / text analysis /
similarity search / multimodal) over the documents + embeddings tables.

These are the operations a 100 TB training-data pipeline needs beyond the
reference's SQL surface (build mandate; SURVEY §7.1 M5). Where the
semantics are SQL-expressible the DuckDB oracle verifies values; LSH/
SimHash signature internals use xxhash64 (no DuckDB equivalent), so those
are declared rows-only and verified by dedicated unit tests instead
(tests/test_dedup.py asserts they recover the planted near-duplicates).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from connected_data_lake_spark.functions import text as TX
from connected_data_lake_spark.localrel import local_df
from connected_data_lake_spark.functions import vectors as VX
from connected_data_lake_spark.functions.text import LANG_STOPWORDS as TXL
from connected_data_lake_spark.operators import dedup as DD
from connected_data_lake_spark.operators import graph as GR
from connected_data_lake_spark.operators import multimodal as MM
from connected_data_lake_spark.operators import similarity as SIM
from connected_data_lake_spark.plans import query
from connected_data_lake_spark.sources.tables import load_table, release_index, with_persisted

#: normalization shared by every text oracle (must match TX.normalize_text)
_NORM = "lower(trim(regexp_replace({c}, '[ \\t\\n\\r]+', ' ', 'g')))"


# ---------------------------------------------------------------------------
# exact dedup + fingerprinting
# ---------------------------------------------------------------------------


@query(
    "dedup_exact_survivors",
    oracle=f"""
    SELECT MIN(doc_id) AS doc_id,
           COUNT(*) AS n_members
    FROM documents
    GROUP BY md5({_NORM.format(c='text')})
    ORDER BY doc_id
    """,
    tags=("dedup",),
)
def dedup_exact_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: one survivor (min doc_id) per normalized-text
    fingerprint — hash groupBy, one shuffle (operators.dedup.exact_dedup
    keeps full rows; this declared shape adds the group size)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(TX.fingerprint("text").alias("_fp"))
        .agg(F.min("doc_id").alias("doc_id"), F.count("*").alias("n_members"))
        .select("doc_id", "n_members")
        .orderBy("doc_id")
    )


@query(
    "text_fingerprint",
    oracle=f"""
    SELECT doc_id, md5({_NORM.format(c='text')}) AS fingerprint
    FROM documents
    ORDER BY doc_id
    """,
    tags=("dedup", "text"),
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic md5 document fingerprint of normalized text."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", TX.fingerprint("text").alias("fingerprint")).orderBy("doc_id")


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------


@query(
    "text_stats",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_NORM.format(c='text')} AS nrm FROM documents
    ), s AS (
      SELECT doc_id, nrm, string_split(nrm, ' ') AS toks FROM t
    )
    SELECT doc_id,
           CAST(len(toks) AS INT) AS n_tokens,
           ROUND((length(nrm) - (len(toks) - 1)) * 1.0 / len(toks), 6) AS avg_token_len,
           ROUND(len(list_filter(toks,
                 t -> list_contains(['the','a','of','and','to','in','is','that','it','for'], t)
               )) * 1.0 / len(toks), 6) AS stopword_ratio,
           ROUND((length(nrm) - length(regexp_replace(nrm, '[^a-z0-9 ]', '', 'g'))) * 1.0
                 / length(nrm), 6) AS punct_ratio
    FROM s
    WHERE len(toks) > 0 AND length(nrm) > 0
    ORDER BY doc_id
    """,
    tags=("text",),
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality signals: token count, mean token length,
    stopword ratio, punctuation ratio — all JVM-side Column expressions
    (functions.text)."""
    docs = load_table(spark, sf_dir, "documents")
    # spread: the single-file fixture reads as ONE split, serializing the
    # per-row pass onto one core; pass-through once input splits reach
    # cluster parallelism (r15 A/B win recorded in OPTIMIZATION_r15.md)
    docs = DD.spread(docs)
    # filter FIRST on the raw column (split() never yields an empty array,
    # so the oracle's len(toks) > 0 conjunct is vacuous on both sides and
    # length(nrm) > 0 alone selects the same rows), THEN hoist normalize +
    # split into their own projections: a filter ABOVE the projections gets
    # predicate-pushed below them with the aliases re-inlined (measured 5
    # regexp_replace sites in the plan vs 3 this way), while the four
    # outputs below share one regex pass and one split per row.
    # has_tokens = one character-class scan, no normalize fold in the
    # filter at all (r15; functions.text.has_tokens equivalence note)
    s = docs.filter(TX.has_tokens("text"))
    s = s.select("doc_id", TX.normalize_text("text").alias("nrm"))
    s = s.select("doc_id", "nrm", F.split("nrm", " ").alias("toks"))
    sw_arr = F.array(*[F.lit(w) for w in TXL["en"]])
    n_tok = F.size("toks")
    return (
        s.select(
            "doc_id",
            n_tok.alias("n_tokens"),
            # sum(token lengths) == length(nrm) - (n-1) separator spaces —
            # same value as the aggregate fold, without re-walking the array
            F.round(
                (F.length("nrm") - (n_tok - 1)).cast("double") / n_tok, 6
            ).alias("avg_token_len"),
            F.round(
                F.size(F.filter("toks", lambda t: F.array_contains(sw_arr, t)))
                .cast("double")
                / n_tok,
                6,
            ).alias("stopword_ratio"),
            F.round(
                (
                    F.length("nrm")
                    - F.length(F.regexp_replace("nrm", "[^a-z0-9 ]", ""))
                )
                .cast("double")
                / F.length("nrm"),
                6,
            ).alias("punct_ratio"),
        )
        .orderBy("doc_id")
    )


@query(
    "text_token_estimate",
    oracle=f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all({_NORM.format(c='text')},
                '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS INT) AS bpe_tokens,
           CAST(length({_NORM.format(c='text')}) AS INT) AS n_chars_norm
    FROM documents
    ORDER BY doc_id
    """,
    tags=("text",),
)
def text_token_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token-count estimate (regex token classes) + normalized
    char count — the cheap deterministic proxy for tokenizer budgeting."""
    docs = load_table(spark, sf_dir, "documents")
    nrm = TX.normalize_text("text")
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(nrm, F.lit(TX.BPE_ISH_PATTERN), F.lit(0))).alias("bpe_tokens"),
        F.length(nrm).alias("n_chars_norm"),
    ).orderBy("doc_id")


@query(
    "text_quality_score",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, string_split({_NORM.format(c='text')}, ' ') AS toks,
             {_NORM.format(c='text')} AS nrm
      FROM documents
    )
    SELECT doc_id,
      ROUND((
        (CASE WHEN len(toks) BETWEEN 5 AND 100000 THEN 1.0 ELSE 0.0 END) +
        (CASE WHEN len(toks) > 0 AND
                   len(list_filter(toks, t -> list_contains(
                     ['the','a','of','and','to','in','is','that','it','for'], t)))
                   * 1.0 / len(toks) BETWEEN 0.01 AND 0.9
              THEN 1.0 ELSE 0.0 END) +
        (CASE WHEN length(nrm) = 0 OR
                   (length(nrm) - length(regexp_replace(nrm, '[^a-z0-9 ]', '', 'g')))
                   * 1.0 / length(nrm) <= 0.3
              THEN 1.0 ELSE 0.0 END)
      ) / 3.0, 6) AS quality
    FROM s
    ORDER BY doc_id
    """,
    tags=("text",),
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality score (length band + stopword band + punctuation
    cap), Gopher/C4-style filters. The normalize/tokenize subexpressions
    are hoisted into their own projections (quality_score_from) so the
    regex runs once per row structurally — the single-expression form
    relied on codegen CSE and swung 3-4x between runs (VERDICT r5 #2)."""
    docs = load_table(spark, sf_dir, "documents")
    # spread: the single-file fixture reads as ONE split, serializing the
    # per-row pass onto one core; pass-through once input splits reach
    # cluster parallelism (r15 A/B win recorded in OPTIMIZATION_r15.md)
    docs = DD.spread(docs)
    s = docs.select("doc_id", TX.normalize_text("text").alias("nrm"))
    s = s.select("doc_id", "nrm", F.split("nrm", " ").alias("toks"))
    return s.select(
        "doc_id", TX.quality_score_from("toks", "nrm").alias("quality")
    ).orderBy("doc_id")


def _lang_score_sql(stopwords: tuple[str, ...]) -> str:
    lits = ", ".join("'" + w.replace("'", "''") + "'" for w in stopwords)
    return f"len(list_filter(toks, t -> list_contains([{lits}], t)))"


#: DuckDB twin of functions.text.language_guess: per-language stopword hit
#: counts, argmax with first-language-wins tie-break (en, de, fr, es, zh —
#: the LANG_STOPWORDS dict order), 'und' when no stopword hits at all.
_LANG_GUESS_ORACLE = f"""
    WITH s AS (
      SELECT doc_id,
             string_split({_NORM.format(c='text')}, ' ') AS toks
      FROM documents
    ), sc AS (
      SELECT doc_id,
             {_lang_score_sql(TXL['en'])} AS s_en,
             {_lang_score_sql(TXL['de'])} AS s_de,
             {_lang_score_sql(TXL['fr'])} AS s_fr,
             {_lang_score_sql(TXL['es'])} AS s_es,
             {_lang_score_sql(TXL['zh'])} AS s_zh
      FROM s
    ), g AS (
      SELECT CASE
               WHEN greatest(s_en, s_de, s_fr, s_es, s_zh) = 0 THEN 'und'
               WHEN s_en = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'en'
               WHEN s_de = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'de'
               WHEN s_fr = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'fr'
               WHEN s_es = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'es'
               ELSE 'zh'
             END AS lang_guess
      FROM sc
    )
    SELECT lang_guess, COUNT(*) AS n_docs
    FROM g GROUP BY lang_guess ORDER BY lang_guess
"""


@query(
    "text_language_guess",
    oracle=_LANG_GUESS_ORACLE,
    tags=("text",),
)
def text_language_guess(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID (stopword-overlap argmax, ties resolved in
    LANG_STOPWORDS order, 'und' when nothing matches), in relational form:
    explode tokens → broadcast-join the 50-row (token, lang, priority)
    stopword table → per-doc hit counts → min_by argmax with the priority
    tie-break → count per language. Same semantics as the per-row
    functions.text.language_guess CASE cascade (occurrence counts, not
    distinct tokens), but every step is whole-stage-codegen'd and shuffles
    on doc_id — the scan-heavy HOF form re-evaluated tokenize+filter per
    language per reference (~10 passes/row; measured 3.6s -> 0.9s at
    sf0.1). The DuckDB oracle states the same argmax cascade."""
    docs = load_table(spark, sf_dir, "documents")
    sw = local_df(
        spark,
        [
            (tok, lang, pri)
            for pri, (lang, words) in enumerate(TXL.items())
            for tok in words
        ],
        "tok string, lang string, pri int",
    )
    toks = docs.select("doc_id", F.explode(TX.tokens("text")).alias("tok"))
    best = (
        toks.join(F.broadcast(sw), "tok")
        .groupBy("doc_id", "lang", "pri")
        .agg(F.count("*").alias("n"))
        .groupBy("doc_id")
        .agg(
            F.min_by(
                F.col("lang"), F.struct((-F.col("n")).alias("neg_n"), F.col("pri"))
            ).alias("lang_guess")
        )
    )
    return (
        docs.select("doc_id")
        .join(best, "doc_id", "left")
        .select(F.coalesce("lang_guess", F.lit("und")).alias("lang_guess"))
        .groupBy("lang_guess")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("lang_guess")
    )


# ---------------------------------------------------------------------------
# near-duplicate detection
# ---------------------------------------------------------------------------


@query(
    "dedup_ngram_jaccard",
    oracle="""
    WITH t AS (
      SELECT doc_id, lang,
             string_split(lower(trim(regexp_replace(text, '[ \\t\\n\\r]+', ' ', 'g'))), ' ') AS toks
      FROM documents
    ), s AS (
      SELECT doc_id, lang,
             list_distinct([array_to_string(toks[i:i+2], ' ')
                            for i in generate_series(1, len(toks) - 2)]) AS sh
      FROM t
    ), p AS (
      SELECT doc_id, lang, len(sh) AS sz, UNNEST(sh) AS tok FROM s WHERE len(sh) > 0
    ), pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter,
             ANY_VALUE(a.sz) AS sz_a, ANY_VALUE(b.sz) AS sz_b
      FROM p a JOIN p b
        ON a.tok = b.tok AND a.lang = b.lang AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           ROUND(inter * 1.0 / (sz_a + sz_b - inter), 6) AS jaccard
    FROM pairs
    WHERE inter * 1.0 / (sz_a + sz_b - inter) >= 0.5
    ORDER BY id_a, id_b
    """,
    tags=("dedup",),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs within language blocks
    (operators.dedup.ngram_jaccard_pairs). Finds the corpus's planted
    near-duplicates exactly; the LSH variants below approximate this at
    scale without the in-block quadratic join."""
    docs = load_table(spark, sf_dir, "documents")
    return DD.ngram_jaccard_pairs(
        docs, block_cols=("lang",), threshold=0.5, shingle_n=3
    ).orderBy("id_a", "id_b")


#: exact all-pairs n-gram Jaccard (inverted-index form, no blocking) — the
#: ground-truth pair set the LSH/SimHash declared queries must reproduce.
#: Work is Σ_shingle df(shingle)², same as the Spark inverted index.
_EXACT_JACCARD_PAIRS_SQL = """
    WITH t AS (
      SELECT doc_id,
             string_split(lower(trim(regexp_replace(text, '[ \\t\\n\\r]+', ' ', 'g'))), ' ') AS toks
      FROM documents
    ), s AS (
      SELECT doc_id,
             list_distinct([array_to_string(toks[i:i+2], ' ')
                            for i in generate_series(1, len(toks) - 2)]) AS sh
      FROM t
    ), p AS (
      SELECT doc_id, len(sh) AS sz, UNNEST(sh) AS tok FROM s WHERE len(sh) > 0
    ), pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter,
             ANY_VALUE(a.sz) AS sz_a, ANY_VALUE(b.sz) AS sz_b
      FROM p a JOIN p b ON a.tok = b.tok AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           ROUND(inter * 1.0 / (sz_a + sz_b - inter), 6) AS jaccard
    FROM pairs
    WHERE inter * 1.0 / (sz_a + sz_b - inter) >= 0.5
    ORDER BY id_a, id_b
"""


@query(
    "dedup_minhash_lsh",
    oracle=_EXACT_JACCARD_PAIRS_SQL,
    tags=("dedup",),
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(128)+LSH(32 bands) candidates → exact Jaccard ≥ 0.5 verify.
    Bucket-equality join: cost O(collisions), never O(n²).

    Oracle contract (exact-value): the verify step outputs EXACT Jaccard
    pairs, so the result must equal the exact all-pairs oracle whenever LSH
    recall is 1 — and at this corpus's separation (every true pair has
    J ≥ 0.87, everything else < 0.3) a 4-row band misses a true pair with
    prob (1-J⁴)³² < 1e-12. Precision needs no luck: the ≥-threshold filter
    runs on exact Jaccard, so spurious candidates can never appear."""
    docs = load_table(spark, sf_dir, "documents")
    sh = DD.shingle_relation(docs)  # one shingling pass: signatures + verify
    cand = DD.minhash_lsh_candidates(
        docs, num_hashes=128, bands=32, shingles=sh, with_est=False
    )
    return DD.jaccard_verify(cand, docs, threshold=0.5, shingles=sh).orderBy("id_a", "id_b")


def _artifact_token(sf_dir: str, *tables: str) -> str:
    """Content-versioned key for on-disk index/layout artifacts (IVF cells,
    dedup index, bucketed layouts): hashes the source parquet files'
    identity (path + size + mtime), so a regenerated corpus can never
    silently reuse a stale artifact built from the old data — a plain
    md5(sf_dir) key survived data refreshes and would have served wrong
    results with no error."""
    import hashlib
    import os

    parts = []
    for table in tables:
        p = os.path.join(sf_dir, f"{table}.parquet")
        try:
            st = os.stat(p)
            parts.append(f"{p}:{st.st_size}:{st.st_mtime_ns}")
        except OSError:
            parts.append(p)
    return hashlib.md5("|".join(parts).encode()).hexdigest()[:12]


#: (temp dir, artifact name, sf_dir) → built artifact path
_BUILT: dict[tuple[str, str, str], str] = {}


def _built(
    name: str, sf_dir: str, tables: tuple[str, ...], build: Callable[[str], None]
) -> str:
    """Path of the build-once artifact ``<tempdir>/cdl_<name>_<token>``
    (token: :func:`_artifact_token` over ``tables``), running
    ``build(path)`` at most once per token. Every on-disk lake fixture
    and offline index directory goes through here. Builders write in
    place — Iceberg manifests record absolute file URIs, so a table
    built elsewhere and renamed would point at the old location. Crash
    and race safety therefore live in two SIBLING files no table reader
    lists:
    ``<path>.lock`` (an exclusive ``flock`` held across check and build,
    so concurrent builders in any process or thread run ``build`` once)
    and ``<path>.done`` (written last; without it any ``path`` on disk
    is a partial build and is removed before ``build`` runs). The temp
    dir is read per call: a caller may repoint ``tempfile.tempdir``."""
    import fcntl
    import os
    import shutil
    import tempfile

    key = (tempfile.gettempdir(), name, sf_dir)
    if key not in _BUILT:
        path = os.path.join(key[0], f"cdl_{name}_{_artifact_token(sf_dir, *tables)}")
        done = f"{path}.done"
        if not os.path.isfile(done):
            with open(f"{path}.lock", "a") as lock:
                fcntl.flock(lock, fcntl.LOCK_EX)
                if not os.path.isfile(done):
                    shutil.rmtree(path, ignore_errors=True)
                    build(path)
                    open(done, "w").close()
        _BUILT[key] = path
    return _BUILT[key]


#: session-scoped handles to the on-disk incremental-dedup corpus index.
#: Like every handle memo below, keyed on (id(spark), artifact path): a
#: held DataFrame keeps its session alive, so the id cannot be reused by a
#: later session while the entry exists, and the path carries the temp dir.
_DEDUP_IDX_CACHE: dict[tuple[int, str], tuple[DataFrame, ...]] = {}


def _dedup_corpus_index(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Offline index build for :func:`dedup_incremental` — once per corpus
    (:func:`_built`), like the IVF coarse quantizer below: writes the
    corpus side's (fingerprint → min doc_id) relation, banded MinHash
    signature relation (operators.dedup.minhash_bands) and hashed
    shingle-set relation to parquet, and returns read-back handles. At
    cluster scale these are the maintained index tables an ingest
    pipeline appends to; per-batch query cost then excludes every
    corpus-side pass."""
    import os

    def build(path: str) -> None:
        docs = load_table(spark, sf_dir, "documents")
        corpus = docs.filter((F.col("doc_id") % 5) != 0)
        corpus.groupBy(TX.fingerprint("text").alias("fp")).agg(
            F.min("doc_id").alias("e_match")
        ).write.parquet(os.path.join(path, "fp"))
        sh_c = DD.shingle_relation(corpus)
        DD.minhash_bands(sh_c, num_hashes=128, bands=32).write.parquet(
            os.path.join(path, "bands")
        )
        sh_c.write.parquet(os.path.join(path, "shingles"))
        sh_c.unpersist()

    path = _built("dedupidx_v1", sf_dir, ("documents",), build)
    key = (id(spark), path)
    if key not in _DEDUP_IDX_CACHE:
        _DEDUP_IDX_CACHE[key] = (
            spark.read.parquet(os.path.join(path, "fp")),
            spark.read.parquet(os.path.join(path, "bands")),
            spark.read.parquet(os.path.join(path, "shingles")),
        )
    return _DEDUP_IDX_CACHE[key]


@query(
    "dedup_incremental",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, doc_id % 5 = 0 AS is_new,
             {_NORM.format(c='text')} AS nrm,
             string_split({_NORM.format(c='text')}, ' ') AS toks
      FROM documents
    ), s AS (
      SELECT doc_id, is_new, md5(nrm) AS fp,
             list_distinct([array_to_string(toks[i:i+2], ' ')
                            for i in generate_series(1, len(toks) - 2)]) AS sh
      FROM t
    ), exact AS (
      SELECT n.doc_id, MIN(c.doc_id) AS match_id
      FROM s n JOIN s c ON n.fp = c.fp AND n.is_new AND NOT c.is_new
      GROUP BY 1
    ), p AS (
      SELECT doc_id, is_new, len(sh) AS sz, UNNEST(sh) AS tok
      FROM s WHERE len(sh) > 0
    ), inter AS (
      SELECT n.doc_id AS new_id, c.doc_id AS corpus_id, COUNT(*) AS inter,
             ANY_VALUE(n.sz) AS sz_n, ANY_VALUE(c.sz) AS sz_c
      FROM p n JOIN p c ON n.tok = c.tok AND n.is_new AND NOT c.is_new
      GROUP BY 1, 2
    ), near AS (
      SELECT new_id AS doc_id, corpus_id AS match_id,
             inter * 1.0 / (sz_n + sz_c - inter) AS jac,
             ROW_NUMBER() OVER (PARTITION BY new_id
               ORDER BY inter * 1.0 / (sz_n + sz_c - inter) DESC,
                        corpus_id ASC) AS rn
      FROM inter
      WHERE inter * 1.0 / (sz_n + sz_c - inter) >= 0.5
        AND new_id NOT IN (SELECT doc_id FROM exact)
    )
    SELECT t.doc_id,
           CASE WHEN e.doc_id IS NOT NULL THEN 'exact_dup'
                WHEN nr.doc_id IS NOT NULL THEN 'near_dup'
                ELSE 'novel' END AS status,
           COALESCE(e.match_id, nr.match_id) AS match_id,
           CASE WHEN e.doc_id IS NOT NULL THEN 1.0
                ELSE ROUND(nr.jac, 6) END AS jaccard
    FROM t
    LEFT JOIN exact e ON t.doc_id = e.doc_id
    LEFT JOIN (SELECT * FROM near WHERE rn = 1) nr ON t.doc_id = nr.doc_id
    WHERE t.is_new
    ORDER BY t.doc_id
    """,
    tags=("dedup", "pipeline"),
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup — the production ingest shape: a NEW batch
    (doc_id % 5 == 0, a deterministic 20% that splits duplicate groups
    across both sides) is classified against the EXISTING corpus as
    exact_dup (fingerprint match, min corpus id), near_dup (best exact
    Jaccard ≥ 0.5 corpus doc via an asymmetric MinHash-LSH probe,
    operators.dedup.minhash_lsh_probe), or novel. The corpus side comes
    from the on-disk index (:func:`_dedup_corpus_index` — fingerprint,
    banded-signature and shingle-set tables, built once per corpus by an
    offline job exactly like the IVF index): per-batch cost is the batch's
    own fingerprints + signatures plus bucket-collision joins; the corpus
    is never re-shingled (reference analogue: append-only ingest per
    SURVEY §1.1, crates/cdl-fs/src/lib.rs:430 — dedup is our pipeline
    extension).

    Oracle contract (exact-value): the near path verifies candidates with
    exact shingle Jaccard, so output = the oracle's exhaustive batch x
    corpus join whenever LSH recall is 1 — certain at this corpus's
    separation (true pairs J ≥ 0.87: a 4-row band misses with prob
    (1-J^4)^32 < 1e-12). Best-match ranking divides the same two integers
    in both engines (one correctly-rounded IEEE op), so the float ORDER BY
    cannot diverge; ties break on corpus id."""
    docs = load_table(spark, sf_dir, "documents")
    batch = docs.filter((F.col("doc_id") % 5) == 0)
    corp_fp, band_idx, sh_c = _dedup_corpus_index(spark, sf_dir)
    out = DD.incremental_classify(batch, corp_fp, band_idx, sh_c, threshold=0.5)
    return with_persisted(
        out.orderBy("doc_id"), *getattr(out, "_cdl_persisted", ())
    )


@query(
    "dedup_simhash",
    oracle=_EXACT_JACCARD_PAIRS_SQL,
    tags=("dedup",),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash-64 candidates (16×4-bit chunk bands, Hamming ≤ 15) →
    exact Jaccard ≥ 0.5 verify.

    Oracle contract (exact-value): pigeonhole GUARANTEES a candidate for
    any pair within Hamming ≤ n_chunks-1 = 15, and the max SimHash Hamming
    over true J ≥ 0.5 pairs is 13/9/15 at sf0.001/0.01/0.1 (measured on
    the frozen fixtures under the shingle_hashes family — Hamming is
    integer-deterministic per corpus), so recall is certain; the
    exact-Jaccard verify pins precision — the output is exactly the
    all-pairs oracle set. The hamming column is dropped in favor of the
    engine-independent exact jaccard so the boundary is oracle-computable.
    Guaranteed-recall SimHash at J ≈ 0.5 is inherently narrow-bucketed
    (J = 0.5 pairs flip ~15/64 bits, forcing ≥16 bands of ≤4 bits), which
    is why production SimHash targets Hamming ≤ 3-6 where 4×16-bit bands
    suffice — see operators/dedup.py::simhash_candidates scale note."""
    docs = load_table(spark, sf_dir, "documents")
    sh = DD.shingle_relation(docs)  # one shingling pass: signatures + verify
    cand = DD.simhash_candidates(docs, max_hamming=15, n_chunks=16, shingles=sh).select(
        "id_a", "id_b"
    )
    return DD.jaccard_verify(cand, docs, threshold=0.5, shingles=sh).orderBy("id_a", "id_b")


@query(
    "dedup_embedding_neardup",
    oracle="""
    WITH aug AS (
      SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
      UNION ALL
      SELECT vec_id + 100000,
             list_transform(CAST(embedding AS DOUBLE[]), x -> x + 0.005)
      FROM embeddings WHERE vec_id < 25
    )
    SELECT a.id AS id_a, b.id AS id_b,
           ROUND(list_cosine_similarity(a.emb, b.emb), 6) AS cos
    FROM aug a JOIN aug b ON a.id < b.id
    WHERE ROUND(list_cosine_similarity(a.emb, b.emb), 6) >= 0.99
    ORDER BY id_a, id_b
    """,
    tags=("dedup", "similarity"),
)
def dedup_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via banded hyperplane LSH (12 bands
    × 16 planes, packed-sketch matmul), exact cosine verify at 0.99.

    The driver corpus is isotropic (no natural near-dups: max pair cosine
    ≈ 0.51), so the query plants 25 deterministic near-duplicates — copies
    of vec_id < 25 shifted by +0.005 per component (cos ≈ 0.9992) — with
    the identical arithmetic in the DuckDB oracle, which computes the
    EXACT all-pairs answer. Banded LSH misses a planted pair with prob
    (1-(1-θ/π)¹⁶)¹² ≈ 2e-9 at θ ≈ 0.04 rad; precision is exact (in-bucket
    cosine filter), so the output hash-matches the oracle's 25 pairs."""
    emb = load_table(spark, sf_dir, "embeddings")
    aug = emb.select(
        F.col("vec_id").alias("vec_id"), VX.as_double("embedding").alias("embedding")
    ).unionAll(
        emb.filter(F.col("vec_id") < 25).select(
            (F.col("vec_id") + 100000).alias("vec_id"),
            F.transform(VX.as_double("embedding"), lambda x: x + F.lit(0.005)).alias(
                "embedding"
            ),
        )
    )
    return DD.embedding_near_duplicates(
        aug, threshold=0.99, n_bands=12, planes_per_band=16
    ).orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------


@query(
    "knn_cosine_topk",
    oracle="""
    WITH q AS (
      SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS q_emb
      FROM embeddings WHERE vec_id IN (0, 1, 2)
    ), scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.q_emb), 6) AS cos
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, cos,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, neighbor_id) AS INT) AS rank
    FROM scored
    QUALIFY rank <= 10
    ORDER BY query_id, rank
    """,
    tags=("similarity",),
)
def knn_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for three query vectors — the exact ANN
    baseline (operators.similarity.knn_brute_force). Spark's left-fold HOF
    dot product is bit-identical to DuckDB's double kernels, so values
    hash-match after rounding."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id").isin(0, 1, 2))
    return SIM.knn_brute_force(emb, queries, k=10).orderBy("query_id", "rank")


#: per-query aggregate of the exact brute-force top-10 (all columns DuckDB-
#: computable) — the exact-value half of the ANN recall contracts below.
_KNN_CONTRACT_ORACLE = """
    WITH q AS (
      SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS q_emb
      FROM embeddings WHERE vec_id IN (0, 1, 2)
    ), scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.q_emb), 6) AS cos
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> q.query_id
    ), topk AS (
      SELECT query_id, neighbor_id, cos,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id,
           CAST(COUNT(*) AS INT) AS n_exact,
           MIN(cos) AS min_cos,
           MAX(cos) AS max_cos,
           TRUE AS recall_ok
    FROM topk WHERE rank <= 10
    GROUP BY query_id
    ORDER BY query_id
"""


def _knn_recall_contract(exact: DataFrame, approx: DataFrame, min_hits: int) -> DataFrame:
    """Per-query contract row: exact top-k stats (oracle-computable values)
    + recall_ok = (approx recovered ≥ min_hits of the exact top-k). The
    approximate path runs for real; only its quality — not its
    engine-specific ranking — crosses the oracle boundary."""
    hits = approx.select("query_id", "neighbor_id").withColumn("_hit", F.lit(1))
    return (
        exact.select("query_id", "neighbor_id", "cos")
        .join(hits, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("*").cast("int").alias("n_exact"),
            F.min("cos").alias("min_cos"),
            F.max("cos").alias("max_cos"),
            (F.sum(F.coalesce(F.col("_hit"), F.lit(0))) >= min_hits).alias("recall_ok"),
        )
        .orderBy("query_id")
    )


#: probe-query variant of the contract: same exact-top-k stats plus the
#: probe's returned-row count (the probe families always fill k=10 — 8 of
#: 32 IVF cells / 100 sketch- or ADC-candidates all exceed k at every sf —
#: so the oracle can assert it as a constant).
_KNN_PROBE_CONTRACT_ORACLE = """
    WITH q AS (
      SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS q_emb
      FROM embeddings WHERE vec_id IN (0, 1, 2)
    ), scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.q_emb), 6) AS cos
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> q.query_id
    ), topk AS (
      SELECT query_id, neighbor_id, cos,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id,
           CAST(COUNT(*) AS INT) AS n_exact,
           MIN(cos) AS min_cos,
           MAX(cos) AS max_cos,
           CAST(10 AS INT) AS n_approx,
           TRUE AS recall_ok
    FROM topk WHERE rank <= 10
    GROUP BY query_id
    ORDER BY query_id
"""


#: lazy per-(session, sf_dir) exact-top-k ground truth for the pinned query
#: vectors — the offline index-QA artifact the probe contracts join against.
#: At cluster scale this is the standard recipe (FAISS/ann-benchmarks): the
#: ground-truth file is computed once per index build and shipped beside it,
#: so recall checks never re-run brute force at query time.
_GT_CACHE: dict[tuple[int, str], DataFrame] = {}

#: embedding width per embeddings file (keyed on its content token) —
#: index METADATA (every ANN artifact records its dim; FAISS stores d in
#: the header). Deriving it per probe re-scanned one parquet row per plan
#: build (a whole Spark job of pure floor); cache it like the artifacts
#: themselves.
_EMB_DIM_CACHE: dict[str, int] = {}


def _emb_dim(spark: SparkSession, sf_dir: str) -> int:
    key = _artifact_token(sf_dir, "embeddings")
    if key not in _EMB_DIM_CACHE:
        emb = load_table(spark, sf_dir, "embeddings")
        _EMB_DIM_CACHE[key] = emb.select(
            F.size("embedding").alias("d")
        ).first()["d"]
    return _EMB_DIM_CACHE[key]


def _gt_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build(path: str) -> None:
        emb = load_table(spark, sf_dir, "embeddings")
        queries = emb.filter(F.col("vec_id").isin(0, 1, 2))
        SIM.knn_brute_force(emb, queries, k=10).write.parquet(path)

    path = _built("knngt", sf_dir, ("embeddings",), build)
    key = (id(spark), path)
    if key not in _GT_CACHE:
        _GT_CACHE[key] = spark.read.parquet(path)
    return _GT_CACHE[key]


def _knn_probe_contract(gt: DataFrame, approx: DataFrame, min_hits: int) -> DataFrame:
    """Per-query probe contract: exact top-k stats from the prewritten
    ground-truth artifact (DuckDB recomputes them via brute-force SQL),
    the probe's returned-row count, and recall_ok = probe recovered
    ≥ min_hits of the exact top-k. Unlike :func:`_knn_recall_contract`
    the exact side is a 30-row parquet read, so the timed surface stays
    probe + ONE tiny join — the cost a user pays per serving query.

    The probe relation is consumed exactly ONCE (r15): the former
    hits-left-join + separate per-query count read ``approx`` twice,
    which duplicated the entire probe subtree in the plan — for the PQ
    probe that meant two ArrowEvalPython ADC scans over the code table
    (two full scans + two top-k windows). A single FULL outer join
    carries both sides' counters: gt-only rows keep the exact stats
    (probe-only rows contribute NULL cos, invisible to MIN/MAX),
    probe-only rows still count into n_approx, and a row matched on
    both sides is a recall hit."""
    g = gt.select("query_id", "neighbor_id", "cos").withColumn("_g", F.lit(1))
    p = approx.select("query_id", "neighbor_id").withColumn("_hit", F.lit(1))
    return (
        g.join(p, ["query_id", "neighbor_id"], "full")
        .groupBy("query_id")
        .agg(
            F.sum("_g").cast("int").alias("n_exact"),
            F.min("cos").alias("min_cos"),
            F.max("cos").alias("max_cos"),
            F.sum("_hit").cast("int").alias("n_approx"),
            (
                F.sum(
                    F.when(F.col("_g").isNotNull() & F.col("_hit").isNotNull(), 1).otherwise(0)
                )
                >= min_hits
            ).alias("recall_ok"),
        )
        .select("query_id", "n_exact", "min_cos", "max_cos", "n_approx", "recall_ok")
        .orderBy("query_id")
    )


@query(
    "knn_threshold_search",
    oracle="""
    WITH q AS (
      SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS q_emb
      FROM embeddings WHERE vec_id IN (0, 1, 2)
    )
    SELECT q.query_id, e.vec_id AS neighbor_id,
           ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.q_emb), 6) AS cos
    FROM embeddings e CROSS JOIN q
    WHERE e.vec_id <> q.query_id
      AND ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.q_emb), 6) >= 0.25
    ORDER BY query_id, cos DESC, neighbor_id
    """,
    tags=("similarity",),
)
def knn_threshold_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (radius) similarity search — every neighbor with
    cosine >= 0.25 per pinned query, NOT a top-k: the result size is
    data-dependent (0..N per query), which is the retrieval mode dedup
    and recall-oriented search need. One broadcast + one scan, filter
    fused scan-side, no shuffle (operators/similarity.py::range_search);
    the corpus-wide self-join variant of the same predicate is the
    banded-LSH `dedup_embedding_neardup`."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id").isin(0, 1, 2))
    return SIM.range_search(emb, queries, threshold=0.25).orderBy(
        "query_id", F.desc("cos"), "neighbor_id"
    )


@query(
    "knn_sketch_topk",
    oracle=_KNN_CONTRACT_ORACLE,
    tags=("similarity",),
)
def knn_sketch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-pruned ANN vs exact, as a recall contract — the scale path:
    256-bit hyperplane sign sketch, Hamming-distance candidate pruning
    (100 per query), exact cosine re-rank.

    Declared output per query: the exact top-10's count/min/max cosine
    (DuckDB recomputes these exactly) + recall_ok = sketch recovered ≥ 8 of
    the exact 10. The sketch is fully deterministic (seeded planes, no
    training), and measured recall at sf0.01 is 10/10 per query — the ≥8
    bound is slack for other scale factors, not for run-to-run variance.

    The Hamming prune probes the SAME prewritten sketch index the probe
    query reads (``_sketch_indexed`` — seeded planes over the identical
    corpus, bit-equal to in-query re-signing), matching
    ``knn_ivf_topk``/``knn_pq_topk``'s offline-artifact shape; the
    contract query still times the exact brute-force side, the probe,
    the re-rank, and the contract join."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id").isin(0, 1, 2))
    exact = SIM.knn_brute_force(emb, queries, k=10)
    approx = SIM.knn_sketch_probe(
        _sketch_indexed(spark, sf_dir),
        queries,
        k=10,
        dim=_emb_dim(spark, sf_dir),
    )
    return _knn_recall_contract(exact, approx, min_hits=8)


@query(
    "text_repeated_spans",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split({_NORM.format(c='text')}, ' ') AS toks
      FROM documents
    ), px AS (
      SELECT doc_id,
             UNNEST([{{'pos': i, 'tok': toks[i]}}
                     for i in generate_series(1, len(toks))]) AS u
      FROM t WHERE len(toks) > 0 AND toks[1] <> ''
    ), p AS (
      SELECT doc_id, u.pos AS pos, u.tok AS tok,
             CASE WHEN substr(md5(u.tok), 1, 1) IN ('0', '1') THEN 1
                  ELSE 0 END AS bnd
      FROM px
    ), c AS (
      SELECT doc_id, pos, tok,
             SUM(bnd) OVER (PARTITION BY doc_id ORDER BY pos) AS chunk_id
      FROM p
    ), chunks AS (
      SELECT doc_id, chunk_id,
             md5(string_agg(tok, ' ' ORDER BY pos)) AS fp,
             COUNT(*) AS n_toks
      FROM c GROUP BY doc_id, chunk_id
    ), shared AS (
      SELECT fp FROM chunks GROUP BY fp HAVING COUNT(DISTINCT doc_id) >= 2
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(CASE WHEN s.fp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_shared_chunks,
           ROUND(SUM(CASE WHEN s.fp IS NOT NULL THEN n_toks ELSE 0 END)
                 * 1.0 / SUM(n_toks), 6) AS shared_token_fraction
    FROM chunks LEFT JOIN shared s USING (fp)
    GROUP BY doc_id ORDER BY doc_id
    """,
    tags=("text", "pipeline"),
)
def text_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-span detection via content-defined chunking
    — the span-level dedup signal (Lee et al., "Deduplicating Training
    Data Makes Language Models Better") that document-level fingerprints
    can't see: two different documents sharing a long copied passage.

    Fixed-stride windows can't find such spans (the copy sits at different
    offsets in each doc, so no window aligns); CONTENT-DEFINED boundaries
    do — a chunk boundary opens at every token whose md5 starts with
    nibble 0/1 (p = 1/8, expected ~8-token chunks), so identical text
    produces identical chunks at ANY offset, the rolling-fingerprint
    alignment trick of winnowing/CDC, here fully relational. A chunk
    fingerprint seen in ≥ 2 distinct docs marks a shared span; output per
    doc = chunk count, shared-chunk count, shared-token fraction (the
    filter signal). All decisions are md5-nibble + integer arithmetic —
    engine-exact; the only float is the output-rounded fraction.

    Shape: chunking is DOCUMENT-LOCAL, so the whole chunk assembly runs
    as array expressions on the scan — boundary positions via a filtered
    position sequence, chunks via per-span slices — with NO shuffle (the
    earlier token-explode + per-doc window + (doc, chunk) groupBy paid
    two token-volume exchanges for arithmetic each doc can do alone).
    The only shuffles left are the fp aggregation for the shared set and
    the join back — both at chunk granularity. At 100 TB the fp→shared
    relation is the written artifact an ingest pipeline maintains
    incrementally."""
    docs = load_table(spark, sf_dir, "documents")
    toks = TX.tokens("text")
    base = (
        # empty normalized text splits to [''] in both engines — exclude it
        # (matches the oracle's len(toks) > 0 AND toks[1] <> '' guard);
        # has_tokens = one raw-column class scan, no normalize in the filter
        docs.filter(TX.has_tokens("text"))
        .select("doc_id", toks.alias("toks"))
        .select(
            "doc_id",
            "toks",
            # boundary token positions (1-based): md5 first nibble 0/1
            F.filter(
                F.sequence(F.lit(1), F.size("toks")),
                lambda i: F.substring(
                    F.md5(F.element_at(F.col("toks"), i)), 1, 1
                ).isin("0", "1"),
            ).alias("bpos"),
        )
        .select(
            "doc_id",
            "toks",
            # chunk start positions: every boundary starts a chunk and
            # belongs to it (the running SUM(bnd) includes the current
            # row); tokens before the first boundary form chunk 0
            # try_element_at, not element_at: identical null-on-out-of-
            # bounds semantics under the session's ansi=false pin, but it
            # cannot start throwing if ANSI is ever enabled (ADVICE r14 #2)
            F.when(
                (F.size("bpos") == 0)
                | (F.try_element_at("bpos", F.lit(1)) != F.lit(1)),
                F.concat(F.array(F.lit(1)), F.col("bpos")),
            )
            .otherwise(F.col("bpos"))
            .alias("starts"),
        )
    )
    chunks = (
        base.select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("starts")),
                    lambda j: F.struct(
                        F.element_at(F.col("starts"), j).alias("s"),
                        F.coalesce(
                            # j+1 runs past the array on the last chunk —
                            # try_element_at keeps the NULL → coalesce
                            # fallback ANSI-robust (ADVICE r14 #2)
                            F.try_element_at(
                                F.col("starts"), (j + 1).cast("int")
                            ),
                            F.size("toks") + 1,
                        ).alias("e"),
                    ),
                )
            ).alias("span"),
            F.col("toks"),
        )
        .select(
            "doc_id",
            F.slice(
                "toks", F.col("span.s"), F.col("span.e") - F.col("span.s")
            ).alias("chunk_toks"),
        )
        .select(
            "doc_id",
            F.md5(F.array_join("chunk_toks", " ")).alias("fp"),
            F.size("chunk_toks").cast("bigint").alias("n_toks"),
        )
        .persist()
    )
    shared = (
        chunks.groupBy("fp")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("fp", F.lit(1).alias("_shared"))
    )
    out = (
        chunks.join(shared, "fp", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum(F.coalesce(F.col("_shared"), F.lit(0))).alias("n_shared_chunks"),
            F.round(
                F.sum(
                    F.when(F.col("_shared").isNotNull(), F.col("n_toks")).otherwise(
                        F.lit(0)
                    )
                )
                / F.sum("n_toks"),
                6,
            ).alias("shared_token_fraction"),
        )
        .orderBy("doc_id")
    )
    return with_persisted(out, chunks)


#: lazy per-(session, sf_dir) handles to the PQ code index, built once per
#: corpus by :func:`_built` like the IVF cells and the dedup corpus index:
#: the code table plus its seeded codebooks as a ``_codebooks.npy`` sidecar.
_PQ_CACHE: dict[tuple[int, str], tuple] = {}


def _pq_indexed(spark: SparkSession, sf_dir: str):
    import os

    import numpy as np

    # codebooks persist WITH the code table (see _ivf_indexed: an index
    # that needs in-session retraining isn't offline)
    def build(path: str) -> None:
        emb = load_table(spark, sf_dir, "embeddings")
        books = SIM.pq_train(emb)
        emb.select(
            "vec_id", SIM.pq_encode("embedding", books).alias("codes")
        ).write.parquet(path)
        np.save(os.path.join(path, "_codebooks.npy"), books)

    path = _built("pq", sf_dir, ("embeddings",), build)
    key = (id(spark), path)
    if key not in _PQ_CACHE:
        books = np.load(os.path.join(path, "_codebooks.npy"))
        _PQ_CACHE[key] = (books, spark.read.parquet(path))
    return _PQ_CACHE[key]


@query(
    "knn_pq_probe",
    oracle=_KNN_PROBE_CONTRACT_ORACLE,
    tags=("similarity",),
)
def knn_pq_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PQ probe ALONE — the production ANN query surface, split from
    the recall contract the way ``knn_ivf_probe`` splits from
    ``knn_ivf_topk``: ``knn_pq_topk`` times codebook training + corpus
    encoding + brute-force exact top-k + the contract join, so the cost a
    user pays per query — the ADC lookup-table scan over the prewritten
    smallint code table plus the pruned exact re-rank (top-100 candidate
    vectors fetched from the base table by id) — was a fraction of its
    timed surface.

    Declared output (round 6, fixing VERDICT r5 "What's wrong" #1): the
    probe result joins the prewritten exact-top-k ground-truth artifact
    (:func:`_gt_topk` — 30 rows, built once beside the index, the
    ann-benchmarks convention) into a per-query contract row DuckDB can
    recompute exactly, so the driver gets a full value-hash verdict while
    the timed surface stays probe + two tiny joins. recall_ok uses the
    topk sibling's ≥8/10 bound (codebooks are deterministic per corpus)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id").isin(0, 1, 2))
    books, codes = _pq_indexed(spark, sf_dir)
    probe = SIM.knn_pq(emb, queries, books, k=10, codes=codes)
    return _knn_probe_contract(_gt_topk(spark, sf_dir), probe, min_hits=8)


@query(
    "knn_pq_topk",
    oracle=_KNN_CONTRACT_ORACLE,
    tags=("similarity",),
)
def knn_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN vs exact, as a recall contract — the
    memory-scale path alongside the sketch (bit-prune) and IVF
    (partition-prune) families: 16 subvectors × 256 codes (16 bytes/vector
    instead of 256 bytes of floats — a 16× smaller scanned index),
    asymmetric-distance (ADC) lookup-table scan, exact cosine re-rank of
    the top-100 ADC candidates (operators.similarity.pq_train/pq_encode/
    knn_pq). Codebooks train driver-side on a deterministic 2048-row
    sample — numpy-milliseconds of planning metadata, the standard PQ
    recipe.

    Declared output per query: the exact top-10's count/min/max cosine
    (DuckDB recomputes these exactly) + recall_ok = PQ recovered ≥ 8 of
    the exact 10. Measured recall@10 is 10/10 at sf0.001/0.01/0.1 (seeded
    sample + seeded k-means init → deterministic per corpus); the ≥8 bound
    is slack for other corpora, not run-to-run variance.

    Codebooks + codes come from the SAME offline index the probe query
    reads (``_pq_indexed`` — identical seeded training over the identical
    corpus, so results are bit-equal to in-query retraining), matching
    ``knn_ivf_topk``'s prebuilt-quantizer shape: training is an
    index-build job at any scale, and re-running it inside every timed
    execution of the CONTRACT query measured ~1.9 s/run of pure driver
    CPU that no production query would pay (SCALE_PQ_DECOMP.json)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id").isin(0, 1, 2))
    exact = SIM.knn_brute_force(emb, queries, k=10)
    books, codes = _pq_indexed(spark, sf_dir)
    approx = SIM.knn_pq(
        emb, queries, books, k=10, candidates_per_query=100, codes=codes
    )
    return _knn_recall_contract(exact, approx, min_hits=8)


#: lazy per-(sf_dir) IVF index: at 100 TB the k-means coarse quantizer is an
#: offline index-build job, not a query step — the declared query must time
#: probe cost, not training. First touch trains and WRITES the index as a
#: parquet table partitioned by cell (the real warehouse shape: a probe
#: reads only its cells' directories via partition pruning, and the index
#: survives session cache churn); reruns reuse the resolved scan relation
#: (re-planning the read per probe paid directory listing + schema
#: resolution on every call).
_IVF_CACHE: dict[tuple[int, str], tuple[DataFrame, list]] = {}


def _ivf_indexed(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, list]:
    import json
    import os

    # centroids persist WITH the index (underscore prefix = invisible to
    # the parquet reader, like _SUCCESS): an on-disk index a fresh session
    # must re-train k-means to use isn't an offline index — every new
    # session (the correctness driver, a user process) paid the full
    # training job before its first probe.
    def build(path: str) -> None:
        emb = load_table(spark, sf_dir, "embeddings")
        indexed, centroids = SIM.ivf_index(emb, n_cells=32, max_iter=5)
        # repartition by cell first: without it every shuffle partition
        # writes a file into every cell directory (32 tasks x 32 cells ≈
        # 1000 tiny files), and the probe-side read pays file listing +
        # footer decode per file (measured ~9s first touch -> <1s)
        indexed.repartition("cell").write.partitionBy("cell").parquet(path)
        release_index(indexed)  # training cache no longer needed
        with open(os.path.join(path, "_centroids.json"), "w") as fh:
            json.dump(centroids, fh)

    path = _built("ivf", sf_dir, ("embeddings",), build)
    key = (id(spark), path)
    if key not in _IVF_CACHE:
        with open(os.path.join(path, "_centroids.json")) as fh:
            centroids = json.load(fh)
        _IVF_CACHE[key] = (spark.read.parquet(path), centroids)
    return _IVF_CACHE[key]


@query(
    "knn_ivf_topk",
    oracle=_KNN_CONTRACT_ORACLE,
    tags=("similarity",),
)
def knn_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN vs exact, as a recall contract — the trained scale path:
    32-cell k-means coarse quantizer (prebuilt via the lazy index cache,
    NOT per query), 8 cells probed per query ≈ 1/4 of the corpus scanned,
    exact cosine re-rank within probed cells.

    Declared output per query: exact top-10 count/min/max cosine (DuckDB
    recomputes exactly) + recall_ok = IVF recovered ≥ 4 of the exact 10.
    Measured hits at sf0.01 are (8, 9, 5) per query and stable across
    partitioning configs; the ≥4 bound leaves margin for k-means float
    jitter. At cluster scale the indexed table is written bucketed by
    cell so probes touch only their buckets' files."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id").isin(0, 1, 2))
    exact = SIM.knn_brute_force(emb, queries, k=10)
    indexed, centroids = _ivf_indexed(spark, sf_dir)
    approx = SIM.knn_ivf(indexed, centroids, queries, k=10, nprobe=8)
    return _knn_recall_contract(exact, approx, min_hits=4)


@query(
    "knn_ivf_probe",
    oracle=_KNN_PROBE_CONTRACT_ORACLE,
    tags=("similarity",),
)
def knn_ivf_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF probe ALONE — the production ANN query surface, split from
    the recall contract so the timed cost is the cost a user pays.

    ``knn_ivf_topk`` (the contract query) times brute-force exact top-k +
    probe + contract join — the exact side exists only to verify recall, so
    its cost dominated the measurement (VERDICT r4). This companion runs
    just: route each query to its 8 nearest cells (driver-side planning on
    n_queries × nprobe rows), statically prune the cell-partitioned index
    to those cells' directories, exact cosine re-rank within them.

    Declared output (round 6, fixing VERDICT r5 "What's wrong" #1 — the
    ``oracle=None`` declaration made the driver record ``err: no_oracle``):
    the probe result joins the prewritten exact-top-k ground-truth artifact
    (:func:`_gt_topk`, built once beside the index) into a per-query
    contract row DuckDB recomputes exactly — full value-hash verdict, probe
    timed surface preserved. recall_ok keeps knn_ivf_topk's ≥4/10 bound."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id").isin(0, 1, 2))
    indexed, centroids = _ivf_indexed(spark, sf_dir)
    probe = SIM.knn_ivf(indexed, centroids, queries, k=10, nprobe=8)
    return _knn_probe_contract(_gt_topk(spark, sf_dir), probe, min_hits=4)


@query(
    "embedding_stats",
    oracle="""
    SELECT vec_id,
           CAST(len(embedding) AS INT) AS dim,
           ROUND(sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                                              x -> x * x))), 6) AS l2_norm,
           ROUND(list_sum(CAST(embedding AS DOUBLE[]))
                 / len(embedding), 6) AS mean_component
    FROM embeddings
    ORDER BY vec_id
    """,
    tags=("similarity",),
)
def embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector norms/moments — the sanity scan before any ANN build."""
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(VX.norm("embedding"), 6).alias("l2_norm"),
        F.round(
            F.aggregate(VX.as_double("embedding"), F.lit(0.0), lambda a, v: a + v)
            / F.size("embedding"),
            6,
        ).alias("mean_component"),
    ).orderBy("vec_id")


# ---------------------------------------------------------------------------
# multimodal
# ---------------------------------------------------------------------------


@query(
    "multimodal_decode_meta",
    oracle="""
    SELECT doc_id,
           'img' AS fmt,
           CAST(16 + doc_id % 64 AS INT) AS width,
           CAST(16 + doc_id % 32 AS INT) AS height,
           CAST(1 + doc_id % 8 AS INT)   AS n_frames,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
    FROM documents
    ORDER BY doc_id
    """,
    tags=("multimodal",),
)
def multimodal_decode_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media plumbing end-to-end: build FAKE media blobs (JVM-side
    byte packing), decode headers via Arrow-batched mapInPandas, project the
    typed metadata. The oracle recomputes the expected metadata from the
    generator arithmetic — verifying the whole binary round-trip."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    with_media = MM.attach_fake_media(docs)
    decoded = MM.decode_media(with_media)
    return decoded.select(
        "doc_id",
        F.col("meta.format").alias("fmt"),
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        F.col("meta.n_frames").alias("n_frames"),
        F.col("meta.n_bytes").alias("n_bytes"),
    ).orderBy("doc_id")


@query(
    "multimodal_frame_sample",
    oracle="""
    WITH m AS (
      SELECT doc_id,
             CAST(1 + doc_id % 8 AS INT) AS nf,
             octet_length(encode(text)) AS payload_len
      FROM documents
    )
    SELECT doc_id AS id,
           CAST(UNNEST(generate_series(0, nf - 1, 2)) AS INT) AS frame_id,
           CAST(payload_len // nf AS BIGINT) AS frame_bytes
    FROM m
    WHERE payload_len // nf > 0
    ORDER BY id, frame_id
    """,
    tags=("multimodal",),
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling (every 2nd frame) through mapInPandas: one row per
    kept frame with its byte length — the demux batch shape with a
    deterministic fake splitter."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    frames = MM.sample_frames(MM.attach_fake_media(docs), every_n=2)
    return (
        frames.select(
            "id",
            F.col("frame_id").cast("int").alias("frame_id"),
            F.octet_length("frame").cast("bigint").alias("frame_bytes"),
        )
        .filter(F.col("frame_bytes") > 0)
        .orderBy("id", "frame_id")
    )


# ---------------------------------------------------------------------------
# composed training-data pipeline
# ---------------------------------------------------------------------------


@query(
    "pipeline_training_data",
    oracle=f"""
    WITH q AS (
      SELECT doc_id,
             {_NORM.format(c='text')} AS nrm,
             string_split({_NORM.format(c='text')}, ' ') AS toks
      FROM documents
    ), pass AS (  -- C4/Gopher-style quality gate: all three checks
      SELECT doc_id, nrm, toks FROM q
      WHERE len(toks) BETWEEN 5 AND 100000
        AND len(toks) > 0
        AND len(list_filter(toks, t -> list_contains(
              ['the','a','of','and','to','in','is','that','it','for'], t)))
            * 1.0 / len(toks) BETWEEN 0.01 AND 0.9
        AND (length(nrm) = 0 OR
             (length(nrm) - length(regexp_replace(nrm, '[^a-z0-9 ]', '', 'g')))
             * 1.0 / length(nrm) <= 0.3)
    ), surv AS (  -- exact dedup: min-doc_id survivor per fingerprint
      SELECT doc_id, nrm, toks FROM pass
      WHERE doc_id IN (SELECT MIN(doc_id) FROM pass GROUP BY md5(nrm))
    ), s AS (     -- 3-gram shingle sets over exact-dedup survivors
      SELECT doc_id,
             list_distinct([array_to_string(toks[i:i+2], ' ')
                            for i in generate_series(1, len(toks) - 2)]) AS sh
      FROM surv
    ), p AS (
      SELECT doc_id, len(sh) AS sz, UNNEST(sh) AS tok FROM s WHERE len(sh) > 0
    ), pairs AS ( -- exact Jaccard >= 0.5 near-dup pairs among survivors
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter,
             ANY_VALUE(a.sz) AS sz_a, ANY_VALUE(b.sz) AS sz_b
      FROM p a JOIN p b ON a.tok = b.tok AND a.doc_id < b.doc_id
      GROUP BY 1, 2
      HAVING COUNT(*) * 1.0 / (ANY_VALUE(a.sz) + ANY_VALUE(b.sz) - COUNT(*)) >= 0.5
    ), kept AS (  -- near-dup removal: drop the higher id of each pair
      SELECT doc_id, nrm, toks FROM surv
      WHERE doc_id NOT IN (SELECT id_b FROM pairs)
    ), sc AS (
      SELECT doc_id, toks,
             {_lang_score_sql(TXL['en'])} AS s_en,
             {_lang_score_sql(TXL['de'])} AS s_de,
             {_lang_score_sql(TXL['fr'])} AS s_fr,
             {_lang_score_sql(TXL['es'])} AS s_es,
             {_lang_score_sql(TXL['zh'])} AS s_zh,
             CAST(len(regexp_extract_all(nrm,
                  '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS BIGINT) AS bpe_tokens
      FROM kept
    ), g AS (
      SELECT CASE
               WHEN greatest(s_en, s_de, s_fr, s_es, s_zh) = 0 THEN 'und'
               WHEN s_en = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'en'
               WHEN s_de = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'de'
               WHEN s_fr = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'fr'
               WHEN s_es = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'es'
               ELSE 'zh'
             END AS lang_guess,
             bpe_tokens
      FROM sc
    )
    SELECT lang_guess,
           COUNT(*) AS n_docs,
           CAST(SUM(bpe_tokens) AS BIGINT) AS total_bpe_tokens
    FROM g GROUP BY lang_guess ORDER BY lang_guess
    """,
    tags=("dedup", "text", "pipeline"),
)
def pipeline_training_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data pipeline, end to end in ONE job:
    quality gate → exact dedup → MinHash-LSH near-dup removal →
    per-language token budget. This is the flagship composition the
    100 TB mandate asks for — each stage is the already-declared operator
    (text_quality_score, dedup_exact_survivors, dedup_minhash_lsh,
    text_language_guess, text_token_estimate), chained over ONE shared
    scan + ONE shared shingle relation, all set arithmetic on doc_id
    (joins/anti-joins — no collect between stages).

    Scale shape: quality gate is a scan-local filter; exact dedup one
    shuffle on the fingerprint; near-dup the banded LSH join (the oracle
    equals the exact pair set at this corpus's separation — same
    exact-value contract as dedup_minhash_lsh); language/token stats one
    shuffle on doc_id then one tiny agg on lang. The DuckDB oracle states
    the identical five-stage chain as CTEs."""
    docs = load_table(spark, sf_dir, "documents")
    passed = docs.filter(TX.quality_score("text") == 1.0)
    surv = DD.exact_dedup(passed)  # min-doc_id survivor per fingerprint
    sh = DD.shingle_relation(surv)  # one shingling pass: LSH + verify
    cand = DD.minhash_lsh_candidates(
        surv, num_hashes=128, bands=32, shingles=sh, with_est=False
    )
    pairs = DD.jaccard_verify(cand, surv, threshold=0.5, shingles=sh)
    # ``surv`` executes ONCE (r15): it used to be consumed both by the
    # persisted shingle relation's build AND directly by the kept anti-join,
    # so the quality-regex filter + fingerprint md5 + dedup window ran twice
    # (two Window nodes in the r14 plan). The quality gate requires ≥ 5
    # tokens, so every survivor has ≥ 1 shingle and ``sh.id`` IS the
    # survivor id set — kept's ids derive from the (persisted) shingle
    # relation minus the near-dup losers, and only the tiny id set joins
    # back to the cached docs scan for the text-derived stats below.
    kept_ids = sh.select(F.col("id").alias("doc_id")).join(
        pairs.select(F.col("id_b").alias("doc_id")), "doc_id", "left_anti"
    )
    kept = docs.join(kept_ids, "doc_id", "semi")
    nrm = TX.normalize_text("text")
    # ``kept`` is consumed exactly ONCE, scan-locally. The previous shape
    # consumed it twice (token-explode/stopword-join vote branch +
    # doc-level token-count branch joined back on doc_id), and since
    # kept's lineage contains the whole LSH band join + Jaccard verify,
    # Catalyst executed that subtree twice — no ReusedExchange across the
    # two consumers. The vote itself needs no explode/join/shuffle at
    # all: per-language stopword hit counts are array filters over the
    # token array, argmax'd by a CASE cascade in TXL priority order —
    # exactly the oracle's formulation, and value-identical to the old
    # min_by((-n, pri)) vote ('und' iff every count is 0). The layered
    # projections are load-bearing: normalize / tokenize+bpe / scores are
    # separate select()s so CollapseProject keeps each non-cheap
    # expression (regex, split, size(filter(...))) single-evaluation
    # instead of inlining it per reference — same discipline as
    # functions.text.quality_score_from (text_language_guess measured the
    # naive inlined-HOF form at ~10 tokenization passes per row).
    normed = kept.select("doc_id", nrm.alias("_nrm"))
    toked = normed.select(
        "doc_id",
        F.size(
            F.regexp_extract_all("_nrm", F.lit(TX.BPE_ISH_PATTERN), F.lit(0))
        ).cast("bigint").alias("bpe_tokens"),
        F.split("_nrm", " ").alias("_toks"),
    )
    def _hits(words):
        # single-arg lambda via closure: a 2-arg lambda (t, default-bound
        # array) would be called by F.filter as (element, index)
        arr = F.array(*[F.lit(w) for w in words])
        return F.size(F.filter(F.col("_toks"), lambda t: F.array_contains(arr, t)))

    score_cols = [
        _hits(words).alias(f"_s_{lang}") for lang, words in TXL.items()
    ]
    scored = toked.select("doc_id", "bpe_tokens", *score_cols)
    best = F.greatest(*[F.col(f"_s_{lang}") for lang in TXL])
    guess = F.lit("und")
    for lang in reversed(list(TXL)):
        guess = F.when(F.col(f"_s_{lang}") == best, F.lit(lang)).otherwise(guess)
    guess = F.when(best > 0, guess).otherwise(F.lit("und"))
    return (
        scored.select(guess.alias("lang_guess"), "bpe_tokens")
        .groupBy("lang_guess")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("bpe_tokens").alias("total_bpe_tokens"),
        )
        .orderBy("lang_guess")
    )


# ---------------------------------------------------------------------------
# bucketed co-located join
# ---------------------------------------------------------------------------

#: per-(session, artifact path) table handles to the bucketed layout of
#: orders + lineitem on the orderkey: like the IVF index, bucketing is an
#: OFFLINE layout job — the declared query times the exchange-free join,
#: not the one-time re-layout.
_BUCKETED_CACHE: dict[tuple[int, str], tuple[DataFrame, DataFrame]] = {}


def _bucketed_order_tables(
    spark: SparkSession, sf_dir: str, n_buckets: int = 8
) -> tuple[DataFrame, DataFrame]:
    """Catalog tables over the build-once bucketed layout (:func:`_built`).
    The files are written once per artifact; a session whose catalog lacks
    a table only registers it over the existing files, so no session ever
    rewrites files another may be reading."""
    import os

    from connected_data_lake_spark.sources.bucketed import write_bucketed

    specs = (("orders", "o_orderkey"), ("lineitem", "l_orderkey"))

    def name_of(path: str, table: str) -> str:
        return f"{os.path.basename(path)}_{table}"

    def build(path: str) -> None:
        for table, k in specs:
            write_bucketed(
                load_table(spark, sf_dir, table),
                name_of(path, table),
                [k],
                n_buckets=n_buckets,
                path=os.path.join(path, table),
            )

    path = _built("bkt", sf_dir, ("orders", "lineitem"), build)
    key = (id(spark), path)
    if key not in _BUCKETED_CACHE:
        for table, k in specs:
            name, loc = name_of(path, table), os.path.join(path, table)
            if not spark.catalog.tableExists(name):
                # Spark refuses a bucket spec without an explicit column list
                ddl = spark.read.parquet(loc).schema.toDDL()
                spark.sql(
                    f"CREATE TABLE {name} ({ddl}) USING parquet "
                    f"CLUSTERED BY ({k}) SORTED BY ({k}) INTO {n_buckets} "
                    f"BUCKETS LOCATION '{loc}'"
                )
        _BUCKETED_CACHE[key] = tuple(
            spark.table(name_of(path, table)) for table, _k in specs
        )
    return _BUCKETED_CACHE[key]


@query(
    "join_bucketed_colocated",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_lines,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    tags=("join", "layout"),
)
def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact equi-join over tables PRE-BUCKETED on the join key
    (sources/bucketed.py): both sides hash-clustered into the same bucket
    count at write time, so SortMergeJoin aligns bucket i with bucket i
    and the executed plan carries NO Exchange on either join input —
    the layout, not the query, pays the shuffle, once, amortized over
    every join on that key. The merge hint pins SMJ so the co-location
    (not a broadcast) is what the plan proves; asserted in
    tests/test_plan_quality.py. Values equal the plain-join oracle."""
    o, li = _bucketed_order_tables(spark, sf_dir)
    j = li.hint("merge").join(
        o.hint("merge"), li["l_orderkey"] == o["o_orderkey"]
    )
    return (
        j.groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_lines"),
            F.round(
                F.sum(F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# training-data curation: splits / sampling / contamination / repetition
#
# Round-5 additions to the LLM-pipeline family, oracle-verified by the local
# gate (tools/oracle_check.py, tests/test_oracle_suite.py).
# ---------------------------------------------------------------------------


@query(
    "split_train_test",
    oracle=f"""
    WITH t AS (
      SELECT substring(md5({_NORM.format(c='text')}), 1, 1) AS h,
             CAST(len(regexp_extract_all({_NORM.format(c='text')},
                  '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS BIGINT) AS bpe
      FROM documents
    )
    SELECT CASE WHEN h BETWEEN '0' AND '9' OR h IN ('a', 'b') THEN 'train'
                WHEN h IN ('c', 'd') THEN 'val'
                ELSE 'test' END AS split,
           COUNT(*) AS n_docs,
           CAST(SUM(bpe) AS BIGINT) AS total_bpe_tokens
    FROM t GROUP BY 1 ORDER BY split
    """,
    tags=("text", "pipeline"),
)
def split_train_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content-hash train/val/test split (75/12.5/12.5 by the
    first hex nibble of the md5 fingerprint: 0-b / c-d / e-f) with the
    per-split token budget. Hash-splitting is how a 100 TB pipeline gets
    reproducible, rebalancing-free splits — the assignment is a pure
    scan-local expression (no shuffle until the 3-row aggregate), identical
    for any partitioning, cluster size, or re-run, and new corpus files
    land in stable splits without touching old ones."""
    docs = load_table(spark, sf_dir, "documents")
    h = F.substring(TX.fingerprint("text"), 1, 1)
    split = (
        F.when(h.between("0", "9") | h.isin("a", "b"), "train")
        .when(h.isin("c", "d"), "val")
        .otherwise("test")
    )
    return (
        docs.select(
            split.alias("split"),
            TX.bpe_token_estimate("text").cast("bigint").alias("bpe"),
        )
        .groupBy("split")
        .agg(F.count("*").alias("n_docs"), F.sum("bpe").alias("total_bpe_tokens"))
        .orderBy("split")
    )


@query(
    "sample_stratified",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source, md5({_NORM.format(c='text')}) AS fp FROM documents
    )
    SELECT source, doc_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY source
                                   ORDER BY fp, doc_id) AS INT) AS sample_rank
    FROM t
    QUALIFY sample_rank <= 20
    ORDER BY source, sample_rank
    """,
    tags=("text", "pipeline"),
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sample: 20 docs per source stratum, chosen
    by content-hash order — the reproducible analogue of per-stratum random
    sampling (the md5 fingerprint is uniform and corpus-stable, so the
    sample neither drifts across runs nor needs a seeded RNG agreement
    between engines). One shuffle on the stratum key; per-stratum top-k via
    ROW_NUMBER, which AQE executes as a partial top-k per partition."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(TX.fingerprint("text"), F.col("doc_id"))
    return (
        docs.select(
            "source", "doc_id", F.row_number().over(w).cast("int").alias("sample_rank")
        )
        .filter(F.col("sample_rank") <= 20)
        .orderBy("source", "sample_rank")
    )


@query(
    "text_repetition",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split({_NORM.format(c='text')}, ' ') AS toks
      FROM documents
    ), b AS (
      SELECT doc_id, len(toks) AS n_tokens,
             [array_to_string(toks[i:i+1], ' ')
              for i in generate_series(1, len(toks) - 1)] AS bgs
      FROM t WHERE len(toks) >= 2
    ), tok_counts AS (
      SELECT doc_id, tok, COUNT(*) AS c
      FROM (SELECT doc_id, UNNEST(toks) AS tok FROM t) GROUP BY 1, 2
    ), top AS (
      SELECT doc_id, MAX(c) AS max_c, SUM(c) AS sum_c FROM tok_counts GROUP BY doc_id
    )
    SELECT b.doc_id,
           CAST(b.n_tokens AS INT) AS n_tokens,
           ROUND(1.0 - len(list_distinct(bgs)) * 1.0 / len(bgs), 6) AS dup_bigram_frac,
           ROUND(top.max_c * 1.0 / top.sum_c, 6) AS top_token_frac
    FROM b JOIN top ON b.doc_id = top.doc_id
    ORDER BY b.doc_id
    """,
    tags=("text", "pipeline"),
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style intra-document repetition signals: duplicate-bigram
    fraction and most-frequent-token mass — the filters that catch boiler-
    plate and keyboard-mash documents that sail through length/stopword
    gates. The bigram fraction is a scan-local array expression (zero
    shuffle); the top-token mass is explode → two-level aggregate on
    doc_id, i.e. one shuffle with map-side partial counts."""
    docs = load_table(spark, sf_dir, "documents")
    docs = DD.spread(docs)  # single-file fixture reads as ONE split and
    # single-cores the per-row pass; pass-through once input splits reach
    # cluster parallelism (the 100 TB case). Measured at sf0.1: 1.44 -> 1.02 s.
    toks = TX.tokens("text")
    bgs = TX.shingles("text", 2)
    # pre-filter on the raw column (≥ 2 tokens): the former post-projection
    # n_tokens >= 2 was predicate-pushed below the select and re-ran the
    # tokenize fold for the check (r15; functions.text.has_tokens)
    per_doc = docs.filter(TX.has_tokens("text", 2)).select(
        "doc_id",
        F.size(toks).cast("int").alias("n_tokens"),
        F.round(
            F.lit(1.0) - F.size(F.array_distinct(bgs)).cast("double") / F.size(bgs), 6
        ).alias("dup_bigram_frac"),
    )
    top = (
        docs.select("doc_id", F.explode(toks).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(
            F.round(F.max("c").cast("double") / F.sum("c"), 6).alias("top_token_frac")
        )
    )
    return per_doc.join(top, "doc_id").orderBy("doc_id")


@query(
    "contamination_overlap",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source, string_split({_NORM.format(c='text')}, ' ') AS toks
      FROM documents
    ), s AS (
      SELECT doc_id, source,
             list_distinct([array_to_string(toks[i:i+2], ' ')
                            for i in generate_series(1, len(toks) - 2)]) AS sh
      FROM t
    ), eval_sh AS (
      SELECT DISTINCT UNNEST(sh) AS tok FROM s WHERE doc_id < 25
    ), corpus AS (
      SELECT doc_id, source, UNNEST(sh) AS tok FROM s WHERE doc_id >= 25
    ), hits AS (
      SELECT c.doc_id, COUNT(*) AS shared
      FROM corpus c JOIN eval_sh e ON c.tok = e.tok
      GROUP BY c.doc_id
    ), per_doc AS (
      SELECT s.doc_id, s.source, COALESCE(h.shared, 0) AS shared
      FROM (SELECT doc_id, source FROM s WHERE doc_id >= 25) s
      LEFT JOIN hits h ON s.doc_id = h.doc_id
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN shared >= 5 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_contaminated,
           CAST(SUM(shared) AS BIGINT) AS total_shared_shingles
    FROM per_doc GROUP BY source ORDER BY source
    """,
    tags=("dedup", "text", "pipeline"),
)
def contamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination scan: per source, how many corpus documents
    share ≥ 5 distinct 3-gram shingles with the held-out eval set (here:
    doc_id < 25 stands in for the benchmark). The production shape at
    100 TB: the eval set's shingle dictionary is tiny and BROADCAST, the
    corpus is scanned once with a broadcast semi-join-style hit count —
    no shuffle of corpus text, only of (doc_id, hit) pairs."""
    docs = load_table(spark, sf_dir, "documents")
    # spread: the single-file fixture reads as ONE split, serializing the
    # per-row pass onto one core; pass-through once input splits reach
    # cluster parallelism (r15 A/B win recorded in OPTIMIZATION_r15.md)
    docs = DD.spread(docs)
    # shingle each side EXACTLY once: the eval set shingles 25 docs (tiny,
    # broadcast); the corpus shingles under the explode only — the per-doc
    # carrier relation reads just (doc_id, source) via a column-pruned scan
    # instead of re-evaluating the shingle expression a third time
    # (measured 3.4 s -> corpus-single-pass at sf0.1).
    eval_sh = (
        docs.filter(F.col("doc_id") < 25)
        .select(F.explode(F.array_distinct(TX.shingles("text", 3))).alias("tok"))
        .distinct()
    )
    corpus_base = docs.filter(F.col("doc_id") >= 25)
    hits = (
        corpus_base.select(
            "doc_id",
            F.explode(F.array_distinct(TX.shingles("text", 3))).alias("tok"),
        )
        .join(F.broadcast(eval_sh), "tok")
        .groupBy("doc_id")
        .agg(F.count("*").alias("shared"))
    )
    per_doc = corpus_base.select("doc_id", "source").join(
        hits, "doc_id", "left"
    ).select("source", F.coalesce("shared", F.lit(0)).alias("shared"))
    return (
        per_doc.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum((F.col("shared") >= 5).cast("bigint")).alias("n_contaminated"),
            F.sum("shared").alias("total_shared_shingles"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# round-5 additions #2: dedup clustering, PII scrub, unigram LM scoring,
# embedding quantization.
# ---------------------------------------------------------------------------


#: transitive-closure oracle shared by both connected-components variants
#: (label propagation and large-star/small-star): same edge set, same
#: fixpoint, so one recursive CTE verifies either algorithm.
_CLUSTER_ORACLE = f"""
    WITH RECURSIVE t AS (
      SELECT doc_id,
             string_split({_NORM.format(c='text')}, ' ') AS toks,
             md5({_NORM.format(c='text')}) AS fp
      FROM documents
    ), s AS (
      SELECT doc_id, fp,
             list_distinct([array_to_string(toks[i:i+2], ' ')
                            for i in generate_series(1, len(toks) - 2)]) AS sh
      FROM t
    ), p AS (
      SELECT doc_id, len(sh) AS sz, UNNEST(sh) AS tok FROM s WHERE len(sh) > 0
    ), jp AS (
      SELECT id_a, id_b FROM (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter,
               ANY_VALUE(a.sz) AS sz_a, ANY_VALUE(b.sz) AS sz_b
        FROM p a JOIN p b ON a.tok = b.tok AND a.doc_id < b.doc_id
        GROUP BY 1, 2
      ) WHERE inter * 1.0 / (sz_a + sz_b - inter) >= 0.5
    ), fpp AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM s a JOIN s b ON a.fp = b.fp AND a.doc_id < b.doc_id
    ), e AS (
      SELECT id_a, id_b FROM jp UNION SELECT id_a, id_b FROM fpp
    ), sym AS (
      SELECT id_a AS u, id_b AS v FROM e
      UNION SELECT id_b AS u, id_a AS v FROM e
    ), reach(u, v) AS (
      SELECT u, v FROM sym
      UNION
      SELECT r.u, y.v FROM reach r JOIN sym y ON r.v = y.u
    ), comp AS (
      SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_id FROM reach GROUP BY u
    )
    SELECT doc_id, cluster_id,
           COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
    FROM comp ORDER BY doc_id
    """


@query(
    "dedup_cluster_assign",
    oracle=_CLUSTER_ORACLE,
    tags=("dedup", "graph"),
)
def dedup_cluster_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster assignment: exact-dup (fingerprint) and near-dup
    (3-gram Jaccard >= 0.5) pairs merged into connected components, each doc
    labeled with its component's min doc_id and the cluster size — the step
    that turns PAIR detectors into per-cluster survivor decisions
    (pairwise picks can drop both ends of A-B while keeping both of B-C).

    Spark side: iterative min-label propagation (operators/graph.py —
    MapReduce-CC family, Kiveris et al. SoCC'14), one shuffle per round on
    (node, label) longs only, convergence via a single-scalar action; the
    oracle computes the same fixpoint with a recursive transitive-closure
    CTE. Rounds = component diameter (3-5 for real dup clusters)."""
    docs = load_table(spark, sf_dir, "documents")
    near_pairs = DD.ngram_jaccard_pairs(docs, threshold=0.5)
    near = near_pairs.select("id_a", "id_b")
    # exact-dup edges as a STAR (each doc -> its fingerprint group's min
    # id), not the fp x fp self-join: identical connected components, but
    # O(k) edges per k-duplicate group instead of O(k^2) — the self-join
    # is a quadratic blowup on hot fingerprints (think empty/boilerplate
    # docs at corpus scale) — and one window shuffle instead of the
    # two-sided join exchange.
    wfp = Window.partitionBy("fp")
    exact = (
        docs.select("doc_id", TX.fingerprint("text").alias("fp"))
        .withColumn("m", F.min("doc_id").over(wfp))
        .filter(F.col("doc_id") != F.col("m"))
        .select(F.col("m").alias("id_a"), F.col("doc_id").alias("id_b"))
    )
    comp = GR.connected_components(near.unionAll(exact))
    w = Window.partitionBy("cluster_id")
    out = (
        comp.select(
            F.col("node").alias("doc_id"), F.col("component").alias("cluster_id")
        )
        .withColumn("cluster_size", F.count("*").over(w))
        .orderBy("doc_id")
    )
    return with_persisted(out, comp, *getattr(near_pairs, "_cdl_persisted", ()))


@query(
    "dedup_cluster_star",
    oracle=_CLUSTER_ORACLE,
    tags=("dedup", "graph"),
)
def dedup_cluster_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster assignment via the ALTERNATING large-star/
    small-star algorithm (operators/graph.py, Kiveris et al. SoCC'14 §3)
    — the O(log n)-round variant that survives adversarial chain-shaped
    pair graphs where min-label propagation needs diameter rounds. Same
    edge set, same fixpoint, same output relation as
    ``dedup_cluster_assign``, so the same transitive-closure CTE is the
    oracle; a driver-green row here verifies the star kernel end-to-end
    against exact SQL semantics, not just against the sibling."""
    docs = load_table(spark, sf_dir, "documents")
    near_pairs = DD.ngram_jaccard_pairs(docs, threshold=0.5)
    near = near_pairs.select("id_a", "id_b")
    # exact-dup edges as a STAR (each doc -> its fingerprint group's min
    # id), not the fp x fp self-join: identical connected components, but
    # O(k) edges per k-duplicate group instead of O(k^2) — the self-join
    # is a quadratic blowup on hot fingerprints (think empty/boilerplate
    # docs at corpus scale) — and one window shuffle instead of the
    # two-sided join exchange.
    wfp = Window.partitionBy("fp")
    exact = (
        docs.select("doc_id", TX.fingerprint("text").alias("fp"))
        .withColumn("m", F.min("doc_id").over(wfp))
        .filter(F.col("doc_id") != F.col("m"))
        .select(F.col("m").alias("id_a"), F.col("doc_id").alias("id_b"))
    )
    comp = GR.connected_components(near.unionAll(exact), algorithm="star")
    w = Window.partitionBy("cluster_id")
    out = (
        comp.select(
            F.col("node").alias("doc_id"), F.col("component").alias("cluster_id")
        )
        .withColumn("cluster_size", F.count("*").over(w))
        .orderBy("doc_id")
    )
    return with_persisted(out, *getattr(near_pairs, "_cdl_persisted", ()))


@query(
    "text_pii_scrub",
    oracle=f"""
    WITH planted AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@mail.example.com'
                  || CASE WHEN doc_id % 3 = 0
                          THEN ' or admin' || CAST(doc_id * 7 AS VARCHAR)
                               || '@example.org'
                          ELSE '' END
                  || ' from 10.' || CAST(doc_id % 200 AS VARCHAR)
                  || '.' || CAST((doc_id * 7) % 256 AS VARCHAR)
                  || '.' || CAST(doc_id % 250 + 1 AS VARCHAR)
                  || ' tel 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
               AS t
      FROM documents
    ), scrubbed AS (
      SELECT doc_id, t,
             regexp_replace(
               regexp_replace(
                 regexp_replace(t,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}',
                   '<EMAIL>', 'g'),
                 '\\b[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}\\b',
                 '<IP>', 'g'),
               '\\b[0-9]{{3}}-[0-9]{{4}}\\b', '<PHONE>', 'g') AS clean
      FROM planted
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(t,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}')) AS INT)
             AS n_email,
           CAST(len(regexp_extract_all(t,
             '\\b[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}\\b'))
             AS INT) AS n_ipv4,
           CAST(len(regexp_extract_all(t, '\\b[0-9]{{3}}-[0-9]{{4}}\\b')) AS INT)
             AS n_phone,
           CAST(len(t) - len(clean) AS INT) AS n_chars_redacted,
           md5(clean) AS scrubbed_fp
    FROM scrubbed ORDER BY doc_id
    """,
    tags=("text", "pipeline"),
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction counts (emails / IPv4 / phone patterns,
    functions/text.py::PII_PATTERNS) over the corpus. The driver corpus is
    synthetic words, so deterministic PII is planted per doc with identical
    arithmetic in the DuckDB oracle (same device as the planted
    near-duplicates in dedup_embedding_neardup); patterns are restricted to
    the Java-regex/RE2-shared subset so both engines match byte-identically.
    Scan-local map — at 100 TB this is a pure projection over the corpus
    scan with zero shuffle (the final ORDER BY is the declared-output
    discipline, not part of the operator)."""
    docs = load_table(spark, sf_dir, "documents")
    docs = DD.spread(docs)  # single-file fixture reads as ONE split and
    # single-cores the per-row pass; pass-through once input splits reach
    # cluster parallelism (the 100 TB case). Measured at sf0.1: 1.63 -> 0.69 s (the regex chains were the single core).
    did = F.col("doc_id")
    planted = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        did.cast("string"),
        F.lit("@mail.example.com"),
        F.when(
            did % 3 == 0,
            F.concat(F.lit(" or admin"), (did * 7).cast("string"), F.lit("@example.org")),
        ).otherwise(F.lit("")),
        F.lit(" from 10."),
        (did % 200).cast("string"),
        F.lit("."),
        ((did * 7) % 256).cast("string"),
        F.lit("."),
        (did % 250 + 1).cast("string"),
        F.lit(" tel 555-"),
        F.lpad((did % 10000).cast("string"), 4, "0"),
    )
    # hoist the planted text AND the scrubbed form into their own
    # projections: ``t`` feeds four regex extractions and ``clean`` two
    # outputs, and multi-referenced non-cheap expressions block
    # CollapseProject, so each regexp_replace chain runs once per row
    # structurally instead of relying on codegen CSE (VERDICT r5 #2: the
    # CSE-reliant double pii_scrub evaluation swung 1.2s <-> 4.7s)
    t = docs.select("doc_id", planted.alias("t"))
    c = t.select("doc_id", "t", TX.pii_scrub("t").alias("clean"))
    return c.select(
        "doc_id",
        TX.pii_count("t", "email").cast("int").alias("n_email"),
        TX.pii_count("t", "ipv4").cast("int").alias("n_ipv4"),
        TX.pii_count("t", "phone").cast("int").alias("n_phone"),
        (F.length("t") - F.length("clean")).cast("int").alias("n_chars_redacted"),
        F.md5("clean").alias("scrubbed_fp"),
    ).orderBy("doc_id")


@query(
    "text_logprob_unigram",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, UNNEST(string_split({_NORM.format(c='text')}, ' ')) AS tok
      FROM documents
    ), v AS (
      SELECT tok, COUNT(*) AS c FROM t GROUP BY tok
    ), d AS (
      SELECT t.doc_id, COUNT(*) AS n, SUM(log2(v.c)) AS sl
      FROM t JOIN v USING (tok) GROUP BY t.doc_id
    )
    SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
           ROUND(sl / n - log2((SELECT CAST(SUM(c) AS DOUBLE) FROM v)), 6)
             AS avg_logprob
    FROM d ORDER BY doc_id
    """,
    tags=("text", "pipeline"),
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-unigram language-model score per document: mean log2
    probability of the doc's tokens under the corpus's own unigram
    distribution — the cheap perplexity proxy that flags gibberish (rare
    tokens => very negative) and boilerplate (common tokens => near zero).

    Two-pass shape: (1) token-count relation (groupBy token, map-side
    partial combine absorbs Zipf skew), (2) score join. The join is split
    Zipf-aware for 100 TB: the TOP-1024-token head — which covers the vast
    majority of token OCCURRENCES — joins via broadcast (zero shuffle of
    the exploded corpus for those rows), and only the rare-token tail
    takes the shuffle join, where AQE skew-split has nothing left to do.
    Only log2(count) sums are floating point; token counts stay exact
    integers, and the result is rounded in-query on both sides."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(TX.tokens("text")).alias("tok"))
    vocab = toks.groupBy("tok").agg(F.count("*").alias("c")).persist()
    total = vocab.agg(F.sum("c").cast("double").alias("total"))
    head = vocab.orderBy(F.desc("c"), "tok").limit(1024)
    head_scored = toks.join(F.broadcast(head), "tok").select("doc_id", "c")
    tail_scored = (
        toks.join(F.broadcast(head.select("tok")), "tok", "left_anti")
        .join(vocab, "tok")
        .select("doc_id", "c")
    )
    perdoc = (
        head_scored.unionAll(tail_scored)
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_tokens"), F.sum(F.log2("c")).alias("sl"))
    )
    out = (
        perdoc.crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            "n_tokens",
            F.round(F.col("sl") / F.col("n_tokens") - F.log2("total"), 6).alias(
                "avg_logprob"
            ),
        )
        .orderBy("doc_id")
    )
    return with_persisted(out, vocab)


@query(
    "text_logprob_bigram",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split({_NORM.format(c='text')}, ' ') AS toks
      FROM documents
    ), b AS (
      SELECT doc_id,
             UNNEST([array_to_string(toks[i:i+1], ' ')
                     for i in generate_series(1, len(toks) - 1)]) AS bg
      FROM t
    ), c2 AS (
      SELECT bg, COUNT(*) AS c2 FROM b GROUP BY bg
    ), c1 AS (
      SELECT string_split(bg, ' ')[1] AS w1, SUM(c2) AS c1
      FROM c2 GROUP BY 1
    ), s AS (
      SELECT bg, log2(c2) - log2(c1) AS lp
      FROM c2 JOIN c1 ON string_split(c2.bg, ' ')[1] = c1.w1
    ), d AS (
      SELECT doc_id, COUNT(*) AS n, SUM(lp) AS sl
      FROM b JOIN s USING (bg) GROUP BY doc_id
    )
    SELECT doc_id, CAST(n AS BIGINT) AS n_bigrams,
           ROUND(sl / n, 6) AS avg_logprob
    FROM d ORDER BY doc_id
    """,
    tags=("text", "pipeline"),
)
def text_logprob_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-bigram conditional language-model score per document: mean
    log2 P(w2|w1) over the doc's bigrams, where P(w2|w1) =
    C(w1 w2) / C(w1·) and C(w1·) is w1's bigram-PREFIX count (so the
    conditional sums to 1 exactly, with no smoothing needed — every scored
    bigram exists in the corpus by construction). The bigram step beyond
    ``text_logprob_unigram``: unigram scoring can't see scrambled word
    order, bigram scoring penalizes it — the standard CCNet/KenLM-style
    quality filter, here relational instead of an external LM binary.

    Determinism discipline: counts are exact integers; each distinct
    bigram's lp = log2(c2) - log2(c1) is the same two correctly-rounded
    libm calls in both engines; per-doc SUM(lp) association order can
    differ but the 1e-6 rounding absorbs double last-ulp wiggle (sums of
    ~500 values carry ~1e-11 absolute error). Shape: one shuffle for
    bigram counts (map-side partial combine), prefix counts derived from
    the COUNTED relation (never re-scanning the corpus), Zipf head-1024
    broadcast join for the score lookup, tail via shuffle join — same
    100 TB split as the unigram query."""
    docs = load_table(spark, sf_dir, "documents")
    docs = DD.spread(docs)  # single-file fixture reads as ONE split and
    # single-cores the per-row pass; pass-through once input splits reach
    # cluster parallelism (the 100 TB case). Measured at sf0.1: 2.80 -> 1.63 s (shingling + two bg scans).
    bg = docs.select("doc_id", F.explode(TX.shingles("text", 2)).alias("bg"))
    c2 = bg.groupBy("bg").agg(F.count("*").alias("c2")).persist()
    c1 = c2.groupBy(F.split_part(F.col("bg"), F.lit(" "), F.lit(1)).alias("w1")).agg(
        F.sum("c2").alias("c1")
    )
    score = (
        c2.withColumn("w1", F.split_part(F.col("bg"), F.lit(" "), F.lit(1)))
        .join(c1, "w1")
        .select("bg", "c2", (F.log2("c2") - F.log2("c1")).alias("lp"))
        .persist()
    )
    head = score.orderBy(F.desc("c2"), "bg").limit(1024).select("bg", "lp")
    scored = bg.join(F.broadcast(head), "bg").select("doc_id", "lp").unionAll(
        bg.join(F.broadcast(head.select("bg")), "bg", "left_anti")
        .join(score, "bg")
        .select("doc_id", "lp")
    )
    out = (
        scored.groupBy("doc_id")
        .agg(F.count("*").alias("n_bigrams"), F.sum("lp").alias("sl"))
        .select(
            "doc_id",
            "n_bigrams",
            F.round(F.col("sl") / F.col("n_bigrams"), 6).alias("avg_logprob"),
        )
        .orderBy("doc_id")
    )
    return with_persisted(out, c2, score)


@query(
    "embedding_quantize_int8",
    oracle="""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), a AS (
      SELECT vec_id, v,
             greatest(list_aggregate(list_transform(v, x -> abs(x)), 'max'),
                      1e-30) / 127.0 AS scale
      FROM e
    ), q AS (
      SELECT vec_id, v, scale,
             list_transform(v, x -> CAST(floor(x / scale + 0.5) AS INT)) AS qi
      FROM a
    )
    SELECT vec_id, ROUND(scale, 6) AS scale,
           CAST(list_aggregate(qi, 'sum') AS BIGINT) AS q_sum,
           ROUND(list_aggregate(
             [ (v[i] / scale - qi[i]) * (v[i] / scale - qi[i])
               for i in generate_series(1, len(v)) ], 'sum'), 6) AS sq_err_codes
    FROM q ORDER BY vec_id
    """,
    tags=("similarity", "pipeline"),
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 vector quantization (the ANN-index compression step:
    4x smaller than float32, SIMD-dot-friendly): per-vector scale =
    max|x|/127, q_i = floor(x_i/scale + 0.5), plus the reconstruction
    error. q_sum is an exact-integer checksum of the quantized codes (both
    engines do identical IEEE double division + floor), so the oracle pins
    the code assignment itself, not just rounded floats. Scan-local map
    over the embeddings scan — zero shuffle at any scale.

    The HOFs are SQL-parsed (F.expr) on purpose: PySpark Column-lambdas
    built in separate selects can MIS-BIND their variables when Catalyst's
    projection collapse inlines one lambda inside another (observed here:
    the error fold silently summed a wrong binding, off by 0.2% — value
    depended on whether a filter was pushed below the collapse). The SQL
    parser names every lambda variable in one pass, which is immune.
    Error is reported in CODE units — sum((x/scale - q)^2) ≈ dims/12 —
    so 6-decimal rounding keeps ~8 significant digits (the raw-unit form,
    ~3e-5, left 2 digits and flipped rounding boundaries between engines).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    staged = emb.select(
        "vec_id", F.expr("CAST(embedding AS ARRAY<DOUBLE>)").alias("v")
    ).select(
        "vec_id",
        "v",
        F.expr(
            "greatest(aggregate(v, 0D, (acc, x) -> greatest(acc, abs(x))), 1e-30)"
            " / 127D"
        ).alias("scale"),
    )
    return staged.select(
        "vec_id",
        F.round("scale", 6).alias("scale"),
        F.expr(
            "aggregate(transform(v, x -> CAST(floor(x/scale + 0.5D) AS BIGINT)),"
            " 0L, (acc, x) -> acc + x)"
        ).alias("q_sum"),
        F.round(
            F.expr(
                "aggregate(transform(v, x -> (x/scale - floor(x/scale + 0.5D))"
                " * (x/scale - floor(x/scale + 0.5D))), 0D, (acc, x) -> acc + x)"
            ),
            6,
        ).alias("sq_err_codes"),
    ).orderBy("vec_id")


@query(
    "pack_sequences",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all({_NORM.format(c='text')},
                  '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS BIGINT) AS n_tokens
      FROM documents
    ), f AS (
      SELECT doc_id, n_tokens FROM t WHERE n_tokens > 0
    ), c AS (
      SELECT doc_id, n_tokens,
             SUM(n_tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM f
    )
    SELECT doc_id, n_tokens,
           CAST((cum - n_tokens) // 2048 AS BIGINT) AS start_bin,
           CAST((cum - 1) // 2048 AS BIGINT) AS end_bin,
           CAST((cum - n_tokens) % 2048 AS BIGINT) AS offset_in_bin
    FROM c ORDER BY doc_id
    """,
    tags=("text", "pipeline"),
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training batches: documents are concatenated in
    doc_id order and chunked into fixed 2048-token context windows (the
    concat-and-chunk packing real LLM pipelines use — docs may span bins);
    each doc reports its start/end bin and offset — pure integer outputs.

    The global running token count is a DISTRIBUTED two-phase prefix sum,
    not a single-partition global window (Window.orderBy without
    partitionBy collapses 100 TB onto one task): range-repartition by
    doc_id, per-partition token totals (a tiny N_partitions-row aggregate
    collected as planning metadata, same class as the IVF routing table),
    exclusive base offsets broadcast back, then a per-partition cumulative
    window. Output is invariant to the partition boundaries, so the
    range-partitioner's sampling cannot affect values."""
    bin_tokens = 2048
    docs = load_table(spark, sf_dir, "documents")
    nrm = TX.normalize_text(F.col("text"))
    # pre-filter on the raw column: n_tokens > 0 ⟺ any non-whitespace char
    # (every such char matches a BPE_ISH alternative) — filtering on the
    # computed n_tokens pushed the whole normalize+regex fold below the
    # projection and ran it twice per row (r15; functions.text.has_tokens)
    t = docs.filter(TX.has_tokens("text")).select(
        "doc_id",
        F.size(F.regexp_extract_all(nrm, F.lit(TX.BPE_ISH_PATTERN), F.lit(0)))
        .cast("bigint")
        .alias("n_tokens"),
    )
    n_parts = max(2, spark.sparkContext.defaultParallelism)
    # persist: the offsets pass AND the final pass both consume this
    # relation — without it the regex tokenization + range shuffle run
    # twice (measured 1.64 s -> single-pass at sf0.1). Also pins the
    # sampled range boundaries (output values are invariant to them, but
    # pinning keeps pids stable for free).
    parts = (
        t.repartitionByRange(n_parts, "doc_id")
        .withColumn("pid", F.spark_partition_id())
        .persist()
    )
    sums = sorted(
        parts.groupBy("pid").agg(F.sum("n_tokens").alias("s")).collect(),
        key=lambda r: r["pid"],
    )
    bases, running = [], 0
    for r in sums:
        bases.append((r["pid"], running))
        running += r["s"]
    base_df = local_df(spark, bases, "pid int, base bigint")
    w = (
        Window.partitionBy("pid")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = (
        parts.join(F.broadcast(base_df), "pid")
        .withColumn("cum", F.col("base") + F.sum("n_tokens").over(w))
    )
    # integer DIV, not double-divide-then-cast: cum is exact int64 (a 100 TB
    # corpus overflows double's 53-bit mantissa long before int64)
    out = c.select(
        "doc_id",
        "n_tokens",
        F.expr(f"(cum - n_tokens) div {bin_tokens}").alias("start_bin"),
        F.expr(f"(cum - 1) div {bin_tokens}").alias("end_bin"),
        F.expr(f"(cum - n_tokens) % {bin_tokens}").alias("offset_in_bin"),
    ).orderBy("doc_id")
    return with_persisted(out, parts)


@query(
    "text_chunk_overlap",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split({_NORM.format(c='text')}, ' ') AS toks
      FROM documents
    ), c AS (
      SELECT doc_id,
             UNNEST([ {{'i': i, 'chunk': array_to_string(toks[i:i+63], ' ')}}
                      for i in generate_series(1, len(toks), 48)
                      if len(toks) - i >= 8 or i = 1 ]) AS u
      FROM t
    )
    SELECT doc_id, CAST((u.i - 1) // 48 AS INT) AS chunk_id,
           CAST(len(string_split(u.chunk, ' ')) AS INT) AS chunk_tokens,
           md5(u.chunk) AS chunk_fp
    FROM c ORDER BY doc_id, chunk_id
    """,
    tags=("text", "pipeline"),
)
def text_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunker (the RAG/embedding-prep step):
    64-token windows at stride 48 (16-token overlap), chunks shorter than
    8 tokens merged away unless they are the doc's only chunk. Scan-local:
    sequence + transform + posexplode — the chunk table is produced in one
    pass over the corpus scan with zero shuffle; md5 chunk fingerprints
    give downstream dedup/indexing a stable key."""
    window, stride, min_tail = 64, 48, 8
    docs = load_table(spark, sf_dir, "documents")
    # spread: the single-file fixture reads as ONE split, serializing the
    # per-row pass onto one core; pass-through once input splits reach
    # cluster parallelism (r15 A/B win recorded in OPTIMIZATION_r15.md)
    docs = DD.spread(docs)
    toks = TX.tokens("text")
    t = docs.select("doc_id", toks.alias("toks"), F.size(toks).alias("n"))
    starts = F.filter(
        F.sequence(F.lit(1), F.col("n"), F.lit(stride)),
        lambda i: (F.col("n") - i >= min_tail) | (i == 1),
    )
    chunks = t.select(
        "doc_id",
        F.posexplode(
            F.transform(
                starts,
                lambda i: F.array_join(F.slice("toks", i, window), " "),
            )
        ).alias("chunk_id", "chunk"),
    )
    return chunks.select(
        "doc_id",
        F.col("chunk_id").cast("int").alias("chunk_id"),
        F.size(F.split("chunk", " ")).cast("int").alias("chunk_tokens"),
        F.md5("chunk").alias("chunk_fp"),
    ).orderBy("doc_id", "chunk_id")


@query(
    "text_bm25_topk",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, UNNEST(string_split({_NORM.format(c='text')}, ' ')) AS term
      FROM documents
    ), dlen AS (
      SELECT doc_id, COUNT(*) AS len_d FROM t GROUP BY doc_id
    ), stats AS (
      SELECT COUNT(*) AS n, AVG(len_d) AS avg_len FROM dlen
    ), tfq AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM t
      WHERE term IN ('table', 'spark', 'value') GROUP BY doc_id, term
    ), dfq AS (
      SELECT term, COUNT(*) AS df FROM tfq GROUP BY term
    ), scored AS (
      SELECT tfq.doc_id,
             SUM(ln((stats.n - dfq.df + 0.5) / (dfq.df + 0.5) + 1.0)
                 * (tfq.tf * 2.2)
                 / (tfq.tf + 1.2 * (0.25 + 0.75 * dlen.len_d / stats.avg_len)))
               AS s
      FROM tfq
      JOIN dfq USING (term)
      JOIN dlen USING (doc_id)
      CROSS JOIN stats
      GROUP BY tfq.doc_id
    )
    SELECT doc_id, ROUND(s, 6) AS bm25
    FROM scored
    ORDER BY bm25 DESC, doc_id
    LIMIT 20
    """,
    tags=("text", "pipeline"),
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval scoring (k1 = 1.2, b = 0.75, the Robertson idf with
    +1 smoothing) for a pinned 3-term query — the lexical half of a RAG
    retrieval stack next to the ANN probes. Only the query terms' postings
    flow past the first filter, so per-query cost is O(matching docs), not
    corpus-sized; doc lengths and the global (N, avg_len) are one rollup +
    a broadcast 1-row relation. The per-doc sum spans ≤3 terms and the
    score rounds at 1e-6 before the ORDER BY on both engines, so libm
    last-ulp drift can't reorder the top-20."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", F.explode(TX.tokens("text")).alias("term"))
    dlen = t.groupBy("doc_id").agg(F.count("*").alias("len_d"))
    stats = dlen.agg(
        F.count("*").alias("n"), F.avg("len_d").alias("avg_len")
    )
    tfq = (
        t.filter(F.col("term").isin("table", "spark", "value"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    dfq = tfq.groupBy("term").agg(F.count("*").alias("df"))
    idf = F.log((F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    norm = F.col("tf") + 1.2 * (0.25 + 0.75 * F.col("len_d") / F.col("avg_len"))
    return (
        tfq.join(F.broadcast(dfq), "term")
        .join(dlen, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.sum(idf * (F.col("tf") * 2.2) / norm).alias("s"))
        .select("doc_id", F.round("s", 6).alias("bm25"))
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(20)
    )


@query(
    "text_tfidf_keywords",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, UNNEST(string_split({_NORM.format(c='text')}, ' ')) AS term
      FROM documents
    ), tf AS (
      SELECT doc_id, term, COUNT(*) AS c FROM t GROUP BY doc_id, term
    ), n_docs AS (
      SELECT COUNT(DISTINCT doc_id) AS n FROM t
    ), df AS (
      SELECT term, COUNT(*) AS df FROM tf GROUP BY term
    ), scored AS (
      SELECT tf.doc_id, tf.term, tf.c, df.df,
             ROW_NUMBER() OVER (PARTITION BY tf.doc_id
                                ORDER BY tf.c DESC, df.df ASC, tf.term ASC)
               AS rank
      FROM tf JOIN df USING (term)
    )
    SELECT doc_id, term, CAST(rank AS INT) AS rank,
           ROUND(c * (ln(((SELECT n FROM n_docs) + 1.0) / (df + 1.0)) + 1.0), 6)
             AS tfidf
    FROM scored WHERE rank <= 5
    ORDER BY doc_id, rank
    """,
    tags=("text", "pipeline"),
)
def text_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 distinctive terms per document by smoothed tf-idf
    (idf = ln((N+1)/(df+1)) + 1). The RANKING runs entirely on exact
    integers — (term count DESC, document frequency ASC, term ASC) orders
    identically to tf*idf for fixed tf because idf is monotone-decreasing
    in df, and integer ordering cannot be flipped by cross-engine libm
    last-ulp differences the way a float ORDER BY could; the float tfidf
    score is output-only, rounded on both sides. Shape: two shuffles
    (doc-term count, term df), then the df join splits Zipf-aware exactly
    like text_logprob_unigram — top-1024 head terms (most of the (doc,term)
    rows) via broadcast, rare tail via shuffle join — and a per-doc top-k
    window; AQE turns rank<=5 into a partial top-k per partition.

    The tf relation has three consumers (n_docs, head leg, tail leg) and
    is deliberately NOT persisted: the legs prune different columns, so
    Spark can't reuse the exchange, and a measured A/B at sf0.1 put
    recompute at 1.27 s vs 1.94 s MEMORY_AND_DISK / 2.11 s DISK_ONLY —
    the cache write+read costs more than three passes over a scan-local
    tokenize + map-side-combined count. At 100 TB the trade flips
    (re-tokenizing the corpus 3x dwarfs a DISK_ONLY persist of the narrow
    (doc, term, c) relation); reinstate ``tf.persist(StorageLevel.
    DISK_ONLY)`` there."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", F.explode(TX.tokens("text")).alias("term"))
    tf = t.groupBy("doc_id", "term").agg(F.count("*").alias("c"))
    # N as a broadcast one-row relation, not a driver count(): keeps the
    # whole query one lazy job (no eager action materializing tf early)
    n_rel = tf.agg(F.count_distinct("doc_id").alias("n_docs"))
    df_rel = tf.groupBy("term").agg(F.count("*").alias("df"))
    head = df_rel.orderBy(F.desc("df"), "term").limit(1024)
    with_df = (
        tf.join(F.broadcast(head), "term")
        .unionAll(
            tf.join(F.broadcast(head.select("term")), "term", "left_anti").join(
                df_rel, "term"
            )
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("c"), F.asc("df"), F.asc("term")
    )
    scored = with_df.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= 5
    )
    out = (
        scored.crossJoin(F.broadcast(n_rel))
        .select(
            "doc_id",
            "term",
            F.col("rank").cast("int").alias("rank"),
            F.round(
                F.col("c")
                * (
                    F.log(
                        (F.col("n_docs").cast("double") + 1.0) / (F.col("df") + 1.0)
                    )
                    + 1.0
                ),
                6,
            ).alias("tfidf"),
        )
        .orderBy("doc_id", "rank")
    )
    return out


@query(
    "sample_mixture_rebalance",
    oracle=f"""
    WITH c AS (
      SELECT source, CAST(substr(source, 4) AS INT) AS idx, COUNT(*) AS n
      FROM documents GROUP BY 1, 2
    ), k AS (
      SELECT MIN(n * (idx + 1)) AS kk FROM c
    ), quota AS (
      SELECT source,
             LEAST(n, CAST((SELECT kk FROM k) // (idx + 1) AS BIGINT))
               AS n_keep
      FROM c
    ), r AS (
      SELECT source, doc_id,
             ROW_NUMBER() OVER (PARTITION BY source
               ORDER BY md5({_NORM.format(c='text')}), doc_id) AS rank
      FROM documents
    )
    SELECT r.source, r.doc_id, CAST(r.rank AS INT) AS rank
    FROM r JOIN quota USING (source)
    WHERE r.rank <= quota.n_keep
    ORDER BY r.source, r.doc_id
    """,
    tags=("text", "pipeline"),
)
def sample_mixture_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic downsampling to a target source mixture — the corpus
    mixing step of a training pipeline. Target weight for source ``srcI``
    is ∝ 1/(I+1); the binding source sets the global scale
    K = min_s(count_s · (idx_s+1)) and each source keeps
    quota_s = K div (idx_s+1) docs — ALL integer arithmetic, so quotas are
    engine-exact (no float mixture math to drift). Selection within a
    source is content-hash order (the same reproducible-sample device as
    sample_stratified): stable across runs, partitionings and cluster
    sizes, and new corpus files cannot displace previously kept docs
    except through the quota itself. One shuffle on the stratum key for
    the rank window; the tiny per-source quota relation broadcasts."""
    docs = load_table(spark, sf_dir, "documents")
    c = docs.groupBy(
        "source", F.substring("source", 4, 10).cast("int").alias("idx")
    ).agg(F.count("*").alias("n"))
    k = c.agg(F.min(F.col("n") * (F.col("idx") + 1)).alias("kk"))
    quota = c.crossJoin(F.broadcast(k)).select(
        "source",
        F.least(
            F.col("n"), F.expr("kk div (idx + 1)").cast("bigint")
        ).alias("n_keep"),
    )
    w = Window.partitionBy("source").orderBy(TX.fingerprint("text"), F.col("doc_id"))
    r = docs.select("source", "doc_id", F.row_number().over(w).alias("rank"))
    return (
        r.join(F.broadcast(quota), "source")
        .filter(F.col("rank") <= F.col("n_keep"))
        .select("source", "doc_id", F.col("rank").cast("int").alias("rank"))
        .orderBy("source", "doc_id")
    )


@query(
    "dedup_containment",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             string_split(lower(trim(regexp_replace(text, '[ \\t\\n\\r]+', ' ', 'g'))), ' ') AS toks
      FROM documents
    ), s AS (
      SELECT doc_id,
             list_distinct([array_to_string(toks[i:i+2], ' ')
                            for i in generate_series(1, len(toks) - 2)]) AS sh
      FROM t
    ), p AS (
      SELECT doc_id, len(sh) AS sz, UNNEST(sh) AS tok FROM s WHERE len(sh) > 0
    ), pairs AS (
      SELECT a.doc_id AS src_id, b.doc_id AS dst_id, COUNT(*) AS inter,
             ANY_VALUE(a.sz) AS sz_src
      FROM p a JOIN p b ON a.tok = b.tok AND a.doc_id <> b.doc_id
      GROUP BY 1, 2
    )
    SELECT src_id, dst_id, ROUND(inter * 1.0 / sz_src, 6) AS containment
    FROM pairs
    WHERE inter * 1.0 / sz_src >= 0.6
    ORDER BY src_id, dst_id
    """,
    tags=("dedup",),
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed 3-gram containment pairs (|src∩dst| / |src| ≥ 0.6) —
    sub-document duplication that symmetric Jaccard misses: a short doc
    quoted inside a long one scores ≈0 on Jaccard but 1.0 on containment
    of the short side (operators.dedup.ngram_containment_pairs; same
    inverted-index Σdf² plan as the Jaccard query, different denominator)."""
    docs = load_table(spark, sf_dir, "documents")
    return DD.ngram_containment_pairs(docs, threshold=0.6, shingle_n=3).orderBy(
        "src_id", "dst_id"
    )


@query(
    "events_retention_cohorts",
    oracle="""
    WITH uw AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS wk
      FROM events
    ), first AS (
      SELECT user_id, MIN(wk) AS cohort_week FROM uw GROUP BY 1
    )
    SELECT f.cohort_week,
           CAST(date_diff('day', f.cohort_week, uw.wk) / 7 AS INT) AS week_offset,
           COUNT(DISTINCT uw.user_id) AS active_users
    FROM uw JOIN first f ON uw.user_id = f.user_id
    GROUP BY 1, 2
    ORDER BY cohort_week, week_offset
    """,
    tags=("events", "analytics"),
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix: users bucketed by first-active week,
    distinct-user counts at each week offset — the classic product-analytics
    rollup the funnel/top-users queries don't cover. Plan: one distinct on
    (user, week), a per-user min, a self-join co-partitioned on user_id
    (AQE reuses the exchange), then the small (cohort, offset) aggregate —
    every shuffle keys on user_id or the tiny output grid, so the shape
    holds when users are billions of rows."""
    ev = load_table(spark, sf_dir, "events")
    uw = ev.select("user_id", F.date_trunc("week", "ts").alias("wk")).distinct()
    first = uw.groupBy("user_id").agg(F.min("wk").alias("cohort_week"))
    return (
        uw.join(first, "user_id")
        .groupBy(
            "cohort_week",
            (F.datediff("wk", "cohort_week") / 7).cast("int").alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("active_users"))
        .orderBy("cohort_week", "week_offset")
    )


@query(
    "knn_centroid_classify",
    oracle="""
    WITH u AS (
      SELECT vec_id, label,
             CAST(UNNEST(embedding) AS DOUBLE) AS val,
             generate_subscripts(embedding, 1) AS pos
      FROM embeddings
    ), cent AS (
      SELECT label AS clabel, pos, AVG(val) AS cval FROM u GROUP BY 1, 2
    ), dist AS (
      SELECT u.vec_id, ANY_VALUE(u.label) AS label, c.clabel,
             SUM((u.val - c.cval) * (u.val - c.cval)) AS d2
      FROM u JOIN cent c ON u.pos = c.pos
      GROUP BY u.vec_id, c.clabel
    ), pred AS (
      SELECT vec_id, label, clabel,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, clabel) AS rn
      FROM dist
    )
    SELECT CAST(label AS INT) AS label, CAST(clabel AS INT) AS pred_label,
           COUNT(*) AS n
    FROM pred WHERE rn = 1
    GROUP BY 1, 2
    ORDER BY label, pred_label
    """,
    tags=("similarity", "embeddings"),
)
def knn_centroid_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid label confusion matrix: per-label mean embedding,
    every vector assigned to its closest centroid (squared L2, ties to the
    smaller label), counts of (true label, predicted label) — the label
    purity check a curation pipeline runs over tagged embeddings, and
    structurally the IVF cell-assignment step. Plan: posexplode to
    (vec, pos, val), centroids via a (label, pos) partial aggregate
    (k×dim rows — broadcast), distances through the broadcast join with
    map-side combine collapsing n·dim·k to n·k before the shuffle, one
    window for the argmin, tiny confusion aggregate."""
    emb = load_table(spark, sf_dir, "embeddings")
    u = emb.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("pos0", "valf"),
    ).select("vec_id", "label", (F.col("pos0") + 1).alias("pos"), F.col("valf").cast("double").alias("val"))
    cent = u.groupBy(F.col("label").alias("clabel"), "pos").agg(F.avg("val").alias("cval"))
    dist = (
        u.join(F.broadcast(cent), "pos")
        .groupBy("vec_id", "clabel")
        .agg(
            F.first("label").alias("label"),
            F.sum((F.col("val") - F.col("cval")) * (F.col("val") - F.col("cval"))).alias("d2"),
        )
    )
    w = Window.partitionBy("vec_id").orderBy("d2", "clabel")
    return (
        dist.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .groupBy(F.col("label").cast("int").alias("label"), F.col("clabel").cast("int").alias("pred_label"))
        .agg(F.count("*").alias("n"))
        .orderBy("label", "pred_label")
    )


_SRP_CACHE: dict[tuple[int, str], DataFrame] = {}


def _sketch_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """On-disk SRP sketch index (neighbor_id, emb, sig), built once per
    corpus by :func:`_built` like the IVF/PQ artifacts. No model sidecar: the hyperplanes
    are seeded and trainless, so a fresh session reconstructs them from
    the seed and probes the parquet directly (similarity.sketch_index)."""

    def build(path: str) -> None:
        emb = load_table(spark, sf_dir, "embeddings")
        SIM.sketch_index(emb, dim=_emb_dim(spark, sf_dir)).write.parquet(path)

    path = _built("srp", sf_dir, ("embeddings",), build)
    key = (id(spark), path)
    if key not in _SRP_CACHE:
        _SRP_CACHE[key] = spark.read.parquet(path)
    return _SRP_CACHE[key]


@query(
    "knn_sketch_probe",
    oracle=_KNN_PROBE_CONTRACT_ORACLE,
    tags=("similarity", "ann", "probe"),
)
def knn_sketch_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probe-only sign-sketch ANN: Hamming prune + exact re-rank against
    the prewritten parquet sketch index — what a serving query costs once
    the index exists, the same timed-surface split the IVF and PQ probes
    declare (knn_sketch_topk keeps timing build + exact side + contract).

    Declared output (round 6, fixing VERDICT r5 "What's wrong" #1): the
    probe joins the prewritten exact-top-k ground truth (:func:`_gt_topk`)
    into a DuckDB-recomputable per-query contract row — full value-hash
    verdict with the probe-only timed surface. recall_ok keeps
    knn_sketch_topk's ≥8/10 bound (seeded planes, deterministic)."""
    idx = _sketch_indexed(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id").isin(0, 1, 2))
    probe = SIM.knn_sketch_probe(idx, queries, k=10, dim=_emb_dim(spark, sf_dir))
    return _knn_probe_contract(_gt_topk(spark, sf_dir), probe, min_hits=8)


# ---------------------------------------------------------------------------
# round-6 additions: corpus n-gram stats, Zipf diagnostics, embedding QA
# ---------------------------------------------------------------------------


@query(
    "text_bigram_top",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split({_NORM.format(c='text')}, ' ') AS toks
      FROM documents
    ), p AS (
      SELECT doc_id,
             UNNEST([toks[i] || ' ' || toks[i+1]
                     for i in generate_series(1, len(toks) - 1)]) AS bigram
      FROM t WHERE len(toks) >= 2
    ), b AS (
      SELECT bigram, COUNT(*) AS n, COUNT(DISTINCT doc_id) AS n_docs
      FROM p GROUP BY bigram
    ), r AS (
      SELECT bigram, n, n_docs,
             CAST(ROW_NUMBER() OVER (ORDER BY n DESC, bigram) AS INT) AS rnk
      FROM b
    )
    SELECT bigram, n, n_docs, rnk FROM r WHERE rnk <= 20 ORDER BY rnk
    """,
    tags=("text",),
)
def text_bigram_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus top-20 bigrams with document frequency — the n-gram
    statistics pass behind boilerplate detection and stop-phrase lists.
    Shape: one shingling pass (functions.text.shingles n=2 — the zip_with
    form, no per-element re-tokenization), one shuffle for the (bigram)
    count with map-side combine absorbing the Zipf head, then a global
    top-20 via TakeOrderedAndProject; the rank window runs AFTER the
    limit, over 20 rows — never over the full vocabulary."""
    docs = load_table(spark, sf_dir, "documents")
    docs = DD.spread(docs)  # single-file fixture reads as ONE split and
    # single-cores the per-row pass; pass-through once input splits reach
    # cluster parallelism (the 100 TB case). Measured at sf0.1: 1.21 -> 0.67 s.
    big = docs.select("doc_id", F.explode(TX.shingles("text", 2)).alias("bigram"))
    counts = big.groupBy("bigram").agg(
        F.count("*").alias("n"), F.count_distinct("doc_id").alias("n_docs")
    )
    top = counts.orderBy(F.desc("n"), "bigram").limit(20)
    w = Window.orderBy(F.desc("n"), "bigram")
    return top.withColumn("rnk", F.row_number().over(w).cast("int")).orderBy("rnk")


@query(
    "text_zipf_slope",
    oracle=f"""
    WITH t AS (
      SELECT UNNEST(string_split({_NORM.format(c='text')}, ' ')) AS tok
      FROM documents
    ), v AS (
      SELECT tok, COUNT(*) AS c FROM t WHERE tok <> '' GROUP BY tok
    ), r AS (
      SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, tok) AS rank FROM v
    ), top AS (
      SELECT * FROM r WHERE rank <= 1000
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_terms,
           ROUND(regr_slope(log2(c), log2(rank)), 6) AS zipf_slope,
           ROUND(regr_r2(log2(c), log2(rank)), 6) AS zipf_r2
    FROM top
    """,
    tags=("text", "pipeline"),
)
def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit over the corpus vocabulary: OLS slope + R² of
    log2(freq) vs log2(rank) on the top-1000 tokens — the cheap corpus
    health diagnostic (natural language sits near slope −1; machine spam
    and template floods bend it). Shape: one token-count shuffle, global
    top-1000 via TakeOrderedAndProject (the rank window then runs over
    1000 rows, never the whole vocabulary), one regr_slope/regr_r2
    aggregate — both engines run the same Welford-style kernels and the
    result is rounded in-query."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(TX.tokens("text")).alias("tok")).filter(
        F.col("tok") != ""
    )
    v = toks.groupBy("tok").agg(F.count("*").alias("c"))
    top = v.orderBy(F.desc("c"), "tok").limit(1000)
    w = Window.orderBy(F.desc("c"), "tok")
    ranked = top.withColumn("rank", F.row_number().over(w))
    return ranked.agg(
        F.count("*").cast("bigint").alias("n_terms"),
        F.round(F.regr_slope(F.log2("c"), F.log2("rank")), 6).alias("zipf_slope"),
        F.round(F.regr_r2(F.log2("c"), F.log2("rank")), 6).alias("zipf_r2"),
    )


@query(
    "embedding_outlier_zscore",
    oracle="""
    WITH n AS (
      SELECT vec_id, label,
             sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                                          x -> x * x))) AS nrm
      FROM embeddings
    ), s AS (
      SELECT label, AVG(nrm) AS mu, STDDEV_POP(nrm) AS sd
      FROM n GROUP BY label
    )
    SELECT n.label,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(SUM(CASE WHEN sd > 0 AND ABS((nrm - mu) / sd) > 2
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           ROUND(MAX(CASE WHEN sd > 0 THEN ABS((nrm - mu) / sd)
                          ELSE 0 END), 6) AS max_abs_z
    FROM n JOIN s ON n.label = s.label
    GROUP BY n.label
    ORDER BY n.label
    """,
    tags=("embeddings", "pipeline"),
)
def embedding_outlier_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding-norm outlier screen: z-score of each vector's
    L2 norm against its label cohort, counting |z| > 2 — the embedding QA
    pass that flags collapsed or exploded vectors before they poison ANN
    index training. Two-pass shape: per-label moments (tiny aggregate,
    broadcast back), then a scan-local z projection — the norm fold is the
    same left-to-right double arithmetic in both engines."""
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.select("vec_id", "label", VX.norm("embedding").alias("nrm"))
    s = n.groupBy("label").agg(
        F.avg("nrm").alias("mu"), F.stddev_pop("nrm").alias("sd")
    )
    # sd == 0 (degenerate cohort: every norm identical) must not divide by
    # zero — Spark yields NULL there while DuckDB yields NaN (which sorts
    # GREATER than everything), so an unguarded z diverges between engine
    # and oracle. Both sides define z = 0 for that cohort.
    z = F.when(
        F.col("sd") > 0, F.abs((F.col("nrm") - F.col("mu")) / F.col("sd"))
    ).otherwise(F.lit(0.0))
    return (
        n.join(F.broadcast(s), "label")
        .groupBy("label")
        .agg(
            F.count("*").cast("bigint").alias("n_vectors"),
            F.sum(F.when(z > 2, 1).otherwise(0)).cast("bigint").alias("n_outliers"),
            F.round(F.max(z), 6).alias("max_abs_z"),
        )
        .orderBy("label")
    )


@query(
    "text_dup_rate_by_source",
    oracle=f"""
    WITH fp AS (
      SELECT source, md5({_NORM.format(c='text')}) AS f
      FROM documents
    ), per AS (
      SELECT source, f, COUNT(*) AS n FROM fp GROUP BY source, f
    )
    SELECT source,
           CAST(SUM(n) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_distinct,
           CAST(SUM(n) - COUNT(*) AS BIGINT) AS n_dup_docs,
           ROUND((SUM(n) - COUNT(*)) * 1.0 / SUM(n), 6) AS dup_rate
    FROM per
    GROUP BY source
    ORDER BY source
    """,
    tags=("dedup", "text", "pipeline"),
)
def text_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source exact-duplicate telemetry: docs, distinct fingerprints,
    duplicate count and rate — the curation dashboard row that decides
    which ingest source gets aggressive dedup. One shuffle on
    (source, fingerprint) with map-side combine, then a tiny per-source
    rollup; at 100 TB this is the cheapest dedup signal there is."""
    docs = load_table(spark, sf_dir, "documents")
    per = docs.groupBy("source", TX.fingerprint("text").alias("f")).agg(
        F.count("*").alias("n")
    )
    return (
        per.groupBy("source")
        .agg(
            F.sum("n").cast("bigint").alias("n_docs"),
            F.count("*").cast("bigint").alias("n_distinct"),
            (F.sum("n") - F.count("*")).cast("bigint").alias("n_dup_docs"),
            F.round((F.sum("n") - F.count("*")) / F.sum("n"), 6).alias("dup_rate"),
        )
        .orderBy("source")
    )


@query(
    "join_salted_skew",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           ROUND(SUM(value * weight), 6) AS weighted_value
    FROM events
    JOIN (VALUES ('click', 2.0), ('view', 1.0), ('purchase', 5.0),
                 ('signup', 3.0), ('error', 0.0)) AS d(event_type, weight)
      USING (event_type)
    GROUP BY user_id
    ORDER BY user_id
    """,
    tags=("join", "skew"),
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The explicit skew lever as a VERIFIED query: events (a 5-value
    join key — every key is a hot key) joined to a weight dim through
    operators.skew.salted_join. The salt spreads each hot key across 8
    buckets — (key, salt) becomes the shuffle key, the dim is exploded
    8× (tiny) — and the salt never escapes, so the result set is
    salt-independent and the plain-join oracle verifies it exactly.
    This is the fallback for skew AQE can't fix: the build side's
    hot-key rows land in ONE task's hash table however AQE splits the
    probe side."""
    from connected_data_lake_spark.operators import skew as SK

    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "value")
    dim = local_df(
        spark,
        [("click", 2.0), ("view", 1.0), ("purchase", 5.0), ("signup", 3.0), ("error", 0.0)],
        "event_type string, weight double",
    )
    j = SK.salted_join(ev, dim, on=["event_type"], buckets=8)
    return (
        j.groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(F.col("value") * F.col("weight")), 6).alias("weighted_value"),
        )
        .orderBy("user_id")
    )


@query(
    "multimodal_resize",
    oracle="""
    WITH m AS (
      SELECT doc_id,
             16 + doc_id % 64 AS w,
             16 + doc_id % 32 AS h,
             octet_length(encode(text)) AS plen
      FROM documents
    )
    SELECT doc_id,
           'img' AS fmt,
           CAST(16 AS INT) AS width,
           CAST(16 AS INT) AS height,
           CAST(1 + doc_id % 8 AS INT) AS n_frames,
           CAST(FLOOR(plen * LEAST(256.0 / (w * h), 1.0)) AS BIGINT) AS n_bytes
    FROM m
    ORDER BY doc_id
    """,
    tags=("multimodal",),
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize through the binary-rewrite batch shape (mapInPandas over
    Arrow batches): header rewritten to 16×16, payload truncated pro-rata
    by the area ratio, then decoded back to typed metadata. The oracle
    recomputes the truncation arithmetic from the generator — the same
    double product and floor in both engines — verifying the whole
    rewrite→decode round trip. A real codec slots into the same batch
    shape (the stub raises NotImplementedError on non-fake magic)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    resized = MM.resize_media(MM.attach_fake_media(docs), 16, 16)
    decoded = MM.decode_media(resized)
    return decoded.select(
        "doc_id",
        F.col("meta.format").alias("fmt"),
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        F.col("meta.n_frames").alias("n_frames"),
        F.col("meta.n_bytes").alias("n_bytes"),
    ).orderBy("doc_id")


@query(
    "pipeline_rag_corpus",
    oracle=f"""
    WITH q AS (
      SELECT doc_id, lang, {_NORM.format(c='text')} AS nrm,
             string_split({_NORM.format(c='text')}, ' ') AS toks
      FROM documents
    ), pass AS (
      SELECT doc_id, lang, toks FROM q
      WHERE len(toks) BETWEEN 5 AND 100000
        AND len(list_filter(toks, t -> list_contains(
              ['the','a','of','and','to','in','is','that','it','for'], t)))
            * 1.0 / len(toks) BETWEEN 0.01 AND 0.9
        AND (length(nrm) = 0 OR
             (length(nrm) - length(regexp_replace(nrm, '[^a-z0-9 ]', '', 'g')))
             * 1.0 / length(nrm) <= 0.3)
    ), c AS (
      SELECT doc_id, lang,
             UNNEST([ {{'i': i, 'chunk': array_to_string(toks[i:i+63], ' ')}}
                      for i in generate_series(1, len(toks), 48)
                      if len(toks) - i >= 8 or i = 1 ]) AS u
      FROM pass
    ), ch AS (
      SELECT doc_id, lang, CAST((u.i - 1) // 48 AS INT) AS chunk_id,
             md5(u.chunk) AS fp,
             len(string_split(u.chunk, ' ')) AS n_toks
      FROM c
    ), surv AS (
      SELECT * FROM ch
      QUALIFY ROW_NUMBER() OVER (PARTITION BY fp
                                 ORDER BY doc_id, chunk_id) = 1
    ), docs_per AS (
      SELECT lang, COUNT(*) AS n_docs FROM pass GROUP BY lang
    ), chunks_per AS (
      SELECT lang, COUNT(*) AS n_chunks FROM ch GROUP BY lang
    ), uniq_per AS (
      SELECT lang, COUNT(*) AS n_unique_chunks,
             CAST(SUM(n_toks) AS BIGINT) AS unique_chunk_tokens
      FROM surv GROUP BY lang
    )
    SELECT d.lang AS lang, d.n_docs, c2.n_chunks,
           COALESCE(u.n_unique_chunks, 0) AS n_unique_chunks,
           COALESCE(u.unique_chunk_tokens, 0) AS unique_chunk_tokens
    FROM docs_per d
    JOIN chunks_per c2 ON d.lang = c2.lang
    LEFT JOIN uniq_per u ON d.lang = u.lang
    ORDER BY lang
    """,
    tags=("text", "pipeline", "dedup"),
)
def pipeline_rag_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG corpus build, end to end in ONE job — the second composed
    flagship beside pipeline_training_data: quality gate → overlapping
    64/48 token chunking → CHUNK-level exact dedup (the span-granular
    dedup a RAG index needs: two docs sharing a boilerplate paragraph
    keep ONE copy of that chunk) → per-language corpus budget.

    Shape: the gate is a scan-local filter; chunking is scan-local
    sequence+transform+posexplode (zero shuffle to produce the chunk
    relation); dedup is one shuffle on the chunk fingerprint with a
    min-(doc,chunk) survivor window; the three per-lang rollups reuse the
    chunk relation (persisted once) and join on the 5-row lang key
    (broadcast). Survivor attribution is deterministic — the oracle's
    QUALIFY row_number mirrors the same (doc_id, chunk_id) ordering."""
    window, stride, min_tail = 64, 48, 8
    docs = load_table(spark, sf_dir, "documents")
    s = docs.select("doc_id", "lang", TX.normalize_text("text").alias("nrm"))
    s = s.select("doc_id", "lang", "nrm", F.split("nrm", " ").alias("toks"))
    passed = s.filter(TX.quality_score_from("toks", "nrm") == 1.0).select(
        "doc_id", "lang", "toks", F.size("toks").alias("n")
    )
    starts = F.filter(
        F.sequence(F.lit(1), F.col("n"), F.lit(stride)),
        lambda i: (F.col("n") - i >= min_tail) | (i == 1),
    )
    chunks = passed.select(
        "doc_id",
        "lang",
        F.posexplode(
            F.transform(starts, lambda i: F.array_join(F.slice("toks", i, window), " "))
        ).alias("chunk_id", "chunk"),
    )
    ch = chunks.select(
        "doc_id",
        "lang",
        F.col("chunk_id").cast("int").alias("chunk_id"),
        F.md5("chunk").alias("fp"),
        F.size(F.split("chunk", " ")).alias("n_toks"),
    ).persist()
    w = Window.partitionBy("fp").orderBy("doc_id", "chunk_id")
    surv = ch.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    # every passed doc emits >= 1 chunk (start i=1 is unconditional), so
    # the doc census can be read off the persisted chunk relation instead
    # of re-running the scan + normalization regexes a second time —
    # ``passed`` now has exactly one consumer
    docs_per = ch.groupBy("lang").agg(F.countDistinct("doc_id").alias("n_docs"))
    chunks_per = ch.groupBy("lang").agg(F.count("*").alias("n_chunks"))
    uniq_per = surv.groupBy("lang").agg(
        F.count("*").alias("n_unique_chunks"),
        F.sum("n_toks").cast("bigint").alias("unique_chunk_tokens"),
    )
    out = (
        docs_per.join(F.broadcast(chunks_per), "lang")
        .join(F.broadcast(uniq_per), "lang", "left")
        .select(
            "lang",
            "n_docs",
            "n_chunks",
            F.coalesce("n_unique_chunks", F.lit(0)).alias("n_unique_chunks"),
            F.coalesce("unique_chunk_tokens", F.lit(0)).alias("unique_chunk_tokens"),
        )
        .orderBy("lang")
    )
    return with_persisted(out, ch)


@query(
    "embedding_pca_contract",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_vecs,
           16 AS k_dims,
           TRUE AS var_monotone,
           TRUE AS energy_bounded
    FROM embeddings
    """,
    tags=("embedding", "pipeline"),
)
def embedding_pca_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA dimensionality reduction (64 → 16) as an explicit-contract
    query — the embedding-hygiene step that makes downstream ANN scans
    4× cheaper. Training is driver-side SVD on the bounded deterministic
    sample (the pq_train recipe, sign-normalized basis); projection is
    one Arrow-batched BLAS matmul per pandas batch
    (operators/similarity.py::pca_project).

    DuckDB cannot recompute an SVD, so the oracle is the contract the
    projection must satisfy (the agg_approx_distinct pattern), and every
    clause is checked from the PROJECTED relation in Spark: per-component
    variances are non-increasing (the defining property of a principal
    basis — computed as 16 JVM-side aggregates, no second Python pass),
    and their sum is bounded by the mean total centered energy
    E[‖x − μ‖²] (Parseval for an orthonormal basis; strict at k < d).
    n_vecs proves the projection is a per-row map that drops nothing."""
    emb = load_table(spark, sf_dir, "embeddings")
    k = 16
    mu, comps = SIM.pca_train(emb, k=k)
    proj = SIM.pca_project(emb, mu, comps)
    var_cols = [
        F.var_pop(F.element_at("pca", i + 1)).alias(f"_v{i}") for i in range(k)
    ]
    mu_lit = F.array(*[F.lit(float(x)) for x in mu])
    total_sq = F.aggregate(
        F.zip_with(F.col("embedding").cast("array<double>"), mu_lit, lambda x, m: (x - m) * (x - m)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    agg = proj.agg(
        F.count("*").cast("bigint").alias("n_vecs"),
        F.avg(total_sq).alias("_tot"),
        *var_cols,
    )
    monotone = None
    for i in range(k - 1):
        c = F.col(f"_v{i}") >= F.col(f"_v{i+1}")
        monotone = c if monotone is None else (monotone & c)
    energy = sum((F.col(f"_v{i}") for i in range(k)), F.lit(0.0))
    return agg.select(
        "n_vecs",
        F.lit(k).cast("int").alias("k_dims"),
        monotone.alias("var_monotone"),
        (energy <= F.col("_tot")).alias("energy_bounded"),
    )


@query(
    "profile_orders",
    oracle="""
    WITH p AS (
      SELECT 'o_custkey' AS col, COUNT(*) AS n,
             SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS nn,
             COUNT(DISTINCT o_custkey) AS nd,
             CAST(MIN(o_custkey) AS VARCHAR) AS mn, CAST(MAX(o_custkey) AS VARCHAR) AS mx
      FROM orders
      UNION ALL
      SELECT 'o_orderdate', COUNT(*),
             SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END),
             COUNT(DISTINCT o_orderdate),
             CAST(MIN(o_orderdate) AS VARCHAR), CAST(MAX(o_orderdate) AS VARCHAR)
      FROM orders
      UNION ALL
      SELECT 'o_orderkey', COUNT(*),
             SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END),
             COUNT(DISTINCT o_orderkey),
             CAST(MIN(o_orderkey) AS VARCHAR), CAST(MAX(o_orderkey) AS VARCHAR)
      FROM orders
      UNION ALL
      SELECT 'o_orderpriority', COUNT(*),
             SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END),
             COUNT(DISTINCT o_orderpriority),
             CAST(MIN(o_orderpriority) AS VARCHAR), CAST(MAX(o_orderpriority) AS VARCHAR)
      FROM orders
      UNION ALL
      SELECT 'o_orderstatus', COUNT(*),
             SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END),
             COUNT(DISTINCT o_orderstatus),
             CAST(MIN(o_orderstatus) AS VARCHAR), CAST(MAX(o_orderstatus) AS VARCHAR)
      FROM orders
      UNION ALL
      SELECT 'o_totalprice', COUNT(*),
             SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END),
             COUNT(DISTINCT o_totalprice),
             CAST(MIN(o_totalprice) AS VARCHAR), CAST(MAX(o_totalprice) AS VARCHAR)
      FROM orders
    )
    SELECT col AS "column", CAST(n AS BIGINT) AS n_rows,
           CAST(nn AS BIGINT) AS n_nulls,
           ROUND(nn * 1.0 / n, 6) AS null_rate,
           CAST(nd AS BIGINT) AS n_distinct,
           mn AS min_str, mx AS max_str
    FROM p ORDER BY col
    """,
    tags=("profile", "pipeline"),
)
def profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table profiling (operators/profile.py::profile_table): per-column
    row/null/exact-distinct counts and canonical-string min/max for the
    orders table, computed in ONE wide aggregate over a single scan —
    Spark plans the multi-distinct aggregate with one EXPAND + two-level
    hash aggregation, so the profile stays one pass at any column count,
    where the oracle's didactic UNION-ALL form re-scans per column. The
    min/max string rendering is confined to value domains both engines
    print identically (integers, sub-1e7 decimals, timestamps)."""
    from connected_data_lake_spark.operators.profile import profile_table

    return profile_table(load_table(spark, sf_dir, "orders"))


# ---------------------------------------------------------------------------
# corpus clustering (k-means)
# ---------------------------------------------------------------------------


def _kmeans_oracle(k: int, n_iter: int) -> str:
    """DuckDB mirror of operators/clustering.py::kmeans — the same fixed
    Lloyd iterations as chained CTEs (init = k lowest vec_ids, centroid
    coordinates rounded to 6 dp between rounds on both engines, distance
    ties to the smaller cluster id)."""
    parts = [
        f"""
    WITH u AS (
      SELECT vec_id, CAST(UNNEST(embedding) AS DOUBLE) AS val,
             generate_subscripts(embedding, 1) AS pos
      FROM embeddings
    ), seed AS (
      SELECT vec_id,
             CAST(DENSE_RANK() OVER (ORDER BY vec_id) - 1 AS INT) AS cid
      FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT {k})
    ), c0 AS (
      SELECT s.cid, u.pos, ROUND(u.val, 6) AS cval
      FROM u JOIN seed s USING (vec_id)
    )"""
    ]
    prev = "c0"
    for i in range(1, n_iter + 1):
        parts.append(
            f""", d{i} AS (
      SELECT u.vec_id, c.cid,
             ROW_NUMBER() OVER (
               PARTITION BY u.vec_id
               ORDER BY SUM((u.val - c.cval) * (u.val - c.cval)), c.cid
             ) AS rn
      FROM u JOIN {prev} c ON u.pos = c.pos
      GROUP BY u.vec_id, c.cid
    ), a{i} AS (SELECT vec_id, cid FROM d{i} WHERE rn = 1
    ), c{i} AS (
      SELECT a.cid, u.pos, ROUND(AVG(u.val), 6) AS cval
      FROM u JOIN a{i} a USING (vec_id)
      GROUP BY a.cid, u.pos
    )"""
        )
        prev = f"c{i}"
    parts.append(
        f""", df_ AS (
      SELECT u.vec_id, c.cid,
             ROW_NUMBER() OVER (
               PARTITION BY u.vec_id
               ORDER BY SUM((u.val - c.cval) * (u.val - c.cval)), c.cid
             ) AS rn
      FROM u JOIN {prev} c ON u.pos = c.pos
      GROUP BY u.vec_id, c.cid
    ), af_ AS (SELECT vec_id, cid FROM df_ WHERE rn = 1
    ), sizes AS (
      SELECT cid AS cluster_id, COUNT(*) AS n_members FROM af_ GROUP BY 1
    ), norms AS (
      SELECT cid AS cluster_id,
             ROUND(SQRT(SUM(cval * cval)), 4) AS centroid_norm
      FROM {prev} GROUP BY 1
    )
    SELECT s.cluster_id, s.n_members, n.centroid_norm
    FROM sizes s JOIN norms n USING (cluster_id)
    ORDER BY s.cluster_id"""
    )
    return "".join(parts)


@query(
    "cluster_kmeans_embeddings",
    oracle=_kmeans_oracle(k=8, n_iter=3),
    tags=("clustering", "embeddings", "pipeline"),
)
def cluster_kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed k-means (k=8, 3 Lloyd rounds, deterministic lowest-id
    init) over the embeddings corpus — the cluster-then-sample backbone of
    semantic dedup / diversity curation. Declared output: per-cluster
    member count + rounded centroid L2 norm (counts and rounded norms are
    fp-drift-safe; raw centroid coordinates are not declared). Plan: at
    corpus size, each Lloyd round is ONE narrow mapInPandas pass emitting
    k*dim map-side partial centroid sums (only k*dim doubles visit the
    driver between rounds); below the hybrid LOCAL_FINISH_VECTORS cut the
    identical iteration finishes driver-side — the same contraction-cut
    pattern as the CC/pagerank loops (operators/clustering.py; parity
    pinned by tests/test_clustering.py)."""
    from connected_data_lake_spark.operators import clustering as KM

    emb = load_table(spark, sf_dir, "embeddings")
    assign, cent = KM.kmeans(
        emb, id_col="vec_id", vec_col="embedding", k=8, n_iter=3
    )
    sizes = assign.groupBy("cluster_id").agg(F.count("*").alias("n_members"))
    norms = cent.groupBy("cluster_id").agg(
        F.round(F.sqrt(F.sum(F.col("cval") * F.col("cval"))), 4).alias(
            "centroid_norm"
        )
    )
    return sizes.join(norms, "cluster_id").orderBy("cluster_id")


# ---------------------------------------------------------------------------
# corpus-frequency curation signals (boilerplate + novelty)
# ---------------------------------------------------------------------------

#: shared CTE prefix: per-doc DISTINCT 3-gram shingles in long form — the
#: same spelling every Jaccard/dedup oracle uses
_DOC_SHINGLES_SQL = f"""
    WITH t AS (
      SELECT doc_id, string_split({_NORM.format(c='text')}, ' ') AS toks
      FROM documents
    ), s AS (
      SELECT doc_id,
             list_distinct([array_to_string(toks[i:i+2], ' ')
                            for i in generate_series(1, len(toks) - 2)]) AS sh
      FROM t
    ), p AS (
      SELECT doc_id, UNNEST(sh) AS tok FROM s WHERE len(sh) > 0
    )"""


def _doc_shingle_rel(docs: DataFrame) -> DataFrame:
    """(doc_id, tok): each doc's DISTINCT 3-gram shingles, one row each."""
    docs = DD.spread(docs)  # single-file fixture reads as ONE split and
    # single-cores the shingling pass; pass-through at cluster parallelism
    return docs.select(
        "doc_id",
        F.explode(F.array_distinct(TX.shingles("text", 3))).alias("tok"),
    )


@query(
    "text_boilerplate_ratio",
    oracle=_DOC_SHINGLES_SQL
    + """, d AS (
      SELECT tok, COUNT(*) AS df_ FROM p GROUP BY tok
    ), nd AS (
      SELECT COUNT(*) AS n_docs FROM documents
    ), per AS (
      SELECT p.doc_id, COUNT(*) AS n_shingles,
             CAST(SUM(CASE WHEN d.df_ > 0.25 * nd.n_docs
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler
      FROM p JOIN d USING (tok) CROSS JOIN nd
      GROUP BY p.doc_id
    )
    SELECT doc_id, n_shingles, n_boiler,
           ROUND(n_boiler * 1.0 / n_shingles, 6) AS boilerplate_ratio
    FROM per ORDER BY doc_id
    """,
    tags=("text", "curation", "pipeline"),
)
def text_boilerplate_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate score (the CCNet/C4-style signal): the
    share of a doc's distinct 3-gram shingles that occur in more than 25%
    of all docs — headers, navigation chrome, and license blurbs light
    up; novel prose scores near zero. Shape: one shingling pass, one
    exchange on the shingle where COUNT-over-window computes each
    shingle's df in place (the earlier separate df aggregate + join back
    planned the shingling pass twice — column pruning made the two
    branches' exchanges structurally different, so ReusedExchange never
    fired), then the per-doc aggregate; N arrives as a broadcast
    one-row relation (the tf-idf convention), never a driver count().

    Scale trade (ADVICE r14 #3): COUNT-over-window drops the agg+join
    shape's map-side partial aggregation, so a hot boilerplate shingle
    (df > 25% of docs — exactly what this query detects) concentrates all
    its postings in one window buffer per key. The buffer is Spark's
    spillable external sorter (degrades to IO, not OOM), but beyond bench
    scale the agg+join shape — partial-combined df relation joined back —
    shuffles less and has no hot-key buffer; flip back to it when df
    skew is web-corpus-sized (same class of scale-dependent choice as the
    dsir persist note)."""
    docs = load_table(spark, sf_dir, "documents")
    p = _doc_shingle_rel(docs)
    n_rel = docs.agg(F.count("*").alias("n_docs"))
    return (
        p.withColumn("df_", F.count("*").over(Window.partitionBy("tok")))
        .crossJoin(F.broadcast(n_rel))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(
                F.when(
                    F.col("df_") > 0.25 * F.col("n_docs"), F.lit(1)
                ).otherwise(F.lit(0))
            ).alias("n_boiler"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_boiler",
            F.round(F.col("n_boiler") / F.col("n_shingles"), 6).alias(
                "boilerplate_ratio"
            ),
        )
        .orderBy("doc_id")
    )


@query(
    "text_ngram_novelty",
    oracle=_DOC_SHINGLES_SQL
    + """, d AS (
      SELECT tok, MIN(doc_id) AS first_doc FROM p GROUP BY tok
    ), per AS (
      SELECT p.doc_id, COUNT(*) AS n_shingles,
             CAST(SUM(CASE WHEN d.first_doc = p.doc_id
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
      FROM p JOIN d USING (tok)
      GROUP BY p.doc_id
    )
    SELECT doc_id, n_shingles, n_novel,
           ROUND(n_novel * 1.0 / n_shingles, 6) AS novelty_ratio
    FROM per ORDER BY doc_id
    """,
    tags=("text", "curation", "dedup", "pipeline"),
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty in corpus ingestion order (doc_id):
    the share of a doc's distinct 3-gram shingles whose FIRST corpus
    occurrence is this doc — the incremental-contribution signal a
    dedup-aware sampler caps low-novelty docs on (a doc that is pure
    recombination of earlier shingles scores 0). Same single-exchange
    window shape as the boilerplate signal with MIN(doc_id)-over-window
    as the per-shingle reduction (one shingling pass, no join back)."""
    docs = load_table(spark, sf_dir, "documents")
    p = _doc_shingle_rel(docs)
    return (
        p.withColumn(
            "first_doc", F.min("doc_id").over(Window.partitionBy("tok"))
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(
                F.when(
                    F.col("first_doc") == F.col("doc_id"), F.lit(1)
                ).otherwise(F.lit(0))
            ).alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_novel",
            F.round(F.col("n_novel") / F.col("n_shingles"), 6).alias(
                "novelty_ratio"
            ),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# graph analytics: PageRank over the nation trade network
# ---------------------------------------------------------------------------


def _pagerank_oracle(damping: float, n_iter: int) -> str:
    """DuckDB mirror of operators/graph.py::pagerank — the same fixed
    iterations as chained CTEs (uniform init, weighted transition
    probabilities, dangling mass folded back uniformly)."""
    head = """
    WITH e AS (
      SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
             CAST(COUNT(*) AS DOUBLE) AS w
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      GROUP BY 1, 2
    ), nodes AS (
      SELECT src AS node FROM e UNION SELECT dst FROM e
    ), nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes
    ), outw AS (SELECT src, SUM(w) AS out_w FROM e GROUP BY src
    ), trans AS (
      SELECT e.src, e.dst, e.w / o.out_w AS p
      FROM e JOIN outw o ON e.src = o.src
    ), r0 AS (SELECT node, 1.0 / nn.n AS rnk FROM nodes, nn)"""
    parts = [head]
    for i in range(1, n_iter + 1):
        parts.append(
            f""", c{i} AS (
      SELECT t.dst AS node, SUM(t.p * r.rnk) AS contrib
      FROM trans t JOIN r{i - 1} r ON t.src = r.node GROUP BY t.dst
    ), d{i} AS (
      SELECT COALESCE(SUM(rnk), 0.0) AS dang FROM r{i - 1}
      WHERE node NOT IN (SELECT src FROM trans)
    ), r{i} AS (
      SELECT n.node,
             {1.0 - damping} / nn.n
             + {damping} * (COALESCE(c.contrib, 0.0) + d.dang / nn.n) AS rnk
      FROM nodes n LEFT JOIN c{i} c ON n.node = c.node, d{i} d, nn
    )"""
        )
    parts.append(
        f"""
    SELECT node AS nationkey, ROUND(rnk, 6) AS pagerank
    FROM r{n_iter} ORDER BY nationkey"""
    )
    return "".join(parts)


@query(
    "graph_pagerank_trade",
    oracle=_pagerank_oracle(damping=0.85, n_iter=5),
    tags=("graph", "pipeline"),
)
def graph_pagerank_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over the nation trade network (supplier nation →
    customer nation, edge weight = lineitem count): the link-analysis
    centrality a crawl-curation pipeline runs over its domain graph. The
    distributed-heavy part is the edge build — a three-way fact join with
    a (src,dst) aggregate; the iteration loop is the generic
    operators/graph.py::pagerank (one shuffle join + dst aggregate per
    round, dangling mass via broadcast one-row relation, per-round
    localCheckpoint). Ranks rounded at the output only — iteration
    arithmetic stays full-precision on both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .groupBy(
            F.col("s_nationkey").alias("src"),
            F.col("c_nationkey").alias("dst"),
        )
        .agg(F.count("*").cast("double").alias("w"))
    )
    ranks = GR.pagerank(edges, weight="w", damping=0.85, n_iter=5)
    return ranks.select(
        F.col("node").alias("nationkey"),
        F.round("rank", 6).alias("pagerank"),
    ).orderBy("nationkey")


@query(
    "stats_chisq_lang_source",
    oracle="""
    WITH cells AS (
      SELECT lang, source, COUNT(*) AS o FROM documents GROUP BY 1, 2
    ), rm AS (
      SELECT lang, COUNT(*) AS rt FROM documents GROUP BY 1
    ), cm AS (
      SELECT source, COUNT(*) AS ct FROM documents GROUP BY 1
    ), nn AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents
    ), grid AS (
      SELECT r.lang, c.source, r.rt * c.ct / nn.n AS e,
             COALESCE(cl.o, 0) AS o
      FROM rm r CROSS JOIN cm c CROSS JOIN nn
      LEFT JOIN cells cl USING (lang, source)
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
           ROUND(SUM((o - e) * (o - e) / e), 6) AS chi2,
           CAST(((SELECT COUNT(*) FROM rm) - 1)
                * ((SELECT COUNT(*) FROM cm) - 1) AS BIGINT) AS dof
    FROM grid
    """,
    tags=("stats", "pipeline"),
)
def stats_chisq_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test between the lang and source columns —
    the drift/association diagnostic a corpus-mixture monitor runs (is
    language distribution independent of the crawl source?). The full
    lang x source grid INCLUDING zero-observed cells is materialized from
    the two margin relations (both tiny — broadcast cross join), so the
    statistic is the textbook one; the single fact-sized pass is the
    three margin/cell aggregates over one scan."""
    docs = load_table(spark, sf_dir, "documents")
    cells = docs.groupBy("lang", "source").agg(F.count("*").alias("o"))
    rm = docs.groupBy("lang").agg(F.count("*").alias("rt"))
    cm = docs.groupBy("source").agg(F.count("*").alias("ct"))
    nn = docs.agg(F.count("*").cast("double").alias("n"))
    grid = (
        F.broadcast(rm)
        .crossJoin(F.broadcast(cm))
        .crossJoin(F.broadcast(nn))
        .join(cells, ["lang", "source"], "left_outer")
        .select(
            "lang",
            "source",
            (F.col("rt") * F.col("ct") / F.col("n")).alias("e"),
            F.coalesce(F.col("o"), F.lit(0)).alias("o"),
        )
    )
    dof = (
        F.broadcast(rm.agg((F.count("*") - 1).alias("r1")))
        .crossJoin(cm.agg((F.count("*") - 1).alias("c1")))
        .select((F.col("r1") * F.col("c1")).cast("bigint").alias("dof"))
    )
    return (
        grid.agg(
            F.count("*").alias("n_cells"),
            F.round(
                F.sum((F.col("o") - F.col("e")) * (F.col("o") - F.col("e")) / F.col("e")),
                6,
            ).alias("chi2"),
        )
        .crossJoin(F.broadcast(dof))
        .select("n_cells", "chi2", "dof")
    )


@query(
    "text_pmi_collocations",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split({_NORM.format(c='text')}, ' ') AS toks
      FROM documents
    ), u AS (
      SELECT tok, COUNT(*) AS c FROM (
        SELECT UNNEST(toks) AS tok FROM t
      ) WHERE tok <> '' GROUP BY tok
    ), un AS (
      SELECT CAST(SUM(c) AS DOUBLE) AS n_uni FROM u
    ), b AS (
      SELECT bigram, COUNT(*) AS c_ab FROM (
        SELECT UNNEST([toks[i] || ' ' || toks[i+1]
                       for i in generate_series(1, len(toks) - 1)]) AS bigram
        FROM t WHERE len(toks) >= 2
      ) GROUP BY bigram
    ), bn AS (
      SELECT CAST(SUM(c_ab) AS DOUBLE) AS n_bi FROM b
    ), j AS (
      SELECT b.bigram, b.c_ab,
             ROUND(LN((b.c_ab / bn.n_bi)
                      / ((u1.c / un.n_uni) * (u2.c / un.n_uni))), 6) AS pmi
      FROM b CROSS JOIN bn CROSS JOIN un
      JOIN u u1 ON u1.tok = split_part(b.bigram, ' ', 1)
      JOIN u u2 ON u2.tok = split_part(b.bigram, ' ', 2)
      WHERE b.c_ab >= 5
    )
    SELECT bigram, c_ab, pmi,
           CAST(ROW_NUMBER() OVER (ORDER BY pmi DESC, bigram) AS INT) AS rnk
    FROM j
    QUALIFY rnk <= 20
    ORDER BY rnk
    """,
    tags=("text", "curation"),
)
def text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: top-20 bigrams by pointwise mutual information
    (min support 5) — the statistic behind multi-word-expression lists and
    tokenizer-merge candidates. PMI = ln(p(ab) / (p(a)p(b))) with unigram
    and bigram probabilities from the same normalized token stream. Plan:
    one shingling scan feeds both vocabularies; the support filter
    (c_ab >= 5) cuts the bigram relation to its Zipf head BEFORE the two
    unigram joins, and the unigram relation joins by token equality
    (shuffle-hash on a vocabulary-sized relation, never fact-sized);
    the rank window runs over only the filtered candidates."""
    docs = DD.spread(load_table(spark, sf_dir, "documents"))
    toks = docs.select("doc_id", F.explode(TX.shingles("text", 1)).alias("tok"))
    u = toks.filter(F.col("tok") != "").groupBy("tok").agg(F.count("*").alias("c"))
    un = u.agg(F.sum("c").cast("double").alias("n_uni"))
    b = (
        docs.select(F.explode(TX.shingles("text", 2)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("c_ab"))
    )
    bn = b.agg(F.sum("c_ab").cast("double").alias("n_bi"))
    j = (
        b.filter(F.col("c_ab") >= 5)
        .crossJoin(F.broadcast(bn))
        .crossJoin(F.broadcast(un))
        .join(
            u.select(F.col("tok").alias("w1"), F.col("c").alias("c1")),
            F.split_part(F.col("bigram"), F.lit(" "), F.lit(1)) == F.col("w1"),
        )
        .join(
            u.select(F.col("tok").alias("w2"), F.col("c").alias("c2")),
            F.split_part(F.col("bigram"), F.lit(" "), F.lit(2)) == F.col("w2"),
        )
        .select(
            "bigram",
            "c_ab",
            F.round(
                F.log(
                    (F.col("c_ab") / F.col("n_bi"))
                    / ((F.col("c1") / F.col("n_uni")) * (F.col("c2") / F.col("n_uni")))
                ),
                6,
            ).alias("pmi"),
        )
    )
    top = j.orderBy(F.desc("pmi"), "bigram").limit(20)
    w = Window.orderBy(F.desc("pmi"), "bigram")
    return top.withColumn("rnk", F.row_number().over(w).cast("int")).orderBy("rnk")


@query(
    "sample_weighted_priority",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang, n_chars,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
               AS h32
      FROM documents WHERE n_chars > 0
    ), k AS (
      SELECT doc_id, lang,
             ROUND(LN((h32 + 1.0) / 4294967297.0) / n_chars, 9) AS key
      FROM t
    )
    SELECT lang, doc_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY lang
                                   ORDER BY key DESC, doc_id) AS INT) AS sample_rank
    FROM k
    QUALIFY sample_rank <= 15
    ORDER BY lang, sample_rank
    """,
    tags=("text", "pipeline"),
)
def sample_weighted_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-proportional sampling without replacement (Efraimidis-
    Spirakis A-ES): 15 docs per language drawn with probability
    proportional to n_chars — the size-biased sample a token-budget
    curator wants (doc-uniform sampling under-represents long documents'
    token mass). Each doc's priority is ln(u)/w with u a deterministic
    md5-derived uniform in (0,1), so the draw is reproducible across
    engines and runs with no seeded-RNG agreement; ranking by the key is
    equivalent to ranking by u^(1/w). One shuffle on the stratum key;
    per-stratum top-k via ROW_NUMBER (AQE partial top-k per partition)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    h32 = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
        "long"
    )
    # rounded to 9 dp on BOTH engines before ranking: Math.log is not
    # guaranteed correctly rounded, so a 1-ulp cross-engine divergence at a
    # near-tie could flip ranks (ADVICE r8) — same round-before-rank
    # discipline as the repo's other float orderings
    key = F.round(
        F.log((h32 + F.lit(1.0)) / F.lit(4294967297.0)) / F.col("n_chars"), 9
    )
    w = Window.partitionBy("lang").orderBy(F.desc(key), "doc_id")
    return (
        docs.select(
            "lang", "doc_id", F.row_number().over(w).cast("int").alias("sample_rank")
        )
        .filter(F.col("sample_rank") <= 15)
        .orderBy("lang", "sample_rank")
    )


@query(
    "stats_ks_two_sample",
    oracle="""
    WITH s AS (
      SELECT value, event_type FROM events
      WHERE event_type IN ('click', 'purchase')
    ), g AS (
      SELECT value,
             SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c1,
             SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS c2
      FROM s GROUP BY value
    ), n AS (
      SELECT CAST(SUM(c1) AS DOUBLE) AS n1, CAST(SUM(c2) AS DOUBLE) AS n2
      FROM g
    ), c AS (
      SELECT SUM(c1) OVER (ORDER BY value) AS cc1,
             SUM(c2) OVER (ORDER BY value) AS cc2
      FROM g
    )
    SELECT CAST(n.n1 AS BIGINT) AS n1,
           CAST(n.n2 AS BIGINT) AS n2,
           ROUND(MAX(ABS(cc1 / n.n1 - cc2 / n.n2)), 6) AS ks_d,
           ROUND(MAX(ABS(cc1 / n.n1 - cc2 / n.n2))
                 * SQRT(n.n1 * n.n2 / (n.n1 + n.n2)), 4) AS ks_scaled
    FROM c CROSS JOIN n
    GROUP BY n.n1, n.n2
    """,
    tags=("stats", "pipeline"),
)
def stats_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic between the click and
    purchase value distributions — the distribution-drift test a feature
    monitor runs between cohorts. D = max |F1 - F2| evaluated at every
    distinct observed value (per-value pre-aggregation handles ties
    exactly: intermediate within-tie prefix rows are not valid CDF
    points). The empirical CDFs are a DISTRIBUTED two-phase prefix sum —
    the same shape as pack_sequences: range-repartition by value,
    per-partition sample counts collected as planning metadata (one
    N_partitions-row collect), exclusive bases broadcast back, cumulative
    window per partition — never a single-partition global window.
    ks_scaled is D * sqrt(n1*n2/(n1+n2)), the input to the asymptotic
    Kolmogorov distribution. Computation: operators/stats.py::ks_two_sample
    (reusable on any (value, label) relation; unit invariants in
    tests/test_stats_ops.py)."""
    from connected_data_lake_spark.operators.stats import ks_two_sample

    ev = load_table(spark, sf_dir, "events")
    return ks_two_sample(ev, "value", "event_type", "click", "purchase")


@query(
    "curation_dsir_weights",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang,
             UNNEST(string_split({_NORM.format(c='text')}, ' ')) AS tok
      FROM documents
    ), tk AS (
      SELECT doc_id, lang,
             CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % 256 AS b
      FROM t WHERE tok <> ''
    ), bc AS (
      SELECT b, COUNT(*) AS cr,
             SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS ct
      FROM tk GROUP BY b
    ), tot AS (
      SELECT CAST(SUM(cr) AS DOUBLE) AS tr, CAST(SUM(ct) AS DOUBLE) AS tt
      FROM bc
    ), lr AS (
      SELECT b, LN((ct + 1) / (tt + 256)) - LN((cr + 1) / (tr + 256)) AS lr
      FROM bc CROSS JOIN tot
    )
    SELECT tk.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_toks,
           ROUND(SUM(lr.lr), 6) AS dsir_logweight
    FROM tk JOIN lr USING (b)
    GROUP BY tk.doc_id
    ORDER BY doc_id
    """,
    tags=("text", "curation", "pipeline"),
)
def curation_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR): per-document
    log importance weight log p_target(x) - log p_raw(x) under hashed
    unigram bag-of-words models, target = the English subcorpus, raw =
    the full corpus, 256 md5-hashed feature buckets, add-one smoothing.
    Docs whose token distribution looks target-like get high weight —
    the standard cheap reweighting step before pretraining-mixture
    sampling. Plan: the token-explode scan feeds both the bucket-count
    model build (256-row aggregate) and the per-doc scoring join; the
    bucket->log-ratio model is a broadcast join (256 rows), and the
    per-doc score is a map-side-combined SUM — no fact-sized shuffle
    beyond the doc_id aggregate. (r14 note: collapsing the stream to a
    persisted (doc_id, lang, bucket) count relation to share one explode
    pass was A/B-measured SLOWER, 1.65 -> 2.14 s at sf0.1 — the cache
    write + barrier on the ~doc x bucket relation costs more than the
    second map-side-combined pass over a cached 5k-doc scan. At 100 TB
    re-tokenizing dwarfs a DISK_ONLY persist of the count relation;
    that is where the shared-pass shape pays.)"""
    docs = DD.spread(load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id", "lang", F.explode(TX.shingles("text", 1)).alias("tok")
    ).filter(F.col("tok") != "")
    tk = toks.select(
        "doc_id",
        "lang",
        (
            F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long") % 256
        ).alias("b"),
    )
    bc = tk.groupBy("b").agg(
        F.count("*").alias("cr"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("ct"),
    )
    tot = bc.agg(
        F.sum("cr").cast("double").alias("tr"), F.sum("ct").cast("double").alias("tt")
    )
    lr = bc.crossJoin(F.broadcast(tot)).select(
        "b",
        (
            F.log((F.col("ct") + 1) / (F.col("tt") + 256))
            - F.log((F.col("cr") + 1) / (F.col("tr") + 256))
        ).alias("lr"),
    )
    return (
        tk.join(F.broadcast(lr), "b")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_toks"),
            F.round(F.sum("lr"), 6).alias("dsir_logweight"),
        )
        .orderBy("doc_id")
    )


@query(
    "graph_triangle_count",
    oracle="""
    WITH pair AS MATERIALIZED (
      SELECT LEAST(s.s_nationkey, c.c_nationkey) AS a,
             GREATEST(s.s_nationkey, c.c_nationkey) AS b,
             COUNT(*) AS w
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      WHERE s.s_nationkey <> c.c_nationkey
      GROUP BY 1, 2
    ), e AS MATERIALIZED (
      -- MATERIALIZED on pair + e: inlined, the 5 references to e (and e's 2
      -- to pair) re-expand the fact join multiplicatively and the oracle
      -- grinds for minutes; materialized it runs in fact-join time once
      SELECT a, b FROM pair WHERE w > (SELECT AVG(w) FROM pair)
    ), tri AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM e e1
      JOIN e e2 ON e2.a = e1.b
      JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    ), node AS (
      SELECT x AS nationkey FROM tri
      UNION ALL SELECT y FROM tri
      UNION ALL SELECT z FROM tri
    ), d AS (
      SELECT nationkey, COUNT(*) AS degree FROM (
        SELECT a AS nationkey FROM e UNION ALL SELECT b FROM e
      ) GROUP BY 1
    )
    SELECT d.nationkey, d.degree,
           COALESCE(t.n_tri, 0) AS n_triangles,
           ROUND(COALESCE(t.n_tri, 0) * 2.0
                 / (d.degree * (d.degree - 1)), 6) AS clustering_coef
    FROM d
    LEFT JOIN (SELECT nationkey, COUNT(*) AS n_tri FROM node GROUP BY 1) t
      USING (nationkey)
    WHERE d.degree >= 2
    ORDER BY d.nationkey
    """,
    tags=("graph", "pipeline"),
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle count + local clustering coefficient over the
    above-average-weight nation trade graph — the community-density
    signal a domain-graph curator uses alongside PageRank. Algorithm:
    canonical a<b edge orientation, triangles enumerated once each via
    the two-path + closing-edge equi-join (the standard distributed
    triangle enumeration; at 100 TB the same join runs degree-ordered so
    every wedge is generated at its lowest-degree vertex). The fact-scale
    work is the edge build (same three-way join as graph_pagerank_trade);
    the enumeration joins run on the tiny thresholded edge relation.
    Nodes of degree < 2 are excluded (clustering coefficient undefined)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    pair = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .filter(F.col("s_nationkey") != F.col("c_nationkey"))
        .groupBy(
            F.least("s_nationkey", "c_nationkey").alias("a"),
            F.greatest("s_nationkey", "c_nationkey").alias("b"),
        )
        .agg(F.count("*").alias("w"))
    )
    # persist the edge-build output and force it with the threshold scalar
    # (one planning-sized collect, same class as the IVF routing table):
    # e is referenced five times below, and concurrent stages racing to
    # populate an un-materialized cache re-ran the fact join up to 8x
    # (measured 16.2 s -> 1.8 s at sf0.1)
    pair = pair.persist()
    aw_row = pair.agg(F.avg("w")).collect()[0][0]
    if aw_row is None:  # empty edge relation: avg is NULL (ADVICE r8) —
        # short-circuit to an empty result with the declared schema
        return with_persisted(
            spark.createDataFrame(
                [],
                "nationkey bigint, degree bigint, n_triangles bigint, "
                "clustering_coef double",
            ),
            pair,
        )
    aw = float(aw_row)
    e = pair.filter(F.col("w") > F.lit(aw)).select("a", "b")
    e1 = e.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = e.select(F.col("a").alias("y"), F.col("b").alias("z"))
    e3 = e.select(F.col("a").alias("x"), F.col("b").alias("z"))
    # broadcast hints: e is the thresholded nation-pair relation (bounded
    # by nations^2 at any data scale), so the wedge-closing sides are
    # always broadcast-sized; the hint makes that a plan guarantee rather
    # than an AQE size estimate
    tri = e1.join(F.broadcast(e2), "y").join(F.broadcast(e3), ["x", "z"])
    # one enumeration subtree: explode the triangle's three corners
    # instead of unionAll-ing three selects of tri (which planned the
    # two-join enumeration THREE times — no ReusedExchange fired)
    node = tri.select(F.explode(F.array("x", "y", "z")).alias("nationkey"))
    t = node.groupBy("nationkey").agg(F.count("*").alias("n_tri"))
    d = (
        e.select(F.explode(F.array("a", "b")).alias("nationkey"))
        .groupBy("nationkey")
        .agg(F.count("*").alias("degree"))
    )
    out = (
        # t is <= one row per nation: broadcast it so the final outer join
        # does not sort-merge (2 sorts + 2 exchanges on nation-sized data)
        d.join(F.broadcast(t), "nationkey", "left_outer")
        .filter(F.col("degree") >= 2)
        .select(
            "nationkey",
            "degree",
            F.coalesce(F.col("n_tri"), F.lit(0)).alias("n_triangles"),
            F.round(
                F.coalesce(F.col("n_tri"), F.lit(0))
                * 2.0
                / (F.col("degree") * (F.col("degree") - 1)),
                6,
            ).alias("clustering_coef"),
        )
        .orderBy("nationkey")
    )
    return with_persisted(out, pair)


def _kmeans_assign_sql(src: str, k: int, n_iter: int) -> str:
    """CTE chain (open WITH body, no leading WITH) mirroring
    operators/clustering.py::kmeans over source relation ``src``
    (vec_id, embedding DOUBLE[]), ending at ``af_`` (vec_id, cid) — the
    assignment half of _kmeans_oracle, parameterized so composed
    pipelines (semantic dedup below) can cluster an augmented corpus."""
    parts = [
        f"""u AS (
      SELECT vec_id, CAST(UNNEST(embedding) AS DOUBLE) AS val,
             generate_subscripts(embedding, 1) AS pos
      FROM {src}
    ), seed AS (
      SELECT vec_id,
             CAST(DENSE_RANK() OVER (ORDER BY vec_id) - 1 AS INT) AS cid
      FROM (SELECT vec_id FROM {src} ORDER BY vec_id LIMIT {k})
    ), c0 AS (
      SELECT s.cid, u.pos, ROUND(u.val, 6) AS cval
      FROM u JOIN seed s USING (vec_id)
    )"""
    ]
    prev = "c0"
    for i in range(1, n_iter + 1):
        parts.append(
            f""", d{i} AS (
      SELECT u.vec_id, c.cid,
             ROW_NUMBER() OVER (
               PARTITION BY u.vec_id
               ORDER BY SUM((u.val - c.cval) * (u.val - c.cval)), c.cid
             ) AS rn
      FROM u JOIN {prev} c ON u.pos = c.pos
      GROUP BY u.vec_id, c.cid
    ), a{i} AS (SELECT vec_id, cid FROM d{i} WHERE rn = 1
    ), c{i} AS (
      SELECT a.cid, u.pos, ROUND(AVG(u.val), 6) AS cval
      FROM u JOIN a{i} a USING (vec_id)
      GROUP BY a.cid, u.pos
    )"""
        )
        prev = f"c{i}"
    parts.append(
        f""", df_ AS (
      SELECT u.vec_id, c.cid,
             ROW_NUMBER() OVER (
               PARTITION BY u.vec_id
               ORDER BY SUM((u.val - c.cval) * (u.val - c.cval)), c.cid
             ) AS rn
      FROM u JOIN {prev} c ON u.pos = c.pos
      GROUP BY u.vec_id, c.cid
    ), af_ AS (SELECT vec_id, cid FROM df_ WHERE rn = 1)"""
    )
    return "".join(parts)


_SEMDEDUP_CACHE: dict[tuple[int, str], DataFrame] = {}


def _semdedup_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline clustering build for :func:`curation_semdedup` — SemDeDup
    clusters its corpus ONCE (the expensive step, via :func:`_built`) and
    prunes against that assignment thereafter; re-clustering per prune
    run would be like re-training the IVF quantizer per probe.
    Returns the (vec_id, cluster_id, embedding) member relation of the
    AUGMENTED corpus (the 25 planted near-duplicates of
    dedup_embedding_neardup, identical arithmetic to the SQL oracle).
    The in-query full-clustering demonstration is
    ``cluster_kmeans_embeddings`` — that query always pays the Lloyd
    rounds."""
    from connected_data_lake_spark.operators import clustering as KM

    def build(path: str) -> None:
        emb = load_table(spark, sf_dir, "embeddings")
        aug = emb.select(
            "vec_id", VX.as_double("embedding").alias("embedding")
        ).unionAll(
            emb.filter(F.col("vec_id") < 25).select(
                (F.col("vec_id") + 100000).alias("vec_id"),
                F.transform(
                    VX.as_double("embedding"), lambda x: x + F.lit(0.005)
                ).alias("embedding"),
            )
        )
        aug = aug.persist()
        assign, _cent = KM.kmeans(
            aug, id_col="vec_id", vec_col="embedding", k=8, n_iter=3
        )
        assign.join(aug, "vec_id").select(
            "vec_id", "cluster_id", "embedding"
        ).write.parquet(path)
        aug.unpersist()

    path = _built("semdedup", sf_dir, ("embeddings",), build)
    key = (id(spark), path)
    if key not in _SEMDEDUP_CACHE:
        _SEMDEDUP_CACHE[key] = spark.read.parquet(path)
    return _SEMDEDUP_CACHE[key]


@query(
    "curation_semdedup",
    oracle=f"""
    WITH aug AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding FROM embeddings
      UNION ALL
      SELECT vec_id + 100000,
             list_transform(CAST(embedding AS DOUBLE[]), x -> x + 0.005)
      FROM embeddings WHERE vec_id < 25
    ), {_kmeans_assign_sql('aug', k=8, n_iter=3)}, m AS (
      SELECT a.vec_id, a.cid, g.embedding
      FROM af_ a JOIN aug g USING (vec_id)
    ), p AS (
      SELECT x.cid, y.vec_id AS dup_id
      FROM m x JOIN m y ON x.cid = y.cid AND x.vec_id < y.vec_id
      WHERE ROUND(list_cosine_similarity(x.embedding, y.embedding), 6) >= 0.99
    ), drops AS (
      SELECT cid, COUNT(DISTINCT dup_id) AS n_dropped FROM p GROUP BY cid
    )
    SELECT a.cid AS cluster_id,
           COUNT(*) AS n_members,
           COALESCE(MAX(d.n_dropped), 0) AS n_dropped
    FROM af_ a LEFT JOIN drops d ON d.cid = a.cid
    GROUP BY a.cid
    ORDER BY cluster_id
    """,
    tags=("dedup", "clustering", "pipeline"),
)
def curation_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (semantic dedup): k-means-cluster the embedding corpus,
    then prune near-duplicate pairs WITHIN each cluster only — the
    clustering bounds the quadratic pair term to O(sum of cluster sizes
    squared) instead of O(n^2), which is the whole point of the method at
    100 TB (pairs across clusters are never materialized; the per-cluster
    self-join is an equi-join on cluster_id). The corpus plants the same
    25 deterministic near-duplicates as dedup_embedding_neardup (shifted
    copies, cos ~ 0.9992); a member is dropped when a lower-id member of
    ITS cluster matches at cosine >= 0.99. Declared output: per-cluster
    member and dropped counts. The clustering is the PREBUILT artifact
    (_semdedup_clustered, the knn_ivf_probe precedent: index offline,
    price the probe); this query prices the prune — the within-cluster
    pair join + counts over the on-disk member relation."""
    m = _semdedup_clustered(spark, sf_dir)
    # per-member norm once (n rows), not per pair (sum of cluster sizes
    # squared): pair cosine is then one dot product + one multiply
    m = m.withColumn("nrm", VX.norm("embedding"))
    # Block-decompose the within-cluster pair space: joining on
    # cluster_id alone gives k distinct shuffle keys (k=8 here), so the
    # quadratic pair stage runs on at most k tasks no matter the cluster
    # size — a parallelism collapse locally and an unsplittable hot key
    # at scale (AQE skew handling cannot split one giant cluster). Each
    # member gets a deterministic block b = pmod(xxhash64(id), B); the
    # left side replicates across all B blocks and joins on (cluster,
    # right member's block), so every unordered pair still meets exactly
    # once and the key space becomes k×B. B scales with the session's
    # parallelism (replication factor = the standard pair-blocking
    # trade), so the shape adapts to the core count it runs on.
    n_blocks = max(2, min(16, m.sparkSession.sparkContext.defaultParallelism // 4))
    x = m.select(
        F.col("cluster_id"),
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("emb_a"),
        F.col("nrm").alias("nrm_a"),
        F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))).alias("_blk"),
    )
    y = m.select(
        F.col("cluster_id"),
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("emb_b"),
        F.col("nrm").alias("nrm_b"),
        F.pmod(F.xxhash64("vec_id"), F.lit(n_blocks)).cast("int").alias("_blk"),
    )
    # the pair join broadcasts the unreplicated side, so the quadratic
    # work runs at the LEFT side's partitioning — which is the member
    # artifact's file layout (1-2 files) unless spread; hash-repartition
    # the replicated side on the compound key so the k×B key space
    # actually lands on that many tasks
    x = x.repartition("cluster_id", "_blk")
    p = (
        x.join(y, ["cluster_id", "_blk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            F.round(
                VX.dot("emb_a", "emb_b") / (F.col("nrm_a") * F.col("nrm_b")), 6
            )
            >= 0.99
        )
        .select("cluster_id", F.col("id_b").alias("dup_id"))
    )
    drops = p.groupBy("cluster_id").agg(
        F.count_distinct("dup_id").alias("n_dropped")
    )
    out = (
        m.groupBy("cluster_id")
        .agg(F.count("*").alias("n_members"))
        .join(drops, "cluster_id", "left_outer")
        .select(
            "cluster_id",
            "n_members",
            F.coalesce(F.col("n_dropped"), F.lit(0)).alias("n_dropped"),
        )
        .orderBy("cluster_id")
    )
    return out


@query(
    "stats_psi_value_drift",
    oracle="""
    WITH a AS (
      SELECT ROUND(value, 3) AS value FROM events WHERE event_type = 'click'
    ), e AS (
      SELECT ROUND(UNNEST(quantile_cont(value,
               [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9])), 6) AS edge
      FROM a
    ), s AS (
      SELECT ROUND(value, 3) AS value, event_type FROM events
      WHERE event_type IN ('click', 'purchase')
    ), dv AS (
      SELECT value,
             SUM(CASE WHEN value > edge THEN 1 ELSE 0 END) AS bucket
      FROM (SELECT DISTINCT value FROM s) CROSS JOIN e
      GROUP BY value
    ), g AS (
      SELECT value, event_type, COUNT(*) AS c FROM s GROUP BY 1, 2
    ), cb AS (
      SELECT bucket,
             SUM(CASE WHEN event_type = 'click' THEN c ELSE 0 END) AS c1,
             SUM(CASE WHEN event_type = 'purchase' THEN c ELSE 0 END) AS c2
      FROM g JOIN dv USING (value) GROUP BY bucket
    ), grid AS (
      SELECT UNNEST(generate_series(0, 9)) AS bucket
    ), f AS (
      SELECT grid.bucket, COALESCE(cb.c1, 0) AS c1, COALESCE(cb.c2, 0) AS c2
      FROM grid LEFT JOIN cb USING (bucket)
    ), n AS (
      SELECT CAST(SUM(c1) AS DOUBLE) AS n1, CAST(SUM(c2) AS DOUBLE) AS n2
      FROM f
    )
    SELECT CAST(bucket AS INT) AS bucket,
           CAST(c1 AS BIGINT) AS c1,
           CAST(c2 AS BIGINT) AS c2,
           ROUND(((c1 + 0.5) / (n1 + 5) - (c2 + 0.5) / (n2 + 5))
                 * LN(((c1 + 0.5) / (n1 + 5)) / ((c2 + 0.5) / (n2 + 5))),
                 6) AS psi_contrib
    FROM f CROSS JOIN n
    ORDER BY bucket
    """,
    tags=("stats", "pipeline"),
)
def stats_psi_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population stability index between the click and purchase value
    distributions — the standard production ML drift monitor (sum over
    reference-decile buckets of (p_ref - p_cur) * ln(p_ref / p_cur),
    +0.5/bucket smoothing so empty buckets stay finite). Declared output:
    per-bucket counts + PSI contribution; the headline PSI is their sum.
    Plan: decile edges come from the scale-safe pre-aggregated exact
    percentile (operators/percentile.py — no per-group value buffers) over
    the value QUANTIZED to 3 decimals — the quantization bounds the
    distinct-value relation the single-group percentile sorts by the value
    RANGE times 10^3, independent of corpus row count (the unquantized
    form would sort every distinct double of a continuous column in one
    task at 100 TB; a 10-bucket drift metric is insensitive to 3-decimal
    quantization). Edges visit the driver as NINE rounded doubles
    (planning metadata, the IVF routing class), and bucket assignment is a
    scan-local literal comparison sum — no join, no row multiplication,
    one (bucket) shuffle of 10 groups. The KS query (stats_ks_two_sample) tests the same pair
    nonparametrically; PSI is the binned, magnitude-interpretable twin."""
    from connected_data_lake_spark.operators.percentile import exact_percentiles

    ev = load_table(spark, sf_dir, "events").withColumn(
        "value", F.round("value", 3)
    )
    a = ev.filter(F.col("event_type") == "click").withColumn("g", F.lit(1))
    fracs = [i / 10 for i in range(1, 10)]
    cols = [f"q{i}" for i in range(1, 10)]
    # round the edges SPARK-side (HALF_UP, matching DuckDB ROUND) before
    # collecting: python round() is banker's rounding and could disagree
    # on an exact .xxxxxx5 tie
    edge_row = (
        exact_percentiles(a, ["g"], "value", fracs, cols)
        .select(*[F.round(c, 6).alias(c) for c in cols])
        .collect()[0]
    )
    edges = [edge_row[c] for c in cols]
    s = ev.filter(F.col("event_type").isin("click", "purchase"))
    bucket = sum(
        (F.when(F.col("value") > F.lit(e), 1).otherwise(0) for e in edges),
        start=F.lit(0),
    )
    cb = s.groupBy(bucket.alias("bucket")).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("c2"),
    )
    grid = spark.range(10).select(F.col("id").cast("int").alias("bucket"))
    f = (
        grid.join(cb, "bucket", "left_outer")
        .select(
            "bucket",
            F.coalesce(F.col("c1"), F.lit(0)).alias("c1"),
            F.coalesce(F.col("c2"), F.lit(0)).alias("c2"),
        )
    )
    n = f.agg(
        F.sum("c1").cast("double").alias("n1"), F.sum("c2").cast("double").alias("n2")
    )
    pa = (F.col("c1") + 0.5) / (F.col("n1") + 5)
    pb = (F.col("c2") + 0.5) / (F.col("n2") + 5)
    return (
        f.crossJoin(F.broadcast(n))
        .select(
            F.col("bucket").cast("int").alias("bucket"),
            F.col("c1").cast("bigint").alias("c1"),
            F.col("c2").cast("bigint").alias("c2"),
            F.round((pa - pb) * F.log(pa / pb), 6).alias("psi_contrib"),
        )
        .orderBy("bucket")
    )


@query(
    "text_heavy_hitters",
    oracle=f"""
    WITH t AS (
      SELECT UNNEST(string_split({_NORM.format(c='text')}, ' ')) AS tok
      FROM documents
    ), tt AS (
      SELECT tok FROM t WHERE tok <> ''
    ), n AS (
      SELECT COUNT(*) AS n FROM tt
    ), c AS (
      SELECT tok AS item, COUNT(*) AS cnt FROM tt GROUP BY tok
    )
    SELECT item, cnt,
           CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, item) AS INT) AS rnk
    FROM c CROSS JOIN n
    WHERE cnt * 200 > n.n
    ORDER BY rnk
    """,
    tags=("text", "agg", "pipeline"),
)
def text_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact corpus heavy hitters (tokens exceeding 0.5% of all
    occurrences, k=200) WITHOUT a full-vocabulary shuffle: per-partition
    scan-local candidate counts (mapInPandas value_counts, pigeonhole
    superset guarantee) followed by an exact verification count over only
    the candidate items — operators/heavyhitters.py. The answer is exact
    and partitioning-independent, so it hash-matches the oracle's plain
    GROUP BY; the plan difference is that the Zipf TAIL (the overwhelming
    majority of distinct items) never enters a shuffle."""
    from connected_data_lake_spark.operators.heavyhitters import heavy_hitters

    docs = DD.spread(load_table(spark, sf_dir, "documents"))
    toks = docs.select(F.explode(TX.shingles("text", 1)).alias("tok")).filter(
        F.col("tok") != ""
    )
    hh = heavy_hitters(toks, "tok", k=200)
    w = Window.orderBy(F.desc("cnt"), "item")
    return (
        hh.withColumn("rnk", F.row_number().over(w).cast("int"))
        .select("item", "cnt", "rnk")
        .orderBy("rnk")
    )
