"""Similarity search over embedding columns (array<float>).

Two paths:

- brute force: broadcast the (small) query side, cross join, exact cosine,
  per-query top-k — the correctness baseline, O(n·q) but one scan, fully
  JVM-side.
- sketch re-rank (SRP/SimHash for vectors): each row gets a packed
  ``n_bits``-plane random-hyperplane sign sketch (array of longs, computed
  once per corpus row and cachable as an index); candidates per query are
  the smallest-Hamming rows (XOR + popcount on 4 longs — ~50× cheaper
  than a 64-dim double dot), then exact cosine re-ranks only those. This
  is the honest scale path for *isotropic* embeddings, where bucketed LSH
  has near-zero recall for top-k (a 12-plane exact-bucket match admits a
  random pair with p≈0.5^12; measured recall on the test corpus was 0).

Bucketed hyperplane LSH (exact signature equality joins) remains the right
tool for high-threshold near-duplicate detection — see
operators/dedup.py::embedding_near_duplicates.

An IVF variant (coarse k-means centroids → probe nearest cells) follows the
same prune-then-verify shape; the sketch needs no training pass.
"""

from __future__ import annotations

import math
import random

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from connected_data_lake_spark.functions import vectors as VX
from connected_data_lake_spark.localrel import local_df
from connected_data_lake_spark.operators.dedup import spread
from connected_data_lake_spark.sources.tables import with_persisted


def make_planes(dim: int, n_planes: int = 16, seed: int = 42) -> list[list[float]]:
    """Deterministic random hyperplanes (gaussian components, fixed seed)."""
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def hyperplane_signature(emb_col: Column | str, planes: list[list[float]]) -> Column:
    """Sign signature (bigint bucket id): bit p = 1 iff emb · plane_p > 0.
    The plane matrix is inlined as literals — evaluated in codegen, no UDF,
    no broadcast variable needed."""
    bits = [
        F.when(
            VX.dot(emb_col, F.array(*[F.lit(float(x)) for x in plane])) > 0,
            F.shiftleft(F.lit(1).cast("long"), p),
        ).otherwise(F.lit(0).cast("long"))
        for p, plane in enumerate(planes)
    ]
    out = bits[0]
    for b in bits[1:]:
        out = out.bitwiseOR(b)
    return out


def knn_brute_force(
    df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    q_emb_col: str = "embedding",
    q_id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k cosine neighbors per query row:
    (query_id, neighbor_id, cos, rank). Query side is broadcast; the corpus
    is scanned once; per-query top-k via ROW_NUMBER (TakeOrdered per key)."""
    q = queries.select(
        F.col(q_id_col).alias("query_id"), F.col(q_emb_col).alias("q_emb")
    )
    scored = (
        spread(df, id_col)
        .select(F.col(id_col).alias("neighbor_id"), F.col(emb_col).alias("emb"))
        .crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(VX.cosine("emb", "q_emb"), 6).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
    )


def range_search(
    df: DataFrame,
    queries: DataFrame,
    threshold: float,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    q_emb_col: str = "embedding",
    q_id_col: str = "vec_id",
) -> DataFrame:
    """Radius / range similarity search: EVERY corpus vector with
    ``cosine >= threshold`` per query row — (query_id, neighbor_id, cos),
    unbounded result size, the retrieval mode top-k cannot express (a
    query may have 0 or 10⁶ in-radius neighbors; dedup-style "find all
    near matches" wants all of them).

    This is the exact brute-force formulation: broadcast queries, one
    corpus scan, the threshold filter fused into the scan projection so
    non-qualifying pairs never reach a shuffle (there is none — output is
    scan-local). The scale path for self-similarity range search over the
    whole corpus is the banded-LSH bucketed join
    (operators/dedup.py::embedding_neardup_pairs) which probabilistically
    prunes the same predicate; this operator is its exact per-query
    counterpart and the recall oracle for it."""
    q = queries.select(
        F.col(q_id_col).alias("query_id"), F.col(q_emb_col).alias("q_emb")
    )
    return (
        spread(df, id_col)
        .select(F.col(id_col).alias("neighbor_id"), F.col(emb_col).alias("emb"))
        .crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(VX.cosine("emb", "q_emb"), 6).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


def hyperplane_sketch(emb_col: Column | str, planes: list[list[float]]) -> Column:
    """Packed sign sketch (array<bigint>, 64 planes per word): word w bit p
    = 1 iff emb · plane_{w*64+p} > 0.

    Implemented as an Arrow-batched pandas_udf (one BLAS matmul per batch):
    256 plane dots per row is exactly the workload where a vectorized UDF
    beats interpreted higher-order functions (~30x measured — the HOF
    expression tree of 16k nodes doesn't reach whole-stage codegen).
    Deterministic given ``planes``. Compute once per corpus row and
    persist: this IS the ANN index.
    """
    assert len(planes) % 64 == 0, "plane count must be a multiple of 64"
    plane_mat = np.asarray(planes, dtype=np.float64)  # (n_bits, dim)
    n_words = plane_mat.shape[0] // 64

    @F.pandas_udf("array<bigint>")
    def _sketch(embs: pd.Series) -> pd.Series:
        out: list = []
        valid = [e is not None for e in embs]
        if not any(valid):
            return pd.Series([None] * len(embs))
        x = np.stack([np.asarray(e, dtype=np.float64) for e, v in zip(embs, valid) if v])
        bits = (x @ plane_mat.T) > 0  # (n_valid, n_bits)
        shifts = np.arange(64, dtype=np.uint64)
        words = np.stack(
            [
                (bits[:, w * 64 : (w + 1) * 64].astype(np.uint64) << shifts).sum(
                    axis=1, dtype=np.uint64
                )
                for w in range(n_words)
            ],
            axis=1,
        ).astype(np.int64)
        it = iter(words)
        for v in valid:
            out.append(next(it).tolist() if v else None)
        return pd.Series(out)

    return _sketch(F.col(emb_col) if isinstance(emb_col, str) else emb_col)


def sketch_hamming(a: Column | str, b: Column | str) -> Column:
    """Hamming distance between two packed sketches (XOR + popcount)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: F.bit_count(x.bitwiseXOR(y)).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def knn_sketch(
    df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    n_bits: int = 256,
    candidates_per_query: int = 100,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k via sign-sketch pruning: Hamming distance on the
    packed hyperplane sketch selects ``candidates_per_query`` rows per
    query (cheap long ops over the whole corpus, one scan, queries
    broadcast); exact cosine re-ranks only the survivors.

    Measured on the 64-dim isotropic test corpus: recall@10 ≈ 0.94 at
    256 bits / 100 candidates. The candidate count is absolute, so the
    prune ratio *improves* as the corpus grows.

    Returns (query_id, neighbor_id, cos, rank) — same shape as brute force
    so recall can be measured by joining the two outputs.
    """
    # Persist the corpus sketch relation: the 256-dot expression would
    # otherwise be inlined (= recomputed) into every downstream reference
    # by projection collapse. This persist is the "build the ANN index
    # once" step — sketch_index() is the same relation as an offline
    # artifact, and knn_sketch_probe() is this function minus the build.
    sk = sketch_index(df, emb_col=emb_col, id_col=id_col, n_bits=n_bits, seed=seed).persist()
    out, qk = _sketch_probe_plan(
        sk, queries, k, emb_col, id_col, n_bits, candidates_per_query, seed
    )
    return with_persisted(out, sk, qk)


def sketch_index(
    df: DataFrame,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    n_bits: int = 256,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """The corpus side of the sign-sketch ANN as a standalone relation
    (neighbor_id, emb, sig) — write it to parquet once and probe forever:
    the planes are seeded and the sketch needs NO training, so unlike
    IVF/PQ there is no model sidecar to keep with it. ``dim`` skips the
    embedding-width lookup scan when the caller already knows it (index
    metadata at cluster scale lives WITH the artifact, not in a scan)."""
    if dim is None:
        dim = df.select(F.size(emb_col).alias("d")).first()["d"]
    planes = make_planes(dim, n_bits, seed)
    return spread(df, id_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(emb_col).alias("emb"),
        hyperplane_sketch(emb_col, planes).alias("sig"),
    )


def knn_sketch_probe(
    index: DataFrame,
    queries: DataFrame,
    k: int = 10,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    n_bits: int = 256,
    candidates_per_query: int = 100,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Probe a prebuilt :func:`sketch_index` (e.g. read back from parquet):
    Hamming prune + exact re-rank only — what a steady-state ANN serving
    query costs once the index exists. ``dim`` as in :func:`sketch_index`."""
    out, qk = _sketch_probe_plan(
        index, queries, k, emb_col, id_col, n_bits, candidates_per_query, seed,
        dim,
    )
    return with_persisted(out, qk)


def _sketch_probe_plan(
    sk, queries, k, emb_col, id_col, n_bits, candidates_per_query, seed,
    dim=None,
):
    if dim is None:
        dim = queries.select(F.size(emb_col).alias("d")).first()["d"]
    planes = make_planes(dim, n_bits, seed)
    qk = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(emb_col).alias("q_emb"),
        hyperplane_sketch(emb_col, planes).alias("q_sig"),
    ).persist()
    scored = (
        sk.crossJoin(F.broadcast(qk))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            "emb",
            "q_emb",
            sketch_hamming("sig", "q_sig").alias("ham"),
        )
    )
    w_ham = Window.partitionBy("query_id").orderBy(F.col("ham").asc(), F.col("neighbor_id"))
    cand = (
        scored.withColumn("hrank", F.row_number().over(w_ham))
        .filter(F.col("hrank") <= candidates_per_query)
    )
    w_cos = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    out = (
        cand.select(
            "query_id",
            "neighbor_id",
            F.round(VX.cosine("emb", "q_emb"), 6).alias("cos"),
        )
        .withColumn("rank", F.row_number().over(w_cos).cast("int"))
        .filter(F.col("rank") <= k)
    )
    return out, qk


def ivf_index(
    df: DataFrame,
    n_cells: int = 64,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    max_iter: int = 20,
):
    """IVF coarse quantizer: k-means cells over the corpus.

    Returns (indexed_df, centroids) where ``indexed_df`` carries a
    ``cell`` column (nearest-centroid id) and ``centroids`` is the small
    (n_cells × dim) list kept driver-side — the only state that ever
    leaves the executors; the corpus itself is partitioned by cell and
    should be persisted/written bucketed-by-cell as the on-disk index.
    Training uses Spark ML's distributed k-means (one pass per iteration,
    no driver materialization of vectors).
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array

    # cache: k-means re-scans its input every iteration; without this each
    # pass re-reads parquet and re-builds the vectors
    # NOTE: the k-means input is deliberately NOT spread(): k-means||
    # init samples per partition, so repartitioning changes the trained
    # centroids. At cluster scale the corpus already arrives wide (spread
    # would be a no-op); locally the 1-split layout keeps the centroids —
    # and the measured per-corpus recall the oracle contract states —
    # stable across sessions.
    feat = df.select(
        F.col(id_col).alias("_id"),
        array_to_vector(F.col(emb_col).cast("array<double>")).alias("features"),
    ).cache()
    model = KMeans(k=n_cells, seed=seed, maxIter=max_iter).fit(feat)
    assigned = (
        model.transform(feat)
        .select(F.col("_id"), F.col("prediction").alias("cell"))
    )
    indexed = with_persisted(df.join(assigned, df[id_col] == assigned["_id"]).drop("_id"), feat)
    centroids = [c.tolist() for c in model.clusterCenters()]
    return indexed, centroids


def knn_ivf(
    indexed_df: DataFrame,
    centroids: list[list[float]],
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 8,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    static_prune: bool = True,
) -> DataFrame:
    """Approximate top-k via IVF probing: each query ranks the (tiny)
    centroid table by distance, keeps its ``nprobe`` nearest cells, and
    runs exact cosine only against those cells' rows.

    The centroid table is a literal-free broadcast DataFrame (n_cells
    rows); the corpus side joins on ``cell`` — a plain equi-join that
    co-partitions with a cell-bucketed index table. Work ≈
    (nprobe / n_cells) of brute force.

    ``static_prune`` (default) computes the query→cell routing
    DRIVER-SIDE — the standard IVF query-planning step: the query batch is
    (by contract) small enough to visit the driver, and ranking n_queries
    × n_cells centroid distances is a numpy matmul on planning metadata,
    not a Spark job (the previous crossJoin+window+collect plan paid a
    full shuffle round-trip just to route 3 queries). The probed-cell set
    is pushed into the scan as a literal ``cell IN (...)`` predicate:
    against a cell-partitioned index table that is STATIC partition
    pruning — unprobed cell directories are never listed or read (dynamic
    partition pruning over a broadcast join is plan-dependent; the
    literal predicate always prunes). Disable for huge query batches
    where the query rows shouldn't visit the driver — the probe then
    falls back to the pure broadcast-join plan. Same output shape as
    knn_brute_force for recall joins."""
    import numpy as np

    from pyspark.sql import types as T

    spark = indexed_df.sparkSession
    q = queries.select(F.col(id_col).alias("query_id"), F.col(emb_col).alias("q_emb"))
    corpus = indexed_df
    if static_prune:
        q_rows = q.collect()  # small query batch: planning metadata
        cent_mat = np.asarray(centroids, dtype=np.float64)  # (n_cells, dim)
        probed_rows: list[tuple] = []
        cells_needed: set[int] = set()
        for r in q_rows:
            qv = np.asarray(r["q_emb"], dtype=np.float64)
            dist = ((cent_mat - qv) ** 2).sum(axis=1)
            # rank by (distance, cell) — same tie-break as the join path
            for c in np.lexsort((np.arange(len(centroids)), dist))[:nprobe]:
                probed_rows.append((r["query_id"], r["q_emb"], int(c)))
                cells_needed.add(int(c))
        probed = local_df(
            spark,
            probed_rows,
            T.StructType(
                list(q.schema.fields) + [T.StructField("cell", T.IntegerType(), False)]
            ),
        )
        corpus = corpus.filter(F.col("cell").isin(sorted(cells_needed)))
    else:
        cent = local_df(
            spark, [(i, c) for i, c in enumerate(centroids)], "cell int, c_emb array<double>"
        )
        w_cell = Window.partitionBy("query_id").orderBy(F.col("dist").asc(), F.col("cell"))
        probed = (
            q.crossJoin(F.broadcast(cent))
            .select(
                "query_id",
                "q_emb",
                "cell",
                VX.l2_distance(F.col("q_emb").cast("array<double>"), "c_emb").alias("dist"),
            )
            .withColumn("crank", F.row_number().over(w_cell))
            .filter(F.col("crank") <= nprobe)
            .select("query_id", "q_emb", "cell")
        )
    scored = (
        corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(emb_col).alias("emb"), "cell"
        )
        .join(F.broadcast(probed), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(VX.cosine("emb", "q_emb"), 6).alias("cos"),
        )
    )
    w_cos = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w_cos).cast("int"))
        .filter(F.col("rank") <= k)
    )


def pq_train(
    df: DataFrame,
    m: int = 16,
    k_codes: int = 256,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    sample_n: int = 2048,
    max_iter: int = 20,
) -> np.ndarray:
    """Train product-quantization codebooks: split the dim-d vector into
    ``m`` subvectors and k-means each subspace to ``k_codes`` centroids —
    returns (m, k_codes, d/m).

    Training runs DRIVER-SIDE on a deterministic sample (first ``sample_n``
    rows by id) — the standard PQ recipe: codebooks are tiny (m·k·d/m =
    one vector-width of floats per code) and the corpus itself never
    visits the driver (encoding is executor-side, :func:`pq_encode`).
    Measured cost: ~1.9 s single-threaded at the default 2048×256-dim
    sample (SCALE_PQ_DECOMP.json) — a fixed, corpus-size-independent
    planning/index-build cost, but NOT milliseconds: it is the dominant
    stage of the knn_pq_topk contract query and the reason that query is
    disproportionately sensitive to driver CPU contention (SCALE.md r11
    decomposition). Deterministic for a given corpus + seed."""
    rows = (
        df.select(id_col, emb_col).orderBy(id_col).limit(sample_n).collect()
    )
    X = np.asarray([r[1] for r in rows], dtype=np.float64)
    d = X.shape[1]
    assert d % m == 0, "m must divide the embedding dim"
    sub = d // m
    rng = np.random.RandomState(seed)
    books = np.empty((m, k_codes, sub), dtype=np.float64)
    for j in range(m):
        Y = X[:, j * sub : (j + 1) * sub]
        C = Y[rng.choice(len(Y), size=k_codes, replace=False)].copy()
        prev = None
        for _ in range(max_iter):
            dist = -2.0 * (Y @ C.T) + (C**2).sum(1)[None, :]  # +‖y‖² const
            assign = dist.argmin(1)
            if prev is not None and np.array_equal(assign, prev):
                break  # fixed point: updates can't change anything
            prev = assign
            # vectorized centroid update (weighted bincount per dim): the
            # per-centroid boolean-mask loop was k·iters·m Python-level
            # passes over the sample — 6s of the query's timed cost — and
            # np.add.at's scatter is ~10x slower than bincount's C loop
            sums = np.stack(
                [
                    np.bincount(assign, weights=Y[:, dd], minlength=k_codes)
                    for dd in range(sub)
                ],
                axis=1,
            )
            counts = np.bincount(assign, minlength=k_codes)
            nz = counts > 0
            C[nz] = sums[nz] / counts[nz][:, None]
        books[j] = C
    return books


def pq_encode(emb_col: Column | str, codebooks: np.ndarray) -> Column:
    """array<smallint> PQ codes (one nearest-centroid id per subvector):
    one matmul per subvector per Arrow batch. The encoded corpus — m
    small ints per vector instead of d floats — IS the PQ index; persist
    or write it once per corpus."""
    books = np.ascontiguousarray(codebooks, dtype=np.float64)
    m, k_codes, sub = books.shape
    c2 = (books**2).sum(2)  # (m, k)

    @F.pandas_udf("array<smallint>")
    def _enc(embs: pd.Series) -> pd.Series:
        out: list = [None] * len(embs)
        valid = [i for i, e in enumerate(embs) if e is not None]
        if not valid:
            return pd.Series(out)
        X = np.stack([np.asarray(embs.iloc[i], dtype=np.float64) for i in valid])
        codes = np.empty((len(valid), m), dtype=np.int64)
        for j in range(m):
            Y = X[:, j * sub : (j + 1) * sub]
            dist = -2.0 * (Y @ books[j].T) + c2[j][None, :]  # +‖y‖² constant
            codes[:, j] = dist.argmin(1)
        for row, i in enumerate(valid):
            out[i] = codes[row].tolist()
        return pd.Series(out)

    return _enc(F.col(emb_col) if isinstance(emb_col, str) else emb_col)


def knn_pq(
    df: DataFrame,
    queries: DataFrame,
    codebooks: np.ndarray,
    k: int = 10,
    candidates_per_query: int = 100,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    codes: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k via PQ asymmetric distance (ADC): each query
    builds an (m × k_codes) lookup table of subvector squared distances
    driver-side (planning metadata, like the IVF routing step); corpus
    distance ≈ Σ_j LUT[j, code_j] — a pure table-gather over the m-byte
    codes, no float vector is touched during the scan. The
    ``candidates_per_query`` smallest ADC distances per query are re-ranked
    with exact cosine, same prune-then-verify shape as :func:`knn_sketch`.

    At scale this is the memory play: the scanned index is m smallints per
    vector (d/4 bytes at m=d/4) instead of 4d bytes of floats — the scan
    reads ~16× fewer bytes — and codes+LUT gathers vectorize per Arrow
    batch. Returns (query_id, neighbor_id, cos, rank).

    Pass a prebuilt ``codes`` relation ((id, codes) — :func:`pq_encode`
    output read back from its written table) to skip the in-query encode:
    the production shape, where the ADC scan touches ONLY the compressed
    code table and the exact re-rank fetches the top candidates' float
    vectors from the base table by id (candidates_per_query rows per
    query, a pruned join, not a second corpus scan)."""
    books = np.ascontiguousarray(codebooks, dtype=np.float64)
    m, k_codes, sub = books.shape
    q_rows = queries.select(
        F.col(id_col).alias("query_id"), F.col(emb_col).alias("q_emb")
    ).collect()  # small query batch: planning metadata (IVF precedent)
    luts = np.empty((len(q_rows), m, k_codes), dtype=np.float64)
    for qi, r in enumerate(q_rows):
        qv = np.asarray(r["q_emb"], dtype=np.float64)
        for j in range(m):
            diff = books[j] - qv[j * sub : (j + 1) * sub][None, :]
            luts[qi, j] = (diff**2).sum(1)

    @F.pandas_udf("array<double>")
    def _adc(codes: pd.Series) -> pd.Series:
        out: list = [None] * len(codes)
        valid = [i for i, c in enumerate(codes) if c is not None]
        if not valid:
            return pd.Series(out)
        C = np.stack([np.asarray(codes.iloc[i], dtype=np.int64) for i in valid])
        cols = np.arange(m)
        dists = np.stack(
            [luts[qi][cols, C].sum(1) for qi in range(len(q_rows))], axis=1
        )  # (n, n_queries)
        for row, i in enumerate(valid):
            out[i] = dists[row].tolist()
        return pd.Series(out)

    spark = df.sparkSession
    qmap = local_df(
        spark,
        [(qi, r["query_id"], r["q_emb"]) for qi, r in enumerate(q_rows)],
        f"qpos int, query_id long, q_emb {queries.schema[emb_col].dataType.simpleString()}",
    )
    persisted: list[DataFrame] = []
    if codes is None:
        # encoded corpus = the PQ index; persisted so the ADC scan and the
        # re-rank join don't re-run the encode UDF (index-build-once
        # pattern); emb is carried so the re-rank needs no base-table join
        codes_rel = spread(df, id_col).select(
            F.col(id_col).alias("neighbor_id"),
            F.col(emb_col).alias("emb"),
            pq_encode(emb_col, books).alias("codes"),
        ).persist()
        persisted.append(codes_rel)
        carry = ["emb"]
    else:
        codes_rel = codes.select(F.col(id_col).alias("neighbor_id"), "codes")
        carry = []
    scored = codes_rel.select(
        "neighbor_id",
        *carry,
        F.posexplode(_adc(F.col("codes"))).alias("qpos", "adist"),
    ).join(F.broadcast(qmap), "qpos").filter(F.col("neighbor_id") != F.col("query_id"))
    w_adc = Window.partitionBy("query_id").orderBy(F.col("adist").asc(), F.col("neighbor_id"))
    cand = (
        scored.withColumn("arank", F.row_number().over(w_adc))
        .filter(F.col("arank") <= candidates_per_query)
    )
    if not carry:
        # fetch only the surviving candidates' float vectors from the base
        # table — a candidates_per_query·n_queries-row pruned join
        cand = cand.join(
            df.select(F.col(id_col).alias("neighbor_id"), F.col(emb_col).alias("emb")),
            "neighbor_id",
        )
    w_cos = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    out = (
        cand.select(
            "query_id",
            "neighbor_id",
            F.round(VX.cosine("emb", "q_emb"), 6).alias("cos"),
        )
        .withColumn("rank", F.row_number().over(w_cos).cast("int"))
        .filter(F.col("rank") <= k)
    )
    return with_persisted(out, *persisted)


def recall_at_k(exact: DataFrame, approx: DataFrame, k: int = 10) -> float:
    """Fraction of exact top-k pairs recovered by the approximate result."""
    e = exact.filter(F.col("rank") <= k).select("query_id", "neighbor_id")
    a = approx.filter(F.col("rank") <= k).select("query_id", "neighbor_id")
    hit = e.intersect(a).count()
    total = e.count()
    return hit / total if total else math.nan


def pca_train(
    df: DataFrame,
    k: int = 16,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    sample_n: int = 2048,
) -> tuple[np.ndarray, np.ndarray]:
    """Train a PCA projection: (mean (d,), components (k, d)) from an SVD
    of the centered deterministic sample (first ``sample_n`` rows by id —
    the same bounded driver-side recipe as :func:`pq_train`; the corpus
    never visits the driver, projection is executor-side BLAS via
    :func:`pca_project`). Each component's sign is normalized so its
    largest-magnitude coordinate is positive — SVD signs are otherwise
    LAPACK-implementation-defined, and a deterministic basis keeps the
    projection reproducible across sessions."""
    rows = df.select(id_col, emb_col).orderBy(id_col).limit(sample_n).collect()
    X = np.asarray([r[1] for r in rows], dtype=np.float64)
    mu = X.mean(0)
    _, _, vt = np.linalg.svd(X - mu, full_matrices=False)
    comps = vt[:k].copy()
    for i in range(comps.shape[0]):
        j = int(np.abs(comps[i]).argmax())
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    return mu, comps


def pca_project(
    df: DataFrame,
    mean: np.ndarray,
    components: np.ndarray,
    emb_col: str = "embedding",
    out_col: str = "pca",
) -> DataFrame:
    """Project an embedding column onto trained principal components:
    ``out = (x - mean) @ components.T`` — one Arrow-batched BLAS matmul
    per pandas batch (the signature-kernel pattern: whole-batch numpy,
    never per-row Python). Adds ``out_col`` as array<double> of dim k."""
    mu = np.asarray(mean, dtype=np.float64)
    comps = np.asarray(components, dtype=np.float64)

    @F.pandas_udf("array<double>")
    def _proj(s: pd.Series) -> pd.Series:
        X = np.stack(s.to_numpy())
        Y = (X - mu) @ comps.T
        return pd.Series(list(Y))

    return df.withColumn(out_col, _proj(F.col(emb_col)))
