"""Reference-parity rootfs canned queries (SURVEY §2: P1-P5, O1, U1),
oracle-checkable.

The driver's DuckDB oracle only knows the ten synthetic tables, so these
queries build a deterministic rootfs-shaped table FROM ``documents`` on
both engines (name = '<doc_id>.txt', parent = '/<source>', data =
utf8-encoded text, mtime = 2024-01-01 + doc_id minutes, mode = 420) and
then run the reference's canned query shapes over it:

- P1  projection with zero-byte binary literal dropping the payload
      (reference crates/cdl-fs/src/lib.rs:121-131)
- P3  ``parent LIKE`` directory filter (lib.rs:85-88)
- P4  ``size IS NOT NULL`` head-chunk predicate (lib.rs:87,93)
- P5  raw condition splice, read_files (lib.rs:167-176)
- O1  ``ORDER BY name ASC`` / ``ORDER BY parent, name`` (lib.rs:87,93)
- U1  ``len(BINARY) -> Int64`` UDF (crates/cdl-fs/src/functions/len.rs)
- chunking: ⌈size/chunk⌉ rows, metadata on head chunk only
      (lib.rs:666-697) — byte-exactness checked through hex(data)
      because DuckDB cannot slice BLOBs (the oracle slices the hex).

The real ingestion path (binaryFile → rootfs, same schema/chunking code)
is exercised by the CdlFS tests; these specs pin the QUERY semantics under
the driver's value-hash gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from connected_data_lake_spark.plans import query
from connected_data_lake_spark.plans.extensions import _built
from connected_data_lake_spark.sources.rootfs import _chunk
from connected_data_lake_spark.sources.tables import load_table

#: shared DuckDB-side construction of the rootfs fixture
_ORACLE_BASE = """
      SELECT CAST(doc_id AS VARCHAR) || '.txt' AS name,
             '/' || source AS parent,
             TIMESTAMP '2024-01-01 00:00:00' + INTERVAL (doc_id) MINUTE AS mtime,
             420 AS mode,
             CAST(octet_length(encode(text)) AS BIGINT) AS size,
             encode(text) AS data
      FROM documents
"""


def _rootfs_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark-side twin of _ORACLE_BASE (plus the chunk-less chunk cols)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        F.concat(F.col("doc_id").cast("string"), F.lit(".txt")).alias("name"),
        F.concat(F.lit("/"), F.col("source")).alias("parent"),
        F.expr("timestampadd(MINUTE, doc_id, TIMESTAMP_NTZ '2024-01-01 00:00:00')").alias(
            "mtime"
        ),
        F.lit(420).cast("int").alias("mode"),
        F.octet_length(F.encode("text", "UTF-8")).cast("long").alias("size"),
        F.encode("text", "UTF-8").alias("data"),
    )


@query(
    "rootfs_read_dir",
    oracle=f"""
    WITH rootfs AS ({_ORACLE_BASE})
    SELECT name, parent, mtime, mode, size,
           hex(encode('')) AS data_hex
    FROM rootfs
    WHERE parent LIKE '/src1' AND size IS NOT NULL
    ORDER BY name ASC
    """,
    tags=("rootfs",),
)
def rootfs_read_dir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """read_dir: directory listing with payload dropped via zero-byte
    binary literal (P1+P3+P4+O1 in the reference's one canned query).
    The declared output hex-encodes the binary column (like rootfs_chunked)
    because raw BINARY cannot be canonical-sorted by the comparison harness;
    the zero-byte literal semantics are unchanged — hex('') = ''."""
    fs = _rootfs_from_documents(spark, sf_dir)
    return (
        fs.filter(F.col("parent").like("/src1") & F.col("size").isNotNull())
        .select(
            "name",
            "parent",
            "mtime",
            "mode",
            "size",
            F.hex(F.lit(b"")).alias("data_hex"),
        )
        .orderBy(F.col("name").asc())
    )


@query(
    "rootfs_read_dir_all",
    oracle=f"""
    WITH rootfs AS ({_ORACLE_BASE})
    SELECT parent, name, size
    FROM rootfs
    WHERE size IS NOT NULL
    ORDER BY parent ASC, name ASC
    """,
    tags=("rootfs",),
)
def rootfs_read_dir_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """read_dir_all: full listing ordered by (parent, name) — O1."""
    fs = _rootfs_from_documents(spark, sf_dir)
    return (
        fs.filter(F.col("size").isNotNull())
        .select("parent", "name", "size")
        .orderBy(F.col("parent").asc(), F.col("name").asc())
    )


@query(
    "rootfs_len_udf",
    oracle=f"""
    WITH rootfs AS ({_ORACLE_BASE})
    SELECT name, CAST(octet_length(data) AS BIGINT) AS data_len
    FROM rootfs
    ORDER BY name
    """,
    tags=("rootfs", "udf"),
)
def rootfs_len_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1: the reference's one custom UDF — len(BINARY) → Int64 (byte
    count; reference len.rs:20-84). Spark's built-in len/length on BINARY
    already returns the byte count, so registration is an alias."""
    fs = _rootfs_from_documents(spark, sf_dir)
    fs.createOrReplaceTempView("rootfs_tmp")
    return spark.sql(
        "SELECT name, CAST(len(data) AS BIGINT) AS data_len FROM rootfs_tmp ORDER BY name"
    )


@query(
    "rootfs_condition_splice",
    oracle=f"""
    WITH rootfs AS ({_ORACLE_BASE})
    SELECT name, parent, size
    FROM rootfs
    WHERE size >= 300 AND name LIKE '1%'
    ORDER BY name
    """,
    tags=("rootfs",),
)
def rootfs_condition_splice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5: read_files(condition) — a raw SQL fragment spliced as the WHERE
    clause; on Spark it goes through filter(expr(...)), i.e. Catalyst's
    parser, never string-concatenated into a statement."""
    fs = _rootfs_from_documents(spark, sf_dir)
    return (
        fs.filter(F.expr("size >= 300 AND name LIKE '1%'"))
        .select("name", "parent", "size")
        .orderBy("name")
    )


@query(
    "rootfs_chunked",
    oracle=f"""
    WITH rootfs AS ({_ORACLE_BASE}),
    c AS (
      SELECT name, size AS file_size, hex(data) AS hx,
             UNNEST(generate_series(0, CAST(ceil(size / 256.0) AS BIGINT) - 1)) AS chunk_id
      FROM rootfs
    )
    SELECT name,
           chunk_id,
           chunk_id * 256 AS chunk_offset,
           LEAST(256, file_size - chunk_id * 256) AS chunk_size,
           CASE WHEN chunk_id = 0 THEN file_size END AS size,
           substring(hx, chunk_id * 512 + 1, 512) AS data_hex
    FROM c
    ORDER BY name, chunk_id
    """,
    tags=("rootfs", "chunking"),
)
def rootfs_chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunked ingestion semantics (reference lib.rs:666-697): ⌈size/256⌉
    rows per file, metadata only on the head chunk, byte-exact chunk
    payloads (compared as hex because DuckDB cannot slice BLOBs)."""
    fs = _rootfs_from_documents(spark, sf_dir).select(
        "name",
        F.lit("/x").alias("parent"),
        F.lit(None).cast("timestamp_ntz").alias("atime"),
        F.lit(None).cast("timestamp_ntz").alias("ctime"),
        F.lit(None).cast("timestamp_ntz").alias("mtime"),
        F.lit(None).cast("long").alias("mode"),
        "size",
        "data",
    )
    chunked = _chunk(fs, max_chunk_size=256)
    return chunked.select(
        "name",
        "chunk_id",
        "chunk_offset",
        "chunk_size",
        "size",
        F.hex("data").alias("data_hex"),
    ).orderBy("name", "chunk_id")


def _federated_datasets(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Build-once pair of REAL CdlFS datasets for the federation query —
    the engine half of the reference's "connected" data lakes (bucket
    replication across clusters, crates/cdl-k8s-provider/src/object.rs:
    1203-1340; two-cluster sync bench, benchmark/src/command/sync.rs:
    20-71): dataset A holds ``<doc_id>.txt`` for ``doc_id % 3 = 0``,
    dataset B the same names for ``doc_id % 2 = 0`` with two extra
    bytes, so a cross-dataset join has a deterministic overlap
    (``% 6 = 0``) with distinct per-side sizes. Both go through the
    real ingestion path (``CdlFS.load`` → binaryFile → transactional
    rootfs table)."""
    import os

    from connected_data_lake_spark.filesystem import Cdl

    def build(base: str) -> None:
        a_dir, b_dir = os.path.join(base, "a"), os.path.join(base, "b")
        os.makedirs(a_dir), os.makedirs(b_dir)
        pdf = (
            load_table(spark, sf_dir, "documents")
            .select("doc_id", "text")
            .filter((F.col("doc_id") % 3 == 0) | (F.col("doc_id") % 2 == 0))
            .toPandas()  # fixture build only: writes a local file tree
        )
        for r in pdf.itertuples():
            blob = (r.text or "").encode("utf-8")
            if r.doc_id % 3 == 0:
                with open(os.path.join(a_dir, f"{r.doc_id}.txt"), "wb") as fh:
                    fh.write(blob)
            if r.doc_id % 2 == 0:
                with open(os.path.join(b_dir, f"{r.doc_id}.txt"), "wb") as fh:
                    fh.write(blob + b"!!")
        cdl = Cdl(spark=spark)
        fa, fb = cdl.open_all(f"local://{a_dir}", f"local://{b_dir}")
        fa.load(), fb.load()

    base = _built("fed_v1", sf_dir, ("documents",), build)
    return os.path.join(base, "a"), os.path.join(base, "b")


@query(
    "rootfs_cross_dataset_join",
    oracle="""
    SELECT doc_id % 5 AS grp,
           COUNT(*) AS n_files,
           CAST(SUM(octet_length(encode(text))) AS BIGINT) AS bytes_a,
           CAST(SUM(octet_length(encode(text)) + 2) AS BIGINT) AS bytes_b
    FROM documents
    WHERE doc_id % 6 = 0
    GROUP BY grp
    ORDER BY grp
    """,
    tags=("rootfs", "federation"),
)
def rootfs_cross_dataset_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FEDERATED two-dataset query: open BOTH datasets in one session
    (``Cdl.open_all``) and join them by file name through their
    per-dataset views (``CdlFS.view_name``) — the surface the r13
    ``rootfs``-alias clobbering made impossible (filesystem.py
    ``_register``/``table``). Each side's rows come from its OWN
    transactional table; sizes differ by the fixture's 2-byte suffix,
    so serving either dataset's rows for the other breaks the oracle."""
    from connected_data_lake_spark.filesystem import Cdl

    a_dir, b_dir = _federated_datasets(spark, sf_dir)
    cdl = Cdl(spark=spark)
    fa, fb = cdl.open_all(f"local://{a_dir}", f"local://{b_dir}")
    fa.table(), fb.table()  # bind each dataset's per-URI view
    return cdl.sql(
        f"""
        SELECT CAST(replace(a.name, '.txt', '') AS BIGINT) % 5 AS grp,
               COUNT(*) AS n_files,
               SUM(a.size) AS bytes_a,
               SUM(b.size) AS bytes_b
        FROM {fa.view_name} a
        JOIN {fb.view_name} b ON a.name = b.name
        WHERE a.size IS NOT NULL AND b.size IS NOT NULL
        GROUP BY CAST(replace(a.name, '.txt', '') AS BIGINT) % 5
        ORDER BY grp
        """
    )
