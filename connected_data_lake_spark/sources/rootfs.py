"""rootfs table: a filesystem tree as one columnar table.

Re-expresses the reference's core data model (SURVEY §1.1; schema from
reference crates/cdl-fs/src/lib.rs:772-787): one row per file — or per chunk
when chunking is enabled — with POSIX metadata and the raw bytes in a
BinaryType ``data`` column.

Spark-first design decisions:

- Ingestion uses the built-in ``binaryFile`` source (distributed, file-split
  planning done by Spark) instead of the reference's driver-side glob+stream
  loop (reference lib.rs:593-715). Executors read files in parallel.
- Chunking (reference lib.rs:666-697: ⌈size/chunk⌉ rows, metadata populated
  only on the head chunk) is a DataFrame transform: posexplode over byte
  slices — no imperative loop, scales with partitions.
- Reassembly never relies on scan order (the reference leans on Lance
  ``scan_in_order``, lib.rs:150); we always sort by (parent, name, chunk_id).
- Storage is parquet (columnar like Lance). ``data`` payload pages are
  skipped automatically by parquet column pruning for metadata-only queries
  (the reference's P1 "x'' AS data" trick becomes unnecessary, but is kept
  for API parity).

Unsigned caveat (SURVEY §7.3): reference mode/size/chunk_* are u32/u64;
Spark has no unsigned types — LongType covers every real file, sizes beyond
2^63-1 are unsupported.
"""

from __future__ import annotations

import os
import re
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Arrow/Spark schema of the rootfs table (reference lib.rs:772-787).
ROOTFS_SCHEMA = T.StructType(
    [
        T.StructField("name", T.StringType(), False),
        T.StructField("parent", T.StringType(), False),
        T.StructField("atime", T.TimestampNTZType(), True),
        T.StructField("ctime", T.TimestampNTZType(), True),
        T.StructField("mtime", T.TimestampNTZType(), True),
        T.StructField("mode", T.LongType(), True),
        T.StructField("size", T.LongType(), True),
        T.StructField("chunk_id", T.LongType(), False),
        T.StructField("chunk_offset", T.LongType(), False),
        T.StructField("chunk_size", T.LongType(), False),
        T.StructField("data", T.BinaryType(), True),
    ]
)

ROOTFS_COLUMNS = [f.name for f in ROOTFS_SCHEMA.fields]


def ingest_dir(
    spark: SparkSession,
    root: str,
    max_chunk_size: int = 0,
    glob: str = "*",
) -> DataFrame:
    """Read a directory tree into the rootfs schema (reference S3:
    load_all/local glob streaming, lib.rs:593-715).

    ``binaryFile`` provides path/modificationTime/length/content; POSIX
    atime/ctime/mode aren't surfaced by the Hadoop API, so mtime stands in
    for all three timestamps and mode is a constant 0o644 — the queryable
    shape (NULL-able metadata on head chunks only) is preserved exactly.
    """
    root = os.path.abspath(root)
    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .option("recursiveFileLookup", "true")
        .load(root)
    )
    # binaryFile produces no splits for zero-byte files and silently drops
    # them; the reference ingests them as ordinary rows. Union them back in
    # from a Hadoop-FS listing (driver-side, same cost class as Spark's own
    # file-index planning; works for file:/ and s3a:/ alike).
    empties = _list_empty_files(spark, root)
    if empties is not None:
        raw = raw.unionByName(empties)
    # never ingest our own table directory (local table_uri nests under the
    # dataset root as <root>/.rootfs — see catalog.GlobalPath.table_uri)
    raw = raw.filter(~F.col("path").like("%/.rootfs/%"))
    # path is a "file:/abs/..." URI; rel = path below the ingest root, and
    # parent is the "/"-rooted dir path relative to the dataset root
    # (reference GlobalPath semantics, lib.rs:192-229).
    prefix_len = len("file:") + len(root.rstrip("/")) + 1  # +1 for the "/"
    base = (
        raw.select(
            F.expr(f"substring(path, {prefix_len + 1})").alias("_rel"),
            F.col("modificationTime").cast("timestamp_ntz").alias("mtime"),
            F.col("length").alias("size"),
            F.col("content").alias("data"),
        )
        .withColumn("name", F.element_at(F.split("_rel", "/"), -1))
        .select(
            "name",
            F.when(
                F.instr("_rel", "/") > 0,
                F.expr("concat('/', substring(_rel, 1, length(_rel) - length(name) - 1))"),
            )
            .otherwise(F.lit("/"))
            .alias("parent"),
            F.col("mtime").alias("atime"),
            F.col("mtime").alias("ctime"),
            "mtime",
            F.lit(0o644).cast("long").alias("mode"),
            F.col("size").cast("long").alias("size"),
            "data",
        )
    )
    return _chunk(base, max_chunk_size)


def _list_empty_files(spark: SparkSession, root: str):
    """Zero-byte files under ``root`` in the binaryFile output shape
    (path/modificationTime/length/content), or None if there are none."""
    import datetime

    jvm = spark.sparkContext._jvm
    jsc = spark.sparkContext._jsc
    hpath = jvm.org.apache.hadoop.fs.Path(root)
    fs = hpath.getFileSystem(jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        return None
    it = fs.listFiles(hpath, True)
    rows = []
    while it.hasNext():
        st = it.next()
        if st.getLen() == 0:
            rows.append(
                (
                    st.getPath().toString(),
                    datetime.datetime.fromtimestamp(
                        st.getModificationTime() / 1000.0, tz=datetime.timezone.utc
                    ),
                    0,
                    bytearray(b""),
                )
            )
    if not rows:
        return None
    # schema matches the binaryFile source exactly (modificationTime is a
    # regular TIMESTAMP there; tz-aware input avoids driver-tz ambiguity)
    return spark.createDataFrame(
        rows,
        T.StructType(
            [
                T.StructField("path", T.StringType(), False),
                T.StructField("modificationTime", T.TimestampType(), False),
                T.StructField("length", T.LongType(), False),
                T.StructField("content", T.BinaryType(), True),
            ]
        ),
    )


def _chunk(df: DataFrame, max_chunk_size: int) -> DataFrame:
    """Split payloads into ⌈size/chunk⌉ rows (reference lib.rs:666-697).

    Head-chunk semantics preserved: metadata (atime..size) is NULL on every
    chunk but the first (the reference's ``metadata.take()`` at lib.rs:687),
    which is what makes ``WHERE size IS NOT NULL`` a one-row-per-file
    listing predicate.
    """
    if max_chunk_size <= 0:
        return df.select(
            "name",
            "parent",
            "atime",
            "ctime",
            "mtime",
            "mode",
            "size",
            F.lit(0).cast("long").alias("chunk_id"),
            F.lit(0).cast("long").alias("chunk_offset"),
            F.coalesce(F.octet_length("data").cast("long"), F.lit(0)).alias("chunk_size"),
            "data",
        )
    n = F.greatest(
        F.ceil(F.octet_length("data").cast("long") / F.lit(max_chunk_size)).cast("long"),
        F.lit(1),
    )
    exploded = df.select(
        "name",
        "parent",
        "atime",
        "ctime",
        "mtime",
        "mode",
        "size",
        F.posexplode(F.sequence(F.lit(0).cast("long"), n - 1)).alias("_i", "chunk_id"),
        "data",
    )
    head = F.col("chunk_id") == 0
    return exploded.select(
        "name",
        "parent",
        F.when(head, F.col("atime")).alias("atime"),
        F.when(head, F.col("ctime")).alias("ctime"),
        F.when(head, F.col("mtime")).alias("mtime"),
        F.when(head, F.col("mode")).alias("mode"),
        F.when(head, F.col("size")).alias("size"),
        "chunk_id",
        (F.col("chunk_id") * max_chunk_size).alias("chunk_offset"),
        F.least(
            F.lit(max_chunk_size).cast("long"),
            F.octet_length("data").cast("long") - F.col("chunk_id") * max_chunk_size,
        ).alias("chunk_size"),
        F.expr(f"substring(data, chunk_id * {max_chunk_size} + 1, {max_chunk_size})").alias(
            "data"
        ),
    )


# ---------------------------------------------------------------------------
# transactional table commits
#
# The reference appends through a Lance commit handler with an etag
# conditional put (crates/cdl-fs/src/lib.rs:822-853, crates/cdl-catalog/src/
# lib.rs:241-243, :291): a write is a new set of immutable data files plus
# one atomically-published manifest, and two racing writers can never
# corrupt the table — one of them loses the conditional put and retries on
# the refreshed state. The Spark-side equivalent below:
#
#   <table>/txn-<uuid>/part-*.parquet   immutable data files, one dir/commit
#   <table>/_cdl_log/<N>.json           manifest: ordered file list of
#                                       snapshot N (JSON, versions dense)
#
# Commit = write data files to a fresh txn dir (invisible until published),
# then publish manifest N+1 via a put-if-absent — the protocol and both
# store implementations (link(2) local FS; S3-style If-None-Match, tested
# against an in-memory fake) live in sources/manifest.py. Readers resolve
# the highest manifest and read exactly its file list, so they never
# observe a partial write.
# ---------------------------------------------------------------------------

from connected_data_lake_spark.sources.manifest import (  # noqa: E402
    LocalFsStore,
    latest_manifest,
    manifest_files,
    merge_schemas,
    publish_manifest,
    snapshot_schema,
    txn_ledger,
)

_LOG_DIR = "_cdl_log"
_SCHEME_RE = re.compile(r"^[a-z][a-z0-9+.-]*://", re.IGNORECASE)


def _local_root(table_uri: str) -> str | None:
    """Local filesystem path for ``table_uri``, or None for object stores."""
    if table_uri.startswith("file:"):
        return "/" + table_uri.split(":", 1)[1].lstrip("/")
    if _SCHEME_RE.match(table_uri):
        return None
    return table_uri


def _latest_manifest(log_dir: str) -> tuple[int, list[str]]:
    """(version, relative file list) of the newest manifest; (-1, []) if none."""
    return latest_manifest(LocalFsStore(log_dir))


def _publish_manifest(
    root: str,
    new_files: list[str],
    replace: bool,
    stats: dict | None = None,
    schema=None,
    txn: tuple[str, int] | None = None,
) -> int | None:
    """Optimistic-concurrency commit against the table's local log dir."""
    return publish_manifest(
        LocalFsStore(os.path.join(root, _LOG_DIR)),
        new_files,
        replace,
        stats=stats,
        schema=schema,
        txn=txn,
    )


def _data_files(data_dir: str) -> list[str]:
    return sorted(
        f for f in os.listdir(data_dir) if f.endswith(".parquet") and not f.startswith((".", "_"))
    )


def _migrate_legacy(root: str) -> None:
    """Snapshot pre-manifest parquet files (a table written by an older
    write_table) as version 0 so transactional appends layer on top."""
    legacy = [f for f in _data_files(root)]
    if legacy and not os.path.isdir(os.path.join(root, _LOG_DIR)):
        _publish_manifest(root, legacy, replace=True)


def write_table(
    df: DataFrame,
    table_uri: str,
    mode: str = "append",
    txn: tuple[str, int] | None = None,
    bloom_cols: list[str] | None = None,
) -> int | None:
    """Transactional append/overwrite sink (reference S4: Lance
    WriteMode::Append behind a commit handler, lib.rs:822-853).

    Data files are parquet with bounded file sizes — the reference caps
    ``max_bytes_per_file``; Spark's writer splits by task +
    maxRecordsPerFile — written to an invisible txn directory and published
    atomically via the manifest protocol above. Concurrent appends both
    land (serialized by the conditional put); a crashed writer leaves only
    an unreferenced txn dir that :func:`vacuum_table` removes. Object-store
    URIs fall back to the plain parquet writer (S3 conditional-put wiring
    is environment-limited here; see README).

    ``txn`` = (app_id, batch_version) requests an IDEMPOTENT append (the
    streaming-sink contract, manifest.publish_manifest): a batch at or
    below the app's recorded high-water mark is skipped — returns None and
    writes nothing. Returns the committed manifest version otherwise.

    ``bloom_cols`` additionally records a per-file Bloom bitset for each
    listed column (sources/bloom.py — one distributed aggregation over the
    files just written), giving equality-predicate data skipping on
    columns the layout does NOT cluster. Rewrites (compaction, z-order,
    DELETE) drop the bitsets of the files they replace — pruning stays
    conservative; re-append or re-write with ``bloom_cols`` to restore."""
    root = _local_root(table_uri)
    if root is None:  # s3a://… — no local conditional put available
        df.write.format("parquet").mode(mode).save(table_uri)
        return None
    os.makedirs(root, exist_ok=True)
    _migrate_legacy(root)
    store = LocalFsStore(os.path.join(root, _LOG_DIR))
    if txn is not None and txn_ledger(store).get(txn[0], -1) >= txn[1]:
        return None  # replayed batch: skip before writing any data
    if mode != "overwrite":  # fail a conflicting append BEFORE writing data
        merge_schemas(snapshot_schema(store), df.schema)
    txn_dir = f"txn-{uuid.uuid4().hex}"
    data_dir = os.path.join(root, txn_dir)
    df.write.format("parquet").mode("overwrite").save(data_dir)
    new_files = [f"{txn_dir}/{f}" for f in _data_files(data_dir)]
    # zone maps into the manifest: footer-only reads of the files just
    # written (see sources/zonemap.py) so later scans and copy-on-write
    # maintenance can skip files a predicate cannot touch
    from .zonemap import collect_file_stats

    stats = {f: collect_file_stats(os.path.join(root, f)) for f in new_files}
    if bloom_cols:
        from .bloom import build_file_blooms

        blooms = build_file_blooms(
            df.sparkSession, {f: os.path.join(root, f) for f in new_files}, bloom_cols
        )
        for f, rec in blooms.items():
            stats[f]["bloom"] = rec
    # the commit records the table schema; appends MERGE it with the
    # snapshot's (new nullable columns evolve the table, type conflicts
    # raise — see manifest.merge_schemas), so reads at any version get
    # the shape the table had THEN
    version = _publish_manifest(
        root, new_files, replace=(mode == "overwrite"), stats=stats, schema=df.schema, txn=txn
    )
    if version is None:
        # lost the idempotency race to our own replay: drop the orphan data
        import shutil

        shutil.rmtree(data_dir, ignore_errors=True)
    return version


def read_table(spark: SparkSession, table_uri: str, version: int | None = None) -> DataFrame:
    """Table scan (reference S1), parquet-backed.

    Resolves the manifest snapshot (optionally a historical ``version`` —
    the Lance/Delta time-travel analogue) and reads exactly its file list
    under the schema RECORDED AT that version, so evolved columns read as
    NULL from pre-evolution files and time travel shows each version's own
    shape. Tables without a manifest (legacy or object-store) scan the
    directory; manifests without a recorded schema (older writers) fall
    back to the rootfs schema as before.
    """
    root = _local_root(table_uri)
    if root is not None:
        log_dir = os.path.join(root, _LOG_DIR)
        if os.path.isdir(log_dir):
            store = LocalFsStore(log_dir)
            if version is None:
                _, files = _latest_manifest(log_dir)
            else:
                files = manifest_files(store, version)
            schema = snapshot_schema(store, version) or ROOTFS_SCHEMA
            if not files:
                return spark.createDataFrame([], schema)
            return spark.read.schema(schema).parquet(
                *[os.path.join(root, f) for f in files]
            )
    return spark.read.schema(ROOTFS_SCHEMA).parquet(table_uri)


class RewriteInRange(Exception):
    """read_appends saw a file removal inside the requested version range —
    the table was rewritten (delete/compact/zorder), so append increments
    no longer describe the change; consumers must re-sync from a snapshot."""


def read_appends(
    spark: SparkSession,
    table_uri: str,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Rows appended between manifest versions ``(from_version,
    to_version]`` — the incremental-consumption primitive for append-only
    ingest (a training-data loader polls ``table_version()`` and reads only
    the new files since its checkpoint instead of rescanning the table; the
    Delta CDF / Lance ``ReadParams.version``-delta analogue for the append
    path). Scans ONLY the file-list difference of the two manifests, so the
    cost is proportional to the new data, never table size.

    Copy-on-write rewrites (``delete_where`` / ``compact_table`` /
    ``zorder_table``) REMOVE files, after which added-file rows are no
    longer purely appended rows; that case raises :class:`RewriteInRange`
    rather than silently double-counting surviving rows.
    """
    root = _local_root(table_uri)
    if root is None:
        raise ValueError(f"{table_uri!r} has no local manifest log")
    store = LocalFsStore(os.path.join(root, _LOG_DIR))
    if to_version is None:
        to_version, new_files = latest_manifest(store)
    else:
        new_files = manifest_files(store, to_version)
    if to_version < from_version:
        raise ValueError(f"to_version {to_version} < from_version {from_version}")
    old_files = set(manifest_files(store, from_version)) if from_version >= 0 else set()
    removed = old_files - set(new_files)
    if removed:
        raise RewriteInRange(
            f"{len(removed)} file(s) present at v{from_version} were removed "
            f"by v{to_version} (rewrite in range); re-sync from a snapshot"
        )
    added = [f for f in new_files if f not in old_files]
    schema = snapshot_schema(store, to_version) or ROOTFS_SCHEMA
    if not added:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(
        *[os.path.join(root, f) for f in added]
    )


def table_version(table_uri: str) -> int:
    """Current committed snapshot version (-1 when no manifest exists)."""
    root = _local_root(table_uri)
    if root is None:
        return -1
    v, _ = _latest_manifest(os.path.join(root, _LOG_DIR))
    return v


#: default VACUUM retention — Delta Lake's convention (7 days): files
#: younger than this are never reclaimed even when unreferenced, because an
#: in-flight writer may have staged them but not yet published its manifest.
VACUUM_RETENTION_HOURS = 168.0


def vacuum_table(table_uri: str, retention_hours: float = VACUUM_RETENTION_HOURS) -> int:
    """Delete data files not referenced by the CURRENT snapshot (crashed or
    superseded txn dirs) AND older than ``retention_hours``. Returns the
    number of files removed. Distinct from the reference's cache eviction —
    this is MVCC garbage collection, which Lance gets from
    ``cleanup_old_versions``.

    The retention window (mtime-based, Delta-style) is what makes vacuum
    safe to run concurrently with writers (ADVICE r5): a write_table /
    copy-on-write rewrite stages its txn dir BEFORE publishing the manifest,
    so a retention-free vacuum could delete the staged files and leave the
    subsequent commit referencing nothing. Pass ``retention_hours=0`` only
    with exclusive access (the CLI requires an explicit flag for this)."""
    import time

    root = _local_root(table_uri)
    if root is None:
        return 0
    log_dir = os.path.join(root, _LOG_DIR)
    if not os.path.isdir(log_dir):
        return 0
    _, live = _latest_manifest(log_dir)
    live_set = set(live)
    cutoff = time.time() - retention_hours * 3600.0

    def _expired(path: str) -> bool:
        try:
            return os.stat(path).st_mtime <= cutoff
        except OSError:
            return False  # concurrently removed — nothing to reclaim

    removed = 0
    for entry in os.listdir(root):
        tdir = os.path.join(root, entry)
        if entry.startswith("txn-") and os.path.isdir(tdir):
            for f in _data_files(tdir):
                fpath = os.path.join(tdir, f)
                if f"{entry}/{f}" not in live_set and _expired(fpath):
                    os.unlink(fpath)
                    removed += 1
            # drop the dir only when empty of data AND itself expired — a
            # writer's freshly-created staging dir must survive even before
            # its first data file lands
            if not _data_files(tdir) and _expired(tdir):
                import shutil

                shutil.rmtree(tdir)
        elif (
            entry.endswith(".parquet")
            and entry not in live_set
            and not entry.startswith((".", "_"))
            and _expired(tdir)
        ):
            os.unlink(tdir)  # legacy root-level file no longer referenced
            removed += 1
    return removed


def dump_to_dir(df: DataFrame, out_root: str) -> int:
    """Local FS sink (reference S5, lib.rs:721-770): rows → files on disk,
    reassembling chunks by explicit chunk_id order (never scan order).

    Executed with foreachPartition-style parallelism via a grouped
    reassembly: chunks of one file are grouped, ordered, concatenated, then
    written. Returns the number of files written.

    Driver note: file writes land on a shared filesystem path; on a real
    cluster this is a distributed-FS mount or an S3A path per file.
    """
    out_root = os.path.abspath(out_root)

    # Co-locate all chunks of a file in one partition, ordered by chunk_id,
    # then stream them to disk — bounded memory even for many-chunk files.
    rows = (
        df.select("parent", "name", "chunk_id", "data")
        .repartition("parent", "name")
        .sortWithinPartitions("parent", "name", "chunk_id")
    )

    def _write(part):
        import os as _os

        current = None
        handle = None
        count = 0
        for row in part:
            key = (row["parent"], row["name"])
            if key != current:
                if handle:
                    handle.close()
                rel = row["parent"].strip("/")
                dir_path = _os.path.join(out_root, rel) if rel else out_root
                _os.makedirs(dir_path, exist_ok=True)
                handle = open(_os.path.join(dir_path, row["name"]), "wb")
                current = key
                count += 1
            if row["data"]:
                handle.write(bytes(row["data"]))
        if handle:
            handle.close()
        yield count

    written = rows.rdd.mapPartitions(_write).sum()
    return int(written)
