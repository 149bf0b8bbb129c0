"""External Apache Iceberg table WRITE path (no iceberg-spark runtime).

The egress counterpart of :mod:`sources.iceberg` (same rationale as
:mod:`sources.delta_write` — results computed here must land where the
user's existing stack can read them; reference context: its datasets
are S3-resident lake tables, crates/cdl-fs/src/lib.rs:343-353). This
module writes format-version 2 Iceberg metadata — ``*.metadata.json``,
manifest lists and manifests as REAL Avro OCF (the stdlib codec in
:mod:`sources.avro_ocf`), data files as parquet **with field ids in the
footer** — per iceberg.apache.org/spec, so pyiceberg / Spark's Iceberg
runtime / Trino / DuckDB iceberg can read what this engine writes, and
``write_iceberg`` + :func:`sources.iceberg.read_iceberg` round-trips
in-repo (driver-verified against a DuckDB oracle in
``plans/lakeops.py::iceberg_write_roundtrip``).

Scope and the loud gates:

- create / append / overwrite of FLAT primitive schemas (nested struct/
  array/map field-id assignment is not implemented — gate). Appends
  reuse the table's existing field ids and refuse schema drift.
- identity partitioning on string/int/long columns (transform writes —
  bucket/truncate/time — are reader-only; gate).
- every commit = one new manifest (ADDED entries with real record
  counts, per-file int/long/string column bounds from parquet FOOTERS)
  + a manifest list that carries the previous snapshot's manifests
  forward (append) or drops them (overwrite — old files stay readable
  via time travel to the prior snapshot), + one new ``v{N}.metadata.json``
  committed put-if-absent with ``version-hint.text`` updated atomically
  (HadoopTables convention, matching the reader's discovery order).

Scale notes (100 TB): the data write is one distributed Spark parquet
write (identity-partition fanout included — partition columns are
DUPLICATED under staging aliases so the data files keep every column,
then the alias dirs are parsed back into typed partition values); the
metadata write is driver-side and proportional to the FILE COUNT of the
commit, not the data (footer stat reads + one Avro manifest — the same
planning-metadata class as every Iceberg writer). Manifest-list
carry-forward is O(manifests), so a long-lived table pays one small
Avro rewrite per commit, never a data rewrite.
"""

from __future__ import annotations

import json
import os
import struct
import time
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from connected_data_lake_spark.sources.avro_ocf import read_ocf, write_ocf
from connected_data_lake_spark.sources.iceberg import (
    IcebergProtocolError,
    IcebergStore,
    _latest_metadata_name,
)
from connected_data_lake_spark.sources.manifest import LocalFsStore
from connected_data_lake_spark.sources.staging import stage_parquet

#: Spark → Iceberg primitive type names (spec "Primitive Types").
_SPARK_TO_ICE: list[tuple[type, str]] = [
    (T.LongType, "long"),
    (T.IntegerType, "int"),
    (T.ShortType, "int"),
    (T.ByteType, "int"),
    (T.DoubleType, "double"),
    (T.FloatType, "float"),
    (T.StringType, "string"),
    (T.BooleanType, "boolean"),
    (T.DateType, "date"),
    (T.TimestampType, "timestamptz"),
    (T.TimestampNTZType, "timestamp"),
    (T.BinaryType, "binary"),
]

#: Iceberg ↔ Avro type for identity PARTITION values we can serialize
#: into the manifest's typed partition record and the manifest-list
#: partition summaries.
_PART_AVRO = {"long": "long", "int": "int", "string": "string"}


def _ice_type(dt: T.DataType) -> str:
    if isinstance(dt, T.DecimalType):
        return f"decimal({dt.precision}, {dt.scale})"
    for spark_t, ice in _SPARK_TO_ICE:
        if isinstance(dt, spark_t):
            return ice
    raise IcebergProtocolError(
        f"cannot write Spark type {dt.simpleString()} to Iceberg (flat "
        "primitive schemas only — nested field-id assignment is not "
        "implemented)"
    )


def _bound_bytes(ice_type: str, value) -> bytes | None:
    """Single-value serialization for bounds (spec Appendix D)."""
    if value is None:
        return None
    if ice_type == "long":
        return struct.pack("<q", int(value))
    if ice_type == "int":
        return struct.pack("<i", int(value))
    if ice_type == "string":
        return str(value).encode("utf-8")
    return None


def _with_field_ids(df: DataFrame, ids: dict[str, int]) -> DataFrame:
    """Attach ``parquet.field.id`` metadata so Spark's parquet writer
    stamps footer field ids — the reader's id-only resolution then works
    on our own files exactly as on Spark/Iceberg-runtime-written ones."""
    from pyspark.sql import functions as F

    # alias(metadata=...) stamps the metadata on the PLAN attributes —
    # DataFrame.to() updates only the Python-side schema and the parquet
    # writer never sees it (verified empirically on pyspark 4.1)
    return df.select(
        *[
            F.col(f.name).alias(
                f.name,
                metadata={**(f.metadata or {}), "parquet.field.id": ids[f.name]},
            )
            for f in df.schema.fields
        ]
    )


def _footer_stats(local_path: str) -> tuple[int, dict[str, tuple], dict[str, int]]:
    """(num_rows, {col: (min, max)}, {col: null_count}) from the parquet
    footer only."""
    import pyarrow.parquet as pq

    meta = pq.ParquetFile(local_path).metadata
    mins: dict = {}
    maxs: dict = {}
    nulls: dict = {}
    for rg in range(meta.num_row_groups):
        g = meta.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            name = col.path_in_schema
            if "." in name:
                continue
            st = col.statistics
            if st is not None and st.has_null_count:
                nulls[name] = nulls.get(name, 0) + st.null_count
            if st is not None and st.has_min_max:
                mn, mx = st.min, st.max
                mins[name] = mn if name not in mins else min(mins[name], mn)
                maxs[name] = mx if name not in maxs else max(maxs[name], mx)
    bounds = {k: (mins[k], maxs[k]) for k in mins if k in maxs}
    return meta.num_rows, bounds, nulls


def _current_meta(path: str) -> tuple[dict, int] | None:
    """(metadata dict, metadata version N from v{N}.metadata.json) or
    None for a fresh table."""
    store = IcebergStore(path)
    try:
        name = _latest_metadata_name(store, path)
    except (FileNotFoundError, IcebergProtocolError):
        return None
    meta = json.loads(store.read_metadata_bytes(name))
    base = os.path.basename(name)
    ver = int(base.split(".", 1)[0].lstrip("v"))
    return meta, ver


def _entry_avro_schema(part_fields: list[tuple[str, str]]) -> dict:
    from connected_data_lake_spark.plans.lakeops import iceberg_entry_schema

    return iceberg_entry_schema(
        [(n, _PART_AVRO[t]) for n, t in part_fields] or None
    )


def _unpartitioned_spec(meta: dict) -> tuple[int, list[dict] | None]:
    """Spec id to register DELETE manifests under, with global scope.

    Per the spec's Scan Planning rules a delete file applies to a data
    file when their partitions match "or the delete file's partition
    spec is unpartitioned" — so committing delete manifests under an
    unpartitioned spec makes them apply table-wide, which is the
    semantics this engine's delete writers implement (and what external
    readers must see; an all-null partition tuple under the PARTITIONED
    default spec would instead scope the deletes to the null partition
    and resurrect deleted rows elsewhere).

    Returns ``(spec_id, partition_specs_to_commit)`` — the second item
    is None when the table already carries an unpartitioned spec (or
    has no spec list at all), else the new ``partition-specs`` list the
    commit must include."""
    specs = list(meta.get("partition-specs", []))
    if not specs:
        return int(meta.get("default-spec-id", 0)), None
    for s in specs:
        if not s.get("fields"):
            return int(s["spec-id"]), None
    new_id = max(int(s["spec-id"]) for s in specs) + 1
    return new_id, specs + [{"spec-id": new_id, "fields": []}]


def _manifest_list_schema() -> dict:
    from connected_data_lake_spark.plans.lakeops import (
        ICEBERG_MANIFEST_FILE_SCHEMA_SUMMARIES,
    )

    return ICEBERG_MANIFEST_FILE_SCHEMA_SUMMARIES


def write_iceberg(
    df: DataFrame,
    path: str,
    mode: str = "append",
    partition_by: list[str] | None = None,
    schema_mode: str = "strict",
) -> int:
    """Write ``df`` to an Iceberg v2 table at local ``path``; returns the
    committed snapshot id.

    ``mode``: ``append`` (create if absent), ``overwrite`` (the new
    snapshot's manifest list references only this commit's manifest —
    prior files stay time-travelable), ``error``, ``ignore``.
    ``partition_by`` = identity transforms on string/int/long columns;
    partition values land in each manifest entry's typed partition
    record AND in the manifest-list partition summaries, so the reader's
    two-level static pruning works on written tables.

    ``schema_mode="merge"``: new df columns evolve the table schema —
    fresh FIELD IDS from ``last-column-id``, a NEW schema object with a
    bumped schema-id (old schemas retained per spec), the snapshot
    stamped with it; old files read null for the new ids via the
    reader's id-only resolution. Narrower dfs are allowed (their files
    read null for omitted ids). Types never change.
    """
    if schema_mode not in ("strict", "merge"):
        raise ValueError(f"unknown schema_mode {schema_mode!r}")
    if mode not in ("append", "overwrite", "error", "ignore"):
        raise ValueError(f"unknown mode {mode!r}")
    partition_by = list(partition_by or [])
    for c in partition_by:
        if c not in df.columns:
            raise ValueError(f"partition column {c!r} not in DataFrame")

    spark = df.sparkSession
    cur = _current_meta(path)
    if cur is not None and mode == "error":
        raise FileExistsError(f"Iceberg table already exists: {path}")
    if cur is not None and mode == "ignore":
        return int(cur[0]["current-snapshot-id"])

    # ---- schema + field ids ------------------------------------------------
    if cur is None:
        ids = {f.name: i + 1 for i, f in enumerate(df.schema.fields)}
        ice_fields = [
            {
                "id": ids[f.name],
                "name": f.name,
                "required": not f.nullable,
                "type": _ice_type(f.dataType),
            }
            for f in df.schema.fields
        ]
    else:
        meta0 = cur[0]
        schemas = {s["schema-id"]: s for s in meta0.get("schemas", [])}
        cur_schema = schemas.get(meta0.get("current-schema-id", 0)) or meta0.get(
            "schema"
        )
        ice_fields = list(cur_schema["fields"])
        theirs = {f["name"]: f["type"] for f in ice_fields}
        ours = {f.name: _ice_type(f.dataType) for f in df.schema.fields}
        if schema_mode == "merge":
            clash = [n for n in ours if n in theirs and theirs[n] != ours[n]]
            if clash:
                raise ValueError(
                    f"schema merge cannot change column types: {clash}"
                )
            next_id = int(meta0.get("last-column-id", 0))
            for f in df.schema.fields:
                if f.name not in theirs:
                    next_id += 1
                    ice_fields.append(
                        {
                            "id": next_id,
                            "name": f.name,
                            "required": False,  # evolved cols: optional
                            "type": _ice_type(f.dataType),
                        }
                    )
        elif theirs != ours:
            raise ValueError(
                f"schema mismatch with existing table: table={sorted(theirs.items())} "
                f"df={sorted(ours.items())} (use schema_mode='merge' to "
                "add columns)"
            )
        ids = {f["name"]: f["id"] for f in ice_fields}
        existing_spec = (
            {s["spec-id"]: s for s in meta0.get("partition-specs", [])}.get(
                meta0.get("default-spec-id", 0), {"fields": []}
            )
        )
        spec_cols = [
            pf["name"] for pf in existing_spec.get("fields", [])
        ]
        if spec_cols != partition_by:
            raise ValueError(
                f"partition_by {partition_by} != existing table's {spec_cols}"
            )
        for pf in existing_spec.get("fields", []):
            if pf.get("transform", "identity") != "identity":
                raise IcebergProtocolError(
                    f"cannot write to a table partitioned by transform "
                    f"{pf['transform']!r} (identity-only writer)"
                )

    part_fields: list[tuple[str, str]] = []
    for c in partition_by:
        t = {f["name"]: f["type"] for f in ice_fields}[c]
        if t not in _PART_AVRO:
            raise IcebergProtocolError(
                f"identity partition on {t!r} column {c!r} not supported "
                "(string/int/long only)"
            )
        part_fields.append((c, t))

    # ---- data files (field-id-stamped parquet, identity fanout) -----------
    os.makedirs(os.path.join(path, "data"), exist_ok=True)
    os.makedirs(os.path.join(path, "metadata"), exist_ok=True)
    token = uuid.uuid4().hex
    files = _stage_iceberg_data_files(
        spark, path, df, partition_by, part_fields, ids, token
    )

    # ---- snapshot numbering ------------------------------------------------
    if cur is None:
        meta0 = None
        snap_id, seq, meta_ver = 1, 1, 1
        snapshots: list[dict] = []
        snap_log: list[dict] = []
        parent = None
    else:
        meta0, prev_ver = cur
        snapshots = list(meta0.get("snapshots", []))
        snap_log = list(meta0.get("snapshot-log", []))
        snap_id = max(s["snapshot-id"] for s in snapshots) + 1 if snapshots else 1
        seq = int(meta0.get("last-sequence-number", 0)) + 1
        meta_ver = prev_ver + 1
        parent = meta0.get("current-snapshot-id")

    now_ms = int(time.time() * 1000)
    type_of = {f["name"]: f["type"] for f in ice_fields}
    id_of = {f["name"]: f["id"] for f in ice_fields}

    # ---- manifest ----------------------------------------------------------
    entries = []
    n_rows_total = 0
    for rel, pvals in files:
        full = os.path.join(path, "data", rel)
        n_rows, bounds, _nulls = _footer_stats(full)
        n_rows_total += n_rows
        lower, upper = [], []
        for col, (lo, hi) in sorted(bounds.items()):
            if col not in id_of:
                continue
            blo = _bound_bytes(type_of[col], lo)
            bhi = _bound_bytes(type_of[col], hi)
            if blo is not None and bhi is not None:
                lower.append({"key": id_of[col], "value": blo})
                upper.append({"key": id_of[col], "value": bhi})
        entries.append(
            {
                "status": 1,  # ADDED
                "snapshot_id": snap_id,
                "sequence_number": seq,
                "file_sequence_number": seq,
                "data_file": {
                    "content": 0,
                    "file_path": f"{path}/data/{rel}",
                    "file_format": "PARQUET",
                    "partition": dict(pvals),
                    "record_count": n_rows,
                    "file_size_in_bytes": os.path.getsize(full),
                    "lower_bounds": lower or None,
                    "upper_bounds": upper or None,
                },
            }
        )
    mname = f"m-{token}.avro"
    mblob = write_ocf(_entry_avro_schema(part_fields), entries)
    with open(os.path.join(path, "metadata", mname), "wb") as fh:
        fh.write(mblob)

    # ---- manifest list -----------------------------------------------------
    def _summary(col_type: str, values: list) -> dict:
        present = [v for v in values if v is not None]
        return {
            "contains_null": any(v is None for v in values),
            "contains_nan": False,
            "lower_bound": _bound_bytes(col_type, min(present)) if present else None,
            "upper_bound": _bound_bytes(col_type, max(present)) if present else None,
        }

    ml_recs = [
        {
            "manifest_path": f"{path}/metadata/{mname}",
            "manifest_length": len(mblob),
            "partition_spec_id": 0,
            "content": 0,
            "sequence_number": seq,
            "min_sequence_number": seq,
            "added_snapshot_id": snap_id,
            "added_files_count": len(files),
            "existing_files_count": 0,
            "deleted_files_count": 0,
            "added_rows_count": n_rows_total,
            "existing_rows_count": 0,
            "deleted_rows_count": 0,
            "partitions": [
                _summary(t, [pv.get(c) for _rel, pv in files])
                for c, t in part_fields
            ]
            or None,
        }
    ]
    if mode == "append" and meta0 is not None and parent is not None:
        prev_snap = next(
            s for s in snapshots if s["snapshot-id"] == parent
        )
        _schema, carried = read_ocf(
            IcebergStore(path).read_uri(prev_snap["manifest-list"])
        )
        ml_schema_fields = {
            f["name"] for f in _manifest_list_schema()["fields"]
        }
        for rec in carried:
            ml_recs.append(
                {k: rec.get(k) for k in ml_schema_fields}
            )
    ml_name = f"snap-{snap_id}-1-{token}.avro"
    ml_blob = write_ocf(_manifest_list_schema(), ml_recs)
    with open(os.path.join(path, "metadata", ml_name), "wb") as fh:
        fh.write(ml_blob)

    # ---- metadata.json (put-if-absent) + version hint ----------------------
    # schema bookkeeping: unchanged schemas keep their id; an evolved
    # field set gets a NEW schema object with a bumped id, prior schemas
    # retained (spec: "schemas" is the full history, time travel resolves
    # each snapshot's schema-id)
    prev_schemas = list((meta0 or {}).get("schemas", []))
    match = next(
        (
            sch["schema-id"]
            for sch in prev_schemas
            if sch.get("fields") == ice_fields
        ),
        None,
    )
    if match is None:
        schema_id = (
            max((sch["schema-id"] for sch in prev_schemas), default=-1) + 1
        )
        schemas_out = prev_schemas + [
            {"schema-id": schema_id, "type": "struct", "fields": ice_fields}
        ]
    else:
        schema_id = match
        schemas_out = prev_schemas or [
            {"schema-id": 0, "type": "struct", "fields": ice_fields}
        ]
    snapshot = {
        "snapshot-id": snap_id,
        "sequence-number": seq,
        "timestamp-ms": now_ms,
        "summary": {
            "operation": "append" if mode == "append" else "overwrite"
        },
        "manifest-list": f"{path}/metadata/{ml_name}",
        "schema-id": schema_id,
    }
    if parent is not None:
        snapshot["parent-snapshot-id"] = parent
    new_meta = {
        "format-version": 2,
        "table-uuid": (meta0 or {}).get("table-uuid", str(uuid.uuid4())),
        "location": path,
        "last-sequence-number": seq,
        "last-updated-ms": now_ms,
        "last-column-id": max(ids.values()),
        "current-schema-id": schema_id,
        "schemas": schemas_out,
        "default-spec-id": 0,
        "partition-specs": [
            {
                "spec-id": 0,
                "fields": [
                    {
                        "name": c,
                        "transform": "identity",
                        "source-id": id_of[c],
                        "field-id": 1000 + i,
                    }
                    for i, (c, _t) in enumerate(part_fields)
                ],
            }
        ],
        "last-partition-id": 999 + len(part_fields),
        "default-sort-order-id": 0,
        "sort-orders": [{"order-id": 0, "fields": []}],
        "current-snapshot-id": snap_id,
        "snapshots": snapshots + [snapshot],
        "snapshot-log": snap_log + [
            {"snapshot-id": snap_id, "timestamp-ms": now_ms}
        ],
    }
    _commit_iceberg_metadata(path, meta_ver - 1, new_meta, token)
    return snap_id


# ---------------------------------------------------------------------------
# maintenance: rewrite_data_files + expire_snapshots
# ---------------------------------------------------------------------------


def compact_iceberg(
    spark, path: str, target_file_rows: int = 1_000_000,
    zorder_by: list[str] | None = None,
) -> int:
    """rewrite_data_files-style compaction: read the current snapshot,
    bin-pack into ~``target_file_rows``-row files, commit as a
    ``replace`` snapshot whose manifest list carries ONLY the rewritten
    manifest (prior snapshots stay time-travelable until expired).
    Returns the new snapshot id. One distributed job + one metadata
    commit — the same scale shape as :func:`sources.delta_write.
    compact_delta`, and the reset lever for MoR-style small-file and
    manifest growth."""
    from connected_data_lake_spark.sources.iceberg import read_iceberg

    cur = _current_meta(path)
    if cur is None:
        raise FileNotFoundError(f"not an Iceberg table: {path}")
    meta0 = cur[0]
    spec = {s["spec-id"]: s for s in meta0.get("partition-specs", [])}.get(
        meta0.get("default-spec-id", 0), {"fields": []}
    )
    partition_by = [pf["name"] for pf in spec.get("fields", [])]
    df = read_iceberg(spark, path)
    total = df.count()
    n_files = max(1, -(-total // target_file_rows))
    if zorder_by:
        # rewrite_data_files with a z-order strategy (the same clustering
        # lever as Iceberg's sort-order rewrite): Morton-curve range
        # partition + sort, so the written manifests' per-file column
        # bounds are tight on EVERY clustered column and
        # read_iceberg(filters=…) static pruning bites on each
        from connected_data_lake_spark.sources.zorder import morton_code

        df = (
            df.withColumn("__zcode", morton_code(df, list(zorder_by)))
            .repartitionByRange(n_files, *partition_by, "__zcode")
            .sortWithinPartitions(*partition_by, "__zcode")
            .drop("__zcode")
        )
    else:
        df = (
            df.repartition(n_files, *partition_by)
            if partition_by
            else df.repartition(n_files)
        )
    snap = write_iceberg(df, path, mode="overwrite", partition_by=partition_by)
    # stamp the honest operation name on the snapshot we just committed
    cur2 = _current_meta(path)
    meta2, ver2 = cur2
    for s in meta2["snapshots"]:
        if s["snapshot-id"] == snap:
            s["summary"]["operation"] = "replace"
    name = os.path.join(path, "metadata", f"v{ver2}.metadata.json")
    tmp = f"{name}.tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as fh:
        json.dump(meta2, fh)
    os.replace(tmp, name)
    return snap


def expire_iceberg_snapshots(
    path: str,
    keep_last: int = 1,
    dry_run: bool = False,
) -> list[str]:
    """expire_snapshots: drop all but the newest ``keep_last`` snapshots
    from the metadata (new ``v{N}.metadata.json``), then delete data
    files, manifests and manifest lists no RETAINED snapshot references.
    Returns the deleted (or deletable) table-relative paths. Time travel
    to expired snapshots stops working — Iceberg's documented trade."""
    from connected_data_lake_spark.sources.iceberg import IcebergStore

    cur = _current_meta(path)
    if cur is None:
        raise FileNotFoundError(f"not an Iceberg table: {path}")
    meta0, prev_ver = cur
    snaps = sorted(meta0.get("snapshots", []), key=lambda s: s["sequence-number"])
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    retained = snaps[-keep_last:]
    retained_ids = {s["snapshot-id"] for s in retained}
    if meta0.get("current-snapshot-id") not in retained_ids:
        raise ValueError("cannot expire the current snapshot")
    store = IcebergStore(path)
    referenced: set[str] = set()
    for s in retained:
        ml = s["manifest-list"]
        referenced.add(ml)
        _schema, recs = read_ocf(store.read_uri(ml))
        for rec in recs:
            referenced.add(rec["manifest_path"])
            _es, entries = read_ocf(store.read_uri(rec["manifest_path"]))
            for e in entries:
                referenced.add(e["data_file"]["file_path"])

    def _norm(p: str) -> str:
        return os.path.relpath(p, path) if os.path.isabs(p) else p

    ref_rel = {_norm(p) for p in referenced}
    doomed: list[str] = []
    for sub in ("data", "metadata"):
        d = os.path.join(path, sub)
        for name in sorted(os.listdir(d)):
            rel = f"{sub}/{name}"
            if sub == "metadata" and not name.endswith(".avro"):
                continue  # metadata.json history + hint stay
            if name.endswith(".parquet") or name.endswith(".avro"):
                if rel not in ref_rel:
                    doomed.append(rel)
    if dry_run:
        return doomed
    new_meta = dict(meta0)
    new_meta["snapshots"] = retained
    new_meta["snapshot-log"] = [
        e
        for e in meta0.get("snapshot-log", [])
        if e["snapshot-id"] in retained_ids
    ]
    _commit_iceberg_metadata(path, prev_ver, new_meta, uuid.uuid4().hex)
    for rel in doomed:
        try:
            os.unlink(os.path.join(path, rel))
        except OSError:
            pass
    return doomed


# ---------------------------------------------------------------------------
# DML: DELETE / UPDATE via copy-on-write manifest rewrite
# ---------------------------------------------------------------------------


def _stage_iceberg_data_files(
    spark,
    path: str,
    out_df,
    partition_by: list[str],
    part_fields: list[tuple[str, str]],
    ids: dict[str, int],
    token: str,
) -> list[tuple[str, dict]]:
    """Distributed parquet write of ``out_df`` into ``<path>/data/`` with
    field-id-stamped footers and identity-partition fanout that KEEPS the
    partition source columns in the data files (alias-dir staging).
    Returns ``[(relative_name, partition_values)]``."""
    spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    placed = stage_parquet(
        _with_field_ids(out_df, ids),
        os.path.join(path, "data", f"_staging_{token}"),
        lambda i, _d: os.path.join(path, "data", f"{token}-{i:05d}.parquet"),
        partition_by,
        keep_partition_columns=True,
    )
    types = dict(part_fields)
    return [
        (
            os.path.basename(dest),
            {
                c: int(v) if v is not None and types[c] in ("int", "long") else v
                for c, v in pvals.items()
            },
        )
        for dest, _d, pvals in placed
    ]


def _stage_delete_files(out_df, path: str, token: str, kind: str) -> list[str]:
    """Names of the ``<token>-<kind>-N.parquet`` delete files ``out_df``
    is written as under ``<path>/data/``."""
    placed = stage_parquet(
        out_df,
        os.path.join(path, "data", f"_staging_{token}"),
        lambda i, _d: os.path.join(path, "data", f"{token}-{kind}-{i:05d}.parquet"),
    )
    return [os.path.basename(dest) for dest, _d, _v in placed]


def _iceberg_data_entries(
    path: str,
    files: list[tuple[str, dict]],
    snap_id: int,
    seq: int,
    id_of: dict[str, int],
    type_of: dict[str, str],
) -> tuple[list[dict], int]:
    """ADDED (status 1) manifest entries for freshly staged data files,
    with record counts and int/long/string column bounds from parquet
    FOOTERS only. Returns (entries, total_rows)."""
    new_entries = []
    n_rows_total = 0
    for rel, pvals in files:
        full = os.path.join(path, "data", rel)
        n_rows, bounds, _nulls = _footer_stats(full)
        n_rows_total += n_rows
        lower, upper = [], []
        for col, (lo, hi) in sorted(bounds.items()):
            if col not in id_of:
                continue
            blo, bhi = _bound_bytes(type_of[col], lo), _bound_bytes(type_of[col], hi)
            if blo is not None and bhi is not None:
                lower.append({"key": id_of[col], "value": blo})
                upper.append({"key": id_of[col], "value": bhi})
        new_entries.append(
            {
                "status": 1,
                "snapshot_id": snap_id,
                "sequence_number": seq,
                "file_sequence_number": seq,
                "data_file": {
                    "content": 0,
                    "file_path": f"{path}/data/{rel}",
                    "file_format": "PARQUET",
                    "partition": dict(pvals),
                    "record_count": n_rows,
                    "file_size_in_bytes": os.path.getsize(full),
                    "lower_bounds": lower or None,
                    "upper_bounds": upper or None,
                },
            }
        )
    return new_entries, n_rows_total


def _commit_iceberg_metadata(
    path: str, prev_ver: int, new_meta: dict, token: str
) -> None:
    """Put-if-absent commit of ``v{prev_ver+1}.metadata.json`` (synced
    before it is linked into place) + atomic version-hint update: the
    shared tail of every Iceberg commit."""
    meta_ver = prev_ver + 1
    if not LocalFsStore(os.path.join(path, "metadata")).put_if_absent(
        f"v{meta_ver}.metadata.json", json.dumps(new_meta).encode()
    ):
        raise RuntimeError(
            f"concurrent Iceberg commit took v{meta_ver} under {path}; "
            "re-run the operation (its staged files are orphaned, not live)"
        )
    hint = os.path.join(path, "metadata", f".tmp-hint-{token}")
    with open(hint, "w") as fh:
        fh.write(str(meta_ver))
    os.replace(hint, os.path.join(path, "metadata", "version-hint.text"))


def _rewrite_matching_files_iceberg(
    spark,
    path: str,
    condition: str | None = None,
    transform=None,
    hit_fn=None,
    rewrite_fn=None,
):
    """Shared Iceberg DELETE/UPDATE/MERGE engine (the CoW analogue of
    the Delta one): one predicate-pushed scan (or ``hit_fn``'s semi-join
    for MERGE) finds the data files with matches, ONLY those files
    rewrite; the commit re-emits each AFFECTED manifest with hit entries
    marked DELETED (status 2) and survivors EXISTING (status 0, original
    sequence numbers preserved — spec "Manifests": existing entries
    carry the sequence number they were added at), plus one new manifest
    with the rewritten files (``rewrite_fn`` may also union NEW rows —
    MERGE inserts), plus the untouched manifests carried as-is."""
    from pyspark.sql import functions as F

    from connected_data_lake_spark.sources.iceberg import (
        _norm_path_py,
        read_iceberg,
    )

    cur = _current_meta(path)
    if cur is None:
        raise FileNotFoundError(f"not an Iceberg table: {path}")
    meta0, prev_ver = cur
    schemas = {s["schema-id"]: s for s in meta0.get("schemas", [])}
    cur_schema = schemas.get(meta0.get("current-schema-id", 0)) or meta0["schema"]
    ice_fields = cur_schema["fields"]
    spec = {s["spec-id"]: s for s in meta0.get("partition-specs", [])}.get(
        meta0.get("default-spec-id", 0), {"fields": []}
    )
    for pf in spec.get("fields", []):
        if pf.get("transform", "identity") != "identity":
            raise IcebergProtocolError(
                "DML on transform-partitioned tables not supported"
            )
    partition_by = [pf["name"] for pf in spec.get("fields", [])]
    type_of = {f["name"]: f["type"] for f in ice_fields}
    part_fields = [(c, type_of[c]) for c in partition_by]
    for c, t in part_fields:
        if t not in _PART_AVRO:
            raise IcebergProtocolError(
                f"DML on table partitioned by {t!r} column {c!r} not supported"
            )

    # _keep_position materializes __cdl_fp inside each scan relation —
    # the _metadata pseudo-column would not resolve on a snapshot whose
    # read plan already anti-joined deletes (MoR tables)
    df_fp = read_iceberg(spark, path, _keep_position=True).drop("__cdl_pos")
    df = df_fp.drop("__cdl_fp")
    if hit_fn is not None:
        hit_raw = sorted(hit_fn(df_fp))
        pred = None
    else:
        pred = F.expr(condition)
        hit_raw = sorted(
            r[0]
            for r in df_fp.filter(pred).select("__cdl_fp").distinct().collect()
        )
    snapshots = list(meta0.get("snapshots", []))
    parent = meta0.get("current-snapshot-id")
    if not hit_raw and rewrite_fn is None:
        return parent, 0

    hit_norm = {_norm_path_py(p) for p in hit_raw}
    # rewrite only the hit files
    scoped = (
        df_fp.filter(F.col("__cdl_fp").isin(*hit_raw)).drop("__cdl_fp")
        if hit_raw
        else df.limit(0)
    )
    rewritten = (
        rewrite_fn(scoped) if rewrite_fn is not None else transform(scoped, pred)
    ).select(*[f["name"] for f in ice_fields])
    ids = {f["name"]: f["id"] for f in ice_fields}
    token = uuid.uuid4().hex
    files = _stage_iceberg_data_files(
        spark, path, rewritten, partition_by, part_fields, ids, token
    )

    snap_id = max(s["snapshot-id"] for s in snapshots) + 1
    seq = int(meta0.get("last-sequence-number", 0)) + 1
    now_ms = int(time.time() * 1000)
    id_of = ids
    entry_schema = _entry_avro_schema(part_fields)

    # new manifest for the rewritten files
    new_entries, n_rows_total = _iceberg_data_entries(
        path, files, snap_id, seq, id_of, type_of
    )
    store = IcebergStore(path)
    prev_snap = next(s for s in snapshots if s["snapshot-id"] == parent)
    _ls, prev_manifests = read_ocf(store.read_uri(prev_snap["manifest-list"]))
    ml_schema_fields = {f["name"] for f in _manifest_list_schema()["fields"]}
    ml_recs = []
    mname = f"m-{token}.avro"
    mblob = write_ocf(entry_schema, new_entries)
    with open(os.path.join(path, "metadata", mname), "wb") as fh:
        fh.write(mblob)
    ml_recs.append(
        {
            "manifest_path": f"{path}/metadata/{mname}",
            "manifest_length": len(mblob),
            "partition_spec_id": 0,
            "content": 0,
            "sequence_number": seq,
            "min_sequence_number": seq,
            "added_snapshot_id": snap_id,
            "added_files_count": len(files),
            "existing_files_count": 0,
            "deleted_files_count": 0,
            "added_rows_count": n_rows_total,
            "existing_rows_count": 0,
            "deleted_rows_count": 0,
            "partitions": None,
        }
    )
    n_deleted = 0
    for mi, rec in enumerate(prev_manifests):
        if rec.get("content", 0) != 0:
            ml_recs.append({k: rec.get(k) for k in ml_schema_fields})
            continue
        _es, entries = read_ocf(store.read_uri(rec["manifest_path"]))
        touched = any(
            _norm_path_py(e["data_file"]["file_path"]) in hit_norm
            for e in entries
            if e.get("status", 0) != 2
        )
        if not touched:
            ml_recs.append({k: rec.get(k) for k in ml_schema_fields})
            continue
        # re-emit: hit entries DELETED by this snapshot, survivors
        # EXISTING with their ORIGINAL sequence numbers
        out_entries = []
        kept = dels = 0
        for e in entries:
            if e.get("status", 0) == 2:
                continue  # already deleted in the source manifest
            hit = _norm_path_py(e["data_file"]["file_path"]) in hit_norm
            oe = dict(e)
            oe["status"] = 2 if hit else 0
            oe["snapshot_id"] = snap_id if hit else e.get("snapshot_id")
            out_entries.append(oe)
            if hit:
                n_deleted += 1
                dels += 1
            else:
                kept += 1
        rname = f"m-{token}-rw{mi}.avro"
        rblob = write_ocf(_es, out_entries)
        with open(os.path.join(path, "metadata", rname), "wb") as fh:
            fh.write(rblob)
        ml_recs.append(
            {
                "manifest_path": f"{path}/metadata/{rname}",
                "manifest_length": len(rblob),
                "partition_spec_id": rec.get("partition_spec_id", 0),
                "content": 0,
                "sequence_number": seq,
                "min_sequence_number": rec.get("min_sequence_number", 0),
                "added_snapshot_id": snap_id,
                "added_files_count": 0,
                "existing_files_count": kept,
                "deleted_files_count": dels,
                "added_rows_count": 0,
                "existing_rows_count": rec.get("added_rows_count", 0),
                "deleted_rows_count": 0,
                "partitions": rec.get("partitions"),
            }
        )
    ml_name = f"snap-{snap_id}-1-{token}.avro"
    ml_blob = write_ocf(_manifest_list_schema(), ml_recs)
    with open(os.path.join(path, "metadata", ml_name), "wb") as fh:
        fh.write(ml_blob)

    snapshot = {
        "snapshot-id": snap_id,
        "sequence-number": seq,
        "timestamp-ms": now_ms,
        "parent-snapshot-id": parent,
        "summary": {"operation": "overwrite"},
        "manifest-list": f"{path}/metadata/{ml_name}",
        "schema-id": meta0.get("current-schema-id", 0),
    }
    new_meta = dict(meta0)
    new_meta["last-sequence-number"] = seq
    new_meta["last-updated-ms"] = now_ms
    new_meta["current-snapshot-id"] = snap_id
    new_meta["snapshots"] = snapshots + [snapshot]
    new_meta["snapshot-log"] = list(meta0.get("snapshot-log", [])) + [
        {"snapshot-id": snap_id, "timestamp-ms": now_ms}
    ]
    _commit_iceberg_metadata(path, prev_ver, new_meta, token)
    return snap_id, n_deleted


def _mor_mark_matching_iceberg(
    spark,
    path: str,
    condition: str,
    operation: str,
    new_rows_transform=None,
    target_delete_file_rows: int = 5_000_000,
):
    """Shared MERGE-ON-READ Iceberg DML engine: instead of rewriting the
    files the predicate hits (the CoW engine), write POSITION DELETE
    files (spec content=1: ``file_path`` field-id 2147483546 / ``pos``
    2147483545, sorted by (file_path, pos)) plus a content=1 delete
    manifest, and carry every prior manifest forward untouched. UPDATE
    additionally stages the transformed matching rows as new data files
    under a content=0 manifest in the SAME snapshot.

    Fully distributed: the matched (file, position) pairs never collect
    on the driver — they broadcast-join the planning-sized (normalized →
    manifest-declared) path map and write straight to parquet, range-
    partitioned into ~``target_delete_file_rows``-row delete files, each
    sorted within itself as the spec requires. Write amplification ∝
    matched rows; the read-side anti-join cost is repaid at the next
    ``compact_iceberg``, which folds deletes into fresh base files.

    Positions are physical row indexes from the scan's own
    ``_metadata.row_index`` (``read_iceberg(_keep_position=True)``),
    taken AFTER existing deletes apply — re-deletes write disjoint new
    delete files, no union bookkeeping needed (the reader anti-joins the
    union of all delete files). Returns (snapshot_id, n_delete_rows).
    """
    from pyspark.sql import functions as F

    from connected_data_lake_spark.sources.iceberg import (
        _norm_path_py,
        read_iceberg,
    )

    cur = _current_meta(path)
    if cur is None:
        raise FileNotFoundError(f"not an Iceberg table: {path}")
    meta0, prev_ver = cur
    schemas = {s["schema-id"]: s for s in meta0.get("schemas", [])}
    cur_schema = schemas.get(meta0.get("current-schema-id", 0)) or meta0["schema"]
    ice_fields = cur_schema["fields"]
    spec = {s["spec-id"]: s for s in meta0.get("partition-specs", [])}.get(
        meta0.get("default-spec-id", 0), {"fields": []}
    )
    partition_by = [pf["name"] for pf in spec.get("fields", [])]
    type_of = {f["name"]: f["type"] for f in ice_fields}
    if new_rows_transform is not None:
        # UPDATE writes new data files: the identity-fanout staging path
        # applies, so it inherits the CoW engine's spec restrictions
        for pf in spec.get("fields", []):
            if pf.get("transform", "identity") != "identity":
                raise IcebergProtocolError(
                    "UPDATE on transform-partitioned tables not supported"
                )
        for c in partition_by:
            if type_of[c] not in _PART_AVRO:
                raise IcebergProtocolError(
                    f"UPDATE on table partitioned by {type_of[c]!r} column "
                    f"{c!r} not supported"
                )
    part_fields = [
        (c, type_of[c]) for c in partition_by if type_of.get(c) in _PART_AVRO
    ]
    if new_rows_transform is not None and len(part_fields) != len(partition_by):
        # only UPDATE's new DATA files need an encodable partition
        # record — delete manifests commit under an unpartitioned spec
        raise IcebergProtocolError(
            "MoR UPDATE on a partition spec with non-int/long/string "
            "source columns is not supported"
        )
    snapshots = list(meta0.get("snapshots", []))
    parent = meta0.get("current-snapshot-id")

    df = read_iceberg(spark, path, _keep_position=True)
    pred = F.expr(condition)
    matched = df.filter(pred)

    # planning-sized: map the scan's normalized paths back to the EXACT
    # file_path strings the manifests declare (spec: a position delete
    # row's file_path must equal the target data file's manifest path)
    store = IcebergStore(path)
    prev_snap = next(s for s in snapshots if s["snapshot-id"] == parent)
    ml_schema_fields = {f["name"] for f in _manifest_list_schema()["fields"]}
    _ls, prev_manifests = read_ocf(store.read_uri(prev_snap["manifest-list"]))
    map_pairs = []
    for rec in prev_manifests:
        if rec.get("content", 0) != 0:
            continue
        _es, entries = read_ocf(store.read_uri(rec["manifest_path"]))
        for e in entries:
            if e.get("status", 0) == 2:
                continue
            fp = e["data_file"]["file_path"]
            map_pairs.append((_norm_path_py(fp), fp))
    path_map = F.broadcast(
        spark.createDataFrame(map_pairs, ["__cdl_fp", "file_path"])
    )
    dels = (
        matched.select("__cdl_fp", F.col("__cdl_pos").alias("pos"))
        .join(path_map, "__cdl_fp")
        .select("file_path", "pos")
    )
    n_hits = dels.count()
    if n_hits == 0 and new_rows_transform is None:
        return parent, 0

    token = uuid.uuid4().hex
    snap_id = max(s["snapshot-id"] for s in snapshots) + 1
    seq = int(meta0.get("last-sequence-number", 0)) + 1
    now_ms = int(time.time() * 1000)
    id_of = {f["name"]: f["id"] for f in ice_fields}
    ml_recs = [{k: rec.get(k) for k in ml_schema_fields} for rec in prev_manifests]

    new_specs: list[dict] | None = None
    if n_hits:
        # distributed delete-file write: each output file sorted by
        # (file_path, pos) as the spec requires; field ids stamped
        spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
        n_files = max(1, -(-n_hits // target_delete_file_rows))
        out = _with_field_ids(
            dels.repartitionByRange(n_files, "file_path", "pos")
            .sortWithinPartitions("file_path", "pos"),
            {"file_path": 2147483546, "pos": 2147483545},
        )
        del_files = _stage_delete_files(out, path, token, "del")
        # delete manifest under an UNPARTITIONED spec: spec-compliant
        # global scope (see _unpartitioned_spec) — never an all-null
        # tuple under the partitioned default spec
        unpart_id, new_specs = _unpartitioned_spec(meta0)
        del_entries = []
        for rel in del_files:
            full = os.path.join(path, "data", rel)
            n_rows, _bounds, _nulls = _footer_stats(full)
            del_entries.append(
                {
                    "status": 1,
                    "snapshot_id": snap_id,
                    "sequence_number": seq,
                    "file_sequence_number": seq,
                    "data_file": {
                        "content": 1,
                        "file_path": f"{path}/data/{rel}",
                        "file_format": "PARQUET",
                        "partition": {},
                        "record_count": n_rows,
                        "file_size_in_bytes": os.path.getsize(full),
                        "lower_bounds": None,
                        "upper_bounds": None,
                    },
                }
            )
        dm_name = f"m-{token}-del.avro"
        dm_blob = write_ocf(_entry_avro_schema([]), del_entries)
        with open(os.path.join(path, "metadata", dm_name), "wb") as fh:
            fh.write(dm_blob)
        ml_recs.append(
            {
                "manifest_path": f"{path}/metadata/{dm_name}",
                "manifest_length": len(dm_blob),
                "partition_spec_id": unpart_id,
                "content": 1,
                "sequence_number": seq,
                "min_sequence_number": seq,
                "added_snapshot_id": snap_id,
                "added_files_count": len(del_files),
                "existing_files_count": 0,
                "deleted_files_count": 0,
                "added_rows_count": n_hits,
                "existing_rows_count": 0,
                "deleted_rows_count": 0,
                "partitions": None,
            }
        )

    if new_rows_transform is not None:
        rewritten = new_rows_transform(matched, pred).select(
            *[f["name"] for f in ice_fields]
        )
        files = _stage_iceberg_data_files(
            spark, path, rewritten, partition_by, part_fields, id_of, token
        )
        if files:
            new_entries, n_rows_total = _iceberg_data_entries(
                path, files, snap_id, seq, id_of, type_of
            )
            nm_name = f"m-{token}-upd.avro"
            nm_blob = write_ocf(_entry_avro_schema(part_fields), new_entries)
            with open(os.path.join(path, "metadata", nm_name), "wb") as fh:
                fh.write(nm_blob)
            ml_recs.append(
                {
                    "manifest_path": f"{path}/metadata/{nm_name}",
                    "manifest_length": len(nm_blob),
                    "partition_spec_id": meta0.get("default-spec-id", 0),
                    "content": 0,
                    "sequence_number": seq,
                    "min_sequence_number": seq,
                    "added_snapshot_id": snap_id,
                    "added_files_count": len(files),
                    "existing_files_count": 0,
                    "deleted_files_count": 0,
                    "added_rows_count": n_rows_total,
                    "existing_rows_count": 0,
                    "deleted_rows_count": 0,
                    "partitions": None,
                }
            )

    ml_name = f"snap-{snap_id}-1-{token}.avro"
    ml_blob = write_ocf(_manifest_list_schema(), ml_recs)
    with open(os.path.join(path, "metadata", ml_name), "wb") as fh:
        fh.write(ml_blob)
    snapshot = {
        "snapshot-id": snap_id,
        "sequence-number": seq,
        "timestamp-ms": now_ms,
        "parent-snapshot-id": parent,
        "summary": {"operation": operation},
        "manifest-list": f"{path}/metadata/{ml_name}",
        "schema-id": meta0.get("current-schema-id", 0),
    }
    new_meta = dict(meta0)
    new_meta["last-sequence-number"] = seq
    new_meta["last-updated-ms"] = now_ms
    new_meta["current-snapshot-id"] = snap_id
    new_meta["snapshots"] = snapshots + [snapshot]
    new_meta["snapshot-log"] = list(meta0.get("snapshot-log", [])) + [
        {"snapshot-id": snap_id, "timestamp-ms": now_ms}
    ]
    if new_specs is not None:  # delete manifests introduced the unpartitioned spec
        new_meta["partition-specs"] = new_specs
    _commit_iceberg_metadata(path, prev_ver, new_meta, token)
    return snap_id, n_hits


def delete_from_iceberg(spark, path: str, condition: str, mode: str = "cow") -> int:
    """DELETE FROM <iceberg table> WHERE ``condition``.

    ``mode='cow'`` (default): copy-on-write — only files containing
    matches rewrite; affected manifests re-emit with hit entries
    status=DELETED. ``mode='mor'``: merge-on-read — matching rows are
    masked by spec v2 POSITION DELETE files written in one distributed
    job; no data file moves (the right mode for selective deletes on
    large tables). Returns the new snapshot id."""
    if mode == "mor":
        snap, _n = _mor_mark_matching_iceberg(spark, path, condition, "delete")
        return snap
    if mode != "cow":
        raise ValueError(f"unknown DELETE mode {mode!r} (use 'cow' or 'mor')")
    snap, _n = _rewrite_matching_files_iceberg(
        spark, path, condition, lambda scoped, pred: scoped.filter(~pred)
    )
    return snap


def update_iceberg(
    spark,
    path: str,
    condition: str,
    assignments: dict[str, str],
    mode: str = "cow",
) -> int:
    """UPDATE <iceberg table> SET col=expr WHERE ``condition``.

    ``mode='cow'`` (default): copy-on-write over only the predicate's
    file hit set. ``mode='mor'``: merge-on-read — old row versions are
    masked by position-delete files and ONLY the updated rows land as
    new data files in the same snapshot (write cost ∝ matched rows)."""
    from pyspark.sql import functions as F

    def check_cols(cols):
        for col in assignments:
            if col not in cols:
                raise ValueError(f"unknown column {col!r} in UPDATE")

    if mode == "mor":

        def new_rows(matched, _pred):
            check_cols(matched.columns)
            out = matched
            for col, expr in assignments.items():
                out = out.withColumn(col, F.expr(expr))
            return out

        snap, _n = _mor_mark_matching_iceberg(
            spark, path, condition, "overwrite", new_rows_transform=new_rows
        )
        return snap
    if mode != "cow":
        raise ValueError(f"unknown UPDATE mode {mode!r} (use 'cow' or 'mor')")

    def xform(scoped, pred):
        check_cols(scoped.columns)
        out = scoped
        for col, expr in assignments.items():
            out = out.withColumn(
                col, F.when(pred, F.expr(expr)).otherwise(F.col(col))
            )
        return out

    snap, _n = _rewrite_matching_files_iceberg(spark, path, condition, xform)
    return snap


def equality_delete_iceberg(
    spark,
    path: str,
    keys_df: DataFrame,
    equality_columns: list[str] | None = None,
    target_delete_file_rows: int = 5_000_000,
) -> int:
    """CDC-style EQUALITY DELETE (spec content=2, the delete shape
    Flink-CDC writers emit): every table row whose ``equality_columns``
    values match a row of ``keys_df`` is deleted — WITHOUT scanning the
    table. The commit writes only the key file(s) + one delete manifest:
    a planning-sized operation at ANY table size, the primitive that
    lets a CDC stream of primary-key deletes keep up with a 100 TB
    table.

    Sequence semantics per the spec's Scan Planning: the delete applies
    to data files with a STRICTLY LOWER data sequence number, so rows
    re-inserted AFTER this commit survive — exactly the upsert pattern
    CDC pipelines rely on (the reader's null-safe anti-join implements
    it; driver-verified in ``iceberg_eq_delete_read``). Deletes are
    global (unpartitioned scope — the only scope the reader applies).
    Returns the new snapshot id."""
    cur = _current_meta(path)
    if cur is None:
        raise FileNotFoundError(f"not an Iceberg table: {path}")
    meta0, prev_ver = cur
    schemas = {s["schema-id"]: s for s in meta0.get("schemas", [])}
    cur_schema = schemas.get(meta0.get("current-schema-id", 0)) or meta0["schema"]
    ice_fields = cur_schema["fields"]
    id_of = {f["name"]: f["id"] for f in ice_fields}
    type_of = {f["name"]: f["type"] for f in ice_fields}
    cols = list(equality_columns or keys_df.columns)
    missing = [c for c in cols if c not in id_of]
    if missing:
        raise ValueError(f"equality columns {missing} not in the table schema")
    for c in cols:
        if c not in keys_df.columns:
            raise ValueError(f"keys_df lacks equality column {c!r}")
        if isinstance(type_of[c], dict):
            raise IcebergProtocolError(
                f"nested equality column {c!r} not supported"
            )
    # the delete manifest commits under an UNPARTITIONED spec (global
    # scope per the spec's Scan Planning rules — see _unpartitioned_spec),
    # so the table's own partition spec never constrains this writer
    unpart_id, new_specs = _unpartitioned_spec(meta0)
    snapshots = list(meta0.get("snapshots", []))
    parent = meta0.get("current-snapshot-id")
    if parent is None:
        raise ValueError("cannot equality-delete from an empty table")

    keys = keys_df.select(*cols).distinct()
    n_keys = keys.count()
    if n_keys == 0:
        return parent

    token = uuid.uuid4().hex
    snap_id = max(s["snapshot-id"] for s in snapshots) + 1
    seq = int(meta0.get("last-sequence-number", 0)) + 1
    now_ms = int(time.time() * 1000)

    spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    n_files = max(1, -(-n_keys // target_delete_file_rows))
    out = _with_field_ids(keys.coalesce(n_files), {c: id_of[c] for c in cols})
    del_files = _stage_delete_files(out, path, token, "eqdel")

    from connected_data_lake_spark.plans.lakeops import iceberg_entry_schema

    entry_schema = iceberg_entry_schema(None, with_equality_ids=True)
    eq_ids = sorted(id_of[c] for c in cols)
    entries = []
    for rel in del_files:
        full = os.path.join(path, "data", rel)
        n_rows, _b, _n = _footer_stats(full)
        entries.append(
            {
                "status": 1,
                "snapshot_id": snap_id,
                "sequence_number": seq,
                "file_sequence_number": seq,
                "data_file": {
                    "content": 2,
                    "file_path": f"{path}/data/{rel}",
                    "file_format": "PARQUET",
                    "partition": {},
                    "record_count": n_rows,
                    "file_size_in_bytes": os.path.getsize(full),
                    "lower_bounds": None,
                    "upper_bounds": None,
                    "equality_ids": eq_ids,
                },
            }
        )
    dm_name = f"m-{token}-eqdel.avro"
    dm_blob = write_ocf(entry_schema, entries)
    with open(os.path.join(path, "metadata", dm_name), "wb") as fh:
        fh.write(dm_blob)

    store = IcebergStore(path)
    prev_snap = next(s for s in snapshots if s["snapshot-id"] == parent)
    ml_schema_fields = {f["name"] for f in _manifest_list_schema()["fields"]}
    _ls, prev_manifests = read_ocf(store.read_uri(prev_snap["manifest-list"]))
    ml_recs = [{k: rec.get(k) for k in ml_schema_fields} for rec in prev_manifests]
    ml_recs.append(
        {
            "manifest_path": f"{path}/metadata/{dm_name}",
            "manifest_length": len(dm_blob),
            "partition_spec_id": unpart_id,
            "content": 1,
            "sequence_number": seq,
            "min_sequence_number": seq,
            "added_snapshot_id": snap_id,
            "added_files_count": len(del_files),
            "existing_files_count": 0,
            "deleted_files_count": 0,
            "added_rows_count": n_keys,
            "existing_rows_count": 0,
            "deleted_rows_count": 0,
            "partitions": None,
        }
    )
    ml_name = f"snap-{snap_id}-1-{token}.avro"
    ml_blob = write_ocf(_manifest_list_schema(), ml_recs)
    with open(os.path.join(path, "metadata", ml_name), "wb") as fh:
        fh.write(ml_blob)
    snapshot = {
        "snapshot-id": snap_id,
        "sequence-number": seq,
        "timestamp-ms": now_ms,
        "parent-snapshot-id": parent,
        "summary": {"operation": "delete"},
        "manifest-list": f"{path}/metadata/{ml_name}",
        "schema-id": meta0.get("current-schema-id", 0),
    }
    new_meta = dict(meta0)
    new_meta["last-sequence-number"] = seq
    new_meta["last-updated-ms"] = now_ms
    new_meta["current-snapshot-id"] = snap_id
    new_meta["snapshots"] = snapshots + [snapshot]
    new_meta["snapshot-log"] = list(meta0.get("snapshot-log", [])) + [
        {"snapshot-id": snap_id, "timestamp-ms": now_ms}
    ]
    if new_specs is not None:  # delete manifests introduced the unpartitioned spec
        new_meta["partition-specs"] = new_specs
    _commit_iceberg_metadata(path, prev_ver, new_meta, token)
    return snap_id


def merge_into_iceberg(
    spark,
    path: str,
    source: DataFrame,
    on: list[str],
    when_matched_update: dict[str, str] | None = None,
    when_matched_delete: bool = False,
    when_not_matched_insert: bool = True,
) -> int:
    """MERGE INTO <iceberg table> USING ``source`` ON ``on``: the same
    copy-on-write upsert as :func:`sources.delta_write.merge_into_delta`
    expressed through the manifest-rewrite engine — matched target files
    rewrite (update via ``src.``/``tgt.``-qualified SET expressions, or
    delete), unmatched source rows insert into the SAME snapshot's new
    manifest. Returns the new snapshot id."""
    from pyspark.sql import functions as F

    from connected_data_lake_spark.sources.iceberg import read_iceberg

    if when_matched_update and when_matched_delete:
        raise ValueError("choose ONE of when_matched_update / when_matched_delete")
    cur = _current_meta(path)
    if cur is None:
        raise FileNotFoundError(f"not an Iceberg table: {path}")
    meta0, _v = cur
    schemas = {s["schema-id"]: s for s in meta0.get("schemas", [])}
    cur_schema = schemas.get(meta0.get("current-schema-id", 0)) or meta0["schema"]
    cols = [f["name"] for f in cur_schema["fields"]]
    for k in on:
        if k not in cols or k not in source.columns:
            raise ValueError(f"merge key {k!r} missing from target or source")
    missing = [c for c in cols if c not in source.columns]
    if when_not_matched_insert and missing:
        raise ValueError(f"source lacks insert columns {missing}")
    if source.groupBy(*on).count().filter("count > 1").limit(1).count():
        raise ValueError("source has duplicate merge keys — MERGE is ambiguous")

    src = source.select(*[c for c in source.columns if c in cols])
    tgt = read_iceberg(spark, path)

    def hit(df_fp):
        return [
            r[0]
            for r in df_fp.join(src, on, "left_semi")
            .select("__cdl_fp")
            .distinct()
            .collect()
        ]

    def rewrite(scoped):
        joined = scoped.alias("tgt").join(src.alias("src"), on, "left_outer")
        matched = F.col(f"src.{on[0]}").isNotNull()
        if when_matched_delete:
            out = joined.filter(~matched).select(
                *[F.col(f"tgt.{c}").alias(c) for c in cols]
            )
        else:
            exprs = []
            for c in cols:
                upd = (when_matched_update or {}).get(c)
                if upd is None:
                    exprs.append(F.col(f"tgt.{c}").alias(c))
                else:
                    exprs.append(
                        F.when(matched, F.expr(upd))
                        .otherwise(F.col(f"tgt.{c}"))
                        .alias(c)
                    )
            out = joined.select(*exprs)
        if when_not_matched_insert:
            inserts = src.alias("src").join(
                tgt.select(*on).alias("tgt"), on, "left_anti"
            ).select(*[F.col(c).cast(dict(tgt.dtypes)[c]).alias(c) for c in cols])
            out = out.unionByName(inserts)
        return out

    # no-op fast path: nothing matched AND nothing to insert
    probe = tgt.select(*on).join(src, on, "left_semi").limit(1).count()
    if not probe and (
        not when_not_matched_insert
        or not src.join(tgt.select(*on), on, "left_anti").limit(1).count()
    ):
        return int(meta0["current-snapshot-id"])

    snap, _n = _rewrite_matching_files_iceberg(
        spark, path, hit_fn=hit, rewrite_fn=rewrite
    )
    return snap


def rollback_iceberg(path: str, snapshot_id: int) -> int:
    """rollback_to_snapshot: make ``snapshot_id`` current again with ONE
    metadata commit — no data or manifest movement (the snapshot and its
    manifests are retained history; Iceberg's own rollback semantics).
    Later snapshots stay in the metadata for audit/time-travel until
    ``expire_iceberg_snapshots`` reclaims them. Returns ``snapshot_id``."""
    cur = _current_meta(path)
    if cur is None:
        raise FileNotFoundError(f"not an Iceberg table: {path}")
    meta0, prev_ver = cur
    snaps = {s["snapshot-id"] for s in meta0.get("snapshots", [])}
    if snapshot_id not in snaps:
        raise ValueError(f"unknown snapshot id {snapshot_id}")
    if meta0.get("current-snapshot-id") == snapshot_id:
        return snapshot_id
    now_ms = int(time.time() * 1000)
    new_meta = dict(meta0)
    new_meta["current-snapshot-id"] = snapshot_id
    new_meta["last-updated-ms"] = now_ms
    new_meta["snapshot-log"] = list(meta0.get("snapshot-log", [])) + [
        {"snapshot-id": snapshot_id, "timestamp-ms": now_ms}
    ]
    _commit_iceberg_metadata(path, prev_ver, new_meta, uuid.uuid4().hex)
    return snapshot_id
