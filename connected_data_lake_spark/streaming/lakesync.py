"""Exactly-once incremental sync: external lake table → native table.

The consumption loop a migration or mirroring pipeline actually runs:
each call is one micro-batch tick that (1) reads the app's high-water
mark from the native table's transactional ledger
(``sources/manifest.py::txn_ledger`` — the same Delta txnAppId/
txnVersion pattern the streaming sink uses), (2) consumes ONLY what the
source committed since then — ``read_delta_changes`` /
``read_iceberg_incremental`` / ``read_hudi_incremental`` — and (3)
appends it with ``write_table(txn=(app_id, source_version))`` so the
data and the new high-water mark commit in ONE atomic manifest publish.

Crash anywhere and the replay is safe: a tick that died after the
publish is skipped on retry (batch ≤ high-water mark ⇒ ``write_table``
returns None and writes nothing); a tick that died before it re-runs
identically. No checkpoint files beyond the table's own ledger — the
sink IS the checkpoint, which is what makes the loop restartable from
any host.

The first tick of a fresh app is the INITIAL LOAD: the full source
snapshot lands under the source's current version, and every later tick
is purely incremental. Source deletes/updates are append-only-contract
violations and raise by default (the same stance as Spark's Delta
streaming source); ``on_change='ignore'`` consumes just the inserts.

Scale: each tick moves only the increment (metadata-planned on the
source side, one distributed append on the sink side). The 100 TB
initial load is one bounded job; steady state is proportional to churn.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _norm_uri(table_uri: str) -> str:
    """Destination as the plain path ``write_table`` speaks (the CdlFS
    ``local://`` dataset scheme is accepted and stripped)."""
    if table_uri.startswith("local://"):
        return "/" + table_uri[len("local://"):].lstrip("/")
    return table_uri


def _ledger_mark(table_uri: str, app_id: str) -> int | None:
    """The app's committed high-water mark, or None before the first
    tick (missing table and missing app both mean 'never synced')."""
    import os

    from connected_data_lake_spark.sources.manifest import (
        LocalFsStore,
        txn_ledger,
    )
    from connected_data_lake_spark.sources.rootfs import _LOG_DIR, _local_root

    root = _local_root(table_uri)
    if root is None:
        raise ValueError(
            f"lake sync needs a local destination table (got {table_uri})"
        )
    log_dir = os.path.join(root, _LOG_DIR)
    if not os.path.isdir(log_dir):
        return None
    return txn_ledger(LocalFsStore(log_dir)).get(app_id)


def _default_app(kind: str, src_path: str) -> str:
    return f"{kind}-sync-" + hashlib.sha256(src_path.encode()).hexdigest()[:16]


def _append(
    df: DataFrame, table_uri: str, app_id: str, version: int
) -> int | None:
    from connected_data_lake_spark.sources.rootfs import write_table

    return write_table(df, table_uri, txn=(app_id, version))


def sync_from_delta(
    spark: SparkSession,
    delta_path: str,
    table_uri: str,
    app_id: str | None = None,
    on_change: str = "error",
) -> tuple[int | None, int]:
    """One sync tick from an external Delta table. Returns
    ``(committed_manifest_version_or_None, source_version_consumed)`` —
    None means the tick was a no-op (nothing new, or an exactly-once
    replay skip).

    ``on_change``: ``'error'`` raises if the consumed range contains
    deletes (the source broke the append-only contract this sync
    assumes); ``'ignore'`` consumes only the inserts."""
    from connected_data_lake_spark.sources.delta import (
        delta_table_version,
        read_delta,
        read_delta_changes,
    )

    if on_change not in ("error", "ignore"):
        raise ValueError(f"unknown on_change {on_change!r}")
    table_uri = _norm_uri(table_uri)
    app_id = app_id or _default_app("delta", delta_path)
    latest = delta_table_version(delta_path)
    mark = _ledger_mark(table_uri, app_id)
    if mark is None:
        # initial load: the full current snapshot under its version
        return _append(read_delta(spark, delta_path), table_uri, app_id, latest), latest
    if mark >= latest:
        return None, latest
    ch = read_delta_changes(spark, delta_path, mark + 1, latest)
    if on_change == "error":
        # isEmpty, not limit(1).count(): over an insert-only range the
        # filter folds to an empty local scan and isEmpty runs no job
        if not ch.filter(F.col("_change_type") != "insert").isEmpty():
            raise ValueError(
                f"Delta versions {mark + 1}..{latest} contain deletes — "
                "the append-only sync contract is broken (use "
                "on_change='ignore' to consume inserts only, or re-seed)"
            )
    inserts = ch.filter(F.col("_change_type") == "insert").drop(
        "_change_type", "_commit_version", "_commit_timestamp"
    )
    return _append(inserts, table_uri, app_id, latest), latest


def sync_from_iceberg(
    spark: SparkSession,
    iceberg_path: str,
    table_uri: str,
    app_id: str | None = None,
) -> tuple[int | None, int]:
    """One sync tick from an external Iceberg table (append snapshots;
    ``read_iceberg_incremental`` already skips replace/compaction and
    raises on overwrite/delete snapshots — the append-only contract is
    enforced by the reader itself).

    The ledger high-water mark is the snapshot's SEQUENCE NUMBER, not
    its id: real Iceberg snapshot ids are random 64-bit values, so an
    id-based ``mark >= latest`` comparison would silently no-op forever
    whenever a newer snapshot drew a numerically smaller id. Sequence
    numbers are the spec's own monotone commit ordinal, which is exactly
    what the ledger's replay-skip discipline needs. Because the ledger
    enforces monotonicity PER KEY and a random id would poison a
    sequence-number progression, marks live under ``<app_id>#seq``;
    an id-keyed mark written by the pre-fix loop (under the bare
    ``app_id``) is resolved by snapshot id once and the tick then
    re-checkpoints under the new key.
    Returns ``(committed_manifest_version_or_None, sequence_number)``."""
    import json as _json

    from connected_data_lake_spark.sources.iceberg import (
        IcebergStore,
        _latest_metadata_name,
        read_iceberg,
        read_iceberg_incremental,
    )

    table_uri = _norm_uri(table_uri)
    app_id = app_id or _default_app("iceberg", iceberg_path)
    seq_key = f"{app_id}#seq"
    store = IcebergStore(iceberg_path)
    meta = _json.loads(
        store.read_metadata_bytes(_latest_metadata_name(store, iceberg_path))
    )
    latest_id = meta.get("current-snapshot-id")
    if latest_id is None:
        return None, -1
    snaps = meta.get("snapshots", [])
    by_id = {s["snapshot-id"]: s for s in snaps}
    try:
        latest_seq = int(by_id[latest_id]["sequence-number"])
    except KeyError as exc:
        raise ValueError(
            "source snapshots carry no sequence-number (format v1?) — "
            "the sync loop needs the spec's monotone commit ordinal"
        ) from exc
    mark = _ledger_mark(table_uri, seq_key)
    if mark is not None:
        from_snap = next(
            (s for s in snaps if int(s.get("sequence-number", -1)) == mark),
            None,
        )
    else:
        legacy = _ledger_mark(table_uri, app_id)  # pre-fix loop: snapshot ID
        if legacy is None:
            return (
                _append(
                    read_iceberg(spark, iceberg_path),
                    table_uri,
                    seq_key,
                    latest_seq,
                ),
                latest_seq,
            )
        from_snap = by_id.get(legacy)
    if from_snap is None:
        raise ValueError(
            f"ledger mark {mark} matches no live snapshot (expired by "
            "snapshot cleanup?) — re-seed the sync"
        )
    if int(from_snap["sequence-number"]) >= latest_seq:
        return None, latest_seq
    inc = read_iceberg_incremental(
        spark,
        iceberg_path,
        from_snapshot_id=from_snap["snapshot-id"],
        to_snapshot_id=latest_id,
    ).drop("_snapshot_id")
    return _append(inc, table_uri, seq_key, latest_seq), latest_seq


def sync_from_hudi(
    spark: SparkSession,
    hudi_path: str,
    table_uri: str,
    app_id: str | None = None,
    on_change: str = "error",
) -> tuple[int | None, int]:
    """One sync tick from an external Hudi table. Instants are numeric
    timestamps, so the ledger mark IS the last consumed instant.
    ``on_change='error'`` raises when the range carries updates or soft
    deletes (rows whose key already synced would duplicate under an
    append-only sink); ``'ignore'`` appends whatever the incremental
    read returns (newest in-range state per key)."""
    from connected_data_lake_spark.sources.hudi import (
        _completed_instants,
        _local,
        read_hudi,
        read_hudi_incremental,
    )

    if on_change not in ("error", "ignore"):
        raise ValueError(f"unknown on_change {on_change!r}")
    table_uri = _norm_uri(table_uri)
    app_id = app_id or _default_app("hudi", hudi_path)
    instants = _completed_instants(_local(hudi_path), allow_delta=True)
    if not instants:
        return None, -1
    latest = int(instants[-1][0])
    mark = _ledger_mark(table_uri, app_id)
    if mark is None:
        import os as _os

        from connected_data_lake_spark.sources.hudi import (
            _read_properties,
            read_hudi_mor,
        )

        props_path = _os.path.join(
            _local(hudi_path), ".hoodie", "hoodie.properties"
        )
        with open(props_path, encoding="utf-8") as fh:
            ttype = _read_properties(fh.read()).get("hoodie.table.type")
        snap = (
            read_hudi_mor(spark, hudi_path)
            if ttype == "MERGE_ON_READ"
            else read_hudi(spark, hudi_path)
        )
        return _append(snap, table_uri, app_id, latest), latest
    if mark >= latest:
        return None, latest
    inc = read_hudi_incremental(
        spark,
        hudi_path,
        from_instant=str(mark),
        to_instant=str(latest),
        include_deletes=True,
    )
    if on_change == "error":
        _check_hudi_append_only(spark, hudi_path, table_uri, mark, latest, inc)
    rows = inc.filter(~F.coalesce(F.col("_hoodie_is_deleted"), F.lit(False))).drop(
        "_hoodie_commit_time", "_hoodie_is_deleted"
    )
    return _append(rows, table_uri, app_id, latest), latest


#: commit-metadata operationTypes that are pure appends (safe without a
#: data-level check); COMPACT/CLUSTER rearrange existing rows only
_HUDI_INSERT_OPS = {"INSERT", "BULK_INSERT", "INSERT_PREPPED", "BULK_INSERT_PREPPED"}
_HUDI_REARRANGE_OPS = {"COMPACT", "CLUSTER"}
#: ops whose row-level effect cannot surface as appends at all — a HARD
#: delete/overwrite removes rows the incremental read never re-emits,
#: so the sink would silently keep upstream-deleted data
_HUDI_DESTRUCTIVE_OPS = {
    "DELETE",
    "DELETE_PREPPED",
    "DELETE_PARTITION",
    "INSERT_OVERWRITE",
    "INSERT_OVERWRITE_TABLE",
    "OVERWRITE",  # this repo's write_hudi(mode="overwrite") replacecommit
}


def _check_hudi_append_only(
    spark, hudi_path: str, table_uri: str, mark: int, latest: int, inc: DataFrame
) -> None:
    """``on_change='error'`` enforcement for :func:`sync_from_hudi`.

    Three layers, cheapest first:

    1. metadata — the in-range instants' commit-metadata
       ``operationType``: destructive ops (hard DELETE / overwrite)
       raise outright; insert-family and rearrangement ops are safe;
    2. data, exact — an UPSERT (or an op the writer didn't record) is
       only unsafe if it touched an ALREADY-SYNCED key, so the incoming
       keys semi-join the sink on the table's record key (one pruned
       column scan, only on ticks whose metadata is inconclusive —
       an upsert that merely inserted new keys passes);
    3. soft deletes — in-range rows whose newest state carries
       ``_hoodie_is_deleted`` raise as before.
    """
    import json as _json

    from connected_data_lake_spark.sources.hudi import (
        _archived_instants,
        _completed_instants,
        _local,
        _read_properties,
    )
    from connected_data_lake_spark.sources.rootfs import read_table

    root = _local(hudi_path)
    active = _completed_instants(root, allow_delta=True)
    active_set = {t[0] for t in active}
    # (instant, operationType) over the MERGED timeline: an instant the
    # archival service moved out of the active timeline must still be
    # op-checked if it falls inside the sync range
    ops: list[tuple[str, str]] = [
        (i, (m.get("operationType") or "").upper())
        for i, _a, m in _archived_instants(root)
        if i not in active_set and mark < int(i) <= latest
    ]
    for instant, _action, meta_path in active:
        if not (mark < int(instant) <= latest):
            continue
        with open(meta_path, "rb") as fh:
            raw = fh.read()
        ops.append(
            (
                instant,
                (_json.loads(raw).get("operationType") or "").upper()
                if raw.strip()
                else "",
            )
        )
    needs_key_check = False
    for instant, op in sorted(ops):
        if op in _HUDI_DESTRUCTIVE_OPS:
            raise ValueError(
                f"Hudi instant {instant} is operationType={op} — its "
                "row-level effect (removed rows) cannot surface as "
                "appends; the append-only sync contract is broken "
                "(re-seed, or consume surviving states only with "
                "on_change='ignore')"
            )
        if op not in _HUDI_INSERT_OPS | _HUDI_REARRANGE_OPS:
            needs_key_check = True  # UPSERT or unrecorded op: check data
    if needs_key_check:
        with open(
            os.path.join(root, ".hoodie", "hoodie.properties"), encoding="utf-8"
        ) as fh:
            key_fields = [
                c.strip()
                for c in _read_properties(fh.read())
                .get("hoodie.table.recordkey.fields", "")
                .split(",")
                if c.strip()
            ]
        if not key_fields or any(c not in inc.columns for c in key_fields):
            raise ValueError(
                f"Hudi instants ({mark}, {latest}] contain non-insert "
                "operations and the record key is unresolvable — cannot "
                "prove the append-only contract holds (on_change='ignore' "
                "consumes newest in-range states regardless)"
            )
        sink = read_table(spark, table_uri).select(*key_fields)
        dup = inc.select(*key_fields).join(sink, key_fields, "left_semi")
        if dup.limit(1).count():
            raise ValueError(
                f"Hudi instants ({mark}, {latest}] updated keys that are "
                "already synced — appending them would duplicate keys in "
                "the sink (on_change='ignore' appends them anyway)"
            )
    if inc.filter(F.col("_hoodie_is_deleted")).limit(1).count():
        raise ValueError(
            f"Hudi instants ({mark}, {latest}] contain deletes — "
            "append-only sync contract broken (on_change='ignore' "
            "consumes surviving states only)"
        )
