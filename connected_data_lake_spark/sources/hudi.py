"""External Apache Hudi COPY_ON_WRITE table READ path (no hudi bundle).

Round 13 completes the external-lakehouse-reader triad (Delta round 9,
Iceberg round 10): the reference's north star is reading the open table
formats a data platform actually hosts, and Hudi is the third of the
three. Like :mod:`sources.delta` and :mod:`sources.iceberg` this module
replays the PUBLIC format directly (hudi.apache.org/docs — table layout,
timeline, and COW snapshot semantics), never a vendor library:

- ``.hoodie/hoodie.properties`` — table config (java-properties text:
  ``hoodie.table.name``, ``hoodie.table.type``, …),
- the TIMELINE — ``.hoodie/<instant>.<action>`` files (Hudi 1.x moves
  them under ``.hoodie/timeline/``; both are listed). A COMPLETED
  instant has no state suffix (``.requested`` / ``.inflight`` are
  pending and never read); ``<instant>`` is the millisecond timestamp
  string that orders the timeline, optionally suffixed
  ``_<completionTime>`` in 1.x,
- commit metadata — JSON with ``partitionToWriteStats`` naming the data
  files each commit wrote (``replacecommit`` additionally carries
  ``partitionToReplaceFileIds``: clustering / INSERT_OVERWRITE kills
  whole file groups),
- data files ``<fileId>_<writeToken>_<instantTime>.parquet`` under
  partition directories; COW rewrites a FILE GROUP (one ``fileId``) in
  place by writing a new FILE SLICE at the committing instant.

Snapshot semantics (COW, "read optimized" == snapshot): for every file
group, the newest completed file slice at-or-below the requested
instant; minus file groups replaced by a ``replacecommit`` at-or-below
it. Time travel = the same resolution with the instant ceiling
(``as_of_instant``, inclusive — matching Hudi's
``hoodie.datasource.read.end.instanttime`` semantics).

MERGE_ON_READ tables read through :func:`read_hudi_mor` (HoodieLogFormat
block codec + per-file-group newest-write-wins merge — see the MoR
section below). Loud gates — never a silent misread: ``deltacommit``
instants under the COW reader (a mis-typed table), pending
``.inflight`` data (never listed), commit metadata without write
stats, and in MoR the log block types we do not decode (HFile/parquet/
CDC data blocks, binary delete blocks).

Scale notes (100 TB):

- The timeline is the same driver-side planning plane as the Delta log
  and Iceberg metadata: one directory listing plus one small JSON per
  commit — data bytes never flow through Python. The ARCHIVED timeline
  (``.hoodie/archived/`` HoodieLogFormat archives, what a long-lived
  production table's time travel actually hits) replays through
  :func:`_archived_instants` into the same (instant, action, metadata)
  stream; non-log archive layouts (1.x LSM history) gate loudly.
- The resolved file list goes to ONE ``spark.read.parquet(*paths)``
  relation — predicate pushdown, column pruning, and partition-sized
  task split all intact; ``_hoodie_*`` meta columns are dropped by a
  projection Catalyst collapses into the scan (column pruning removes
  them from the read entirely).
- File-slice resolution is O(live commits × files/commit) dict work on
  the driver, the same planning cost every Hudi reader pays.

Reference parity: the reference reads lakehouse-format datasets through
DataFusion's table providers (reference crates/cdl-fs/src/lib.rs —
dataset read surface); this module is the Spark-first equivalent for
Hudi-hosted data.
"""

from __future__ import annotations

import json
import os
import re

from pyspark.sql import DataFrame, SparkSession

from connected_data_lake_spark.session import prepare_session
from connected_data_lake_spark.sources.manifest import LocalFsStore
from connected_data_lake_spark.sources.staging import stage_parquet, write_single_parquet

#: completed timeline actions that contribute file slices
_FILE_ACTIONS = ("commit", "replacecommit")

#: <instant>[_<completionTime>].<action> — completed instants only
#: (pending states carry a further .requested / .inflight suffix)
_INSTANT_RE = re.compile(
    r"^(\d+)(?:_\d+)?\.(commit|replacecommit|deltacommit)$"
)


class HudiProtocolError(NotImplementedError):
    """The table needs format features beyond this reader's scope."""


def _read_properties(text: str) -> dict[str, str]:
    """Minimal java-properties parse (``key=value``, ``#``/``!``
    comments, trailing whitespace) — the subset hoodie.properties uses."""
    out: dict[str, str] = {}
    for line in text.splitlines():
        line = line.strip()
        if not line or line[0] in "#!":
            continue
        if "=" in line:
            k, _, v = line.partition("=")
            out[k.strip()] = v.strip()
    return out


def _local(path: str) -> str:
    return path[len("file://"):] if path.startswith("file://") else path


def table_type(path: str) -> str:
    """``hoodie.table.type`` of the table at ``path`` (``COPY_ON_WRITE``
    or ``MERGE_ON_READ``) — the routing key between :func:`read_hudi`
    and :func:`read_hudi_mor` (``Cdl.register_table`` auto-routes on
    it). Raises ``FileNotFoundError`` if ``path`` is not a Hudi table."""
    props_path = os.path.join(_local(path), ".hoodie", "hoodie.properties")
    if not os.path.isfile(props_path):
        raise FileNotFoundError(
            f"not a Hudi table (no .hoodie/hoodie.properties): {path}"
        )
    with open(props_path, encoding="utf-8") as fh:
        return _read_properties(fh.read()).get(
            "hoodie.table.type", "COPY_ON_WRITE"
        )


def _timeline_dirs(root: str) -> list[str]:
    """Active-timeline directories: ``.hoodie`` (0.x) and
    ``.hoodie/timeline`` (1.x layout) — whichever exist."""
    base = os.path.join(root, ".hoodie")
    dirs = [base]
    one_x = os.path.join(base, "timeline")
    if os.path.isdir(one_x):
        dirs.append(one_x)
    return dirs


def _completed_instants(
    root: str, allow_delta: bool = False
) -> list[tuple[str, str, str]]:
    """(instant, action, metadata-file path) of every COMPLETED
    commit/replacecommit (plus deltacommit when ``allow_delta`` — the
    MoR path), ascending by instant."""
    out: list[tuple[str, str, str]] = []
    for d in _timeline_dirs(root):
        for name in os.listdir(d):
            m = _INSTANT_RE.match(name)
            if not m:
                continue
            instant, action = m.group(1), m.group(2)
            if action == "deltacommit" and not allow_delta:
                raise HudiProtocolError(
                    f"deltacommit instant {name!r} in the timeline — a "
                    "MERGE_ON_READ write on a table this COW reader was "
                    "pointed at; use read_hudi_mor."
                )
            out.append((instant, action, os.path.join(d, name)))
    out.sort(key=lambda t: t[0])
    return out


def _archived_instants(root: str) -> list[tuple[str, str, dict]]:
    """Replay the ARCHIVED timeline (``.hoodie/archived/`` — instants
    Hudi's archival service moved out of the active timeline): the
    archives are HoodieLogFormat files whose Avro data blocks carry
    ``HoodieArchivedMetaEntry`` records (commitTime, actionType,
    actionState, nested commit metadata). Returns ascending
    ``(instant, action, commit-metadata dict)`` for COMPLETED archived
    instants that carry replayable metadata — clean/rollback entries
    contribute no file slices and are skipped. Decoding uses each
    block's own embedded writer schema, so the relevant subset
    (``partitionToWriteStats`` → fileId/path,
    ``partitionToReplaceFileIds``) resolves across Hudi versions; a
    JSON-string metadata variant is parsed too."""
    arch = os.path.join(root, ".hoodie", "archived")
    if not os.path.isdir(arch):
        return []
    out: dict[tuple[str, str], dict] = {}
    for name in sorted(os.listdir(arch)):
        p = os.path.join(arch, name)
        if not os.path.isfile(p):
            continue
        with open(p, "rb") as fh:
            data = fh.read()
        if not data[: len(_LOG_MAGIC)] == _LOG_MAGIC:
            raise HudiProtocolError(
                f"archived timeline file {name!r} is not HoodieLogFormat — "
                "cannot replay this archive layout (LSM history replay is "
                "not implemented)"
            )
        for b in read_log_blocks(data):
            if b["type"] != _BLK_AVRO:
                continue
            for rec in _decode_avro_block(b):
                state = rec.get("actionState")
                if state not in (None, "COMPLETED"):
                    continue
                instant, action = rec.get("commitTime"), rec.get("actionType")
                if not instant or not action:
                    continue
                meta = (
                    rec.get("hoodieCommitMetadata")
                    or rec.get("hoodieReplaceCommitMetadata")
                    or rec.get("hoodieCompactionMetadata")
                )
                if meta is None:
                    continue  # clean/rollback: no file slices to replay
                if isinstance(meta, str):
                    meta = json.loads(meta)
                out[(str(instant), str(action))] = meta
    return sorted((i, a, m) for (i, a), m in out.items())


def _live_slices(
    root: str, as_of_instant: str | None
) -> list[tuple[str, str, str]]:
    """Resolve live file slices at the instant ceiling.

    Returns [(partition path, fileId, table-relative file path)] — for
    each file group the NEWEST completed slice <= as_of, minus groups a
    replacecommit <= as_of replaced. Instants the archival service
    moved out of the active timeline replay from ``.hoodie/archived/``
    (:func:`_archived_instants`), so time travel works on aged tables
    as long as the data files themselves survive cleaning."""
    instants = _completed_instants(root)
    # (instant, action, metadata dict) — archived first, active wins on
    # an instant both carry (the active JSON is the fresher source)
    timeline: list[tuple[str, str, dict]] = []
    active_set = {t[0] for t in instants}
    for instant, action, meta in _archived_instants(root):
        if instant not in active_set:
            timeline.append((instant, action, meta))
    for instant, action, meta_path in instants:
        with open(meta_path, "rb") as fh:
            raw = fh.read()
        if not raw.strip():
            # some writers leave the completed marker empty for actions
            # that moved their metadata elsewhere — nothing to replay
            continue
        try:
            meta = json.loads(raw)
        except ValueError as exc:
            raise HudiProtocolError(
                f"commit metadata {meta_path!r} is not JSON — this reader "
                "replays the JSON timeline format only"
            ) from exc
        timeline.append((instant, action, meta))
    timeline.sort(key=lambda t: t[0])
    if as_of_instant is not None:
        admitted = [t for t in timeline if t[0] <= str(as_of_instant)]
        if not admitted and timeline:
            raise ValueError(
                f"as_of_instant {as_of_instant!r} precedes the whole "
                f"timeline (earliest replayable instant "
                f"{timeline[0][0]!r}, archived included)"
            )
        timeline = admitted
    slices: dict[tuple[str, str], tuple[str, str]] = {}
    replaced: set[tuple[str, str]] = set()
    for instant, action, meta in timeline:
        stats = meta.get("partitionToWriteStats")
        if stats is None:
            raise HudiProtocolError(
                f"commit metadata of instant {instant!r} has no "
                "partitionToWriteStats"
            )
        for part, sts in (stats or {}).items():
            for st in sts or []:
                fid, rel = st.get("fileId"), st.get("path")
                if not fid or not rel:
                    raise HudiProtocolError(
                        f"write stat without fileId/path at instant {instant!r}"
                    )
                key = (part, fid)
                prev = slices.get(key)
                if prev is None or instant >= prev[0]:
                    slices[key] = (instant, rel)
        if action == "replacecommit":
            for part, fids in (meta.get("partitionToReplaceFileIds") or {}).items():
                for fid in fids or []:
                    replaced.add((part, fid))
    return [
        (part, fid, rel)
        for (part, fid), (_ins, rel) in sorted(slices.items())
        if (part, fid) not in replaced
    ]


def read_hudi(
    spark: SparkSession,
    path: str,
    as_of_instant: str | None = None,
    keep_meta_columns: bool = False,
) -> DataFrame:
    """Read an external Hudi COPY_ON_WRITE table as a DataFrame (exact
    snapshot semantics: the newest completed file slice per file group).

    ``as_of_instant=None`` reads the latest snapshot; an instant string
    (e.g. ``"20240101123000000"``) time-travels to the newest completed
    instant at-or-below it. ``_hoodie_*`` meta columns are dropped
    unless ``keep_meta_columns=True`` (Catalyst's column pruning removes
    them from the parquet read entirely)."""
    prepare_session(spark)
    root = _local(path)
    hoodie = os.path.join(root, ".hoodie")
    props_path = os.path.join(hoodie, "hoodie.properties")
    if not os.path.isfile(props_path):
        raise FileNotFoundError(f"not a Hudi table (no .hoodie/hoodie.properties): {path}")
    with open(props_path, encoding="utf-8") as fh:
        props = _read_properties(fh.read())
    ttype = props.get("hoodie.table.type", "COPY_ON_WRITE")
    if ttype != "COPY_ON_WRITE":
        raise HudiProtocolError(
            f"hoodie.table.type={ttype!r}: read_hudi is the COPY_ON_WRITE "
            "snapshot reader — MERGE_ON_READ tables merge log files via "
            "read_hudi_mor"
        )
    live = _live_slices(root, as_of_instant)
    if not live:
        raise ValueError(
            f"no completed file slices at instant {as_of_instant!r}: {path}"
        )
    paths = [os.path.join(root, rel) for _part, _fid, rel in live]
    df = spark.read.parquet(*paths)
    if not keep_meta_columns:
        keep = [c for c in df.columns if not c.startswith("_hoodie_")]
        df = df.select(*keep)
    return df


def hudi_timeline(path: str) -> list[dict]:
    """Completed (instant, action) pairs ascending — the discovery
    surface for time travel, like ``iceberg_snapshots``."""
    root = _local(path)
    return [
        {"instant": i, "action": a}
        for i, a, _p in _completed_instants(root)
    ]


# ---------------------------------------------------------------------------
# MERGE_ON_READ: log-file format codec + per-file-group merge
# ---------------------------------------------------------------------------
#
# Hudi MoR file groups accumulate row-level changes in LOG FILES
# (`.<fileId>_<baseInstant>.log.<version>_<writeToken>`) written by
# `deltacommit` instants; a snapshot read merges each file group's base
# parquet with its log records, newest-write-wins per record key. The
# log container is the HoodieLogFormat published at
# hudi.apache.org/tech-specs ("Log File Format"): a sequence of blocks
#
#   magic "#HUDI#" | block length (8, BE — bytes remaining AFTER this
#   field) | log format version (4) | block type ordinal (4) | header
#   map | content length (8) | content | footer map | total block
#   length (8, including magic — the reverse-scan pointer)
#
# header/footer maps are java-DataOutputStream encoded: count(4), then
# per entry ordinal(4) + utf8 length(4) + bytes. Avro data block
# content: format version (4) | record count (4) | per record: length
# (4) + RAW Avro binary decoded with the block header's SCHEMA.
#
# Supported blocks: AVRO_DATA_BLOCK (upserts; deletes ride the public
# `_hoodie_is_deleted` boolean field), COMMAND_BLOCK (rollback: drops
# earlier blocks whose INSTANT_TIME equals TARGET_INSTANT_TIME),
# CORRUPT_BLOCK (skipped, like Hudi's reader). HFILE/PARQUET/CDC data
# blocks and binary DELETE_BLOCKs (Kryo/custom-serialized key arrays)
# gate loudly.
#
# Scale notes (100 TB): log DECODE runs executor-side — one task per
# FILE SLICE via mapInPandas over the slice list (the same per-file-
# group merge parallelism Hudi's own reader uses); the driver touches
# only the timeline JSON. The merge is ONE shuffle: union(base, log
# rows) → row_number over _hoodie_record_key ordered by write ordinal —
# record keys are unique within a file group, so the exchange is the
# unavoidable group-by-key of any MoR merge. Python sees log BYTES only
# (Arrow-batched out); base parquet stays a plain JVM scan.

_LOG_MAGIC = b"#HUDI#"

#: HoodieLogBlockType ordinals (hudi-common HoodieLogBlock)
_BLK_COMMAND, _BLK_DELETE, _BLK_CORRUPT, _BLK_AVRO = 0, 1, 2, 3

#: HeaderMetadataType ordinals
_HDR_INSTANT, _HDR_TARGET_INSTANT, _HDR_SCHEMA, _HDR_COMMAND_TYPE = 0, 1, 2, 3

#: `.<fileId>_<baseInstant>.log.<version>_<writeToken>`
_LOG_NAME_RE = re.compile(
    r"^\.(?P<fid>[^_]+(?:-[^_]*)*)_(?P<base>\d+)\.log\.(?P<ver>\d+)(?:_.+)?$"
)


def _read_meta_map(r) -> dict[int, str]:
    import struct as _s

    (count,) = _s.unpack(">i", r.read(4))
    out: dict[int, str] = {}
    for _ in range(count):
        (ordinal,) = _s.unpack(">i", r.read(4))
        (ln,) = _s.unpack(">i", r.read(4))
        out[ordinal] = r.read(ln).decode("utf-8")
    return out


def _write_meta_map(meta: dict[int, str]) -> bytes:
    import struct as _s

    out = [_s.pack(">i", len(meta))]
    for k, v in meta.items():
        b = v.encode("utf-8")
        out += [_s.pack(">i", k), _s.pack(">i", len(b)), b]
    return b"".join(out)


def read_log_blocks(data: bytes) -> list[dict]:
    """Parse one log file into blocks: ``{"type", "header", "footer",
    "content"}`` — framing validated, never guessed (a length mismatch
    raises instead of misreading)."""
    import io as _io
    import struct as _s

    r = _io.BytesIO(data)
    blocks: list[dict] = []
    while True:
        magic = r.read(6)
        if not magic:
            return blocks
        if magic != _LOG_MAGIC:
            raise HudiProtocolError(
                f"bad log block magic {magic!r} at offset {r.tell() - 6}"
            )
        (blk_len,) = _s.unpack(">q", r.read(8))
        start = r.tell()
        (fmt_ver,) = _s.unpack(">i", r.read(4))
        if fmt_ver != 1:
            raise HudiProtocolError(f"log format version {fmt_ver} != 1")
        (btype,) = _s.unpack(">i", r.read(4))
        header = _read_meta_map(r)
        (content_len,) = _s.unpack(">q", r.read(8))
        content = r.read(content_len)
        footer = _read_meta_map(r)
        (total_len,) = _s.unpack(">q", r.read(8))
        if r.tell() - start != blk_len:
            raise HudiProtocolError(
                f"log block length mismatch: header says {blk_len}, "
                f"read {r.tell() - start}"
            )
        if total_len != blk_len + 14:
            raise HudiProtocolError(
                f"total block length {total_len} != {blk_len + 14}"
            )
        blocks.append(
            {"type": btype, "header": header, "footer": footer, "content": content}
        )


def write_log_blocks(blocks: list[dict]) -> bytes:
    """Serialize blocks to log-file bytes (fixture/egress helper — the
    exact inverse of :func:`read_log_blocks`)."""
    import io as _io
    import struct as _s

    out = _io.BytesIO()
    for b in blocks:
        header = _write_meta_map(b.get("header") or {})
        footer = _write_meta_map(b.get("footer") or {})
        content = b.get("content") or b""
        body = (
            _s.pack(">i", 1)
            + _s.pack(">i", b["type"])
            + header
            + _s.pack(">q", len(content))
            + content
            + footer
        )
        blk_len = len(body) + 8  # + trailing total-length field
        out.write(_LOG_MAGIC)
        out.write(_s.pack(">q", blk_len))
        out.write(body)
        out.write(_s.pack(">q", blk_len + 14))
    return out.getvalue()


def encode_avro_data_block(records: list[dict], schema: dict, instant: str) -> dict:
    """An AVRO_DATA_BLOCK carrying ``records`` under ``schema`` for
    deltacommit ``instant`` (fixture/egress helper)."""
    import json as _json
    import struct as _s

    from connected_data_lake_spark.sources.avro_ocf import encode_record

    payload = [_s.pack(">i", 3), _s.pack(">i", len(records))]
    for rec in records:
        raw = encode_record(schema, rec)
        payload += [_s.pack(">i", len(raw)), raw]
    return {
        "type": _BLK_AVRO,
        "header": {
            _HDR_INSTANT: instant,
            _HDR_SCHEMA: _json.dumps(schema),
        },
        "content": b"".join(payload),
    }


def _decode_avro_block(block: dict) -> list[dict]:
    import json as _json
    import struct as _s

    from connected_data_lake_spark.sources.avro_ocf import decode_record

    schema = _json.loads(block["header"][_HDR_SCHEMA])
    content = block["content"]
    (fmt,) = _s.unpack(">i", content[:4])
    if fmt not in (2, 3):
        raise HudiProtocolError(f"Avro data block content version {fmt}")
    (count,) = _s.unpack(">i", content[4:8])
    pos = 8
    out = []
    for _ in range(count):
        (ln,) = _s.unpack(">i", content[pos : pos + 4])
        pos += 4
        out.append(decode_record(schema, content[pos : pos + ln]))
        pos += ln
    return out


def _slice_live_blocks(log_paths: list[str]) -> list[dict]:
    """One file slice's LIVE data blocks in log order: rollback COMMAND
    blocks drop earlier blocks whose INSTANT_TIME equals the command's
    TARGET_INSTANT_TIME, CORRUPT blocks are skipped."""
    live: list[dict] = []
    for p in log_paths:
        with open(p, "rb") as fh:
            data = fh.read()
        for block in read_log_blocks(data):
            bt = block["type"]
            if bt == _BLK_CORRUPT:
                continue
            if bt == _BLK_COMMAND:
                target = block["header"].get(_HDR_TARGET_INSTANT)
                live = [
                    b
                    for b in live
                    if b["header"].get(_HDR_INSTANT) != target
                ]
                continue
            if bt == _BLK_AVRO:
                live.append(block)
                continue
            raise HudiProtocolError(
                f"unsupported log block type ordinal {bt} (only Avro data "
                "blocks, rollback command blocks and corrupt-block skips "
                "are implemented; binary delete blocks should use the "
                "_hoodie_is_deleted field instead)"
            )
    return live


def _slice_log_records(log_paths: list[str]) -> list[tuple[int, dict]]:
    """Decode one file slice's ordered log files into (ordinal, record)
    pairs — runs executor-side, one slice per task."""
    out: list[tuple[int, dict]] = []
    ordinal = 0
    for b in _slice_live_blocks(log_paths):
        for rec in _decode_avro_block(b):
            out.append((ordinal, rec))
            ordinal += 1
    return out


#: Avro primitive → Spark type, for LOGS-ONLY file groups where no base
#: parquet exists to carry the table schema (the schema then comes from
#: the first live data block's embedded writer schema, exactly where
#: hudi's own AbstractHoodieLogRecordReader gets it).
_AVRO_PRIM_SPARK = {
    "string": "string",
    "long": "bigint",
    "int": "int",
    "double": "double",
    "float": "float",
    "boolean": "boolean",
    "bytes": "binary",
}


def _avro_field_spark_type(avro_type):
    """Spark type for one Avro field type; nullable unions unwrap.
    Complex/logical types gate loudly — the log writers this reader
    supports emit flat primitive records."""
    if isinstance(avro_type, str):
        t = _AVRO_PRIM_SPARK.get(avro_type)
        if t is not None:
            return t
    if isinstance(avro_type, list):
        non_null = [x for x in avro_type if x != "null"]
        if len(non_null) == 1:
            return _avro_field_spark_type(non_null[0])
    raise HudiProtocolError(
        f"unsupported Avro field type {avro_type!r} in a logs-only file "
        "group's embedded schema (flat primitive records only)"
    )


def _mor_slices(
    root: str, as_of_instant: str | None
) -> list[tuple[str | None, list[str]]]:
    """Resolve MoR file slices: [(base file abs path | None, ordered log
    file abs paths)] at the instant ceiling. Base files come from
    commit/compaction write stats; log files from deltacommit write
    stats, attached to the slice whose baseInstant their NAME carries."""
    instants = _completed_instants(root, allow_delta=True)
    if as_of_instant is not None:
        admitted = [t for t in instants if t[0] <= str(as_of_instant)]
        if not admitted and instants:
            raise ValueError(
                f"as_of_instant {as_of_instant!r} precedes the active "
                f"timeline (earliest completed instant {instants[0][0]!r})"
            )
        instants = admitted
    bases: dict[tuple[str, str], tuple[str, str]] = {}
    logs: dict[tuple[str, str, str], list[tuple[str, int, str]]] = {}
    replaced: set[tuple[str, str]] = set()
    for instant, action, meta_path in instants:
        with open(meta_path, "rb") as fh:
            raw = fh.read()
        if not raw.strip():
            continue
        try:
            meta = json.loads(raw)
        except ValueError as exc:
            raise HudiProtocolError(
                f"commit metadata {meta_path!r} is not JSON"
            ) from exc
        stats = meta.get("partitionToWriteStats")
        if stats is None:
            raise HudiProtocolError(
                f"commit metadata {meta_path!r} has no partitionToWriteStats"
            )
        for part, sts in (stats or {}).items():
            for st in sts or []:
                fid, rel = st.get("fileId"), st.get("path")
                if not fid or not rel:
                    raise HudiProtocolError(
                        f"write stat without fileId/path in {meta_path!r}"
                    )
                name = os.path.basename(rel)
                if ".log." in name:
                    m = _LOG_NAME_RE.match(name)
                    if not m:
                        raise HudiProtocolError(
                            f"unparseable log file name {name!r}"
                        )
                    key = (part, fid, m.group("base"))
                    logs.setdefault(key, []).append(
                        (instant, int(m.group("ver")), rel)
                    )
                else:
                    key2 = (part, fid)
                    prev = bases.get(key2)
                    if prev is None or instant >= prev[0]:
                        bases[key2] = (instant, rel)
        if action == "replacecommit":
            for part, fids in (meta.get("partitionToReplaceFileIds") or {}).items():
                for fid in fids or []:
                    replaced.add((part, fid))
    out: list[tuple[str | None, list[str]]] = []
    claimed: set[tuple[str, str, str]] = set()
    for (part, fid), (base_instant, rel) in sorted(bases.items()):
        if (part, fid) in replaced:
            continue
        lkey = (part, fid, base_instant)
        claimed.add(lkey)
        slice_logs = sorted(logs.get(lkey, []))
        out.append(
            (
                os.path.join(root, rel),
                [os.path.join(root, lrel) for _i, _v, lrel in slice_logs],
            )
        )
    # logs-only file slices (inserts routed to logs before any base file)
    for (part, fid, base_instant), entries in sorted(logs.items()):
        if (part, fid, base_instant) in claimed or (part, fid) in replaced:
            continue
        # skip log slices superseded by a NEWER base file of the group
        cur = bases.get((part, fid))
        if cur is not None and cur[0] >= base_instant:
            continue
        out.append((None, [os.path.join(root, rel) for _i, _v, rel in sorted(entries)]))
    return out


def read_hudi_mor(
    spark: SparkSession,
    path: str,
    as_of_instant: str | None = None,
) -> DataFrame:
    """Snapshot-read an external Hudi MERGE_ON_READ table: per file
    group, base parquet merged with its deltacommit log records,
    newest-write-wins per ``_hoodie_record_key``, ``_hoodie_is_deleted``
    rows dropped. ``as_of_instant`` bounds both base-file and
    deltacommit resolution (inclusive), like the COW reader's."""
    import pandas as pd
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    prepare_session(spark)
    root = _local(path)
    props_path = os.path.join(root, ".hoodie", "hoodie.properties")
    if not os.path.isfile(props_path):
        raise FileNotFoundError(
            f"not a Hudi table (no .hoodie/hoodie.properties): {path}"
        )
    with open(props_path, encoding="utf-8") as fh:
        props = _read_properties(fh.read())
    if props.get("hoodie.table.type") != "MERGE_ON_READ":
        raise ValueError(
            f"hoodie.table.type={props.get('hoodie.table.type')!r}: "
            "read_hudi_mor is for MERGE_ON_READ tables (use read_hudi "
            "for COPY_ON_WRITE)"
        )
    slices = _mor_slices(root, as_of_instant)
    if not slices:
        raise ValueError(
            f"no completed file slices at instant {as_of_instant!r}: {path}"
        )
    base_paths = [b for b, _l in slices if b is not None]
    log_slices = [(i, l) for i, (_b, l) in enumerate(slices) if l]
    if not base_paths and not log_slices:
        raise ValueError(f"empty MoR snapshot under {path}")

    # the table schema comes from the base parquet (or, logs-only, the
    # first live data block's embedded Avro writer schema — the same
    # source hudi's AbstractHoodieLogRecordReader uses)
    avro_fields: list[dict] = []
    if base_paths:
        base = spark.read.parquet(*base_paths)
        cols = base.columns
    else:
        import json as _json

        first_live = _slice_live_blocks(log_slices[0][1])
        if not first_live:
            raise HudiProtocolError("logs-only table with no live data block")
        avro_fields = _json.loads(first_live[0]["header"][_HDR_SCHEMA])[
            "fields"
        ]
        cols = [f["name"] for f in avro_fields]
        base = None
    # VIRTUAL-KEY tables (hoodie.populate.meta.fields=false): no
    # _hoodie_record_key column anywhere — the merge key is derived from
    # hoodie.table.recordkey.fields exactly as Hudi's key generators do
    # (SimpleKeyGenerator: str(value); ComplexKeyGenerator:
    # "f1:v1,f2:v2" with __null__/__empty__ sentinels). Restricted to
    # string/integral key fields: a float key renders differently in
    # Java's Double.toString vs this reader and would split file groups.
    virtual_keys: list[str] | None = None
    if "_hoodie_record_key" not in cols:
        rk = (props.get("hoodie.table.recordkey.fields") or "").strip()
        rk_fields = [f for f in (p.strip() for p in rk.split(",")) if f]
        if not rk_fields:
            raise HudiProtocolError(
                "MoR merge needs the _hoodie_record_key meta column, and "
                "hoodie.properties declares no hoodie.table.recordkey."
                "fields to derive a virtual key from"
            )
        missing = [f for f in rk_fields if f not in cols]
        if missing:
            raise HudiProtocolError(
                f"hoodie.table.recordkey.fields {missing!r} not present "
                "in the table columns"
            )
        virtual_keys = rk_fields
    data_cols = [c for c in cols if not c.startswith("_hoodie_")]

    def _vk_expr(field_type_of):
        """Key-generator column expression over the data columns;
        ``field_type_of(name)`` -> spark simpleString of the field."""
        ok_types = {"string", "bigint", "int", "smallint", "tinyint"}
        for f in virtual_keys:
            if field_type_of(f) not in ok_types:
                raise HudiProtocolError(
                    f"virtual record-key field {f!r} has type "
                    f"{field_type_of(f)!r}; only string/integral key "
                    "fields are supported (float keys render engine-"
                    "dependently)"
                )
        if len(virtual_keys) == 1:
            return F.col(virtual_keys[0]).cast("string")
        parts = []
        for f in virtual_keys:
            s = F.col(f).cast("string")
            rendered = (
                F.when(s.isNull(), F.lit("__null__"))
                .when(s == "", F.lit("__empty__"))
                .otherwise(s)
            )
            parts.append(F.concat(F.lit(f + ":"), rendered))
        return F.concat_ws(",", *parts)

    if base is not None:
        if virtual_keys is None:
            key_field = base.schema["_hoodie_record_key"]
            key_col = F.col("_hoodie_record_key")
        else:
            key_field = T.StructField(
                "_hoodie_record_key", T.StringType(), True
            )
            key_col = _vk_expr(
                lambda f: base.schema[f].dataType.simpleString()
            ).alias("_hoodie_record_key")
        merged_schema = T.StructType(
            [key_field]
            + [base.schema[c] for c in data_cols]
            + [
                T.StructField("_hoodie_is_deleted", T.BooleanType(), True),
                T.StructField("__cdl_ord", T.LongType(), False),
            ]
        )
        base_side = base.select(
            key_col,
            *data_cols,
            F.lit(False).alias("_hoodie_is_deleted"),
            F.lit(-1).cast("long").alias("__cdl_ord"),
        )
    else:
        by_name = {f["name"]: f["type"] for f in avro_fields}
        if virtual_keys is not None:
            _vk_expr(  # type-gate only; the python mirror renders below
                lambda f: _avro_field_spark_type(by_name[f])
            )
        merged_schema = T.StructType(
            [T.StructField("_hoodie_record_key", T.StringType(), True)]
            + [
                T.StructField(
                    c,
                    T._parse_datatype_string(
                        _avro_field_spark_type(by_name[c])
                    ),
                    True,
                )
                for c in data_cols
            ]
            + [
                T.StructField("_hoodie_is_deleted", T.BooleanType(), True),
                T.StructField("__cdl_ord", T.LongType(), False),
            ]
        )
        base_side = None

    union = base_side
    if log_slices:
        out_names = [f.name for f in merged_schema.fields]
        vk = list(virtual_keys) if virtual_keys else None

        def _vk_py(rec: dict):
            # python mirror of _vk_expr — str(long/str) renders exactly
            # like Spark's cast-to-string for the admitted key types
            if len(vk) == 1:
                v = rec.get(vk[0])
                return None if v is None else str(v)
            parts = []
            for f in vk:
                v = rec.get(f)
                s = (
                    "__null__"
                    if v is None
                    else ("__empty__" if str(v) == "" else str(v))
                )
                parts.append(f + ":" + s)
            return ",".join(parts)

        def decode(batches):
            # columnar assembly: one list per output column, not one dict
            # per record — the Arrow conversion then sees ready columns
            data_names = [n for n in out_names if n != "__cdl_ord"]
            for pdf in batches:
                for _i, row in pdf.iterrows():
                    recs = _slice_log_records(list(row["logs"]))
                    if not recs:
                        continue
                    cols: dict[str, list] = {n: [] for n in out_names}
                    for ordinal, rec in recs:
                        for n in data_names:
                            if vk is not None and n == "_hoodie_record_key":
                                cols[n].append(_vk_py(rec))
                            else:
                                cols[n].append(rec.get(n))
                        cols["__cdl_ord"].append(ordinal)
                    yield pd.DataFrame(cols, columns=out_names)

        from connected_data_lake_spark.localrel import local_df

        slice_df = local_df(
            spark,
            [(i, logs) for i, logs in log_slices],
            T.StructType(
                [
                    T.StructField("slice_id", T.IntegerType(), False),
                    T.StructField("logs", T.ArrayType(T.StringType()), False),
                ]
            ),
        ).repartition(max(1, min(len(log_slices), 32)), "slice_id")
        log_side = slice_df.mapInPandas(decode, merged_schema)
        union = (
            log_side
            if base_side is None
            else base_side.unionByName(log_side)
        )

    w = Window.partitionBy("_hoodie_record_key").orderBy(F.desc("__cdl_ord"))
    snap = (
        union.withColumn("__cdl_rn", F.row_number().over(w))
        .filter(F.col("__cdl_rn") == 1)
        .filter(~F.coalesce(F.col("_hoodie_is_deleted"), F.lit(False)))
    )
    return snap.select(*data_cols)


# ---------------------------------------------------------------------------
# WRITE path: COPY_ON_WRITE insert / upsert / overwrite
# ---------------------------------------------------------------------------


def write_hudi(
    df,
    path: str,
    record_key: str,
    mode: str = "insert",
    partition_by: list[str] | None = None,
    table_name: str = "cdl_table",
    table_type: str = "COPY_ON_WRITE",
) -> str:
    """Write ``df`` to a Hudi COPY_ON_WRITE table at local ``path``;
    returns the committed instant. The egress third of the lake-writer
    triad (:mod:`sources.delta_write`, :mod:`sources.iceberg_write`):
    `.hoodie/hoodie.properties` + completed-instant timeline JSON with
    ``partitionToWriteStats`` per the table layout this repo's own
    reader replays (hudi.apache.org/docs "Table & Query Types",
    "Timeline"), data files named ``<fileId>_<writeToken>_<instant>.
    parquet`` carrying the ``_hoodie_record_key`` /
    ``_hoodie_commit_time`` / ``_hoodie_partition_path`` meta columns
    real Hudi readers expect.

    ``mode``:

    - ``insert`` — new file group(s); create if absent.
    - ``upsert`` — COW upsert: file groups whose slice contains a
      matching ``record_key`` REWRITE as a new file slice (newest slice
      wins at read — the mechanism ``read_hudi`` resolves); rows with
      unseen keys land in a fresh file group in the same commit.
    - ``overwrite`` — a ``replacecommit`` replacing every live file
      group (INSERT_OVERWRITE_TABLE semantics; old slices stay
      time-travelable).

    Scale: the data write is one distributed Spark job (hive-style
    fanout via partition aliases, files renamed into place); the
    timeline write is one driver-side JSON. Upsert's hit-group
    discovery is one semi-join with the file path materialized from
    scan metadata — the same planning-sized pattern as the Delta/
    Iceberg DML engines.
    """
    import uuid as _uuid

    from pyspark.sql import functions as F

    if mode not in ("insert", "upsert", "overwrite"):
        raise ValueError(f"unknown mode {mode!r}")
    if record_key not in df.columns:
        raise ValueError(f"record_key {record_key!r} not in DataFrame")
    partition_by = list(partition_by or [])
    for c in partition_by:
        if c not in df.columns:
            raise ValueError(f"partition column {c!r} not in DataFrame")

    root = _local(path)
    hoodie = os.path.join(root, ".hoodie")
    props_path = os.path.join(hoodie, "hoodie.properties")
    exists = os.path.isfile(props_path)
    if table_type not in ("COPY_ON_WRITE", "MERGE_ON_READ"):
        raise ValueError(f"unknown table_type {table_type!r}")
    if exists:
        with open(props_path, encoding="utf-8") as fh:
            props = _read_properties(fh.read())
        actual = props.get("hoodie.table.type")
        if actual == "MERGE_ON_READ":
            # base-file writes are identical for both types; UPDATES on a
            # MoR table must go through the log path instead of a slice
            # rewrite (that is the point of MoR)
            if mode == "upsert":
                raise HudiProtocolError(
                    "upserts on a MERGE_ON_READ table take "
                    "upsert_hudi_mor (log-block appends), not the COW "
                    "slice rewrite"
                )
        elif actual != "COPY_ON_WRITE":
            raise HudiProtocolError(
                f"unknown hoodie.table.type {actual!r}"
            )
        if props.get("hoodie.table.recordkey.fields", record_key) != record_key:
            raise ValueError(
                f"record_key {record_key!r} != table's "
                f"{props.get('hoodie.table.recordkey.fields')!r}"
            )
        instants = _completed_instants(root)
        last = instants[-1][0] if instants else "20260101000000000"
        # instants are ordered lexically AND numerically; bump keeps both
        instant = str(int(last) + 1)
    else:
        os.makedirs(hoodie, exist_ok=True)
        instant = "20260101000000000"

    token = _uuid.uuid4().hex[:8]
    meta_cols = [
        F.lit(instant).alias("_hoodie_commit_time"),
        F.col(record_key).cast("string").alias("_hoodie_record_key"),
    ]
    stats: dict[str, list] = {}
    replaced: dict[str, list] = {}

    def _rewrite_slice(part: str, fid: str, slice_rel: str, upserts_df):
        """COW-rewrite one file group: old slice rows with matched keys
        replaced by the upsert rows, written as a NEW slice of the SAME
        fileId at this instant."""
        old = (
            df.sparkSession.read.parquet(os.path.join(root, slice_rel))
        )
        keep = old.join(
            upserts_df.select(
                F.col(record_key).cast("string").alias("__k")
            ),
            old["_hoodie_record_key"] == F.col("__k"),
            "left_anti",
        )
        merged = keep.unionByName(
            upserts_df.select(*meta_cols, *data_cols_of(upserts_df)),
            allowMissingColumns=True,
        )
        rel = f"{fid}_0-1-0_{instant}.parquet"
        if part:
            rel = f"{part}/{rel}"
        write_single_parquet(merged, os.path.join(root, rel))
        stats.setdefault(part, []).append({"fileId": fid, "path": rel})

    def data_cols_of(d):
        return [
            F.col(c)
            for c in d.columns
            if not c.startswith("_hoodie_") and not c.startswith("__")
        ]

    out = df.select(*meta_cols, *data_cols_of(df))

    if mode == "insert" or not exists:
        _write_file_groups(out, root, token, instant, "i", stats, partition_by)
    elif mode == "overwrite":
        for part, fid, _rel in _live_slices(root, None):
            replaced.setdefault(part, []).append(fid)
        _write_file_groups(out, root, token, instant, "o", stats, partition_by)
    else:  # upsert on an existing table
        live = _live_slices(root, None)
        spark = df.sparkSession
        keys = df.select(
            F.col(record_key).cast("string").alias("__k")
        ).distinct()
        hit: list[tuple[str, str, str]] = []
        for part, fid, rel in live:
            slice_keys = spark.read.parquet(
                os.path.join(root, rel)
            ).select(F.col("_hoodie_record_key").alias("__k"))
            if slice_keys.join(keys, "__k", "left_semi").limit(1).count():
                hit.append((part, fid, rel))
        matched_keys = None
        for part, fid, rel in hit:
            slice_keys = spark.read.parquet(os.path.join(root, rel)).select(
                F.col("_hoodie_record_key").alias("__k")
            )
            sub = df.join(
                slice_keys,
                df[record_key].cast("string") == F.col("__k"),
                "left_semi",
            )
            _rewrite_slice(part, fid, rel, sub)
            matched_keys = (
                sub.select(F.col(record_key).alias("__mk"))
                if matched_keys is None
                else matched_keys.unionByName(
                    sub.select(F.col(record_key).alias("__mk"))
                )
            )
        inserts = df
        if matched_keys is not None:
            inserts = df.join(
                matched_keys.distinct(),
                df[record_key] == F.col("__mk"),
                "left_anti",
            )
        if inserts.limit(1).count():
            out_ins = inserts.select(*meta_cols, *data_cols_of(inserts))
            _write_file_groups(
                out_ins, root, token, instant, "i", stats, partition_by
            )

    action = "replacecommit" if (mode == "overwrite" and exists) else "commit"
    commit_meta: dict = {
        "partitionToWriteStats": stats,
        "operationType": mode.upper(),
    }
    if replaced:
        commit_meta["partitionToReplaceFileIds"] = replaced
    _commit_instant(hoodie, f"{instant}.{action}", commit_meta)
    if not exists:
        with open(props_path, "w") as fh:
            fh.write(
                f"hoodie.table.name={table_name}\n"
                f"hoodie.table.type={table_type}\n"
                "hoodie.table.version=6\n"
                f"hoodie.table.recordkey.fields={record_key}\n"
                + (
                    f"hoodie.table.partition.fields={','.join(partition_by)}\n"
                    if partition_by
                    else ""
                )
            )
    return instant


#: Spark leaf types encodable in our Avro data blocks (nullable unions)
_AVRO_OF_SPARK = {
    "long": "long",
    "integer": "int",
    "string": "string",
    "double": "double",
    "float": "float",
    "boolean": "boolean",
}


def _commit_instant(hoodie_dir: str, file_name: str, meta: dict) -> None:
    """Put-if-absent commit of one completed instant as
    ``<hoodie_dir>/<file_name>`` — fails if a concurrent writer already
    completed that instant (the shared tail of every Hudi commit)."""
    if not LocalFsStore(hoodie_dir).put_if_absent(
        file_name, json.dumps(meta).encode()
    ):
        raise RuntimeError(
            f"concurrent Hudi commit took instant {file_name}; re-run"
        )


def _write_file_groups(
    df, root: str, token: str, instant: str, fid_prefix: str, stats: dict,
    partition_by=(),
) -> None:
    """Distributed write of ``df`` as new file groups at ``instant``, one
    per output file, hive-fanned out on ``partition_by`` (the data files
    keep the partition columns); each group is added to the commit's
    ``partitionToWriteStats`` entries ``stats``: ``{partition path:
    [{fileId, path}]}``."""

    def place(i: int, rel_dir: str) -> str:
        # the partition path is the escaped dir values, col= dropped
        part = "/".join(seg.split("=", 1)[1] for seg in rel_dir.split("/") if seg)
        fid = f"{fid_prefix}-{token}-{i}"
        rel = f"{fid}_0-1-0_{instant}.parquet"
        rel = f"{part}/{rel}" if part else rel
        stats.setdefault(part, []).append({"fileId": fid, "path": rel})
        return os.path.join(root, rel)

    stage_parquet(
        df,
        os.path.join(root, f".staging_{token}"),
        place,
        partition_by,
        keep_partition_columns=True,
    )


def _avro_block_schema(df_schema, record_key: str) -> dict:
    """Avro record schema for MoR log records: ``_hoodie_record_key`` +
    the data columns + ``_hoodie_is_deleted`` (all nullable unions —
    the codec's spec-default branch order)."""
    fields = [
        {"name": "_hoodie_record_key", "type": ["null", "string"], "default": None}
    ]
    for f in df_schema.fields:
        if f.name.startswith("_hoodie_") or f.name.startswith("__"):
            continue
        tn = f.dataType.typeName()
        if tn not in _AVRO_OF_SPARK:
            raise HudiProtocolError(
                f"column {f.name!r} of Spark type {tn!r} is not encodable "
                "in an Avro log block (long/int/string/double/float/"
                "boolean only) — use COW upsert for this table"
            )
        fields.append(
            {"name": f.name, "type": ["null", _AVRO_OF_SPARK[tn]], "default": None}
        )
    fields.append(
        {"name": "_hoodie_is_deleted", "type": ["null", "boolean"], "default": None}
    )
    return {"type": "record", "name": "hudi_log_record", "fields": fields}


def _hudi_mor_apply(
    spark: SparkSession,
    path: str,
    changes,
    record_key: str,
    is_delete: bool,
) -> str:
    """Shared MERGE-ON-READ write engine: route each changed row to the
    file group that owns its record key and APPEND one Avro log block
    per group (a fresh ``.log.N`` file of that group's current slice) —
    Hudi's own update mechanism: zero base-file rewrites, write cost ∝
    changed rows. Upsert rows whose keys match no group land as new
    BASE file groups in the same deltacommit (Hudi routes MoR inserts
    to base files); delete rows for unknown keys are no-ops.

    The per-group log write runs EXECUTOR-SIDE via ``applyInPandas`` —
    one task per file group, Hudi's own write parallelism — with an
    atomic rename per file so task retries overwrite rather than
    corrupt. The commit is one driver-side ``<instant>.deltacommit``
    with the combined write stats; :func:`read_hudi_mor` merges it by
    (instant, version) order, newest write winning per key.
    """
    import uuid as _uuid

    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    root = _local(path)
    props_path = os.path.join(root, ".hoodie", "hoodie.properties")
    if not os.path.isfile(props_path):
        raise FileNotFoundError(
            f"not a Hudi table (no .hoodie/hoodie.properties): {path}"
        )
    with open(props_path, encoding="utf-8") as fh:
        props = _read_properties(fh.read())
    if props.get("hoodie.table.type") != "MERGE_ON_READ":
        raise HudiProtocolError(
            "MoR DML needs a MERGE_ON_READ table (COW tables take "
            "write_hudi(mode='upsert'))"
        )
    key_field = props.get("hoodie.table.recordkey.fields", record_key)
    if key_field != record_key:
        raise ValueError(
            f"record_key {record_key!r} != table's {key_field!r}"
        )
    if record_key not in changes.columns:
        raise ValueError(f"record_key {record_key!r} not in DataFrame")

    instants = _completed_instants(root, allow_delta=True)
    last = instants[-1][0] if instants else "20260101000000000"
    instant = str(int(last) + 1)
    token = _uuid.uuid4().hex[:8]

    # file-group routing map (planning-sized: one row per live slice)
    slices = _mor_slices(root, None)
    if any(b is None for b, _l in slices):
        raise HudiProtocolError(
            "table has logs-only file groups (no base file) — compact "
            "first, MoR DML routes keys through base files"
        )
    from connected_data_lake_spark.sources.iceberg import _norm_path_py

    group_of: dict[str, tuple[str, str, str, int]] = {}
    for base, logs in slices:
        rel = os.path.relpath(base, root).replace(os.sep, "/")
        part = os.path.dirname(rel)
        name = os.path.basename(rel)
        fid = name.split("_", 1)[0]
        base_instant = name.rsplit("_", 1)[1][: -len(".parquet")]
        next_ver = 1
        for lp in logs:
            m = _LOG_NAME_RE.match(os.path.basename(lp))
            if m:
                next_ver = max(next_ver, int(m.group("ver")) + 1)
        group_of[_norm_path_py(base)] = (part, fid, base_instant, next_ver)

    base_keys = (
        spark.read.parquet(*[b for b, _l in slices])
        .select(
            F.col("_hoodie_record_key").alias("__cdl_key"),
            F.regexp_replace(
                F.regexp_replace(
                    F.col("_metadata.file_path"),
                    r"^[a-zA-Z][a-zA-Z0-9+.\-]*:/+",
                    "",
                ),
                r"^/+",
                "",
            ).alias("__cdl_base"),
        )
    )
    keyed = changes.withColumn(
        "__cdl_key", F.col(record_key).cast("string")
    )
    routed = keyed.join(base_keys, "__cdl_key", "left")

    data_cols = [
        c
        for c in changes.columns
        if not c.startswith("_hoodie_") and not c.startswith("__")
    ]
    base_data_cols = [
        f.name
        for f in spark.read.parquet(slices[0][0]).schema.fields
        if not f.name.startswith("_hoodie_")
    ]
    if sorted(data_cols) != sorted(base_data_cols):
        raise ValueError(
            f"MoR DML columns {sorted(data_cols)} != table data columns "
            f"{sorted(base_data_cols)} — a missing column would silently "
            "null out on merged rows"
        )
    avro_schema = _avro_block_schema(changes.select(*data_cols).schema, record_key)
    group_map = dict(group_of)

    matched = routed.filter(F.col("__cdl_base").isNotNull())
    out_schema = T.StructType(
        [
            T.StructField("part", T.StringType(), True),
            T.StructField("fileId", T.StringType(), False),
            T.StructField("path", T.StringType(), False),
        ]
    )

    def write_group(pdf: pd.DataFrame) -> pd.DataFrame:
        base_norm = pdf["__cdl_base"].iloc[0]
        part, fid, base_instant, next_ver = group_map[base_norm]
        pdf = pdf.sort_values("__cdl_key")
        records = []
        for _i, row in pdf.iterrows():
            rec = {"_hoodie_record_key": row["__cdl_key"]}
            for c in data_cols:
                v = row[c]
                rec[c] = None if pd.isna(v) else (v.item() if hasattr(v, "item") else v)
            rec["_hoodie_is_deleted"] = True if is_delete else None
            records.append(rec)
        block = encode_avro_data_block(records, avro_schema, instant)
        name = f".{fid}_{base_instant}.log.{next_ver}_{token}"
        rel = f"{part}/{name}" if part else name
        tmp = os.path.join(root, f"{rel}.tmp-{token}")
        with open(tmp, "wb") as fh:
            fh.write(write_log_blocks([block]))
        os.replace(tmp, os.path.join(root, rel))
        return pd.DataFrame(
            {"part": [part], "fileId": [fid], "path": [rel]}
        )

    stat_rows = (
        matched.groupBy("__cdl_base")
        .applyInPandas(write_group, out_schema)
        .collect()
    )
    stats: dict[str, list] = {}
    for r in stat_rows:
        stats.setdefault(r["part"] or "", []).append(
            {"fileId": r["fileId"], "path": r["path"]}
        )

    if not is_delete:
        inserts = routed.filter(F.col("__cdl_base").isNull()).select(*data_cols)
        if inserts.limit(1).count():
            meta_cols = [
                F.lit(instant).alias("_hoodie_commit_time"),
                F.col(record_key).cast("string").alias("_hoodie_record_key"),
            ]
            _write_file_groups(
                inserts.select(*meta_cols, *data_cols), root, token, instant, "i", stats
            )

    if not stats:
        return last  # nothing matched, nothing inserted: no commit

    commit_meta = {
        "partitionToWriteStats": stats,
        "operationType": "DELETE" if is_delete else "UPSERT",
    }
    _commit_instant(
        os.path.join(root, ".hoodie"), f"{instant}.deltacommit", commit_meta
    )
    return instant


def upsert_hudi_mor(
    spark: SparkSession, path: str, df, record_key: str
) -> str:
    """MERGE-ON-READ upsert: rows whose ``record_key`` exists get an
    Avro LOG BLOCK appended to their file group's current slice (zero
    base-file rewrites — read-side merge pays instead, reset by
    :func:`compact_hudi_mor`); unseen keys land as new base file groups
    in the same ``deltacommit``. Returns the committed instant."""
    return _hudi_mor_apply(spark, path, df, record_key, is_delete=False)


def delete_from_hudi_mor(
    spark: SparkSession, path: str, condition: str
) -> str:
    """DELETE FROM <MoR hudi table> WHERE ``condition``: matching rows
    of the merged snapshot get ``_hoodie_is_deleted=true`` log records
    appended to their owning file groups — Hudi's soft-delete payload,
    dropped by the read-side merge. Unmatched predicates commit nothing
    (returns the current latest instant). Returns the committed
    instant."""
    from pyspark.sql import functions as F

    root = _local(path)
    props_path = os.path.join(root, ".hoodie", "hoodie.properties")
    if not os.path.isfile(props_path):
        raise FileNotFoundError(
            f"not a Hudi table (no .hoodie/hoodie.properties): {path}"
        )
    with open(props_path, encoding="utf-8") as fh:
        props = _read_properties(fh.read())
    record_key = props.get("hoodie.table.recordkey.fields")
    if not record_key:
        raise HudiProtocolError(
            "table declares no hoodie.table.recordkey.fields (virtual "
            "keys) — MoR DELETE routes by record key"
        )
    matched = read_hudi_mor(spark, path).filter(F.expr(condition))
    return _hudi_mor_apply(spark, path, matched, record_key, is_delete=True)


def compact_hudi_mor(spark: SparkSession, path: str) -> str:
    """Compact a MERGE_ON_READ table: materialize the merged snapshot
    (:func:`read_hudi_mor` — base + log merge, deletes applied) into
    fresh file groups and commit a ``replacecommit`` replacing every
    live group, so subsequent reads touch ZERO log files (the reset
    lever for log-chain growth named in SCALE.md). Old slices stay
    time-travelable until cleaned. Returns the committed instant.

    This is the INSERT_OVERWRITE form of compaction (whole-snapshot
    rewrite); Hudi's incremental per-file-group compaction is the
    upgrade path when only a few groups carry long chains."""
    import uuid as _uuid

    from pyspark.sql import functions as F

    root = _local(path)
    props_path = os.path.join(root, ".hoodie", "hoodie.properties")
    with open(props_path, encoding="utf-8") as fh:
        props = _read_properties(fh.read())
    if props.get("hoodie.table.type") != "MERGE_ON_READ":
        raise ValueError("compact_hudi_mor is for MERGE_ON_READ tables")
    merged = read_hudi_mor(spark, path)
    # re-read the key column for the new base files
    instants = _completed_instants(root, allow_delta=True)
    instant = str(int(instants[-1][0]) + 1)
    token = _uuid.uuid4().hex[:8]
    live = _mor_slices(root, None)
    # every live file group is replaced
    replaced: dict[str, list] = {}
    for base, _logs in live:
        if base is None:
            continue
        rel = os.path.relpath(base, root)
        part = os.path.dirname(rel)
        fid = os.path.basename(rel).split("_", 1)[0]
        replaced.setdefault(part, []).append(fid)

    # MoR merge output dropped meta columns; restore the record key for
    # the new base files (the merge keyed on it, so it equals the key
    # column's string form only if the table was written that way — use
    # the data itself: recompute from the recordkey field when declared)
    key_field = props.get("hoodie.table.recordkey.fields")
    if key_field and key_field in merged.columns:
        out = merged.select(
            F.lit(instant).alias("_hoodie_commit_time"),
            F.col(key_field).cast("string").alias("_hoodie_record_key"),
            *[F.col(c) for c in merged.columns],
        )
    else:
        raise HudiProtocolError(
            "compaction needs hoodie.table.recordkey.fields naming a "
            "data column to restore _hoodie_record_key on the new base"
        )
    stats: dict[str, list] = {}
    _write_file_groups(out, root, token, instant, "c", stats)
    meta = {
        "partitionToWriteStats": stats,
        "partitionToReplaceFileIds": replaced,
        "operationType": "COMPACT",
    }
    _commit_instant(
        os.path.join(root, ".hoodie"), f"{instant}.replacecommit", meta
    )
    return instant


def read_hudi_incremental(
    spark: SparkSession,
    path: str,
    from_instant: str,
    to_instant: str | None = None,
    include_deletes: bool = False,
) -> DataFrame:
    """Hudi INCREMENTAL QUERY (hudi.apache.org "Query Types"): the rows
    WRITTEN by completed instants in ``(from_instant, to_instant]``
    (default ending: the latest instant), as data columns plus
    ``_hoodie_commit_time`` — consume-only-what-changed, the pattern
    that turns a 100 TB table into a per-checkpoint increment.

    COPY_ON_WRITE semantics, exactly Hudi's: scan only the file slices
    the range's commits wrote (from their ``partitionToWriteStats``) and
    keep rows whose ``_hoodie_commit_time`` falls in the range — an
    upserted slice carries surviving OLD rows with their original commit
    times, which the filter drops, so updates surface once, under the
    instant that wrote them. ``replacecommit`` (INSERT_OVERWRITE /
    clustering) rows are included under their new commit time — Hudi's
    documented behavior for overwrite operations.

    MERGE_ON_READ ``deltacommit`` instants are covered too: their base
    files (inserts) scan like commits, and their LOG BLOCKS decode
    executor-side filtered to header instants in the range; a key
    changed several times in the window surfaces ONCE at its newest
    in-range state (the per-key merge Hudi's incremental reader
    performs). Rows whose newest in-range state is a soft delete
    (``_hoodie_is_deleted``) are dropped unless ``include_deletes=True``
    adds them back with that flag column.
    """
    import pandas as pd
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    prepare_session(spark)
    root = _local(path)
    props_path = os.path.join(root, ".hoodie", "hoodie.properties")
    if not os.path.isfile(props_path):
        raise FileNotFoundError(
            f"not a Hudi table (no .hoodie/hoodie.properties): {path}"
        )
    instants = _completed_instants(root, allow_delta=True)
    if not instants:
        raise ValueError(f"no completed instants under {path}")
    if to_instant is None:
        to_instant = instants[-1][0]
    # merged (instant, action, metadata) timeline: archival must never
    # make a range silently UNDER-report — instants the archival service
    # moved to .hoodie/archived/ replay like active ones (their write
    # stats still point at the surviving data files); active wins on an
    # instant both carry
    active_set = {t[0] for t in instants}
    timeline: list[tuple[str, str, dict]] = [
        t for t in _archived_instants(root) if t[0] not in active_set
    ]
    for instant, action, meta_path in instants:
        with open(meta_path, "rb") as fh:
            timeline.append((instant, action, json.loads(fh.read())))
    timeline.sort(key=lambda t: t[0])
    window = [
        t for t in timeline if str(from_instant) < t[0] <= str(to_instant)
    ]
    rels: list[str] = []
    log_rels: list[str] = []
    for instant, action, meta in window:
        for _part, sts in (meta.get("partitionToWriteStats") or {}).items():
            for st in sts or []:
                rel = st.get("path")
                if not rel:
                    continue
                if ".log." in os.path.basename(rel):
                    log_rels.append(rel)
                else:
                    rels.append(rel)
    if not rels and not log_rels:
        # no files in range: empty result with the snapshot's schema
        snap = read_hudi(spark, path)
        out = (
            snap.limit(0)
            .select("*")
            .withColumn("_hoodie_commit_time", F.lit(None).cast("string"))
        )
        if include_deletes:
            out = out.withColumn(
                "_hoodie_is_deleted", F.lit(None).cast("boolean")
            )
        return out

    base = None
    if rels:
        base = spark.read.parquet(*[os.path.join(root, r) for r in rels])
        ref_schema = base.schema
    else:
        # logs-only window (a range of pure updates): derive the column
        # schema from any LIVE base file of the table
        sample = next(
            (b for b, _l in _mor_slices(root, None) if b is not None), None
        )
        if sample is None:
            raise HudiProtocolError(
                "logs-only table with no base file to derive the schema "
                "from — compact first"
            )
        ref_schema = spark.read.parquet(sample).schema
    cols = [f.name for f in ref_schema.fields]
    data_cols = [c for c in cols if not c.startswith("_hoodie_")]
    lo, hi = str(from_instant), str(to_instant)

    parts: list = []
    if base is not None:
        parts.append(
            base.filter(
                (F.col("_hoodie_commit_time") > lo)
                & (F.col("_hoodie_commit_time") <= hi)
            ).select(
                F.col("_hoodie_record_key"),
                *data_cols,
                "_hoodie_commit_time",
                F.lit(False).alias("_hoodie_is_deleted"),
                F.lit(-1).cast("long").alias("__cdl_ord"),
            )
        )
    if log_rels:
        out_names = (
            ["_hoodie_record_key"]
            + data_cols
            + ["_hoodie_commit_time", "_hoodie_is_deleted", "__cdl_ord"]
        )
        field_of = {f.name: f for f in ref_schema.fields}
        log_schema = T.StructType(
            [field_of["_hoodie_record_key"]]
            + [field_of[c] for c in data_cols]
            + [
                T.StructField("_hoodie_commit_time", T.StringType(), True),
                T.StructField("_hoodie_is_deleted", T.BooleanType(), True),
                T.StructField("__cdl_ord", T.LongType(), False),
            ]
        )

        def decode(batches):
            for pdf in batches:
                for _i, row in pdf.iterrows():
                    ordinal = 0
                    cols_out: dict[str, list] = {n: [] for n in out_names}
                    with open(row["log"], "rb") as fh:
                        blocks = read_log_blocks(fh.read())
                    for b in blocks:
                        if b["type"] != _BLK_AVRO:
                            continue
                        instant = b["header"].get(_HDR_INSTANT)
                        if instant is None or not (lo < instant <= hi):
                            continue
                        for rec in _decode_avro_block(b):
                            cols_out["_hoodie_record_key"].append(
                                rec.get("_hoodie_record_key")
                            )
                            for c in data_cols:
                                cols_out[c].append(rec.get(c))
                            cols_out["_hoodie_commit_time"].append(instant)
                            cols_out["_hoodie_is_deleted"].append(
                                bool(rec.get("_hoodie_is_deleted"))
                            )
                            cols_out["__cdl_ord"].append(ordinal)
                            ordinal += 1
                    if cols_out["__cdl_ord"]:
                        yield pd.DataFrame(cols_out, columns=out_names)

        from connected_data_lake_spark.localrel import local_df

        log_df = local_df(
            spark,
            [(os.path.join(root, r),) for r in sorted(set(log_rels))],
            T.StructType([T.StructField("log", T.StringType(), False)]),
        ).repartition(max(1, min(len(log_rels), 32)))
        parts.append(log_df.mapInPandas(decode, log_schema))

    union = parts[0]
    for p in parts[1:]:
        union = union.unionByName(p)
    # newest in-range state per key (Hudi's incremental merge)
    w = Window.partitionBy("_hoodie_record_key").orderBy(
        F.desc("_hoodie_commit_time"), F.desc("__cdl_ord")
    )
    latest = (
        union.withColumn("__cdl_rn", F.row_number().over(w))
        .filter(F.col("__cdl_rn") == 1)
        .drop("__cdl_rn", "__cdl_ord", "_hoodie_record_key")
    )
    if include_deletes:
        return latest.select(
            *data_cols, "_hoodie_commit_time", "_hoodie_is_deleted"
        )
    return latest.filter(
        ~F.coalesce(F.col("_hoodie_is_deleted"), F.lit(False))
    ).select(*data_cols, "_hoodie_commit_time")


# ---------------------------------------------------------------------------
# archived-timeline egress (what Hudi's archival service does)
# ---------------------------------------------------------------------------

_ARCHIVED_WRITE_STAT_SCHEMA = {
    "type": "record",
    "name": "HoodieWriteStat",
    "fields": [
        {"name": "fileId", "type": ["null", "string"], "default": None},
        {"name": "path", "type": ["null", "string"], "default": None},
    ],
}

_ARCHIVED_META_SCHEMA = {
    "type": "record",
    "name": "HoodieCommitMetadata",
    "fields": [
        {
            "name": "partitionToWriteStats",
            "type": [
                "null",
                {
                    "type": "map",
                    "values": {"type": "array", "items": _ARCHIVED_WRITE_STAT_SCHEMA},
                },
            ],
            "default": None,
        },
        {
            "name": "partitionToReplaceFileIds",
            "type": [
                "null",
                {"type": "map", "values": {"type": "array", "items": "string"}},
            ],
            "default": None,
        },
        {"name": "operationType", "type": ["null", "string"], "default": None},
    ],
}

_ARCHIVED_ENTRY_SCHEMA = {
    "type": "record",
    "name": "HoodieArchivedMetaEntry",
    "fields": [
        {"name": "commitTime", "type": ["null", "string"], "default": None},
        {"name": "actionType", "type": ["null", "string"], "default": None},
        {"name": "actionState", "type": ["null", "string"], "default": None},
        {
            "name": "hoodieCommitMetadata",
            "type": ["null", _ARCHIVED_META_SCHEMA],
            "default": None,
        },
    ],
}


def archive_hudi_instants(path: str, up_to_instant: str) -> int:
    """Move completed COW instants ``<= up_to_instant`` from the active
    timeline into a ``.hoodie/archived/`` HoodieLogFormat archive — the
    layout Hudi's own archival service produces (AVRO data block of
    ``HoodieArchivedMetaEntry`` records), which
    :func:`_archived_instants` replays for time travel. Fixture/egress
    helper; data files are untouched (archival never cleans). Returns
    the number of instants archived."""
    root = _local(path)
    instants = _completed_instants(root)
    to_arch = [t for t in instants if t[0] <= str(up_to_instant)]
    if not to_arch:
        return 0
    if len(to_arch) == len(instants):
        raise ValueError(
            "refusing to archive the ENTIRE active timeline — Hudi always "
            "retains the newest commits active"
        )
    recs = []
    for instant, action, meta_path in to_arch:
        with open(meta_path, "rb") as fh:
            meta = json.loads(fh.read())
        recs.append(
            {
                "commitTime": instant,
                "actionType": action,
                "actionState": "COMPLETED",
                "hoodieCommitMetadata": {
                    "partitionToWriteStats": meta.get("partitionToWriteStats")
                    or {},
                    "partitionToReplaceFileIds": meta.get(
                        "partitionToReplaceFileIds"
                    ),
                    "operationType": meta.get("operationType"),
                },
            }
        )
    arch_dir = os.path.join(root, ".hoodie", "archived")
    os.makedirs(arch_dir, exist_ok=True)
    n = sum(1 for _x in os.listdir(arch_dir)) + 1
    block = encode_avro_data_block(recs, _ARCHIVED_ENTRY_SCHEMA, to_arch[-1][0])
    tmp = os.path.join(arch_dir, f".tmp-{to_arch[-1][0]}")
    with open(tmp, "wb") as fh:
        fh.write(write_log_blocks([block]))
    os.replace(tmp, os.path.join(arch_dir, f".commits_.archive.{n}_1-0-1"))
    for _instant, _action, meta_path in to_arch:
        os.unlink(meta_path)
    return len(to_arch)
