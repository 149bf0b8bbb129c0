"""Manifest commit protocol over a put-if-absent blob store.

The reference publishes every table commit through one storage primitive: a
conditional put that fails if the key already exists (Lance commit handler
with ``conditional_put: etag`` — reference crates/cdl-catalog/src/lib.rs:291,
crates/cdl-fs/src/lib.rs:822-853). Everything else — optimistic retry,
snapshot layering, time travel — is protocol on top. This module states that
protocol once, over an abstract :class:`ConditionalPutStore`, so the SAME
commit code runs against:

- :class:`LocalFsStore` — ``link(2)``: creation fails with EEXIST when a
  concurrent writer took the slot (what the sandbox exercises end-to-end),
- an S3-style store — ``PUT`` with ``If-None-Match: *`` (HTTP 412 on loss);
  :class:`InMemoryStore` implements exactly those semantics for tests, so
  the object-store leg of the protocol is verified without a real bucket.

Commit = write immutable data files to an invisible txn dir, then publish
manifest version N+1 via put-if-absent. The loser of a race re-reads the
new latest snapshot and retries; readers resolve the highest manifest and
read exactly its file list, so a partial write is never observable.
"""

from __future__ import annotations

import abc
import json
import os
import threading
import uuid

#: manifest key pattern: zero-padded so lexicographic order == numeric order
#: (object stores list lexicographically; no parse-all-keys needed at scale)
_KEY_FMT = "{:020d}.json"


class ConditionalPutStore(abc.ABC):
    """Keyed blob store with one atomic primitive: put-if-absent."""

    @abc.abstractmethod
    def list_keys(self) -> list[str]:
        """All committed manifest keys (sorted ascending)."""

    @abc.abstractmethod
    def get(self, key: str) -> bytes:
        """Read a committed blob."""

    @abc.abstractmethod
    def put_if_absent(self, key: str, data: bytes) -> bool:
        """Atomically create ``key`` iff it does not exist.

        Returns True when this caller created it, False when the key
        already existed (= lost the race). MUST be atomic with respect to
        concurrent callers — this is the commit protocol's entire
        correctness budget."""

    def list_all_keys(self, prefix: str = "") -> list[str]:
        """Every key under ``prefix``, unfiltered by extension (sorted).

        ``list_keys`` is the manifest-protocol view (``*.json`` only);
        this generic view exists for consumers replaying OTHER layouts
        from the same store — e.g. a Delta ``_delta_log`` with parquet
        checkpoints and the ``_last_checkpoint`` pointer
        (:mod:`connected_data_lake_spark.sources.delta`)."""
        raise NotImplementedError(type(self).__name__)


class LocalFsStore(ConditionalPutStore):
    """Directory-backed store; put-if-absent via ``link(2)`` EEXIST."""

    def __init__(self, root: str):
        self.root = root

    def list_keys(self) -> list[str]:
        try:
            return sorted(f for f in os.listdir(self.root) if f.endswith(".json"))
        except FileNotFoundError:
            return []

    def list_all_keys(self, prefix: str = "") -> list[str]:
        out = []
        for dirpath, _dirs, names in os.walk(self.root):
            rel = os.path.relpath(dirpath, self.root)
            for name in names:
                key = name if rel == "." else f"{rel}/{name}"
                if key.startswith(prefix) and not name.startswith(".tmp-"):
                    out.append(key)
        return sorted(out)

    def get(self, key: str) -> bytes:
        with open(os.path.join(self.root, key), "rb") as f:
            return f.read()

    def put_if_absent(self, key: str, data: bytes) -> bool:
        """Write ``data`` to a temp file beside the key and sync it, then
        ``link(2)`` it onto the key: readers see the whole blob or no key,
        and a published key survives a crash."""
        final = os.path.join(self.root, key)
        parent = os.path.dirname(final) or "."
        os.makedirs(parent, exist_ok=True)
        tmp = os.path.join(parent, f".tmp-{uuid.uuid4().hex}")
        with open(tmp, "wb") as f:
            f.write(data)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, final)
            return True
        except FileExistsError:
            return False
        finally:
            os.unlink(tmp)


class InMemoryStore(ConditionalPutStore):
    """S3 ``If-None-Match: *`` semantics in memory — the fake object store
    the conditional-put leg of the protocol is tested against (reference
    semantics: crates/cdl-catalog/src/lib.rs:291)."""

    def __init__(self):
        self._objects: dict[str, bytes] = {}
        self._lock = threading.Lock()

    def list_keys(self) -> list[str]:
        with self._lock:
            return sorted(k for k in self._objects if k.endswith(".json"))

    def list_all_keys(self, prefix: str = "") -> list[str]:
        with self._lock:
            return sorted(k for k in self._objects if k.startswith(prefix))

    def get(self, key: str) -> bytes:
        with self._lock:
            return self._objects[key]

    def put_if_absent(self, key: str, data: bytes) -> bool:
        with self._lock:  # one atomic compare-and-create, as S3 guarantees
            if key in self._objects:
                return False  # HTTP 412 Precondition Failed
            self._objects[key] = bytes(data)
            return True


class S3HttpStore(ConditionalPutStore):
    """Real object-store leg: S3-compatible HTTP API with SigV4 signing.

    Pure stdlib (urllib + hmac) so the integration path exists without an
    SDK in the environment; put-if-absent is the native S3 conditional
    write — ``PUT`` with ``If-None-Match: *``, HTTP 412 on loss — the same
    primitive the reference configures Lance with (``conditional_put:
    etag``, reference crates/cdl-catalog/src/lib.rs:291). MinIO and AWS S3
    both honor it. Exercised by the env-gated integration test
    (``tests/test_s3_integration.py``); every other test runs the protocol
    against :class:`InMemoryStore`, which models exactly these semantics.
    """

    def __init__(
        self,
        endpoint: str,
        bucket: str,
        prefix: str,
        access_key: str,
        secret_key: str,
        region: str = "us-east-1",
    ):
        self.endpoint = endpoint.rstrip("/")
        self.bucket = bucket
        self.prefix = prefix.strip("/")
        self.access_key = access_key
        self.secret_key = secret_key
        self.region = region

    # -- SigV4 (public AWS signing algorithm, stdlib-only) ------------------

    def _request(
        self,
        method: str,
        key: str = "",
        query: dict[str, str] | None = None,
        data: bytes = b"",
        headers: dict[str, str] | None = None,
    ):
        import datetime
        import hashlib
        import hmac
        import urllib.parse
        import urllib.request

        path = f"/{self.bucket}"
        if key:
            path += f"/{urllib.parse.quote(key, safe='/~-._')}"
        host = urllib.parse.urlparse(self.endpoint).netloc
        now = datetime.datetime.now(datetime.timezone.utc)
        amz_date = now.strftime("%Y%m%dT%H%M%SZ")
        datestamp = now.strftime("%Y%m%d")
        payload_hash = hashlib.sha256(data).hexdigest()
        hdrs = {
            "host": host,
            "x-amz-content-sha256": payload_hash,
            "x-amz-date": amz_date,
            **{k.lower(): v for k, v in (headers or {}).items()},
        }
        signed = ";".join(sorted(hdrs))
        canonical_query = "&".join(
            f"{urllib.parse.quote(k, safe='')}={urllib.parse.quote(v, safe='')}"
            for k, v in sorted((query or {}).items())
        )
        canonical = "\n".join(
            [
                method,
                path,
                canonical_query,
                "".join(f"{k}:{hdrs[k].strip()}\n" for k in sorted(hdrs)),
                signed,
                payload_hash,
            ]
        )
        scope = f"{datestamp}/{self.region}/s3/aws4_request"
        to_sign = "\n".join(
            [
                "AWS4-HMAC-SHA256",
                amz_date,
                scope,
                hashlib.sha256(canonical.encode()).hexdigest(),
            ]
        )

        def _hmac(k: bytes, msg: str) -> bytes:
            return hmac.new(k, msg.encode(), hashlib.sha256).digest()

        sig_key = _hmac(
            _hmac(
                _hmac(_hmac(f"AWS4{self.secret_key}".encode(), datestamp), self.region),
                "s3",
            ),
            "aws4_request",
        )
        signature = hmac.new(sig_key, to_sign.encode(), hashlib.sha256).hexdigest()
        hdrs["authorization"] = (
            f"AWS4-HMAC-SHA256 Credential={self.access_key}/{scope}, "
            f"SignedHeaders={signed}, Signature={signature}"
        )
        url = f"{self.endpoint}{path}"
        if canonical_query:
            url += f"?{canonical_query}"
        req = urllib.request.Request(url, data=data or None, method=method)
        for k, v in hdrs.items():
            if k != "host":  # urllib sets Host itself
                req.add_header(k, v)
        return urllib.request.urlopen(req, timeout=30)

    def _key(self, key: str) -> str:
        return f"{self.prefix}/{key}" if self.prefix else key

    def _list_paginated(self, key_prefix: str) -> list[str]:
        import html as _html
        import re as _re

        prefix = (f"{self.prefix}/" if self.prefix else "") + key_prefix
        keys: list[str] = []
        token: str | None = None
        while True:  # paginate: a table accrues >1000 manifest versions
            query = {"list-type": "2", "prefix": prefix, "max-keys": "1000"}
            if token:
                query["continuation-token"] = token
            body = self._request("GET", query=query).read().decode()
            keys.extend(
                _html.unescape(k) for k in _re.findall(r"<Key>([^<]+)</Key>", body)
            )
            m = _re.search(
                r"<NextContinuationToken>([^<]+)</NextContinuationToken>", body
            )
            if m is None:
                break
            token = _html.unescape(m.group(1))
        strip = len(f"{self.prefix}/" if self.prefix else "")
        return sorted(k[strip:] for k in keys)

    def list_keys(self) -> list[str]:
        return [k for k in self._list_paginated("") if k.endswith(".json")]

    def list_all_keys(self, prefix: str = "") -> list[str]:
        return self._list_paginated(prefix)

    def get(self, key: str) -> bytes:
        return self._request("GET", self._key(key)).read()

    def put_if_absent(self, key: str, data: bytes) -> bool:
        import urllib.error

        try:
            self._request(
                "PUT", self._key(key), data=data, headers={"If-None-Match": "*"}
            )
            return True
        except urllib.error.HTTPError as exc:
            if exc.code in (412, 409):  # Precondition Failed / conflict
                return False
            raise


class RewriteConflict(Exception):
    """A rewrite commit lost to a concurrent writer that removed (rewrote,
    compacted, or overwrote away) one of the files this rewrite was based
    on. The caller must re-plan from the new snapshot — blindly retrying
    would resurrect deleted rows or drop a concurrent delete."""


def _read_doc(store: ConditionalPutStore, key: str) -> dict:
    doc = json.loads(store.get(key))
    doc["version"] = int(key[: -len(".json")])
    return doc


def _read_snapshot(store: ConditionalPutStore, key: str) -> tuple[int, list[str], dict]:
    doc = _read_doc(store, key)
    return doc["version"], doc["files"], doc.get("stats", {})


def latest_snapshot(store: ConditionalPutStore) -> tuple[int, list[str], dict]:
    """(version, relative file list, per-file stats) of the newest manifest;
    (-1, [], {}) if none. ``stats`` maps relpath → the writer-collected
    zone-map record (see rootfs.collect_file_stats); files committed by
    older writers simply have no entry, which pruning treats as
    un-skippable — the format change is backward/forward compatible."""
    keys = store.list_keys()
    if not keys:
        return -1, [], {}
    return _read_snapshot(store, keys[-1])


def latest_manifest(store: ConditionalPutStore) -> tuple[int, list[str]]:
    """(version, relative file list) of the newest manifest; (-1, []) if none."""
    version, files, _ = latest_snapshot(store)
    return version, files


def manifest_files(store: ConditionalPutStore, version: int) -> list[str]:
    """File list of snapshot ``version`` (time travel read)."""
    return json.loads(store.get(_KEY_FMT.format(version)))["files"]


def txn_ledger(store: ConditionalPutStore) -> dict[str, int]:
    """The per-app idempotency ledger of the latest snapshot:
    app_id -> highest committed batch version (see publish_manifest)."""
    return dict(_latest_doc(store).get("txn", {}))


def snapshot_schema(store: ConditionalPutStore, version: int | None = None):
    """The table schema recorded at ``version`` (default: latest) as a
    ``StructType``, or None for manifests written before schemas were
    recorded (readers then fall back to their own default/inference).
    Schema is per-SNAPSHOT, so time travel reads each version with the
    shape the table had then."""
    if version is None:
        keys = store.list_keys()
        if not keys:
            return None
        doc = _read_doc(store, keys[-1])
    else:
        doc = _read_doc(store, _KEY_FMT.format(version))
    return _schema_from_json(doc.get("schema"))


def _schema_from_json(text: str | None):
    if text is None:
        return None
    from pyspark.sql import types as T

    return T.StructType.fromJson(json.loads(text))


def merge_schemas(old, new):
    """Union of two ``StructType``s for append-time schema evolution.

    Same-name fields must carry the SAME data type (no silent widening —
    a type conflict is an error the writer must resolve, the Delta
    default); fields only in ``old`` are kept, fields only in ``new`` are
    appended as nullable (existing files lack them, so reads must be able
    to fill NULL). Field order: old order, then new-only fields in their
    incoming order — stable across repeated appends."""
    if old is None:
        return new
    from pyspark.sql import types as T

    by_name = {f.name: f for f in old.fields}
    out = list(old.fields)
    for f in new.fields:
        have = by_name.get(f.name)
        if have is None:
            out.append(T.StructField(f.name, f.dataType, nullable=True))
        elif have.dataType != f.dataType:
            raise ValueError(
                f"schema evolution conflict on {f.name!r}: table has "
                f"{have.dataType.simpleString()}, append has {f.dataType.simpleString()}"
            )
    return T.StructType(out)


def _publish(
    store: ConditionalPutStore,
    version: int,
    files: list[str],
    stats: dict,
    schema=None,
    txn_map: dict | None = None,
) -> bool:
    doc: dict = {"version": version, "files": files}
    if stats:
        doc["stats"] = {f: stats[f] for f in files if f in stats}
    if schema is not None:
        doc["schema"] = json.dumps(schema.jsonValue())
    if txn_map:
        doc["txn"] = txn_map
    return store.put_if_absent(_KEY_FMT.format(version), json.dumps(doc).encode())


def _latest_doc(store: ConditionalPutStore) -> dict:
    keys = store.list_keys()
    if not keys:
        return {"version": -1, "files": [], "stats": {}}
    return _read_doc(store, keys[-1])


def publish_manifest(
    store: ConditionalPutStore,
    new_files: list[str],
    replace: bool,
    stats: dict | None = None,
    schema=None,
    txn: tuple[str, int] | None = None,
    max_attempts: int = 1000,
) -> int | None:
    """Optimistic-concurrency commit: retry the conditional put until this
    writer wins a version slot. Returns the committed version.

    Each attempt re-reads the latest snapshot, layers ``new_files`` on it
    (or replaces it), and tries to create version N+1. A lost put means a
    concurrent writer committed N+1 first; the retry layers on THAT
    snapshot, so no committed write is ever dropped (no lost update).
    ``stats`` carries zone-map records for the NEW files; retained files
    keep the stats already in the snapshot. ``schema`` (a StructType) is
    the incoming data's shape: appends MERGE it into the snapshot schema
    (see :func:`merge_schemas` — the merge re-runs inside the retry loop,
    so it composes with a concurrent append that itself evolved the
    schema), replaces adopt it outright. A type conflict raises before
    any manifest is written.

    ``txn`` = (app_id, batch_version) makes the commit IDEMPOTENT — the
    Delta txnAppId/txnVersion pattern a streaming foreachBatch sink needs:
    the manifest carries a per-app high-water ledger, and a commit whose
    batch_version is <= the recorded mark returns None WITHOUT committing.
    The check re-runs inside the same retry loop as the conditional put,
    so a replayed micro-batch racing its own first attempt still lands
    exactly once. The ledger survives overwrites and rewrites (clearing it
    on overwrite would re-admit every replayed batch the moment a
    compaction or truncate ran)."""
    new_stats = dict(stats or {})
    for _ in range(max_attempts):
        doc = _latest_doc(store)
        version, files, old_stats = doc["version"], doc["files"], doc.get("stats", {})
        txn_map = dict(doc.get("txn", {}))
        if txn is not None:
            app_id, batch_version = txn
            if txn_map.get(app_id, -1) >= batch_version:
                return None  # replayed batch: already committed
            txn_map[app_id] = batch_version
        if replace:
            snapshot, merged, out_schema = list(new_files), new_stats, schema
        else:
            snapshot = files + list(new_files)
            merged = {**old_stats, **new_stats}
            old_schema = _schema_from_json(doc.get("schema"))
            out_schema = merge_schemas(old_schema, schema) if schema is not None else old_schema
        if _publish(store, version + 1, snapshot, merged, schema=out_schema, txn_map=txn_map):
            return version + 1
    raise RuntimeError(f"commit contention: gave up after {max_attempts} attempts")


def publish_rewrite(
    store: ConditionalPutStore,
    remove: set[str],
    add: list[str],
    stats: dict | None = None,
    max_attempts: int = 1000,
) -> int:
    """Commit a rewrite: replace the files in ``remove`` with ``add``.

    This is the commit step of every copy-on-write maintenance operation
    (DELETE, upsert/MERGE, compaction): the planner derived ``add`` from the
    CONTENT of ``remove``, so the commit is only sound while every removed
    file is still live. Concurrent APPENDs are fine — the retry layers the
    rewrite onto the newer snapshot and the appended files are retained.
    A concurrent rewrite that already removed one of our inputs raises
    :class:`RewriteConflict` (Delta/Iceberg's ConcurrentDeleteReadException
    analogue); the caller re-plans against the new snapshot."""
    new_stats = dict(stats or {})
    for _ in range(max_attempts):
        doc = _latest_doc(store)
        version, files, old_stats = doc["version"], doc["files"], doc.get("stats", {})
        missing = remove - set(files)
        if missing:
            raise RewriteConflict(
                f"rewrite inputs no longer in snapshot v{version}: {sorted(missing)[:5]}"
            )
        snapshot = [f for f in files if f not in remove] + list(add)
        merged = {**{k: v for k, v in old_stats.items() if k not in remove}, **new_stats}
        # a rewrite reshapes files, never the table: carry schema + ledger forward
        if _publish(
            store,
            version + 1,
            snapshot,
            merged,
            schema=_schema_from_json(doc.get("schema")),
            txn_map=doc.get("txn", {}),
        ):
            return version + 1
    raise RuntimeError(f"commit contention: gave up after {max_attempts} attempts")
