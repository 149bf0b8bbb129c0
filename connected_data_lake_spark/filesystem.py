"""Cdl / CdlFS — the reference's public Python API, Spark-backed.

API parity targets (reference python/cdlake/filesystem.py + python/src/lib.rs):

==================  =========================================================
reference           here
==================  =========================================================
``Cdl(**catalog)``  :class:`Cdl` — catalog kwargs → Spark/S3A config
``cdl.open(url)``   :meth:`Cdl.open` → :class:`CdlFS`
``fs.sql(sql)``     :meth:`CdlFS.sql` → DataFrame (lazy; ``.toArrow()`` /
                    ``.toPandas()`` give the reference's materialized batch)
``fs.sql_as_pandas``:meth:`CdlFS.sql_as_pandas`
``fs.read_dir``     :meth:`CdlFS.read_dir` (canned P1/P3/P4/O1 query)
``fs.read_dir_all`` :meth:`CdlFS.read_dir_all`
``fs.read_files``   :meth:`CdlFS.read_files` (condition splice, P5)
``fs.copy_to``      :meth:`CdlFS.copy_to` (S6: load_all → dump_all)
``fs.to_torch``     :meth:`CdlFS.to_torch_dataset` (S11; gated import)
==================  =========================================================

The reference materializes query results into ONE Arrow RecordBatch before
crossing into Python (python/src/lib.rs:153-165); here results stay lazy
DataFrames and the caller picks the materialization point — at 100 TB a
forced driver-side concat is exactly the wrong default.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from connected_data_lake_spark.catalog import ROOTFS_TABLE, DatasetCatalog, GlobalPath
from connected_data_lake_spark.functions import register_all
from connected_data_lake_spark.session import get_spark, prepare_session
from connected_data_lake_spark.sources import rootfs as rootfs_source


#: table URI currently bound to the shared ``rootfs`` alias view (the
#: session is a singleton, so the alias is session-global state)
_ACTIVE_ROOTFS: dict[str, str] = {}


class Cdl:
    """Entry object: catalog + session (reference ``cdlake.Cdl``)."""

    def __init__(self, spark: SparkSession | None = None, **catalog: object) -> None:
        self.catalog = DatasetCatalog.from_env(**catalog)
        self.spark = prepare_session(spark) if spark is not None else get_spark()
        self.catalog.apply(self.spark)
        register_all(self.spark)

    def open(self, url: str) -> "CdlFS":
        """Open a dataset by URL (reference ``cdl.open``)."""
        return CdlFS(self, GlobalPath.parse(url))

    def open_all(self, *urls: str) -> list["CdlFS"]:
        """Open several datasets in ONE session — the engine-side
        "connected" data-lake surface (the reference's premise is lakes
        replicated ACROSS clusters: bucket replication jobs,
        crates/cdl-k8s-provider/src/object.rs:1203-1340, and the
        two-cluster sync benchmark, benchmark/src/command/sync.rs:20-71;
        querying the connected copies together is the engine half of
        that story). Each dataset registers under its own view name
        (:attr:`CdlFS.view_name`), so :meth:`sql` can join across them."""
        return [self.open(u) for u in urls]

    def sql(self, stmt: str) -> DataFrame:
        """Federated SQL over EVERY registered dataset view: reference
        datasets by :attr:`CdlFS.view_name` (``rootfs_<token>``) to join
        across them; ``rootfs`` still means the most recently
        opened/refreshed dataset (reference parity for the single-lake
        case). Same dialect and variadic-``len`` rewrite as
        :meth:`CdlFS.sql`."""
        from connected_data_lake_spark.functions import rewrite_variadic_len

        return self.spark.sql(rewrite_variadic_len(stmt))

    def register_table(
        self, name: str, path: str, format: str = "parquet", **options
    ) -> DataFrame:
        """Register an EXTERNAL table as a named SQL view — the
        cross-FORMAT half of the connected-lake surface. :meth:`open_all`
        federates datasets in the NATIVE rootfs format; this method pulls
        tables hosted by the open lakehouse formats into the same session
        so :meth:`sql` can join a Delta table against an Iceberg table
        against a rootfs dataset in one statement (the reference's
        connected-lake premise — data replicated across heterogeneous
        stores, queried as one: crates/cdl-k8s-provider/src/object.rs
        bucket replication; benchmark/src/command/sync.rs).

        ``format``: ``delta`` (options: ``version``, ``filters``),
        ``iceberg`` (``snapshot_id``, ``as_of_timestamp_ms``,
        ``filters``), ``hudi`` (``as_of_instant``; COW and MoR tables
        auto-route on ``hoodie.table.type``), ``lance``, ``parquet``,
        ``csv``, ``json``, ``orc``, ``ipc``. Returns the registered
        DataFrame (lazy — the view re-plans per statement, so lake-format
        filter pushdown options apply at registration time).

        ``name`` must be a plain SQL identifier; registering an existing
        name replaces it (temp-view semantics), including the per-dataset
        ``rootfs_*`` names — those are reserved."""
        import re as _re

        if not _re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", name):
            raise ValueError(f"not a valid SQL identifier: {name!r}")
        if name == ROOTFS_TABLE or name.startswith(f"{ROOTFS_TABLE}_"):
            raise ValueError(
                f"view name {name!r} is reserved for rootfs datasets"
            )
        fmt = format.lower()
        if fmt == "delta":
            from connected_data_lake_spark.sources.delta import read_delta

            df = read_delta(
                self.spark,
                path,
                version=options.pop("version", None),
                filters=options.pop("filters", None),
            )
        elif fmt == "iceberg":
            from connected_data_lake_spark.sources.iceberg import read_iceberg

            df = read_iceberg(
                self.spark,
                path,
                snapshot_id=options.pop("snapshot_id", None),
                as_of_timestamp_ms=options.pop("as_of_timestamp_ms", None),
                filters=options.pop("filters", None),
            )
        elif fmt == "hudi":
            from connected_data_lake_spark.sources.hudi import (
                read_hudi,
                read_hudi_mor,
                table_type,
            )

            as_of = options.pop("as_of_instant", None)
            if table_type(path) == "MERGE_ON_READ":
                df = read_hudi_mor(self.spark, path, as_of_instant=as_of)
            else:
                df = read_hudi(self.spark, path, as_of_instant=as_of)
        elif fmt == "lance":
            from connected_data_lake_spark.sources.lance_ds import read_lance

            df = read_lance(self.spark, path)
        elif fmt == "parquet":
            df = self.spark.read.parquet(path)
        elif fmt in ("csv", "json", "orc", "ipc"):
            from connected_data_lake_spark.sources import formats as _formats

            reader = {
                "csv": _formats.read_csv,
                "json": _formats.read_json,
                "orc": _formats.read_orc,
                "ipc": _formats.read_arrow_ipc,
            }[fmt]
            df = reader(self.spark, path, **options)
            options = {}
        else:
            raise ValueError(f"unknown table format {format!r}")
        if options:
            raise TypeError(
                f"unknown options for format {fmt!r}: {sorted(options)}"
            )
        df.createOrReplaceTempView(name)
        return df


class CdlFS:
    """A dataset view: the ``rootfs`` table plus canned queries."""

    def __init__(self, cdl: Cdl, path: GlobalPath) -> None:
        self.cdl = cdl
        self.path = path
        self._registered = False

    @property
    def spark(self) -> SparkSession:
        return self.cdl.spark

    @property
    def dataset_uri(self) -> str:
        """URI of the dataset's ``rootfs`` table (reference
        ``CdlFS::dataset_uri`` → ``dataset.to_uri(DIR_ROOTFS)``,
        crates/cdl-fs/src/lib.rs:63-65: ``s3://<name>/rootfs`` for S3,
        the bare relative dir for local)."""
        if self.path.scheme == "s3":
            return f"s3://{self.path.name}/{ROOTFS_TABLE}"
        return ROOTFS_TABLE

    @property
    def global_path(self) -> str:
        """String form of the dataset path (reference
        ``CdlFS::global_path`` → GlobalPath Display,
        crates/cdl-fs/src/lib.rs:67-69,231-240: the bare rel path for
        local, ``s3://<name>/<rel>`` otherwise)."""
        if self.path.scheme == "s3":
            return f"s3://{self.path.name}/{self.path.rel}"
        return self.path.rel

    def storage_options(self, append_credentials: bool = True) -> dict[str, str]:
        """Object-store option map (reference
        ``DatasetCatalog::storage_options``,
        crates/cdl-catalog/src/lib.rs:257-293): same keys, built from this
        session's catalog; credentials included only when asked, exactly
        as the reference gates them on ``append_credentials``."""
        cat = self.cdl.catalog
        endpoint = (cat.s3_endpoint or "").rstrip("/")
        allow_http = str(bool(cat.allow_http)).lower()
        options = {
            "min_cache_object_size": str(cat.min_cache_object_size),
            "allow_http": allow_http,
            "AWS_ALLOW_HTTP": allow_http,
            "AWS_EC2_METADATA_DISABLED": "true",
            "AWS_ENDPOINT_URL": endpoint,
            "AWS_REGION": cat.region,
            "AWS_VIRTUAL_HOSTED_STYLE_REQUEST": "false",
            "conditional_put": "etag",
        }
        if append_credentials:
            if cat.access_key is None or cat.secret_key is None:
                raise ValueError("catalog has no S3 credentials to append")
            options["AWS_ACCESS_KEY_ID"] = cat.access_key
            options["AWS_SECRET_ACCESS_KEY"] = cat.secret_key
        return options

    # -- table lifecycle ----------------------------------------------------

    def load(
        self, max_chunk_size: int | None = None, bloom_cols: list[str] | None = None
    ) -> "CdlFS":
        """Ingest the dataset's file tree into the rootfs table (reference
        ``load_all``: local glob → rows, lib.rs:593-715; chunking per the
        catalog's max_chunk_size, default off). ``bloom_cols`` records
        per-file Bloom bitsets so :meth:`scan` equality probes on those
        columns skip files (sources/bloom.py)."""
        chunk = self.cdl.catalog.max_chunk_size if max_chunk_size is None else max_chunk_size
        df = rootfs_source.ingest_dir(self.spark, self.path.uri, max_chunk_size=chunk)
        rootfs_source.write_table(df, self.path.table_uri, mode="overwrite", bloom_cols=bloom_cols)
        self._register()
        return self

    def load_from_lance(self, lance_path: str) -> "CdlFS":
        """Ingest an EXISTING Lance dataset as this dataset's rootfs table
        — the reverse of :meth:`to_lance_dataset`, and the first thing a
        CDL migrator needs (the reference's storage layer IS Lance:
        ``open_table``, reference crates/cdl-fs/src/lib.rs:805-820). The
        read is fragment-parallel executor-side Arrow streaming
        (:mod:`sources.lance_ds`); the rows must carry the rootfs columns
        (a CDL-written rootfs dataset does) and land in the native
        transactional table, after which every canned query / SQL surface
        works unchanged. Import-gated on ``lance`` like the export."""
        from connected_data_lake_spark.sources.lance_ds import read_lance
        from connected_data_lake_spark.sources.rootfs import ROOTFS_COLUMNS, ROOTFS_SCHEMA

        df = read_lance(self.spark, lance_path)
        return self._ingest_external(df, f"Lance dataset at {lance_path}")

    def load_from_delta(self, delta_path: str, version: int | None = None) -> "CdlFS":
        """Ingest an EXISTING external Delta table (rootfs-shaped rows)
        as this dataset's table — migration ingress over
        :func:`sources.delta.read_delta` (log replay, time travel via
        ``version=``); the rows land in the native transactional format
        and every query surface works unchanged."""
        from connected_data_lake_spark.sources.delta import read_delta

        df = read_delta(self.spark, delta_path, version=version)
        return self._ingest_external(df, f"Delta table at {delta_path}")

    def load_from_iceberg(
        self, iceberg_path: str, snapshot_id: int | None = None
    ) -> "CdlFS":
        """Ingest an EXISTING external Iceberg table (rootfs-shaped rows)
        via :func:`sources.iceberg.read_iceberg` — same migration ingress
        as :meth:`load_from_delta`, snapshot-pinned when asked."""
        from connected_data_lake_spark.sources.iceberg import read_iceberg

        df = read_iceberg(self.spark, iceberg_path, snapshot_id=snapshot_id)
        return self._ingest_external(df, f"Iceberg table at {iceberg_path}")

    def load_from_hudi(
        self, hudi_path: str, as_of_instant: str | None = None
    ) -> "CdlFS":
        """Ingest an EXISTING external Hudi table (rootfs-shaped rows):
        COPY_ON_WRITE via :func:`sources.hudi.read_hudi`, MERGE_ON_READ
        via the log-merging :func:`sources.hudi.read_hudi_mor` —
        dispatched on the table's own ``hoodie.table.type``."""
        import os as _os

        from connected_data_lake_spark.sources.hudi import (
            _local,
            _read_properties,
            read_hudi,
            read_hudi_mor,
        )

        props_path = _os.path.join(
            _local(hudi_path), ".hoodie", "hoodie.properties"
        )
        with open(props_path, encoding="utf-8") as fh:
            table_type = _read_properties(fh.read()).get("hoodie.table.type")
        reader = read_hudi_mor if table_type == "MERGE_ON_READ" else read_hudi
        df = reader(self.spark, hudi_path, as_of_instant=as_of_instant)
        return self._ingest_external(df, f"Hudi table at {hudi_path}")

    def _ingest_external(self, df: DataFrame, src_desc: str) -> "CdlFS":
        """Shared ingress tail: validate rootfs shape, align types, land
        in the native table, re-register."""
        from connected_data_lake_spark.sources.rootfs import ROOTFS_COLUMNS, ROOTFS_SCHEMA

        missing = [c for c in ROOTFS_COLUMNS if c not in df.columns]
        if missing:
            raise ValueError(
                f"{src_desc} is not a rootfs table (missing columns: {missing})"
            )
        aligned = df.select(
            *[F.col(f.name).cast(f.dataType).alias(f.name) for f in ROOTFS_SCHEMA.fields]
        )
        rootfs_source.write_table(aligned, self.path.table_uri, mode="overwrite")
        self._register()
        return self

    @property
    def view_name(self) -> str:
        """This dataset's OWN temp-view name, keyed by its table URI —
        stable across instances, collision-free across datasets. The
        federation handle: ``cdl.sql`` joins datasets by these names."""
        import hashlib

        token = hashlib.sha1(self.path.table_uri.encode()).hexdigest()[:12]
        return f"{ROOTFS_TABLE}_{token}"

    def _register(self) -> None:
        """Register the rootfs table as a SQL view (reference lib.rs:112-118).

        Two views per dataset: the per-URI :attr:`view_name` (the truth —
        every ``table()``/``sql()`` of THIS instance resolves through it)
        and the shared ``rootfs`` alias, which tracks the most recently
        opened/refreshed dataset for reference parity. The alias alone
        was a wrong-answer hazard: with two live ``CdlFS`` instances,
        instance A's ``sql()`` would silently serve B's rows after B
        registered. ``table()`` now re-points the alias whenever another
        dataset has taken it (see :meth:`table`)."""
        df = rootfs_source.read_table(self.spark, self.path.table_uri)
        df.createOrReplaceTempView(self.view_name)
        df.createOrReplaceTempView(ROOTFS_TABLE)
        _ACTIVE_ROOTFS["uri"] = self.path.table_uri
        self._registered = True

    def table(self) -> DataFrame:
        if not self._registered:
            self._register()
        elif _ACTIVE_ROOTFS.get("uri") != self.path.table_uri:
            # another dataset took the shared alias since we registered:
            # re-point it at OUR table so `FROM rootfs` means this
            # dataset again (per-URI views are never clobbered)
            self.spark.table(self.view_name).createOrReplaceTempView(ROOTFS_TABLE)
            _ACTIVE_ROOTFS["uri"] = self.path.table_uri
        return self.spark.table(self.view_name)

    # -- query surface (the whole point of the reference) -------------------

    def sql(self, stmt: str) -> DataFrame:
        """Arbitrary SQL over the registered table — the reference's single
        query entry point (``CdlFS::query`` → SessionContext::sql,
        reference lib.rs:78-81). Catalyst plays DataFusion's role.
        Variadic ``len(a, b, …)`` (reference len.rs Variadic signature,
        kernel reads only arg 0) is rewritten to Spark's unary built-in.

        ``rootfs`` here ALWAYS means this instance's dataset: ``table()``
        re-points the shared alias if another ``CdlFS`` registered since
        (the per-instance flag alone served the OTHER dataset's rows —
        the r13 clobbering hazard). Cross-dataset statements go through
        :meth:`Cdl.sql` with per-dataset :attr:`view_name`\\ s."""
        self.table()  # ensure registration AND re-point the alias to us
        from connected_data_lake_spark.functions import rewrite_variadic_len

        return self.spark.sql(rewrite_variadic_len(stmt))

    def sql_as_pandas(self, stmt: str):
        """Materialized variant (reference sql_as_pandas,
        python/cdlake/filesystem.py:44-50); Arrow-backed collect."""
        return self.sql(stmt).toPandas()

    def sql_as_polars(self, stmt: str):
        """Materialized polars variant (reference sql_as_polars,
        python/cdlake/filesystem.py:51-55): Arrow table → polars.from_arrow.
        polars isn't baked into this environment — the import is gated; the
        Arrow path underneath is the tested surface."""
        try:
            import polars
        except ImportError as exc:  # pragma: no cover
            raise NotImplementedError(
                "polars is not available in this environment; use to_arrow()"
            ) from exc
        return polars.from_arrow(self.sql(stmt).toArrow())

    def read_dir(self, path: str) -> DataFrame:
        """List one directory, one row per file: the reference's canned
        ``SELECT …, x'' AS data FROM rootfs WHERE parent LIKE '<p>' AND
        size IS NOT NULL ORDER BY name ASC`` (lib.rs:84-95, 120-131)."""
        p = "/" + path.strip("/") if path.strip("/") else "/"
        predicate = F.col("parent").like(p) & F.col("size").isNotNull()
        df = None
        import re as _re

        if not _re.search(r"[%_\\]", p):  # no LIKE metachars: LIKE == equality
            try:  # one-dir listing of a huge table: read only its files
                df = self._pruned_read([("parent", "=", p), ("size", "is_not_null")], predicate)
            except ValueError:  # no manifest (legacy/object-store table)
                df = None
        if df is None:
            df = self.table().filter(predicate)
        return (
            df
            .select(
                "name",
                "parent",
                "atime",
                "ctime",
                "mtime",
                "mode",
                "size",
                "chunk_id",
                "chunk_offset",
                "chunk_size",
                F.lit(b"").alias("data"),  # P1: zero-byte literal drops payload
            )
            .orderBy(F.col("name").asc())
        )

    def read_dir_all(self) -> DataFrame:
        """List every file (reference read_dir_all: parent LIKE '%',
        ORDER BY parent, name — lib.rs:92-95)."""
        df = self.table()
        return (
            df.filter(F.col("size").isNotNull())
            .select(
                "name",
                "parent",
                "atime",
                "ctime",
                "mtime",
                "mode",
                "size",
                "chunk_id",
                "chunk_offset",
                "chunk_size",
                F.lit(b"").alias("data"),
            )
            .orderBy(F.col("parent").asc(), F.col("name").asc())
        )

    def read_files(self, condition: str) -> DataFrame:
        """Condition splice (P5): ``SELECT * FROM rootfs WHERE {condition}``
        (reference lib.rs:167-176). The fragment goes through Catalyst's
        parser via filter(expr) — same dialect as the rest of our surface,
        never string-concatenated into a larger statement.

        Simple conjunctive conditions additionally get zone-map/Bloom file
        skipping: the condition is conservatively parsed into filter
        triples (zonemap.parse_condition) used ONLY to prune the file
        list; the original SQL string remains the applied predicate, so an
        unparseable condition just scans every file as before."""
        from .sources.zonemap import parse_condition

        filters = parse_condition(condition)
        if filters is not None:
            try:
                return self._pruned_read(filters, F.expr(condition))
            except ValueError:  # no manifest (legacy/object-store table)
                pass
        return self.table().filter(F.expr(condition))

    def _pruned_read(self, filters: list[tuple], predicate) -> DataFrame:
        """File-pruned read: ``filters`` drop files via the manifest stats,
        ``predicate`` (a Column — the ORIGINAL user condition, never the
        triples) restores exact row semantics over the survivors."""
        from .sources.maintenance import _read, _store
        from .sources.manifest import latest_snapshot
        from .sources.zonemap import prune_files

        root, store = _store(self.path.table_uri)
        _, files, stats = latest_snapshot(store)
        if not files:
            return self.table().filter(predicate)
        live = prune_files(files, stats, filters)
        if not live:
            base = _read(self.spark, root, store, files).limit(0)
        else:
            base = _read(self.spark, root, store, live)
        return base.filter(predicate)

    def scan(self, filters: list[tuple] | None = None, columns: list[str] | None = None) -> DataFrame:
        """Zone-map-pruned scan: like :meth:`read_files`, but the predicate
        is conjunctive ``(col, op, value)`` triples (sources/zonemap.py)
        so the manifest's per-file stats can drop files BEFORE the scan is
        planned — on a large table a selective predicate reads the few
        files that can match instead of listing everything. Results are
        identical to the equivalent ``read_files`` condition (pruning is
        conservative; the predicate is re-applied exactly). Tables without
        a manifest (legacy/object-store) fall back to a plain filter."""
        from .sources.maintenance import scan_table
        from .sources.zonemap import filters_to_column

        try:
            return scan_table(self.spark, self.path.table_uri, filters, columns)
        except ValueError:
            df = self.table()
            if filters:
                df = df.filter(filters_to_column(filters))
            return df.select(*columns) if columns else df

    def optimize(
        self,
        zorder_by: list[str] | None = None,
        target_bytes: int = 128 * 1024 * 1024,
    ) -> dict:
        """Layout maintenance on a manifest-backed table: bin-pack small
        files (sources/maintenance.py::compact_table), or — with
        ``zorder_by`` — re-cluster the table along a Z-curve so zone maps
        prune selective predicates on any listed column (zorder_table).
        Same rows either way; one atomic rewrite commit."""
        from .sources.maintenance import compact_table, zorder_table

        if zorder_by:
            out = zorder_table(self.spark, self.path.table_uri, zorder_by, target_bytes)
        else:
            out = compact_table(self.spark, self.path.table_uri, target_bytes)
        if out["version"] is not None:  # files changed: refresh the view
            self._register()
        return out

    def delete(self, condition: str | list[tuple]) -> dict:
        """Row-level DELETE, copy-on-write. A list of ``(col, op, value)``
        triples prunes via the zone maps (only files that can match are
        rewritten — sources/maintenance.py::delete_where); a SQL string is
        exact but rewrites every file (delete_where_sql). Refreshes the
        registered view on commit."""
        from .sources.maintenance import delete_where, delete_where_sql

        if isinstance(condition, str):
            out = delete_where_sql(self.spark, self.path.table_uri, condition)
        else:
            out = delete_where(self.spark, self.path.table_uri, condition)
        if out["version"] is not None:
            self._register()
        return out

    def upsert(self, updates: DataFrame, key_cols: list[str]) -> dict:
        """Key-based MERGE: same-key rows replaced, new keys appended —
        copy-on-write over the files whose zone maps overlap the updates'
        key range (sources/maintenance.py::upsert_table). Refreshes the
        registered view on commit."""
        from .sources.maintenance import upsert_table

        out = upsert_table(self.spark, self.path.table_uri, updates, key_cols)
        if out["version"] is not None:
            self._register()
        return out

    def vacuum(self, retention_hours: float | None = None) -> int:
        """Reclaim data files no longer referenced by the current snapshot
        (crashed writers, superseded rewrites) and older than the retention
        window (default 7 days, Delta-style — files younger than this may
        belong to an in-flight writer that has staged but not yet published,
        so they are never touched). Returns files removed; historical
        versions whose files are reclaimed stop resolving — run only when
        time travel past the current snapshot isn't needed."""
        from .sources.rootfs import VACUUM_RETENTION_HOURS, vacuum_table

        if retention_hours is None:
            retention_hours = VACUUM_RETENTION_HOURS
        return vacuum_table(self.path.table_uri, retention_hours=retention_hours)

    def version(self) -> int:
        """Current committed snapshot version (-1 when no manifest)."""
        from .sources.rootfs import table_version

        return table_version(self.path.table_uri)

    def take(
        self,
        indices: list[int],
        columns: tuple[str, ...] = ("parent", "name", "data"),
    ) -> DataFrame:
        """Random row access by ordinal (reference S12: Lance
        ``ds.take(indices, columns)``, python/examples/cdlake_lance_dataset.py:26-36).

        Ordinals follow the table's canonical order (parent, name,
        chunk_id): ``_rowid`` is ``row_number() - 1`` over that order,
        computed on every call from this dataset's view, so a commit made
        through any ``CdlFS`` on the same dataset is seen by the next take.
        The unpartitioned window numbers rows in one task, which keeps the
        ordinals exact. Entirely JVM-side: no RDD round-trip, no Python
        serialization of payload bytes."""
        from pyspark.sql.window import Window

        idx = [int(i) for i in indices]
        order = Window.orderBy("parent", "name", "chunk_id")
        rowid = (F.row_number().over(order) - 1).cast("long")
        indexed = self.table().withColumn("_rowid", rowid)
        # An array literal reaches the generated class by reference, so one
        # class serves every ordinal list; isin with up to 10 values wrote
        # them into the class and compiled 2 new classes per call.
        out = indexed.filter(F.array_contains(F.lit(idx), F.col("_rowid")))
        return out.select("_rowid", *columns).orderBy("_rowid")

    # -- copy pipeline (S5/S6) ----------------------------------------------

    def copy_to(self, dst_url: str) -> "CdlFS":
        """Dataset copy (reference copy_to = load_all → dump_all,
        lib.rs:72-76, 270-316): read the table (or tree) and materialize at
        the destination; local destinations get real files back on disk."""
        dst = GlobalPath.parse(dst_url)
        df = self.table()
        if dst.scheme == "local":
            os.makedirs(dst.uri, exist_ok=True)
            rootfs_source.dump_to_dir(df, dst.uri)
        else:
            rootfs_source.write_table(df, dst.table_uri, mode="overwrite")
        return CdlFS(self.cdl, dst)

    # -- ML export (S11) ----------------------------------------------------

    def to_arrow(self, stmt: str = f"SELECT * FROM {ROOTFS_TABLE}"):
        """Single Arrow table, the reference's Python interchange (S10)."""
        return self.sql(stmt).toArrow()

    def to_torch_dataset(self, batch_size: int = 64, columns: tuple[str, ...] = ("name", "data")):
        """Torch loader over the table (reference to_torch_dataset,
        python/cdlake/filesystem.py:66-74). torch isn't installed in this
        environment — the import is gated; the Arrow path is tested."""
        try:
            import torch  # noqa: F401
            from torch.utils.data import Dataset
        except ImportError as exc:  # pragma: no cover
            raise NotImplementedError(
                "torch is not available in this environment; use to_arrow()"
            ) from exc

        table = self.sql(f"SELECT {', '.join(columns)} FROM {ROOTFS_TABLE}").toArrow()

        class _ArrowDataset(Dataset):  # pragma: no cover
            def __len__(self) -> int:
                return table.num_rows

            def __getitem__(self, idx: int):
                return {c: table.column(c)[idx].as_py() for c in columns}

        return _ArrowDataset()

    def to_lance_dataset(self, path: str, stmt: str = f"SELECT * FROM {ROOTFS_TABLE}", **kwargs):
        """Export the current snapshot as a Lance dataset and return the
        opened handle (reference to_lance_dataset,
        python/cdlake/filesystem.py:58-66). The reference's storage layer
        IS lance, so its method merely opens the dataset in place; this
        engine's table format is parquet + transactional manifest, so the
        analogue materializes ``stmt`` through the Arrow interchange into a
        lance dataset at ``path``. lance isn't baked into this environment
        — the import is gated like torch/polars; the Arrow path underneath
        is the tested surface. ``kwargs`` pass through to
        ``lance.write_dataset`` (mode, max_rows_per_file, ...). A
        cluster-scale export would fan out per-partition writers instead
        of the driver-side Arrow table; this is the API-parity surface."""
        try:
            import lance
        except ImportError as exc:  # pragma: no cover
            raise NotImplementedError(
                "lance is not available in this environment; use to_arrow()"
            ) from exc
        lance.write_dataset(self.sql(stmt).toArrow(), path, **kwargs)
        return lance.dataset(path)

    def to_delta_table(
        self,
        path: str,
        stmt: str = f"SELECT * FROM {ROOTFS_TABLE}",
        mode: str = "append",
        partition_by: list[str] | None = None,
    ) -> int:
        """Export ``stmt``'s result as an external DELTA table
        (:func:`sources.delta_write.write_delta`) — the egress half of
        :meth:`load_from_delta`: spec commit log + footer stats, readable
        by delta-spark / delta-rs / DuckDB / Trino. Returns the committed
        version. Unlike the Arrow exports this is a fully DISTRIBUTED
        write (one Spark parquet job + a driver-side log commit)."""
        from connected_data_lake_spark.sources.delta_write import write_delta

        return write_delta(
            self.sql(stmt), path, mode=mode, partition_by=partition_by
        )

    def to_iceberg_table(
        self,
        path: str,
        stmt: str = f"SELECT * FROM {ROOTFS_TABLE}",
        mode: str = "append",
        partition_by: list[str] | None = None,
    ) -> int:
        """Export ``stmt``'s result as an external ICEBERG v2 table
        (:func:`sources.iceberg_write.write_iceberg`): Avro manifests,
        field-id-stamped parquet, typed partition records. Returns the
        committed snapshot id. Distributed like :meth:`to_delta_table`."""
        from connected_data_lake_spark.sources.iceberg_write import write_iceberg

        return write_iceberg(
            self.sql(stmt), path, mode=mode, partition_by=partition_by
        )

    def to_hudi_table(
        self,
        path: str,
        record_key: str,
        stmt: str = f"SELECT * FROM {ROOTFS_TABLE}",
        mode: str = "insert",
        partition_by: list[str] | None = None,
        table_type: str = "COPY_ON_WRITE",
    ) -> str:
        """Export ``stmt``'s result as an external HUDI table
        (:func:`sources.hudi.write_hudi`): timeline instants, hoodie
        meta columns, COW insert/upsert/INSERT_OVERWRITE — or create a
        MERGE_ON_READ table (``table_type=``) whose later DML goes
        through :func:`sources.hudi.upsert_hudi_mor` log blocks.
        Returns the committed instant. Completes the egress triad with
        :meth:`to_delta_table` / :meth:`to_iceberg_table`."""
        from connected_data_lake_spark.sources.hudi import write_hudi

        return write_hudi(
            self.sql(stmt),
            path,
            record_key=record_key,
            mode=mode,
            partition_by=partition_by,
            table_type=table_type,
        )
