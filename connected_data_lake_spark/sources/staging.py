"""Spark parquet output → named lake files, decided in one place.

Every lake writer here (Delta, Iceberg, Hudi and the on-disk fixtures)
lays data files out in two steps, the same split the reference's storage
layer makes: write immutable data files, then make them visible with one
conditional put of a log entry. This module is the first step. Spark
writes the DataFrame to a private staging directory with its own
``part-*`` names; each part file is then renamed to the name the format
chooses, and the staging directory is removed, also when the write fails.

Partitioned writes come back with the hive ``col=value`` directory each
file was written under and its decoded partition values: Spark escapes a
value in the directory name and writes a null as
``__HIVE_DEFAULT_PARTITION__``, so the values are read back from the
names Spark itself wrote and the format's partition records agree with
the file layout by construction.
"""

from __future__ import annotations

import os
import shutil
import uuid
from collections.abc import Callable, Sequence
from urllib.parse import unquote

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: directory value Spark writes for a null partition value
_NULL_DIR = "__HIVE_DEFAULT_PARTITION__"
#: prefix of the partition-column copies that keep-columns staging fans
#: out on, so the data files still carry the partition columns
_ALIAS = "__cdl_part_"


def stage_parquet(
    df: DataFrame,
    staging: str,
    place: Callable[[int, str], str],
    partition_by: Sequence[str] = (),
    keep_partition_columns: bool = False,
) -> list[tuple[str, str, dict[str, str | None]]]:
    """Write ``df`` as parquet under ``staging`` (hive fanout on
    ``partition_by``), move the i-th part file to ``place(i, rel_dir)``
    and return ``[(dest, rel_dir, values)]``.

    ``rel_dir`` is the hive directory the file was written under, with
    ``/`` separators and Spark's escaping kept (``""`` when
    unpartitioned); ``values`` maps each partition column to its
    unescaped value, or None for a null. With ``keep_partition_columns``
    the files keep the partition columns (Iceberg and Hudi store them in
    the data file); otherwise Spark drops them from the file, as Delta
    expects. Files are placed in directory then name order. ``staging``
    is removed before returning or raising."""
    part_cols = list(partition_by)
    if keep_partition_columns and part_cols:
        df = df.select("*", *[F.col(c).alias(_ALIAS + c) for c in part_cols])
        part_cols = [_ALIAS + c for c in part_cols]
    writer = df.write.mode("overwrite")
    if part_cols:
        writer = writer.partitionBy(*part_cols)
    placed: list[tuple[str, str, dict[str, str | None]]] = []
    try:
        writer.parquet(staging)
        for root, dirs, names in os.walk(staging):
            dirs.sort()
            rel = os.path.relpath(root, staging)
            segs = [] if rel == "." else [
                s.removeprefix(_ALIAS) if keep_partition_columns else s
                for s in rel.split(os.sep)
            ]
            values = {
                col: None if raw == _NULL_DIR else unquote(raw)
                for col, _, raw in (s.partition("=") for s in segs)
            }
            rel_dir = "/".join(segs)
            for name in sorted(names):
                if not name.endswith(".parquet"):
                    continue
                dest = place(len(placed), rel_dir)
                os.makedirs(os.path.dirname(dest), exist_ok=True)
                os.replace(os.path.join(root, name), dest)
                placed.append((dest, rel_dir, values))
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    return placed


def write_single_parquet(df: DataFrame, dest: str) -> int:
    """Write ``df`` as exactly one parquet file at ``dest`` (one
    ``coalesce(1)`` task), staged in a hidden sibling directory; returns
    the file's size in bytes."""
    staging = os.path.join(os.path.dirname(dest), f".staging-{uuid.uuid4().hex}")
    placed = stage_parquet(df.coalesce(1), staging, lambda _i, _d: dest)
    if len(placed) != 1:
        raise RuntimeError(f"expected one parquet file for {dest}, got {len(placed)}")
    return os.path.getsize(dest)
