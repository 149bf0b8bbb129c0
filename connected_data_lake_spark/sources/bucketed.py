"""Bucketed table layout — co-located equi-joins without a shuffle.

At 100 TB the dominant cost of a big fact-fact equi-join is shuffling both
sides on the key. Writing both tables bucketed on the join key (files
hash-clustered into N buckets at write time, ``CLUSTERED BY ... INTO n
BUCKETS``) makes the layout itself the partitioning: SortMergeJoin reads
bucket i of each side directly and the plan carries NO Exchange on either
join input. The shuffle is paid ONCE at layout time and amortized over
every subsequent join/aggregation on that key — the standard warehouse
trade for repeatedly-joined fact tables.

Spark specifics encoded here:

- Bucketing metadata lives in the session catalog, so bucketed relations
  must be read back via ``spark.table(name)`` — a plain
  ``spark.read.parquet(path)`` of the same files loses the bucket info and
  re-shuffles.
- Both sides must agree on bucket count (or be integer multiples, with
  ``spark.sql.bucketing.coalesceBucketsInJoin.enabled``) for the
  exchange-free plan.
- ``sortBy`` the same key at write time: with one file per bucket Spark
  can also skip the per-task Sort under SortMergeJoin.
- One file per bucket per write task is guaranteed here by repartitioning
  on the bucket key before the write (same small-files rationale as the
  IVF cell index).

This is an engine extension past the reference's surface (its DataFusion
runs single-partition — crates/cdl-fs/src/lib.rs:258 — so co-location
never arises there); SURVEY §2's join rows plus the 100 TB mandate are the
parity target.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_bucketed(
    df: DataFrame,
    table: str,
    keys: list[str] | tuple[str, ...],
    n_buckets: int = 32,
    path: str | None = None,
) -> DataFrame:
    """Write ``df`` as a parquet table bucketed and sorted on ``keys``,
    replacing any existing table of that name; returns the catalog-backed
    relation (bucket-aware).

    ``path`` makes the table external (files survive the session; the
    catalog entry itself is per-session under the default in-memory
    catalog — register the existing files again with ``CREATE TABLE ...
    CLUSTERED BY ... LOCATION``)."""
    keys = list(keys)
    writer = (
        df.repartition(n_buckets, *keys)
        .write.format("parquet")
        .mode("overwrite")
        .bucketBy(n_buckets, keys[0], *keys[1:])
        .sortBy(keys[0], *keys[1:])
    )
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table)
    return df.sparkSession.table(table)
