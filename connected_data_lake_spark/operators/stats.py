"""Distribution-comparison statistics over DataFrame columns.

The reference exposes no statistics beyond SQL aggregates; these are the
corpus/feature drift diagnostics a training-data pipeline runs (build
mandate — SURVEY §7.1 M5 extensions), built scale-first:

- :func:`ks_two_sample` — exact two-sample Kolmogorov-Smirnov D. The
  empirical CDFs are a DISTRIBUTED two-phase prefix sum (the
  pack_sequences shape): range-repartition by value, per-partition sample
  counts collected as planning metadata (one N_partitions-row collect),
  exclusive base offsets broadcast back, cumulative window per partition.
  Never a single-partition global-order window, so the ordered pass
  scales with distinct values per partition, not corpus size.

Chi-square lives inline in the declared query (plans/extensions.py
``stats_chisq_lang_source``) — its grid is margin-sized, no shared
machinery needed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def ks_two_sample(
    df: DataFrame,
    value_col: str | Column,
    label_col: str | Column,
    label_a: str,
    label_b: str,
) -> DataFrame:
    """Exact two-sample KS statistic between the ``value_col`` distributions
    of rows labeled ``label_a`` vs ``label_b``.

    Returns a ONE-ROW DataFrame ``(n1, n2, ks_d, ks_scaled)`` where
    ``ks_d = max |F1 - F2|`` over every distinct observed value (per-value
    pre-aggregation handles ties exactly — intermediate within-tie prefix
    rows are not valid CDF points) and ``ks_scaled = D * sqrt(n1*n2 /
    (n1+n2))``, the input to the asymptotic Kolmogorov distribution.
    Raises ``ValueError`` when either sample is empty (the statistic is
    undefined). The caller owns unpersisting the attached relation via
    ``sources.tables.release_index``.

    Determinism invariant (ADVICE r8): the per-partition base offsets are
    collected from the persisted ``parts`` and then reused by the windowed
    pass. If a cached partition is evicted and recomputed, correctness
    requires the recompute to land rows in the SAME range partitions. That
    holds because ``repartitionByRange`` boundaries come from Spark's
    RangePartitioner, whose reservoir sample is seeded deterministically
    from the RDD lineage id — recomputing the identical lineage re-derives
    identical boundaries. A lineage-SEVERING rewrite (e.g. swapping the
    persist for a checkpoint of only half the pipeline) would void this;
    keep offsets and window reading the same persisted relation.
    """
    from connected_data_lake_spark.sources.tables import with_persisted

    spark = df.sparkSession
    value = F.col(value_col) if isinstance(value_col, str) else value_col
    label = F.col(label_col) if isinstance(label_col, str) else label_col
    ev = df.filter(label.isin(label_a, label_b))
    # Persisted: RangePartitioner SAMPLES its child to place the range
    # boundaries, which would re-execute the fact-table aggregate a
    # second time (the percentile operator's measured finding, r14) —
    # the cache makes the sampling job the one materialization and the
    # shuffle map stage a cache read.
    g = (
        ev.groupBy(value.alias("value"))
        .agg(
            F.sum(F.when(label == label_a, 1).otherwise(0)).alias("c1"),
            F.sum(F.when(label == label_b, 1).otherwise(0)).alias("c2"),
        )
        .persist()
    )
    n_parts = max(2, spark.sparkContext.defaultParallelism)
    parts = (
        g.repartitionByRange(n_parts, "value")
        .withColumn("pid", F.spark_partition_id())
        .persist()
    )
    sums = sorted(
        parts.groupBy("pid")
        .agg(F.sum("c1").alias("s1"), F.sum("c2").alias("s2"))
        .collect(),
        key=lambda r: r["pid"],
    )
    bases, r1, r2 = [], 0, 0
    for r in sums:
        bases.append((r["pid"], r1, r2))
        r1 += r["s1"]
        r2 += r["s2"]
    if r1 == 0 or r2 == 0:
        parts.unpersist()
        g.unpersist()
        raise ValueError(
            f"ks_two_sample: empty sample (n1={r1}, n2={r2}) — "
            "the statistic is undefined"
        )
    n1, n2 = float(r1), float(r2)
    from connected_data_lake_spark.localrel import local_df

    base_df = local_df(spark, bases, "pid int, b1 bigint, b2 bigint")
    w = (
        Window.partitionBy("pid")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = parts.join(F.broadcast(base_df), "pid").select(
        ((F.col("b1") + F.sum("c1").over(w)) / F.lit(n1)).alias("f1"),
        ((F.col("b2") + F.sum("c2").over(w)) / F.lit(n2)).alias("f2"),
    )
    scale = (n1 * n2 / (n1 + n2)) ** 0.5
    out = c.agg(
        F.lit(int(n1)).cast("bigint").alias("n1"),
        F.lit(int(n2)).cast("bigint").alias("n2"),
        F.round(F.max(F.abs(F.col("f1") - F.col("f2"))), 6).alias("ks_d"),
        F.round(
            F.max(F.abs(F.col("f1") - F.col("f2"))) * F.lit(scale), 4
        ).alias("ks_scaled"),
    )
    return with_persisted(out, g, parts)
