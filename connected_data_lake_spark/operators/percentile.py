"""Scale-safe exact percentiles: pre-aggregated counts + window interpolation.

Spark's exact ``percentile()`` aggregate buffers a value→count OpenHashMap
per group **in the aggregation buffer** (ObjectHashAggregate): grouping a
near-all-distinct column by a low-cardinality key concentrates one group's
entire distinct-value set in a single reducer's memory — at 100× data that
is an executor OOM, not a slow query. (Reference parity: DataFusion's
``approx_percentile_cont`` sidesteps this with a t-digest; the exact form
has the same buffering hazard there.)

This operator computes the identical linearly-interpolated quantile
(SQL ``percentile_cont`` / type-7, the definition Spark ``percentile()``
and DuckDB ``quantile_cont()`` share) from a memory-bounded plan:

1. ``GROUP BY (group, value) → count`` — the shuffle is bounded by the
   number of *distinct* values per map partition (map-side combine), and
   the hash-agg state per task is one long per distinct value it sees,
   spillable by Spark's ordinary agg spill path.
2. An ordered cumulative-count pass over the distinct relation, with two
   strategies (see ``strategy`` below): the default ``'window'`` runs one
   window pass per group ordered by value — the per-group sort is an
   EXTERNAL sort (spills to disk instead of growing a buffer, so the
   reducer holding a hot group degrades to IO, never OOM) — while
   ``'range'`` runs the distributed two-phase prefix sum (the
   ``operators/stats.py::ks_two_sample`` shape) whose parallelism tracks
   the value range instead of the group count.
3. For each requested fraction ``p``: the target 0-based position
   ``h = (n-1)·p`` falls inside exactly one distinct value's cumulative
   span ``[cum-cnt, cum-1]``; that row emits
   ``v_lo + (h - floor(h)) · (v_hi - v_lo)`` where ``v_hi`` is the same
   value when ``floor(h)+1`` is still inside the span, else the lead
   value. A final tiny max-aggregate per group collapses the one non-null
   candidate per (group, fraction).

Strategy trade (measured at sf0.1, 1.2M-row melted relation, 6 groups):
``'window'`` completes the whole query in ~1.0 s — the same time as
merely counting the distinct relation — because the ordered pass adds no
extra exchange beyond the count shuffle. ``'range'`` costs ~4× that HERE
(range-boundary sampling job + offset aggregate + broadcast splice are
three extra stages of fixed floor), but is the right shape when distinct
values ≈ corpus rows AND groups are few: a 3-group percentile over a raw
continuous column at 100 TB would sort ~a third of the column per
reducer under ``'window'`` (IO-degraded external sort), while ``'range'``
spreads that sort value-range-wide. Quantized or naturally bounded value
columns (3-decimal metrics, integer buckets — every in-repo consumer)
keep the distinct relation small regardless of corpus size, so
``'window'`` is the default; callers percentiling raw continuous columns
with a handful of groups at cluster scale pass ``strategy='range'``.

Cost (window): one count-shuffle + one group-partitioned sort window; no
per-group in-memory value map anywhere in the plan (HashAggregate +
Window, no ObjectHashAggregate). Cost (range): one count-shuffle + one
range-shuffle (the aggregated relation is persisted on both sides of the
exchange, so the RangePartitioner sampling pass and the offset aggregate
read the cache instead of re-executing the aggregate) + one broadcast of
the per-(partition, group) offset relation; the caller releases the two
cached relations via ``sources.tables.release_index`` (suite runners
free session-wide via ``release_session_indexes``).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def exact_percentiles(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    fractions: Sequence[float],
    out_cols: Sequence[str],
    strategy: str = "window",
) -> DataFrame:
    """Per-group exact interpolated percentiles of ``value_col``.

    Returns one row per group with ``out_cols[i]`` = the ``fractions[i]``
    quantile (double, linear interpolation, NULLs ignored — the same
    result as ``percentile(value_col, p)`` / ``quantile_cont(v, p)``).
    A group whose values are all NULL yields NULL quantiles, exactly as
    the aggregate functions behave under GROUP BY.

    ``strategy``: ``'window'`` (default — one external-sort window per
    group over the pre-aggregated distinct relation), ``'range'`` (the
    range-partitioned two-phase prefix sum; see the module docstring for
    the trade and when to choose it), or ``'bucket'`` (two-pass
    histogram-narrowing — see :func:`_bucket_strategy`; the shape for
    near-all-distinct value columns, where the counts pre-aggregation
    achieves no reduction and the per-group sort is the whole column).
    """
    g = list(group_cols)
    v = F.col(value_col).cast("double")
    if strategy == "bucket":
        if len(fractions) != len(out_cols):
            raise ValueError("fractions and out_cols must pair 1:1")
        return _bucket_strategy(df, g, v, fractions, out_cols)
    # NULLs keep their (group, NULL) count row through the pipeline — an
    # all-NULL group must still emit a result row — but contribute 0 to the
    # cumulative/total counts, and (sorting NULLS FIRST at cum = 0) can
    # never satisfy the in-span predicate below. One scan, no second pass.
    cnt = df.groupBy(*g, v.alias("_v")).agg(F.count("*").alias("_c"))
    return exact_percentiles_from_counts(
        cnt, g, fractions, out_cols, strategy
    )


def _bucket_col(v):
    """Monotone (order-preserving) data-independent bucket id for a double:
    sign · floor(32·log2(1+|v|)) — 32 sub-buckets per octave, so the
    bucket count is bounded by 32·log2(max|v|) (~2.1k for |v| ≤ 1e20)
    REGARDLESS of row count or distinct-value count. Monotone because
    log2(1+|x|) is monotone in |x| and the sign flip mirrors it for
    negatives; floor only merges ADJACENT values, which is exactly what a
    histogram bucket is allowed to do. NULL stays NULL (sorts first, like
    the NULL value rows it summarizes)."""
    return (
        F.when(v.isNull(), F.lit(None).cast("long"))
        # NaN sorts greatest in Spark but CAST(NaN AS LONG) is 0 — pin it
        # to the top bucket (shared with +Inf, its order-neighbour) to
        # keep the bucket id monotone in the value ordering
        .when(F.isnan(v), F.lit(9223372036854775807))
        .otherwise((F.signum(v) * F.floor(F.log2(F.abs(v) + 1) * 32)).cast("long"))
    )


def _bucket_strategy(df, g, v, fractions, out_cols):
    """Two-pass histogram narrowing for exact percentiles over
    near-all-distinct value columns.

    Pass 1 aggregates counts per (group, log-bucket) — the shuffle is
    bounded by groups × ~2k buckets with full map-side combine, where the
    counts+window shape shuffles every distinct value (no reduction at
    all when values are near-unique, e.g. prices). A per-group window
    over that TINY histogram locates, for each requested fraction, the
    bucket containing rank floor(h) (the same in-span arithmetic as the
    value-level pass) and flags it plus its successor bucket (the
    interpolation upper neighbour can be the next bucket's first value).

    Pass 2 re-scans the source, keeps only rows in flagged buckets (a
    broadcast hash semi-filter — rows outside the span buckets never
    enter a shuffle), and runs the ordinary counts+window interpolation
    inside them, splicing cumulative counts with the per-bucket exclusive
    offsets from pass 1. Both windows run over span-bucket rows only.

    Identical result to the window strategy: same type-7 formula over the
    same (v_lo, v_hi, n, h) doubles — pass 1 only decides WHICH rows can
    carry the answer, never the arithmetic. At scale: two scans and two
    tiny shuffles versus one scan plus a full-column shuffle and a
    per-group sort of the whole column — the scan is the cheap, pruned,
    columnar part; the shuffle/sort is what kills."""
    import functools

    src = df.select(*g, v.alias("_v"), _bucket_col(v).alias("_b"))
    bc = src.groupBy(*g, "_b").agg(F.count("*").alias("_c"))
    nnb = F.when(F.col("_b").isNotNull(), F.col("_c")).otherwise(F.lit(0))
    wsort = Window.partitionBy(*g).orderBy(F.asc_nulls_first("_b"))
    wall = Window.partitionBy(*g)
    meta = bc.withColumn("_cum", F.sum(nnb).over(wsort)).withColumn(
        "_n", F.sum(nnb).over(wall)
    )
    spans = []
    for p in fractions:
        h = (F.col("_n") - F.lit(1)) * F.lit(float(p))
        lo = F.floor(h)
        spans.append((lo >= F.col("_cum") - F.col("_c")) & (lo < F.col("_cum")))
    # an all-NULL group's NULL bucket carries no rank at fraction 0.0
    # (lo = 0 never lands inside a zero-width span) but the group must
    # still emit its NULL-result row — always select it
    any_span = functools.reduce(lambda a, b: a | b, spans) | (
        (F.col("_n") == 0) & F.col("_b").isNull()
    )
    sel = (
        meta.withColumn("_sp", any_span)
        .withColumn(
            # a bucket is needed if it carries a target rank itself OR is
            # the successor of one (bc holds only non-empty buckets, so
            # the previous histogram row IS the previous non-empty bucket)
            "_need",
            F.col("_sp") | F.coalesce(F.lag("_sp").over(wsort), F.lit(False)),
        )
        .filter(F.col("_need"))
        .select(
            *[F.col(c).alias(f"_g_{c}") for c in g],
            F.col("_b").alias("_sb"),
            (F.col("_cum") - nnb).alias("_base"),
            "_n",
        )
    )
    on = functools.reduce(
        lambda a, b: a & b,
        [src[c].eqNullSafe(F.col(f"_g_{c}")) for c in g]
        + [src["_b"].eqNullSafe(F.col("_sb"))],
    )
    hit = src.join(F.broadcast(sel), on).select(
        *g, "_v", "_b", "_base", "_n"
    )
    cnt = hit.groupBy(*g, "_b", "_base", "_n", "_v").agg(
        F.count("*").alias("_c")
    )
    nn = F.when(F.col("_v").isNotNull(), F.col("_c")).otherwise(F.lit(0))
    wb = Window.partitionBy(*g, "_b").orderBy(F.asc_nulls_first("_v"))
    wg = Window.partitionBy(*g).orderBy(F.asc_nulls_first("_v"))
    marked = cnt.withColumn("_cum", F.col("_base") + F.sum(nn).over(wb)).withColumn(
        # the global-in-group lead is correct exactly where it matters: an
        # in-span row's next distinct value is either in its own bucket or
        # the first value of the successor bucket, and the successor is
        # always selected; other rows' leads may jump pruned-out gaps but
        # never satisfy the in-span predicate
        "_nxt",
        F.lead("_v").over(wg),
    )
    return marked.groupBy(*g).agg(*_interp_aggs(fractions, out_cols))


def exact_percentiles_from_counts(
    cnt: DataFrame,
    group_cols: Sequence[str],
    fractions: Sequence[float],
    out_cols: Sequence[str],
    strategy: str = "window",
) -> DataFrame:
    """Per-group exact interpolated percentiles over a PRE-AGGREGATED
    distinct-value relation ``cnt`` with columns ``(*group_cols, _v
    double, _c long)`` — one row per (group, distinct value), ``_c`` its
    multiplicity (``_v`` may be NULL, carrying the group's NULL count).

    Same result as :func:`exact_percentiles` over the expanded multiset.
    This is the sharing entry point for callers that already hold (or
    reuse) the counts relation — e.g. a MAD pipeline that derives
    deviations from the same quantized distinct values (one corpus scan
    for the whole statistic instead of one per percentile pass)."""
    if len(fractions) != len(out_cols):
        raise ValueError("fractions and out_cols must pair 1:1")
    if strategy not in ("window", "range"):
        raise ValueError(f"unknown strategy {strategy!r}")
    g = list(group_cols)
    nn = F.when(F.col("_v").isNotNull(), F.col("_c")).otherwise(F.lit(0))
    if strategy == "window":
        wsort = Window.partitionBy(*g).orderBy(F.asc_nulls_first("_v"))
        wall = Window.partitionBy(*g)
        marked = (
            cnt.withColumn("_cum", F.sum(nn).over(wsort))
            .withColumn("_n", F.sum(nn).over(wall))
            .withColumn("_nxt", F.lead("_v").over(wsort))
        )
        return marked.groupBy(*g).agg(
            *_interp_aggs(fractions, out_cols)
        )
    return _range_strategy(cnt, nn, g, fractions, out_cols)


def _interp_aggs(fractions, out_cols):
    aggs = []
    for p, out in zip(fractions, out_cols):
        h = (F.col("_n") - F.lit(1)) * F.lit(float(p))
        lo = F.floor(h)
        frac = h - lo
        in_span = (lo >= F.col("_cum") - F.col("_c")) & (lo < F.col("_cum"))
        v_hi = F.when(lo + 1 < F.col("_cum"), F.col("_v")).otherwise(
            F.coalesce(F.col("_nxt"), F.col("_v"))
        )
        cand = F.when(in_span, F.col("_v") + frac * (v_hi - F.col("_v")))
        aggs.append(F.max(cand).alias(out))
    return aggs


def _range_strategy(cnt, nn, g, fractions, out_cols):
    """Cumulative counts via a RANGE-PARTITIONED two-phase prefix sum (the
    ks_two_sample shape, with the offsets as a broadcast relation instead
    of a driver collect — per-(partition, group) offsets are bounded by
    n_parts x groups, NOT planning-sized when the group column is
    high-cardinality). Range-repartition the distinct-value relation on
    (group, value), do the ordered work per PARTITION, and splice
    partitions together with per-(partition, group) exclusive offsets.
    The cross-partition pieces of the within-group ordering: the offset
    splices the cumulative count, ``_next_first`` splices ``lead`` (the
    first value of the group's next populated partition)."""
    from connected_data_lake_spark.sources.tables import with_persisted

    # Persisted: RangePartitioner SAMPLES its child to place the range
    # boundaries, which would re-execute the upstream aggregate a second
    # time — the cache makes the sampling job the one materialization and
    # the shuffle map stage a cache read.
    cnt = cnt.persist()
    # ``parts`` is persisted so the offset aggregate and the ordered pass
    # read the SAME materialized partitioning — ``_pid`` consistency
    # between the two consumers comes from the cache, and survives
    # eviction because recomputing the identical lineage re-derives
    # identical range boundaries (RangePartitioner's reservoir sample is
    # seeded from the lineage id — the ks_two_sample determinism
    # invariant, ADVICE r8).
    n_parts = max(2, cnt.sparkSession.sparkContext.defaultParallelism)
    parts = (
        cnt.repartitionByRange(n_parts, *g, F.asc_nulls_first("_v"))
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    wmeta = Window.partitionBy(*g).orderBy("_pid")
    meta = (
        parts.groupBy("_pid", *g)
        .agg(F.sum(nn).alias("_s"), F.min("_v").alias("_pfirst"))
        .select(
            "_pid",
            *g,
            F.coalesce(
                F.sum("_s").over(
                    wmeta.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ).alias("_base"),
            F.sum("_s").over(Window.partitionBy(*g)).alias("_n"),
            F.lead("_pfirst").over(wmeta).alias("_next_first"),
        )
    )
    wsort = Window.partitionBy("_pid", *g).orderBy(F.asc_nulls_first("_v"))
    marked = (
        parts.join(F.broadcast(meta), ["_pid", *g])
        .withColumn("_cum", F.col("_base") + F.sum(nn).over(wsort))
        .withColumn(
            "_nxt",
            F.coalesce(F.lead("_v").over(wsort), F.col("_next_first")),
        )
    )
    return with_persisted(
        marked.groupBy(*g).agg(*_interp_aggs(fractions, out_cols)),
        cnt,
        parts,
    )
