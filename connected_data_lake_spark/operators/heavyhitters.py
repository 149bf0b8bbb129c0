"""Distributed heavy hitters: exact frequent items without a
full-vocabulary shuffle.

The 100 TB problem: "which tokens/URLs/users exceed x% of all
occurrences" via a naive ``groupBy(item).count()`` shuffles the ENTIRE
occurrence stream — the vocabulary is Zipf-tailed, so almost all of that
shuffle moves items that can never qualify. The classic two-phase sketch
fix (Misra-Gries / SpaceSaving family):

1. **Candidate generation, scan-local**: each partition counts its own
   items in memory (``mapInPandas`` + ``value_counts`` — exact within the
   partition, no shuffle) and emits only items with local count
   ``> n_p / k``. Pigeonhole guarantee: an item with global frequency
   ``> n / k`` must exceed the local threshold in at least one partition
   (if ``f_p <= n_p/k`` everywhere, summing gives ``f <= n/k``), so the
   candidate union is a SUPERSET of the true heavy hitters. Candidate
   count is bounded by ``k`` per partition.
2. **Exact verification, candidate-sized**: one more scan counts ONLY
   candidate items (broadcast hash semi-filter), then keeps those with
   exact count ``> n / k``.

The output is therefore EXACT and deterministic — independent of how rows
split into partitions (the split only changes the candidate superset,
never the verified answer) — which is what lets the declared query
hash-match a DuckDB oracle that computes plain exact counts.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def heavy_hitters(df: DataFrame, item_col: str, k: int) -> DataFrame:
    """Items of ``item_col`` with exact count ``> n/k`` (``n`` = total
    rows), as ``(item, cnt)`` — computed with the two-phase candidate /
    verify plan above. ``k`` bounds both the result size (< k items) and
    the per-partition candidate memory."""
    from connected_data_lake_spark.sources.tables import with_persisted

    items = df.select(F.col(item_col).alias("item"))

    def _local_counts(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counts: dict = {}
        n_p = 0
        for b in batches:
            n_p += len(b)
            for item, c in b["item"].value_counts().items():
                counts[item] = counts.get(item, 0) + int(c)
        if n_p:
            out = pd.DataFrame(
                {"item": list(counts.keys()), "cnt": list(counts.values())}
            )
            out = out[out["cnt"] * k > n_p]
            # sentinel row (item NULL): this partition's total occurrence
            # count — the global n rides along with the candidates, so no
            # separate full counting pass over the item stream is needed
            yield pd.concat(
                [out, pd.DataFrame({"item": [None], "cnt": [n_p]})],
                ignore_index=True,
            )

    # candidates: <= k+1 rows PER PARTITION — bounded per task but not
    # globally (k=200 x thousands of partitions at 100 TB), so they stay a
    # DataFrame and reach the verify scan as a broadcast hash semi join
    # rather than a driver-collected literal IN list whose expression tree
    # would grow with the partition count (ADVICE r8). Persisted: the
    # relation is read twice (n scalar + candidate set) and each re-read
    # would otherwise re-run the full candidate scan — with it, the item
    # stream is scanned exactly twice overall (candidates + verify),
    # which is the two-phase method's floor.
    cand_all = items.mapInPandas(_local_counts, "item string, cnt long").persist()
    n = (
        cand_all.filter(F.col("item").isNull())
        .agg(F.coalesce(F.sum("cnt"), F.lit(0)))
        .collect()[0][0]
    )
    cand_df = cand_all.filter(F.col("item").isNotNull()).select("item").distinct()
    verified = (
        items.join(F.broadcast(cand_df), "item", "left_semi")
        .groupBy("item")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") * k > F.lit(n))
    )
    return with_persisted(verified, cand_all)
