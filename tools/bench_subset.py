"""Per-query micro-bench over a SUBSET of the declared suite.

Same protocol as bench.py (median of 3 after 1 untimed warm-up, pinned
table registry, per-query index release, JVM-side full materialization)
but only for the names given on the command line — the iteration tool
for attacking individual fixed-cost queries without paying a full-suite
draw. Also splits each timed run into PLAN (python construction +
analysis trigger) and EXEC (executedPlan().execute().count()) so the
driver-side share is visible.

    python tools/bench_subset.py z_agg_median_percentile delta_cdf_read
"""

from __future__ import annotations

import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)


def main() -> None:
    names = [n for n in sys.argv[1:] if not n.startswith("-")]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    n_runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))

    from connected_data_lake_spark.operators.dedup import (
        release_index,
        release_session_indexes,
        track_session_indexes,
    )
    from connected_data_lake_spark.plans import spec_of
    from connected_data_lake_spark.session import get_spark
    from connected_data_lake_spark.sources.tables import persist_tables

    spark = get_spark("cdl-spark-bench-subset")
    spark.sparkContext.setLogLevel("ERROR")
    warm = spec_of("q1_pricing_summary")
    warm.spark(spark, sf_dir).write.format("noop").mode("overwrite").save()
    from pyspark.sql import functions as F

    @F.pandas_udf("long")
    def _warm(s):
        return s

    spark.range(0, 1024).repartition(32).select(_warm("id")).write.format(
        "noop"
    ).mode("overwrite").save()
    # offline index/layout builds OUTSIDE tracking, exactly like bench.py —
    # otherwise the per-run release sweep unpersists them and every run
    # re-pays the build
    from connected_data_lake_spark.plans import extensions as _ext

    _ext._ivf_indexed(spark, sf_dir)
    _ext._bucketed_order_tables(spark, sf_dir)
    _ext._dedup_corpus_index(spark, sf_dir)
    _ext._pq_indexed(spark, sf_dir)
    _ext._sketch_indexed(spark, sf_dir)
    _ext._gt_topk(spark, sf_dir)
    _ext._semdedup_clustered(spark, sf_dir)
    track_session_indexes(True)
    release_session_indexes()
    persist_tables(spark, sf_dir)

    for name in names:
        try:
            spec = spec_of(name)
        except KeyError:
            print(f"{name}: UNKNOWN")
            continue

        def once():
            t0 = time.perf_counter()
            df = spec.spark(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan()
            t1 = time.perf_counter()
            plan.execute().count()
            t2 = time.perf_counter()
            release_index(df)
            release_session_indexes()
            return t1 - t0, t2 - t1

        once()
        runs = [once() for _ in range(n_runs)]
        tot = [a + b for a, b in runs]
        print(
            f"{name}: total={statistics.median(tot):.3f}s "
            f"plan={statistics.median(r[0] for r in runs):.3f}s "
            f"exec={statistics.median(r[1] for r in runs):.3f}s "
            f"runs={[round(t, 3) for t in tot]}"
        )


if __name__ == "__main__":
    main()
