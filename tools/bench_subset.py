"""Per-query micro-bench over a SUBSET of the declared suite.

Same harness and protocol as bench.py (``bench.setup`` + ``bench.run_once``:
median of 3 after 1 untimed warm-up, pinned table registry, per-query
index release) but only for the names given on the command line, with
each run split into PLAN (python construction through executedPlan())
and EXEC (execute().count()) so the driver-side share is visible.

    python tools/bench_subset.py z_agg_median_percentile delta_cdf_read
"""

from __future__ import annotations

import os
import statistics
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)


def main() -> None:
    names = [n for n in sys.argv[1:] if not n.startswith("-")]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    n_runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))

    from bench import run_once, setup
    from connected_data_lake_spark.plans import spec_of
    from connected_data_lake_spark.session import get_spark

    spark = get_spark("cdl-spark-bench-subset")
    spark.sparkContext.setLogLevel("ERROR")
    ids = setup(spark, sf_dir)
    for name in names:
        try:
            spec = spec_of(name)
        except KeyError:
            print(f"{name}: UNKNOWN")
            continue
        runs = []
        for _ in range(n_runs + 1):  # the first run is the untimed warm-up
            build_s, exec_s, ids = run_once(spark, spec, sf_dir, ids)
            runs.append((build_s, exec_s))
        tot = [b + e for b, e in runs[1:]]
        print(
            f"{name}: total={statistics.median(tot):.3f}s "
            f"plan={statistics.median(b for b, _ in runs[1:]):.3f}s "
            f"exec={statistics.median(e for _, e in runs[1:]):.3f}s "
            f"runs={[round(t, 3) for t in tot]}"
        )


if __name__ == "__main__":
    main()
