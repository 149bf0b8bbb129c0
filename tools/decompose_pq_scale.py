"""Decompose knn_pq_topk's timed surface (VERDICT r10 'Next round' #6).

The r10 bench saw z_knn_pq_topk move 1.83→3.32 s with UNCHANGED code; the
judge asked for the regression explained with numbers or the headline
moved to the probe path. This script splits the query's wall time into
its four stages at the bench scale factor so the cost attribution is a
committed artifact rather than narrative:

  1. pq_train      — driver-side numpy k-means on the 2048-row sample
                     (the stage hypothesized to absorb host CPU contention)
  2. brute_force   — exact top-k ground truth (executor-side)
  3. encode_scan   — pq_encode + ADC lookup scan + re-rank, pretrained books
  4. full_query    — the declared body end-to-end (sanity: ≈ 1+2+3)

Usage:  python tools/decompose_pq_scale.py [--sf DIR] [--reps N]
Writes SCALE_PQ_DECOMP.json at the repo root and prints one JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)


def _materialize(df) -> None:
    # JVM-side execution without a sink (same trick as bench.py)
    df._jdf.queryExecution().executedPlan().execute().count()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from connected_data_lake_spark.operators import similarity as SIM
    from connected_data_lake_spark.sources.tables import load_table

    spark = (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "8g")
        .appName("pq-decomp")
        .getOrCreate()
    )
    emb = load_table(spark, args.sf, "embeddings")
    emb.persist().count()  # warm the source once; every stage sees it hot
    queries = emb.filter(F.col("vec_id").isin(0, 1, 2))

    def timed(fn) -> float:
        best = []
        for _ in range(args.reps):
            t0 = time.perf_counter()
            fn()
            best.append(time.perf_counter() - t0)
        return min(best)

    # 1. driver-side training alone
    books_holder = {}

    def _train():
        books_holder["books"] = SIM.pq_train(emb)

    t_train = timed(_train)
    books = books_holder["books"]

    # 2. exact ground truth alone
    t_brute = timed(lambda: _materialize(SIM.knn_brute_force(emb, queries, k=10)))

    # 3. encode + ADC scan + re-rank with PRETRAINED books
    t_scan = timed(
        lambda: _materialize(
            SIM.knn_pq(emb, queries, books, k=10, candidates_per_query=100)
        )
    )

    # 4. the declared body end-to-end (train + brute + scan + contract)
    from connected_data_lake_spark.plans import spec_of

    spec = spec_of("knn_pq_topk")
    t_full = timed(lambda: _materialize(spec.spark(spark, args.sf)))

    out = {
        "sf": args.sf,
        "reps": args.reps,
        "pq_train_s": round(t_train, 3),
        "brute_force_s": round(t_brute, 3),
        "encode_scan_s": round(t_scan, 3),
        "full_query_s": round(t_full, 3),
        "train_share_of_full": round(t_train / t_full, 3) if t_full else None,
    }
    with open(os.path.join(REPO, "SCALE_PQ_DECOMP.json"), "w") as fh:
        json.dump(out, fh, indent=1)
    print(json.dumps(out))
    emb.unpersist()
    return 0


if __name__ == "__main__":
    sys.exit(main())
