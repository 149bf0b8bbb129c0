"""Capture ``explain("formatted")`` output for declared queries.

Writes ``plans/<round>/<name>_<suffix>.txt`` (default round: r15, override
with ``--round rNN``) for every name given (or every
declared query with ``--all``). The files are the audit artifact for
optimization rounds: plan-shape claims in the round doc point at
these, captured before and after each change.

Plans are captured in bench.py's state: after ``bench.setup`` (offline
indexes built, table registry pinned) and one ``bench.run_once`` of the
query, so the capture shows the plan the timed runs execute. The run's
plan/exec seconds and its count of whole-stage codegen compiles (the
``CodegenMetrics`` delta; 0 when every class came from the JVM's
generated-class cache) are printed next to each written path.

    python tools/capture_plans.py --suffix before name1 name2 ...
    python tools/capture_plans.py --suffix before --all
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)


def main() -> None:
    args = sys.argv[1:]
    suffix = "before"
    if "--suffix" in args:
        i = args.index("--suffix")
        suffix = args[i + 1]
        del args[i : i + 2]
    round_dir = "r15"
    if "--round" in args:
        i = args.index("--round")
        round_dir = args[i + 1]
        del args[i : i + 2]
    capture_all = "--all" in args
    names = [a for a in args if not a.startswith("-")]

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(REPO, "plans", round_dir)
    os.makedirs(out_dir, exist_ok=True)

    from bench import run_once, setup
    from connected_data_lake_spark.plans import all_specs, spec_of
    from connected_data_lake_spark.session import get_spark
    from connected_data_lake_spark.sources.tables import (
        release_index,
        release_session_indexes,
    )

    spark = get_spark("cdl-spark-capture-plans")
    spark.sparkContext.setLogLevel("ERROR")
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles = metrics.METRIC_COMPILATION_TIME()
    if capture_all:
        names = sorted(all_specs())
    ids = setup(spark, sf_dir)

    for name in names:
        try:
            spec = spec_of(name)
        except KeyError:
            print(f"# unknown query: {name}", file=sys.stderr)
            continue
        timing = ""
        try:
            c0 = compiles.getCount()
            build_s, exec_s, ids = run_once(spark, spec, sf_dir, ids)
            n = compiles.getCount() - c0
            timing = f" (plan {build_s:.3f}s, exec {exec_s:.3f}s, {n} compiles)"
            df = spec.spark(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            release_index(df)
            release_session_indexes()
        except Exception as exc:  # noqa: BLE001
            plan = f"# capture failed: {exc}"
            print(f"# {name}: {exc}", file=sys.stderr)
        path = os.path.join(out_dir, f"{spec.name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path}{timing}")


if __name__ == "__main__":
    main()
