"""Benchmark of connected_data_lake_spark: one workload, one seed, one run.

    python3 perfbench/run.py --workload queries --seed 1 --seconds 10 --trace 0

Workloads (frozen lists in perfbench/membership.json):

- ``queries``: declared queries of the sql_olap group (JVM-only plans) and
  the py_udf group (plans that evaluate Python) over the pinned table
  registry: one representative per family stratum, weighted by the
  stratum's share of the 190 members (deck.py). Exercises Catalyst, AQE,
  shuffle and the Python workers; bypasses the lake storage layer.
- ``lake_rw``: CdlFS on a generated file tree (load with chunking, then a
  2:1 read/write stream with a Delta feed synced into the table and an
  Iceberg mirror, ending with copy_to) plus one declared lake query per
  format stratum. Reads come from disk, not the registry.

The inputs (ten tables at sf0.01, and the lake_rw file tree) are made
from ``--seed``. The run is one worker process in a private scratch
directory under ``.perfbench/`` that is removed afterwards; its ``TMPDIR``
and ``SPARK_LOCAL_DIRS`` point there, ``PYTHONPATH`` holds the checkout
root so Spark's Python workers import the package from any directory,
``SPARK_GRAFT_CPUS`` is the core count and ``SPARK_GRAFT_DRIVER_MEM`` stays
well below physical memory.

Output: one line per metric (name, value, unit), then, as the last line,
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics of a traced run
(``--trace 1``). The full record of the run (provenance, failed ops, set-up
reps, per-op job/stage counts) is kept in ``.perfbench/last-<workload>.json``.

Two options serve one-off runs, not the timed benchmark: ``--deck all``
runs every member of the workload instead of its frozen deck (and, for
``lake_rw``, loads the larger tree of ``lake.FULL_TREE``); deck.py derives
the decks from such runs. ``--data DIR`` reads the tables from DIR instead
of generating them, to check every member on fixed test tables.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import resource
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
PR_SET_CHILD_SUBREAPER = 36
ROOT = os.path.dirname(HERE)
#: the worker's time limit on a frozen deck (a run must end within 180 s)
LIMIT_S = 170.0
#: added per op of a --deck all run, for its set-ups, warm and timed passes
#: and its check
OP_BUDGET_S = 4.0

#: end-to-end metrics in the last line of an untraced run. A run times
#: 40-50 reads, too few for a tail percentile with ten samples beyond it;
#: a median over a few kind medians moves with which kinds meet at the
#: middle; peak RSS follows JVM heap growth, which varies 10-30% run to
#: run: read_p50_s, read_p90_s and peak_rss_mb are printed and recorded but
#: not gated.
E2E = ("setup_s", "throughput_ops_per_s", "read_gmean_s")
#: per-layer metrics in the last line of a traced run (the record keeps
#: more: spill bytes and manifest put conflicts, which read 0 here)
PER_LAYER = (
    "session.get_spark_s",
    "sources.tables.persist_tables_s",
    "plans.build_s",
    "plans.build_jobs",
    *(f"plans.exec_s.{f}" for f in (
        "agg", "datetime", "dedup", "events", "join", "scalar", "setop", "similarity", "text",
        "window", "lakeops",
    )),
    "spark.plan_s",
    "spark.exec_s",
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "spark.task_run_s",
    "spark.task_cpu_s",
    "spark.jvm_gc_s",
    "spark.shuffle_write_bytes",
    "spark.count_repeat_share",
    "python.eval_s",
    "python.bytes_sent",
    *(f"filesystem.{m}_s" for m in (
        "load", "read_dir", "read_files", "sql", "take", "upsert", "delete", "optimize", "copy_to",
    )),
    "filesystem.write_p50_s",
    "filesystem.write_p90_s",
    "filesystem.load_mb_per_s",
    "sources.rootfs.write_table_s",
    "sources.rootfs.bytes_written",
    "sources.rootfs.bytes_stored_per_user_byte",
    "sources.manifest.publish_s",
    "sources.manifest.put_attempts",
    "sources.zonemap.collect_file_stats_s",
    "sources.zonemap.files_kept_ratio",
    "sources.maintenance.rewrite_s",
    "sources.maintenance.files_rewritten",
    "sources.maintenance.bytes_rewritten",
    "sources.delta.replay_s",
    "sources.iceberg.replay_s",
    "sources.hudi.replay_s",
    "sources.delta_write.write_s",
    "sources.delta_write.commit_s",
    "sources.iceberg_write.write_s",
    "streaming.lakesync.tick_s",
    "streaming.lakesync.rows_synced",
    "trace.read_gmean_s",
)


def heap() -> str:
    """Spark driver heap: a third of physical memory, at most 6 GiB."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(6 * 1024, total // 3 // 2**20)}m"


def reap(pgid: int) -> None:
    """Kill what is left of the worker's process group and wait for every
    descendant (this process is their subreaper)."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    while True:
        try:
            os.waitpid(-1, 0)
        except ChildProcessError:
            return


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("queries", "lake_rw"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", default=None)
    ap.add_argument("--deck", default="frozen", choices=("frozen", "all"))
    args = ap.parse_args()
    t0 = time.time()

    for need in ("connected_data_lake_spark/plans/__init__.py", "tools/oracle_check.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}", file=sys.stderr)
            return 2

    base = os.path.join(ROOT, ".perfbench")
    scratch = os.path.join(base, f"run-{os.getpid()}")
    os.makedirs(scratch)
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(scratch, sub))
    env = dict(os.environ)
    env.update(
        TMPDIR=os.path.join(scratch, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(scratch, "local"),
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM=heap(),
        PYTHONHASHSEED="0",
    )
    env.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)
    out = os.path.join(scratch, "record.json")
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--scratch", scratch, "--out", out, "--t0", repr(t0),
        "--deck", args.deck,
    ]
    if args.data:
        cmd += ["--data", os.path.abspath(args.data)]
    # orphaned grandchildren (the JVM, Python workers) re-parent to us, so
    # every process the run starts is waited for and counted in RUSAGE_CHILDREN
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int, ctypes.c_ulong, ctypes.c_ulong, ctypes.c_ulong, ctypes.c_ulong]
    libc.prctl.restype = ctypes.c_int
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        print(f"perfbench: prctl failed (errno {ctypes.get_errno()})", file=sys.stderr)
        return 1
    proc = subprocess.Popen(cmd, cwd=scratch, env=env, stdout=sys.stderr, start_new_session=True)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    code = None
    try:
        code = proc.wait(timeout=time_limit(args))
    except subprocess.TimeoutExpired:
        pass
    finally:
        reap(proc.pid)
        if code != 0:
            shutil.rmtree(scratch, ignore_errors=True)
    record = None
    if code == 0 and os.path.isfile(out):
        with open(out) as fh:
            record = json.load(fh)
        trace = os.path.join(scratch, "trace.json")
        if os.path.isfile(trace):
            shutil.copyfile(trace, os.path.join(base, f"trace-{args.workload}.json"))
    shutil.rmtree(scratch, ignore_errors=True)
    if record is None:
        print(f"perfbench: worker failed (exit {code})", file=sys.stderr)
        return 1

    peak = resource.getrusage(resource.RUSAGE_CHILDREN).ru_maxrss / 1024.0
    record["e2e"]["peak_rss_mb"] = {"value": peak, "unit": "MB"}
    with open(os.path.join(base, f"last-{args.workload}.json"), "w") as fh:
        json.dump(record, fh, indent=1)

    for name, m in record["e2e"].items():
        print(f"{args.workload} {name} {m['value']:.6g} {m['unit']}")
    print(f"{args.workload} failed_ops {record['failed_ops']}")
    if args.trace:
        for name, value in record["layers"].items():
            print(f"{args.workload} {name} {value:.6g} {unit_of(name)}")
        metrics = {k: {"value": record["layers"][k], "unit": unit_of(k)} for k in PER_LAYER}
    else:
        metrics = {k: record["e2e"][k] for k in E2E}
    print(json.dumps({
        "correct": record["correct"],
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": metrics,
    }))
    return 0


def time_limit(args) -> float:
    """LIMIT_S, plus OP_BUDGET_S per op of every pass and set-up of a
    --deck all run."""
    if args.deck == "frozen":
        return LIMIT_S
    sys.path.insert(0, ROOT)
    from perfbench import worker

    n_ops = len(worker.ops_of(args.workload, "all"))
    rounds = worker.SETUPS + worker.WARM_PASSES + worker.timed_passes(args.workload, args.seconds)
    return LIMIT_S + OP_BUDGET_S * n_ops * rounds


def unit_of(metric: str) -> str:
    leaf = metric.rsplit(".", 1)[-1]
    if leaf.endswith(("_ratio", "_share", "_per_user_byte")):
        return "ratio"
    if leaf.endswith("_mb_per_s"):
        return "MB/s"
    if leaf.startswith("bytes_") or leaf.endswith("_bytes"):
        return "bytes"
    if leaf.endswith("_s") or ".exec_s." in metric:
        return "s"
    return "count"


if __name__ == "__main__":
    raise SystemExit(main())
