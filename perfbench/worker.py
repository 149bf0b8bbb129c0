"""One benchmark run in one process: set-up, timed ops, untimed check.

Started by ``run.py`` with a private scratch directory as its working
directory, ``TMPDIR`` and ``SPARK_LOCAL_DIRS``. Writes its record as JSON to
``--out``; ``run.py`` prints the result.

The client is closed-loop: one caller, each call waits for the previous
one. Ops run in whole passes over the workload's deck, each pass in a
seeded order. A run times ``round(seconds / PASS_S[workload])`` passes
(at least one), so every run of a workload times the same ops whatever the
speed of the host; the window is as long as they take.

Latency metrics are built from each op kind's median over the timed passes
(its "kind median"), so one slow sample does not move them and a figure
does not jump between two kinds as a raw percentile over a mix of kinds
does. Each kind has a weight: in ``queries`` the number of members its
stratum stands for (see deck.py), in ``lake_rw`` its count per pass.
``throughput_ops_per_s`` is the total weight over the weighted sum of
kind medians, the rate of a closed-loop client running that mix;
``read_gmean_s`` is the weighted geometric mean of the read kind medians,
so every read kind moves it in proportion to its weight; ``read_p50_s``
and ``write_p50_s`` are weighted medians of the read (write) kind medians.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

import numpy as np  # noqa: E402

from perfbench import datagen, lake  # noqa: E402
from perfbench.trace import Tracer, event_log_confs, task_metrics  # noqa: E402

LAKE_TAGS = {"lakeops", "delta", "iceberg", "hudi"}
#: scale factor of the generated tables: at sf0.01 a declared query is
#: bound by per-stage overhead, as the suite is at sf0.1, and a run fits
#: its time budget
SF = 0.01
#: per-input set-ups per run; setup_s takes their median
SETUPS = 3
#: seconds of --seconds per timed pass: 10 s give four queries passes and
#: three lake_rw passes, so every kind median is taken over three samples
#: or more. A pass takes 4-8 s on a 4-core host, so the window is longer
#: than --seconds; a fourth lake_rw pass would not fit the run budget.
PASS_S = {"queries": 2.5, "lake_rw": 3.3}
#: untimed passes before timing: the first run of a query compiles its
#: generated code. Latency still drops 10-20% over the next pass, which the
#: kind medians absorb; a second warm pass would not fit the run budget.
WARM_PASSES = 1

#: offline index builders (plans.extensions) -> the declared queries that
#: read them; set-up builds those a run's ops need
INDEX_BUILDERS = {
    "_bucketed_order_tables": {"z_join_bucketed_colocated"},
    "_ivf_indexed": {"knn_ivf_topk", "knn_ivf_probe"},
    "_pq_indexed": {"knn_pq_probe", "knn_pq_topk"},
    "_sketch_indexed": {"knn_sketch_topk", "z_knn_sketch_probe"},
    "_gt_topk": {"knn_pq_probe", "knn_ivf_probe", "z_knn_sketch_probe"},
    "_dedup_corpus_index": {"z_dedup_incremental"},
    "_semdedup_clustered": {"curation_semdedup"},
}


def load_membership() -> dict:
    """``members``: the frozen partition of the 231 declared names into
    three groups (a lake-format or lakeops tag -> lake_rw; else an executed
    plan with a Python-evaluation node -> py_udf; else sql_olap).
    ``workloads``: per workload, the groups it covers, its strata and its
    ``deck``, one member per stratum (derived by deck.py from
    ``measured_s``, the per-member latencies of ``--deck all`` runs)."""
    with open(os.path.join(ROOT, "perfbench", "membership.json")) as fh:
        return json.load(fh)


def ops_of(workload: str, deck: str) -> list[str]:
    """The frozen deck of ``workload``, or every member of its groups."""
    membership = load_membership()
    spec = membership["workloads"][workload]
    if deck == "frozen":
        return spec["deck"]
    return [n for g in spec["groups"] for n in membership["members"][g]]


def timed_passes(workload: str, seconds: float) -> int:
    return max(1, round(seconds / PASS_S[workload]))


def deck_weights(workload: str) -> dict[str, int]:
    """Deck member -> number of workload members its stratum stands for."""
    strata = load_membership()["workloads"][workload]["strata"]
    return {row["deck"]: row["members"] for row in strata.values()}


def family(spec) -> str:
    return spec.tags[0] if spec.tags else "other"


def weighted_quantile(values: dict[str, float], weights: dict[str, float], q: float) -> float:
    """The value at which the cumulative weight of the sorted values first
    reaches the share ``q`` (the mean of two values on an exact tie)."""
    if not values:
        return 0.0
    order = sorted(values, key=lambda k: (values[k], k))
    total = sum(weights[k] for k in order)
    acc = 0.0
    for j, k in enumerate(order):
        acc += weights[k]
        if acc >= q * total:
            if acc == q * total and j + 1 < len(order):
                return (values[k] + values[order[j + 1]]) / 2
            return values[k]
    return values[order[-1]]


def quantile(values: list[float], q: int) -> float:
    """The q-th percentile (q in 1..99) by statistics.quantiles."""
    if len(values) < 2:
        return values[0] if values else 0.0
    return statistics.quantiles(values, n=100)[q - 1]


def mean(values) -> float:
    values = list(values)
    return sum(values) / len(values) if values else 0.0


def provenance(spark, args) -> dict:
    import duckdb
    import pyarrow
    import pyspark

    sha = "unknown"
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            sha = subprocess.run(
                ["git", "-C", ROOT, "rev-parse", "HEAD"],
                capture_output=True, text=True, timeout=10, check=True,
            ).stdout.strip()
        except (OSError, subprocess.SubprocessError):
            pass
    return {
        "commit": sha,
        "workload": args.workload,
        "seed": args.seed,
        "sf": SF if args.data is None else None,
        "data": args.data or "generated",
        "deck": args.deck,
        "cores": os.environ.get("SPARK_GRAFT_CPUS"),
        "heap": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
        "spark": spark.version,
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "duckdb": duckdb.__version__,
        "pyarrow": pyarrow.__version__,
        "trace": args.trace,
    }


def arrow_to_pandas(table):
    """The pandas frame ``DataFrame.toPandas`` would give for ``table``:
    session-zone (UTC) timestamps made naive, maps as dicts."""
    import pyarrow as pa

    cols = []
    for field, col in zip(table.schema, table.columns):
        if pa.types.is_timestamp(field.type) and field.type.tz is not None:
            col = col.cast(pa.timestamp(field.type.unit))
        cols.append(col)
    df = pa.table(cols, names=table.column_names).to_pandas()
    for field in table.schema:
        if pa.types.is_map(field.type):
            df[field.name] = df[field.name].map(lambda v: None if v is None else dict(v))
    return df


class Run:
    def __init__(self, args):
        self.args = args
        self.rng = np.random.default_rng(args.seed)
        self.tracer = Tracer() if args.trace else None
        self.scratch = os.path.abspath(args.scratch)
        self.ops: list[dict] = []
        self.results: dict[int, object] = {}
        self.expected: dict[int, object] = {}
        self.counts: dict[str, list[tuple[int, int]]] = {}
        self.setup_reps: list[dict] = []
        self.extra: dict = {}
        self.registry: set[int] = set()

    # -- helpers ------------------------------------------------------------

    def span(self, name):
        from contextlib import nullcontext

        return self.tracer.span(name) if self.tracer else nullcontext()

    def group(self, gid: str) -> None:
        if self.tracer:
            self.spark.sparkContext.setJobGroup(gid, gid)

    def group_counts(self, gid: str) -> tuple[int, int, int]:
        st = self.spark.sparkContext.statusTracker()
        jobs = list(st.getJobIdsForGroup(gid))
        stage_ids = [s for j in jobs if st.getJobInfo(j) for s in st.getJobInfo(j).stageIds]
        tasks = sum(st.getStageInfo(s).numTasks for s in stage_ids if st.getStageInfo(s))
        return len(jobs), len(stage_ids), tasks

    # -- set-up ---------------------------------------------------------------

    def fresh_dirs(self, rep: int) -> str:
        """A private copy of the inputs and a private temp dir for set-up
        ``rep``, so every package cache keyed by input path or temp dir
        misses and the rep redoes the whole set-up."""
        data = os.path.join(self.scratch, f"data{rep}")
        os.makedirs(data)
        for name in os.listdir(self.base_data):
            if name.endswith(".parquet"):
                src = os.path.join(self.base_data, name)
                try:
                    os.link(src, os.path.join(data, name))
                except OSError:
                    shutil.copyfile(src, os.path.join(data, name))
        tmp = os.path.join(self.scratch, f"tmp{rep}")
        os.makedirs(tmp)
        tempfile.tempdir = tmp
        return data

    def setup_data(self, rep: int) -> None:
        """Per-input set-up on a fresh copy: offline index builds, then the
        registry pin (queries) or the deck's lake fixtures
        (lake_rw, built by running each deck query once)."""
        from connected_data_lake_spark.operators.dedup import release_session_indexes
        from connected_data_lake_spark.plans import extensions as ext
        from connected_data_lake_spark.sources.tables import persist_tables

        spark = self.spark
        release_session_indexes()
        spark.catalog.clearCache()
        start = time.perf_counter()
        self.data = self.fresh_dirs(rep)
        rec = {"persist_tables_s": 0.0}
        names = set(self.deck)
        t = time.perf_counter()
        with self.span("plans.extensions.index_build"):
            for builder, users in INDEX_BUILDERS.items():
                if users & names:
                    getattr(ext, builder)(spark, self.data)
        rec["index_build_s"] = time.perf_counter() - t
        release_session_indexes()
        if self.args.workload == "lake_rw":
            for name in self.deck:
                df = self.specs[name].spark(spark, self.data)
                df.write.format("noop").mode("overwrite").save()
                self.release(df)
            self.registry = set()
        else:
            t = time.perf_counter()
            with self.span("sources.tables.persist_tables"):
                self.registry = persist_tables(spark, self.data)
            rec["persist_tables_s"] = time.perf_counter() - t
        rec["setup_s"] = time.perf_counter() - start
        self.setup_reps.append(rec)

    def warm_up(self) -> float:
        """Python workers, then (queries) untimed passes over the deck, so
        timed ops run on a warm JVM and warm Python workers."""
        from pyspark.sql import functions as F

        start = time.perf_counter()

        @F.pandas_udf("long")
        def _warm(s):
            return s

        self.spark.range(0, 1024).repartition(self.cpus).select(_warm("id")).write.format(
            "noop"
        ).mode("overwrite").save()
        if self.args.workload != "lake_rw":
            for _ in range(WARM_PASSES):
                for name in self.deck:
                    df = self.specs[name].spark(self.spark, self.data)
                    df.toArrow()
                    self.release(df)
        return time.perf_counter() - start

    def release(self, df) -> None:
        """Free what the op cached (outside the timed window, as bench.py
        does); re-pin the registry if the op left anything else cached."""
        from connected_data_lake_spark.operators.dedup import (
            release_index,
            release_session_indexes,
        )
        from connected_data_lake_spark.sources.tables import stray_cache_ids

        release_index(df)
        release_session_indexes()
        if self.registry and stray_cache_ids(self.spark, self.registry):
            self.recover()

    # -- ops ----------------------------------------------------------------

    def record(self, kind: str, category: str, seconds: float, **extra) -> dict:
        op = {"i": len(self.ops), "kind": kind, "cat": category, "s": seconds, **extra}
        self.ops.append(op)
        return op

    def run_query(self, name: str, timed: bool = True) -> None:
        """Timed: QuerySpec.spark + executedPlan() + collect as Arrow."""
        spec = self.specs[name]
        i = len(self.ops)
        if self.tracer:
            self.tracer.op = i
        try:
            with self.span(f"plans.{name}"):
                self.group(f"b{i}")
                t0 = time.perf_counter()
                df = spec.spark(self.spark, self.data)
                t1 = time.perf_counter()
                self.group(f"e{i}")
                df._jdf.queryExecution().executedPlan()
                t2 = time.perf_counter()
                table = df.toArrow()
                t3 = time.perf_counter()
        except Exception as exc:  # noqa: BLE001
            self.record(name, "read", 0.0, timed=timed, query=True,
                        error=f"{type(exc).__name__}: {exc}"[:400])
            self.recover()
            return
        op = self.record(
            name, "read", t3 - t0, timed=timed, query=True, build_s=t1 - t0, plan_s=t2 - t1,
            exec_s=t3 - t2, family=family(spec),
        )
        self.results[i] = table
        if self.tracer:
            op["build_jobs"] = self.group_counts(f"b{i}")[0]
            op["jobs"], op["stages"], op["tasks"] = self.group_counts(f"e{i}")
            self.counts.setdefault(name, []).append((op["jobs"], op["stages"]))
            self.tracer.op = None
        self.release(df)

    def recover(self) -> None:
        from connected_data_lake_spark.operators.dedup import release_session_indexes
        from connected_data_lake_spark.sources.tables import persist_tables

        release_session_indexes()
        if self.args.workload != "lake_rw":
            self.spark.catalog.clearCache()
            self.registry = persist_tables(self.spark, self.data)

    # -- the run ---------------------------------------------------------------

    def main(self) -> dict:
        args = self.args
        t_start = args.t0
        self.deck = ops_of(args.workload, args.deck)

        g0 = time.perf_counter()
        if args.data:
            self.base_data = os.path.abspath(args.data)
        else:
            self.base_data = os.path.join(self.scratch, "inputs")
            datagen.write(self.base_data, args.seed, SF)
        if args.workload == "lake_rw":
            self.tree_root = os.path.join(self.scratch, "tree")
            size = lake.TREE if args.deck == "frozen" else lake.FULL_TREE
            tree = lake.make_tree(self.tree_root, self.rng, **size)
        gen_s = time.perf_counter() - g0

        from connected_data_lake_spark.operators.dedup import track_session_indexes
        from connected_data_lake_spark.plans import all_specs
        from connected_data_lake_spark.session import default_parallelism, get_spark

        self.specs = all_specs()
        self.cpus = default_parallelism()
        # the JVM's own temp files (artifact dirs, native libs) stay in the
        # run's scratch dir too, and it writes no hsperfdata file to /tmp
        tmp = os.environ.get("TMPDIR", tempfile.gettempdir())
        confs = {"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"}
        if self.tracer:
            self.tracer.wrap_all()
            self.log_dir = os.path.join(self.scratch, "eventlog")
            os.makedirs(self.log_dir)
            confs.update(event_log_confs(self.log_dir))
        t = time.perf_counter()
        with self.span("session.get_spark"):
            self.spark = get_spark("perfbench", extra_confs=confs)
        session_s = time.perf_counter() - t
        self.spark.sparkContext.setLogLevel("ERROR")
        launch_s = time.time() - t_start - gen_s
        track_session_indexes(True)
        for rep in range(SETUPS):
            self.setup_data(rep)
        warm_s = self.warm_up()
        if args.workload == "lake_rw":
            stream = LakeStream(self, tree)
            window = stream.run(args.seconds)
            warm_s += stream.warm_s
        else:
            window = self.run_decks(args.seconds)
        # the per-input set-up is repeated on fresh copies and its median
        # taken; session launch and warm-up happen once
        setup_s = launch_s + statistics.median(r["setup_s"] for r in self.setup_reps) + warm_s
        self.warm_s = warm_s
        checks = self.check()
        return self.summarize(setup_s, session_s, launch_s, window, checks)

    def run_decks(self, seconds: float) -> float:
        start = time.perf_counter()
        for _ in range(timed_passes(self.args.workload, seconds)):
            for j in self.rng.permutation(len(self.deck)):
                self.run_query(self.deck[j])
        return time.perf_counter() - start

    # -- untimed output check -----------------------------------------------

    def check(self) -> dict:
        from tools.oracle_check import canonicalize, duck_connection

        failures: dict[int, str] = {}
        con = None
        oracle: dict[str, tuple] = {}
        verdicts: dict[str, list] = {}
        for op in self.ops:
            i = op["i"]
            if "error" in op:
                failures[i] = op["error"]
                continue
            if op.get("query"):
                name = op["kind"]
                sql = self.specs[name].oracle
                if sql is None:
                    continue
                if sql not in oracle:
                    con = con or duck_connection(self.data)
                    try:
                        oracle[sql] = canonicalize(con.sql(sql).df())
                    except Exception as exc:  # noqa: BLE001
                        oracle[sql] = exc
                want = oracle[sql]
                table = self.results[i]
                seen = verdicts.setdefault(name, [])
                verdict = next((v for t, v in seen if t.equals(table)), None)
                if verdict is None:
                    verdict = compare(canonicalize(arrow_to_pandas(table)), want)
                    seen.append((table, verdict))
                if verdict:
                    failures[i] = verdict
            elif i in self.expected:
                expect, out = self.expected[i]
                verdict = expect(out)
                if verdict:
                    failures[i] = verdict
        return failures

    # -- metrics ------------------------------------------------------------

    def summarize(self, setup_s, session_s, launch_s, window, failures) -> dict:
        timed = [op for op in self.ops if op.get("timed", True) and "error" not in op]
        reads = [op["s"] for op in timed if op["cat"] == "read"]
        writes = [op["s"] for op in timed if op["cat"] == "write"]
        samples: dict[str, list[float]] = {}
        for op in timed:
            samples.setdefault(op["kind"], []).append(op["s"])
        kind_median = {k: statistics.median(v) for k, v in samples.items()}
        cat = {op["kind"]: op["cat"] for op in timed}
        if self.args.workload == "queries" and self.args.deck == "frozen":
            weight = deck_weights("queries")
        else:
            weight = {k: len(v) for k, v in samples.items()}
        read_k = {k: m for k, m in kind_median.items() if cat[k] == "read"}
        write_k = {k: m for k, m in kind_median.items() if cat[k] == "write"}
        attempted = len(self.ops)
        e2e = {
            "setup_s": (setup_s, "s"),
            "throughput_ops_per_s": (
                sum(weight[k] for k in kind_median)
                / sum(weight[k] * m for k, m in kind_median.items()), "1/s"),
            "read_gmean_s": (
                math.exp(sum(weight[k] * math.log(m) for k, m in read_k.items())
                         / sum(weight[k] for k in read_k)), "s"),
            "read_p50_s": (weighted_quantile(read_k, weight, 0.5), "s"),
            "read_p90_s": (quantile(reads, 90), "s"),
            "failed_op_share": (len(failures) / attempted, "share"),
        }
        if self.args.workload == "lake_rw":
            e2e["write_p50_s"] = (weighted_quantile(write_k, weight, 0.5), "s")
            e2e["write_p90_s"] = (quantile(writes, 90), "s")
            e2e.update(self.extra.pop("lake_e2e"))
        record = {
            "correct": not failures,
            "attempted": attempted,
            "failed": len(failures),
            "e2e": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
            "failed_ops": sorted({self.ops[i]["kind"] for i in failures}),
            "failures": {str(i): str(v)[:600] for i, v in sorted(failures.items())},
            "samples": {"reads": len(reads), "writes": len(writes), "window_s": window,
                        "window_ops_per_s": len(timed) / window},
            "kind_median_s": kind_median,
            "kind_weight": {k: weight[k] for k in kind_median},
            "ops": [
                {k: v for k, v in op.items()
                 if k in ("kind", "cat", "s", "build_s", "plan_s", "exec_s", "query", "timed", "error")}
                for op in self.ops
            ],
            "setup": {
                "launch_s": launch_s, "reps": self.setup_reps, "session_s": session_s,
                "warm_s": self.warm_s,
            },
            "provenance": provenance(self.spark, self.args),
        }
        if self.tracer:
            record["layers"] = self.layers(session_s, writes, e2e["read_gmean_s"][0])
            record["counts"] = {
                n: {"jobs_stages": c, "repeats": len(set(c)) == 1} for n, c in self.counts.items()
            }
        return record

    def layers(self, session_s, writes, read_gmean_s) -> dict:
        tr = self.tracer
        span_s = {}
        for name, start, end, _parent, op in tr.spans:
            if op is not None and end is not None:
                span_s.setdefault(name, []).append(end - start)
        c = tr.counters
        q = [op for op in self.ops if op.get("query") and "error" not in op]
        tasks = task_metrics(self.log_dir)
        per_op = {}
        for op in self.ops:
            rec = {}
            for gid in (f"b{op['i']}", f"e{op['i']}", f"o{op['i']}"):
                for k, v in tasks.get(gid, {}).items():
                    rec[k] = rec.get(k, 0.0) + v
            per_op[op["i"]] = rec
        reps = self.setup_reps
        lay = {
            "session.get_spark_s": session_s,
            "sources.tables.persist_tables_s": statistics.median(r["persist_tables_s"] for r in reps),
            "plans.extensions.index_build_s": statistics.median(r["index_build_s"] for r in reps),
            "plans.build_s": mean(op["build_s"] for op in q),
            "plans.build_jobs": mean(op["build_jobs"] for op in q),
            "spark.plan_s": mean(op["plan_s"] for op in q),
            "spark.exec_s": mean(op["exec_s"] for op in q),
            "spark.jobs": mean(op["jobs"] for op in q),
            "spark.stages": mean(op["stages"] for op in q),
            "spark.tasks": mean(op["tasks"] for op in q),
        }
        for key in ("task_run_s", "task_cpu_s", "jvm_gc_s", "shuffle_write_bytes", "spill_bytes"):
            lay[f"spark.{key}"] = mean(per_op[op["i"]].get(key, 0.0) for op in self.ops)
        # every op, lake stream calls included: Python-node SQL metrics of
        # the plans that ran under the op's job groups
        lay["python.eval_s"] = mean(per_op[op["i"]].get("python_s", 0.0) for op in self.ops)
        lay["python.bytes_sent"] = mean(per_op[op["i"]].get("python_bytes", 0.0) for op in self.ops)
        for fam in FAMILIES:
            lay[f"plans.exec_s.{fam}"] = mean(op["exec_s"] for op in q if op["family"] == fam)
        for method in ("load", "read_dir", "read_files", "sql", "take", "upsert", "delete",
                       "optimize", "copy_to"):
            lay[f"filesystem.{method}_s"] = mean(span_s.get(f"filesystem.{method}", []))
        n_write = len(span_s.get("sources.rootfs.write_table", []))
        n_rewrite = len(span_s.get("sources.maintenance.rewrite", []))
        n_publish = len(span_s.get("sources.manifest.publish", []))
        maint = [op["files_rewritten"] for op in self.ops if "files_rewritten" in op]
        lay.update({
            "sources.rootfs.write_table_s": mean(span_s.get("sources.rootfs.write_table", [])),
            "sources.rootfs.bytes_written": c["sources.rootfs.bytes_written"] / max(n_write, 1),
            "sources.manifest.publish_s": mean(span_s.get("sources.manifest.publish", [])),
            "sources.manifest.put_attempts": c["sources.manifest.put_attempts"] / max(n_publish, 1),
            "sources.manifest.put_conflicts": c["sources.manifest.put_conflicts"],
            "sources.zonemap.collect_file_stats_s": mean(span_s.get("sources.zonemap.collect_file_stats", [])),
            "sources.zonemap.files_kept_ratio": c["zonemap.files_kept"] / max(c["zonemap.files_seen"], 1),
            "sources.maintenance.rewrite_s": mean(span_s.get("sources.maintenance.rewrite", [])),
            "sources.maintenance.files_rewritten": mean(maint),
            "sources.maintenance.bytes_rewritten": c["sources.maintenance.bytes_rewritten"] / max(n_rewrite, 1),
            "streaming.lakesync.tick_s": mean(span_s.get("streaming.lakesync.tick", [])),
            "streaming.lakesync.rows_synced": mean(op["rows_synced"] for op in self.ops if "rows_synced" in op),
        })
        for name in ("sources.delta.replay", "sources.iceberg.replay", "sources.hudi.replay",
                     "sources.delta_write.write", "sources.delta_write.commit",
                     "sources.iceberg_write.write"):
            lay[f"{name}_s"] = mean(span_s.get(name, []))
        lay["filesystem.write_p50_s"] = quantile(writes, 50) if writes else 0.0
        lay["filesystem.write_p90_s"] = quantile(writes, 90) if writes else 0.0
        lay["filesystem.load_mb_per_s"] = 0.0
        lay["sources.rootfs.bytes_stored_per_user_byte"] = 0.0
        lay.update(self.extra.get("lake_layers", {}))
        lay["trace.read_gmean_s"] = read_gmean_s
        repeat = [len(set(v)) == 1 for v in self.counts.values() if len(v) >= 2]
        lay["spark.count_repeat_share"] = mean(repeat) if repeat else 0.0
        tr.dump(os.path.join(self.scratch, "trace.json"))
        return lay


#: plans.exec_s.<family>: the first tag of every frozen-deck query
FAMILIES = ("agg", "datetime", "dedup", "events", "join", "scalar", "setop", "similarity", "text", "window", "lakeops")


def compare(got, want) -> str:
    """'' when the canonical forms agree, else what differs."""
    if isinstance(want, Exception):
        return f"ORACLE ERROR: {type(want).__name__}: {want}"[:400]
    gn, gcols, ghash, grows = got
    wn, wcols, whash, wrows = want
    if gcols != wcols:
        return f"COLUMNS got={gcols} want={wcols}"
    if gn != wn:
        return f"ROWCOUNT got={gn} want={wn}"
    if ghash != whash:
        wset, gset = set(wrows), set(grows)
        only_g = [r for r in grows if r not in wset][:3]
        only_w = [r for r in wrows if r not in gset][:3]
        return f"HASH MISMATCH got-only={only_g} want-only={only_w}"
    return ""


class LakeStream:
    """The lake_rw op stream over a CdlFS dataset (see perfbench/lake.py)."""

    def __init__(self, run: Run, tree: dict):
        from connected_data_lake_spark import Cdl

        self.bench = run
        self.spark = run.spark
        self.model = lake.Model(tree, run.rng)
        self.url = f"local://{run.tree_root}"
        self.cdl = Cdl(self.spark)
        self.fs = self.cdl.open(self.url)
        self.feed = os.path.join(run.scratch, "feed_delta")
        self.mirror = os.path.join(run.scratch, "mirror_iceberg")
        self.stages = 0
        self.timed = False
        self.warm_s = 0.0

    def op(self, kind: str, category: str, fn, expect=None, timed=None, **extra) -> None:
        """Time ``fn`` (the public call plus materializing its result),
        then record what the model says it must return."""
        run = self.bench
        i = len(run.ops)
        timed = self.timed if timed is None else timed
        if run.tracer:
            run.tracer.op = i
        try:
            run.group(f"o{i}")
            with run.span(f"filesystem.{kind}" if kind in FS_METHODS else f"lake.{kind}"):
                t0 = time.perf_counter()
                out = fn()
                dt = time.perf_counter() - t0
        except Exception as exc:  # noqa: BLE001
            run.record(kind, category, 0.0, timed=timed, error=f"{type(exc).__name__}: {exc}"[:400])
            return
        finally:
            if run.tracer:
                run.tracer.op = None
        op = run.record(kind, category, dt, timed=timed, **extra)
        if isinstance(out, dict) and ("files_rewritten" in out or "files_compacted" in out):
            op["files_rewritten"] = out.get("files_rewritten", out.get("files_compacted", 0))
        if expect is not None:
            run.expected[i] = (expect, out)

    def run(self, seconds: float) -> float:
        """Load, untimed warm-up passes, the timed passes, then copy_to.
        Returns the timed window."""
        run, m = self.bench, self.model
        self.op("load", "write", lambda: self.fs.load(max_chunk_size=lake.MAX_CHUNK), timed=False)
        user_mb = m.user_bytes() / 1e6
        load_s = run.ops[-1]["s"]
        reads = [k for k, n in lake.READS.items() for _ in range(n)]
        reads += [("query", name) for name in run.deck]
        writes = [k for k, n in lake.WRITES.items() for _ in range(n)]
        t = time.perf_counter()
        self.timed = False
        self.export_iceberg()
        self.delta_sync()
        for _ in range(WARM_PASSES):
            self.one_pass(reads, writes)
        self.warm_s = time.perf_counter() - t
        self.timed = True
        start = time.perf_counter()
        for _ in range(timed_passes(run.args.workload, seconds)):
            self.one_pass(reads, writes)
        window = time.perf_counter() - start
        self.timed = False
        self.copy_to()
        stored = lake.dir_bytes(os.path.join(run.tree_root, ".rootfs"))
        run.extra["lake_e2e"] = {
            "ingest_mb_per_s": (user_mb / load_s if load_s else 0.0, "MB/s"),
            "bytes_stored_per_user_byte": (stored / max(m.user_bytes(), 1), "ratio"),
        }
        run.extra["lake_layers"] = {
            "filesystem.load_mb_per_s": user_mb / load_s if load_s else 0.0,
            "sources.rootfs.bytes_stored_per_user_byte": stored / max(m.user_bytes(), 1),
        }
        return window

    def one_pass(self, reads: list, writes: list) -> None:
        """One pass: each write followed by an equal share of the reads,
        both lists in a seeded order. Every take then follows a commit, so
        it always rebuilds its ordinal index and no pass depends on op
        order."""
        rng = self.bench.rng
        reads = [reads[j] for j in rng.permutation(len(reads))]
        writes = [writes[j] for j in rng.permutation(len(writes))]
        cuts = [round(i * len(reads) / len(writes)) for i in range(len(writes) + 1)]
        for i, write in enumerate(writes):
            for kind in (write, *reads[cuts[i] : cuts[i + 1]]):
                if isinstance(kind, tuple):
                    self.bench.run_query(kind[1], timed=self.timed)
                else:
                    getattr(self, kind)()

    # -- reads --------------------------------------------------------------

    def read_dir(self):
        d = self.model.pick_dir()
        want = self.model.listing(d)
        self.op("read_dir", "read", lambda: self.fs.read_dir(d).toArrow(),
                lambda t: _diff(lake.listing_of(t), want))

    def read_files(self):
        d = self.model.pick_dir()
        want = self.model.digests(d)
        self.op("read_files", "read", lambda: self.fs.read_files(f"parent = '{d}'").toArrow(),
                lambda t: _diff(lake.digests_of(t), want))

    def sql(self):
        want = self.model.dir_totals()
        stmt = ("SELECT parent, count(*) AS n_chunks, sum(len(data)) AS bytes "
                "FROM rootfs GROUP BY parent")
        self.op("sql", "read", lambda: self.fs.sql(stmt).toArrow(),
                lambda t: _diff(lake.dir_totals_of(t), want))

    def take(self):
        rows = self.model.chunk_rows()
        idx = sorted({int(i) for i in self.model.rng.integers(0, len(rows), 8)})
        want = [(rows[i][0], rows[i][1], lake.sha(rows[i][2])) for i in idx]
        self.op("take", "read", lambda: self.fs.take(idx).toArrow(),
                lambda t: _diff(lake.take_of(t), want))

    def read_delta(self):
        from connected_data_lake_spark.sources.delta import read_delta

        want = self.model.digests(files=self.model.feed)
        self.op("read_delta", "read", lambda: read_delta(self.spark, self.feed).toArrow(),
                lambda t: _diff(lake.digests_of(t), want))

    def read_iceberg(self):
        from connected_data_lake_spark.sources.iceberg import read_iceberg

        want = self.model.digests(files=self.model.mirror)
        self.op("read_iceberg", "read", lambda: read_iceberg(self.spark, self.mirror).toArrow(),
                lambda t: _diff(lake.digests_of(t), want))

    # -- writes ---------------------------------------------------------------

    def _stage(self, files: dict) -> str:
        """Write a new subtree to a fresh staging dir (untimed: the user
        making files); the op then ingests it with the table's chunking."""
        self.stages += 1
        stage = os.path.join(self.bench.scratch, "stage", str(self.stages))
        for (parent, name), data in files.items():
            path = os.path.join(stage, parent.strip("/"), name)
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path, "wb") as fh:
                fh.write(data)
        return stage

    def _rows(self, files: dict):
        """Replacement rows typed like the live table (single-chunk files)."""
        schema = self.fs.table().schema
        rows = []
        for (parent, name), data in sorted(files.items()):
            rec = {"name": name, "parent": parent, "atime": lake.MTIME, "ctime": lake.MTIME,
                   "mtime": lake.MTIME, "mode": 0o644, "size": len(data), "chunk_id": 0,
                   "chunk_offset": 0, "chunk_size": len(data), "data": data}
            rows.append(tuple(rec[f.name] for f in schema.fields))
        return self.spark.createDataFrame(rows, schema)

    def _reopen(self):
        self.fs = self.cdl.open(self.url)

    def write_table(self):
        from connected_data_lake_spark.sources.rootfs import ingest_dir, write_table

        m = self.model
        m.batches += 1
        parent = f"/w{m.batches:03d}"
        files = m.new_files(parent, int(m.rng.integers(3, 9)))
        stage = self._stage(files)

        def call():
            rows = ingest_dir(self.spark, stage, max_chunk_size=lake.MAX_CHUNK)
            version = write_table(rows, self.fs.path.table_uri, mode="append")
            self._reopen()
            return version

        self.op("write_table", "write", call, _committed)
        m.files.update(files)
        m.touch(parent)

    def upsert(self):
        m = self.model
        d = m.pick_dir()
        small = sorted(k for k, b in m.files.items() if k[0] == d and len(b) <= lake.MAX_CHUNK)
        picked = [small[int(i)] for i in m.rng.permutation(len(small))[:3]]
        if not picked:
            picked = [(d, "u000.bin")]
        files = {k: m.rng.bytes(int(m.rng.integers(0, lake.MAX_CHUNK + 1))) for k in picked}
        updates = self._rows(files)
        self.op("upsert", "write",
                lambda: self.fs.upsert(updates, ["parent", "name", "chunk_id"]), _committed)
        m.files.update(files)
        m.touch(d)

    def delete(self):
        m = self.model
        d = m.pick_dir()
        names = sorted(n for p, n in m.files if p == d)
        name = names[int(m.rng.integers(0, len(names)))]
        self.op("delete", "write",
                lambda: self.fs.delete([("parent", "=", d), ("name", "=", name)]), _committed)
        del m.files[(d, name)]
        m.touch(d)

    def optimize(self):
        self.op("optimize", "write", self.fs.optimize,
                lambda out: "" if isinstance(out, dict) else repr(out))

    def delta_sync(self):
        """write_delta append of a new batch to the feed, then one
        sync_from_delta tick into the table."""
        from connected_data_lake_spark.sources.delta_write import write_delta
        from connected_data_lake_spark.sources.rootfs import ingest_dir
        from connected_data_lake_spark.streaming.lakesync import sync_from_delta

        m = self.model
        m.batches += 1
        parent = f"/feed/b{m.batches:03d}"
        files = m.new_files(parent, int(m.rng.integers(3, 9)))
        stage = self._stage(files)

        def call():
            rows = ingest_dir(self.spark, stage, max_chunk_size=lake.MAX_CHUNK)
            write_delta(rows, self.feed, mode="append")
            version, _src = sync_from_delta(self.spark, self.feed, self.fs.path.table_uri)
            self._reopen()
            return version

        self.op("delta_sync", "write", call, _committed, rows_synced=len(files))
        m.feed.update(files)
        m.files.update(files)
        m.touch(parent)

    def export_iceberg(self):
        """Iceberg mirror of the loaded table (what read_iceberg reads)."""
        self.op("export_iceberg", "write",
                lambda: self.fs.to_iceberg_table(self.mirror, mode="append"),
                lambda out: "" if isinstance(out, int) else repr(out))
        self.model.mirror = dict(self.model.files)

    def copy_to(self):
        dst = os.path.join(self.bench.scratch, "copy")
        want = self.model.digests()
        self.op("copy_to", "write", lambda: self.fs.copy_to(f"local://{dst}"),
                lambda _out: _diff(lake.tree_digests(dst), want), timed=False)


FS_METHODS = {"load", "read_dir", "read_files", "sql", "take", "upsert", "delete", "optimize",
              "copy_to"}


def _committed(out) -> str:
    version = out.get("version") if isinstance(out, dict) else out
    return "" if isinstance(version, int) else f"no commit: {out!r}"


def _diff(got, want) -> str:
    if got == want:
        return ""
    if isinstance(got, dict) and isinstance(want, dict):
        keys = sorted(set(got) ^ set(want))[:3] or sorted(k for k in got if got[k] != want.get(k))[:3]
        return f"differs at {keys} ({len(got)} got, {len(want)} want)"
    return f"got {str(got)[:200]} want {str(want)[:200]}"


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=("queries", "lake_rw"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--scratch", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--data", default=None)
    ap.add_argument("--deck", default="frozen", choices=("frozen", "all"))
    args = ap.parse_args()
    run = Run(args)
    try:
        record = run.main()
    finally:
        spark = getattr(run, "spark", None)
        if spark is not None:
            spark.stop()
    with open(args.out, "w") as fh:
        json.dump(record, fh)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
