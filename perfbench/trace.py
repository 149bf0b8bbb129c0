"""Tracing for the traced run: in-memory spans, module-boundary wrappers
and the Spark event log.

Spans are recorded only from the benchmark's own files: the benchmark
either opens a span around a call it makes, or replaces a package function
with a wrapper that opens one (:meth:`Tracer.wrap_all`). Nothing in the package
is edited. A span is ``(name, start, end, parent, op)``; self time is its
duration minus the part its children cover.
"""

from __future__ import annotations

import importlib
import json
import os
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

PKG = "connected_data_lake_spark"

#: (module, attribute, span name) of every package function the traced run
#: wraps. Each is a boundary into one layer.
WRAPPED = (
    ("sources.rootfs", "write_table", "sources.rootfs.write_table"),
    ("sources.manifest", "publish_manifest", "sources.manifest.publish"),
    ("sources.manifest", "publish_rewrite", "sources.manifest.publish"),
    ("sources.zonemap", "collect_file_stats", "sources.zonemap.collect_file_stats"),
    ("sources.zonemap", "prune_files", "sources.zonemap.prune_files"),
    ("sources.maintenance", "_write_rewrite", "sources.maintenance.rewrite"),
    ("sources.delta", "read_delta", "sources.delta.replay"),
    ("sources.iceberg", "read_iceberg", "sources.iceberg.replay"),
    ("sources.hudi", "read_hudi", "sources.hudi.replay"),
    ("sources.hudi", "read_hudi_mor", "sources.hudi.replay"),
    ("sources.delta_write", "write_delta", "sources.delta_write.write"),
    ("sources.delta_write", "_try_commit", "sources.delta_write.commit"),
    ("sources.iceberg_write", "write_iceberg", "sources.iceberg_write.write"),
    ("streaming.lakesync", "sync_from_delta", "streaming.lakesync.tick"),
)

_PY_NODE_WORDS = ("Python", "Pandas", "InArrow")


class Tracer:
    """Span recorder plus the counters measured at the same boundaries."""

    def __init__(self) -> None:
        self.spans: list[tuple] = []
        self._stack: list[int] = []
        self.op: int | None = None
        self.counters: dict[str, float] = defaultdict(float)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append([name, time.perf_counter(), None, parent, self.op])
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx][2] = time.perf_counter()

    def inside(self, name: str) -> bool:
        return any(self.spans[i][0] == name for i in self._stack)

    def wrap_all(self) -> None:
        """Install a span wrapper on every :data:`WRAPPED` function, in its
        home module and in every loaded package module that imported it."""
        for mod_name, attr, span_name in WRAPPED:
            mod = importlib.import_module(f"{PKG}.{mod_name}")
            orig = getattr(mod, attr)
            wrapped = self._wrapper(orig, span_name, attr)
            for loaded in list(sys.modules.values()):
                if getattr(loaded, "__name__", "").startswith(PKG):
                    if getattr(loaded, attr, None) is orig:
                        setattr(loaded, attr, wrapped)
        from connected_data_lake_spark.sources.manifest import LocalFsStore

        orig_put = LocalFsStore.put_if_absent
        tracer = self

        def put_if_absent(store, key, data):
            ok = orig_put(store, key, data)
            tracer.counters["sources.manifest.put_attempts"] += 1
            tracer.counters["sources.manifest.put_conflicts"] += 0 if ok else 1
            return ok

        LocalFsStore.put_if_absent = put_if_absent

    def _wrapper(self, fn, span_name: str, attr: str):
        tracer = self

        def wrapped(*args, **kwargs):
            with tracer.span(span_name):
                out = fn(*args, **kwargs)
            tracer._count(attr, args, out)
            return out

        wrapped.__wrapped__ = fn
        return wrapped

    def _count(self, attr: str, args, out) -> None:
        c = self.counters
        if attr == "collect_file_stats":
            size = os.path.getsize(args[0])
            if self.inside("sources.maintenance.rewrite"):
                c["sources.maintenance.bytes_rewritten"] += size
            elif self.inside("sources.rootfs.write_table"):
                c["sources.rootfs.bytes_written"] += size
        elif attr == "prune_files":
            c["zonemap.files_seen"] += len(args[0])
            c["zonemap.files_kept"] += len(out)

    # -- summaries --------------------------------------------------------

    def self_times(self) -> dict[str, float]:
        """Total self time per span name (duration minus direct children)."""
        child = defaultdict(float)
        for _name, start, end, parent, _op in self.spans:
            if parent is not None and end is not None:
                child[parent] += end - start
        out: dict[str, float] = defaultdict(float)
        for i, (name, start, end, _parent, _op) in enumerate(self.spans):
            if end is not None:
                out[name] += (end - start) - child[i]
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(
                {
                    "spans": self.spans,
                    "self_s": self.self_times(),
                    "counters": dict(self.counters),
                },
                fh,
            )


def event_log_confs(log_dir: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": f"file://{log_dir}",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


#: SQL metrics of Python-evaluation nodes (PythonSQLMetrics) -> record key
_PY_METRICS = {"time to run Python workers": "python_s", "data sent to Python workers": "python_bytes"}


def _python_accumulators(plan: dict, out: dict[int, tuple[str, float]]) -> None:
    """Collect accumulator id -> (key, scale) of the Python-evaluation
    nodes' metrics in a SparkPlanInfo tree from the event log."""
    todo = [plan]
    while todo:
        node = todo.pop()
        if any(w in node.get("nodeName", "") for w in _PY_NODE_WORDS):
            for m in node.get("metrics", []):
                key = _PY_METRICS.get(m.get("name"))
                if key:
                    scale = {"nsTiming": 1e-9, "timing": 1e-3}.get(m.get("metricType"), 1.0)
                    out[m["accumulatorId"]] = (key, scale)
        todo.extend(node.get("children", []))


def task_metrics(log_dir: str) -> dict[str, dict[str, float]]:
    """Per job group, from the uncompressed event log in ``log_dir``: task
    run, CPU and GC seconds, shuffle bytes written, bytes spilled, and the
    seconds and bytes of Python evaluation (the SQL metrics of every
    Python-evaluation node in the plans that ran, AQE re-plans included)."""
    stage_group: dict[int, str] = {}
    py_acc: dict[int, tuple[str, float]] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for fname in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, fname), errors="replace") as fh:
            for line in fh:
                if '"sparkPlanInfo"' in line:
                    _python_accumulators(json.loads(line)["sparkPlanInfo"], py_acc)
                elif '"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for sid in ev.get("Stage IDs", []):
                        if group:
                            stage_group[sid] = group
                elif '"SparkListenerTaskEnd"' in line:
                    ev = json.loads(line)
                    group = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics") or {}
                    if group is None or not m:
                        continue
                    rec = out[group]
                    rec["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    rec["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    rec["jvm_gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    sw = m.get("Shuffle Write Metrics") or {}
                    rec["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    rec["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    rec["tasks"] += 1
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                        hit = py_acc.get(acc.get("ID"))
                        if hit and acc.get("Update") is not None:
                            rec[hit[0]] += float(acc["Update"]) * hit[1]
    return out
