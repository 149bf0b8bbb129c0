"""The build-once artifact helper behind every on-disk lake fixture and
offline index (``plans.extensions._built``), checked without Spark, and
the session's DataFrame-handle memo over one of its artifacts (the last
test, which uses the Spark fixture)."""

from __future__ import annotations

import os
import sys
import tempfile
import threading
import time

import pytest

from connected_data_lake_spark.plans.extensions import _built


@pytest.fixture
def sf_dir(tmp_path, monkeypatch):
    """A fake input dir with one source table, and a private temp dir."""
    data = tmp_path / "data"
    data.mkdir()
    (data / "orders.parquet").write_bytes(b"rows")
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp))
    return str(data)


def _writer(calls: list[str]):
    def build(path: str) -> None:
        calls.append(path)
        os.makedirs(path)
        with open(os.path.join(path, "part-0"), "w") as fh:
            fh.write("x")

    return build


def test_second_call_does_not_build(sf_dir):
    calls: list[str] = []
    path = _built("t", sf_dir, ("orders",), _writer(calls))
    assert _built("t", sf_dir, ("orders",), _writer(calls)) == path
    assert calls == [path]
    assert os.path.dirname(path) == tempfile.gettempdir()
    assert os.path.basename(path).startswith("cdl_t_")
    assert os.path.isfile(f"{path}.done")
    assert os.listdir(path) == ["part-0"]


def test_failed_build_leaves_no_marker_and_is_redone_from_empty(sf_dir):
    def failing(path: str) -> None:
        os.makedirs(path)
        with open(os.path.join(path, "stray"), "w") as fh:
            fh.write("partial")
        raise RuntimeError("crash mid-build")

    with pytest.raises(RuntimeError, match="crash mid-build"):
        _built("f", sf_dir, ("orders",), failing)
    (path,) = (
        os.path.join(tempfile.gettempdir(), n)
        for n in os.listdir(tempfile.gettempdir())
        if n.startswith("cdl_f_") and "." not in n
    )
    assert os.path.isfile(os.path.join(path, "stray"))
    assert not os.path.exists(f"{path}.done")

    seen: list[bool] = []

    def build(p: str) -> None:
        seen.append(os.path.exists(p))
        _writer([])(p)

    assert _built("f", sf_dir, ("orders",), build) == path
    assert seen == [False]
    assert os.listdir(path) == ["part-0"]
    assert os.path.isfile(f"{path}.done")


def test_racing_threads_build_once(sf_dir):
    calls: list[str] = []
    inner = _writer(calls)

    def slow(path: str) -> None:
        time.sleep(0.2)
        inner(path)

    n = 8
    got: list[str] = []
    start = threading.Barrier(n)

    def run() -> None:
        start.wait(timeout=10)
        got.append(_built("r", sf_dir, ("orders",), slow))

    threads = [threading.Thread(target=run) for _ in range(n)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert len(calls) == 1
    assert got == calls * n


def test_changed_source_builds_a_new_artifact(sf_dir, tmp_path, monkeypatch):
    calls: list[str] = []
    first = _built("c", sf_dir, ("orders",), _writer(calls))
    with open(os.path.join(sf_dir, "orders.parquet"), "ab") as fh:
        fh.write(b" more rows")
    # a new temp dir is a new memo key, so the token is recomputed
    tmp2 = tmp_path / "tmp2"
    tmp2.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp2))
    second = _built("c", sf_dir, ("orders",), _writer(calls))
    assert calls == [first, second]
    assert os.path.basename(first) != os.path.basename(second)


def test_handle_memo_reads_the_artifact_of_the_current_temp_dir(
    spark, tmp_path, monkeypatch
):
    """A memoized DataFrame handle over a built artifact follows the temp
    dir: after repointing ``tempfile.tempdir`` in the same session, the
    handle reads the artifact built under the new dir."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from connected_data_lake_spark.plans.extensions import _gt_topk

    data = tmp_path / "emb"
    data.mkdir()
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(20), pa.int64()),
                "embedding": pa.array(
                    [[float(i), 1.0, float(i % 3), 0.5] for i in range(20)],
                    pa.list_(pa.float32()),
                ),
                "label": pa.array([i % 2 for i in range(20)], pa.int32()),
            }
        ),
        data / "embeddings.parquet",
    )
    rows = []
    for name in ("a", "b"):
        tmp = tmp_path / name
        tmp.mkdir()
        monkeypatch.setattr(tempfile, "tempdir", str(tmp))
        gt = _gt_topk(spark, str(data))
        files = gt.inputFiles()
        assert files and all(str(tmp) in f for f in files)
        rows.append(sorted(tuple(r) for r in gt.collect()))
    assert rows[0] == rows[1]
