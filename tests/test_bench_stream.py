"""Smoke the streaming soak harness (tools/bench_stream.py): the replay
builder, both legs' parity gates, and the artifact shape — so the
BENCH_STREAM.json generator can't rot between rounds."""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from tools import bench_stream as BS  # noqa: E402

SF = "/root/testdata/sf0.001"


def test_events_leg_parity_and_throughput(spark, tmp_path):
    root = str(tmp_path / "soak")
    os.makedirs(root)
    res = BS.run_events_leg(spark, SF, root, n_slices=2)
    assert res["parity_ok"], res
    assert res["rows"] == 1000
    assert res["micro_batches"] >= 3  # 2 slices + sentinel
    assert res["rows_per_sec"] > 0
    assert res["only_stream"] == 0 and res["only_batch"] == 0


def test_documents_leg_parity(spark, tmp_path):
    root = str(tmp_path / "soak_docs")
    os.makedirs(root)
    res = BS.run_documents_leg(spark, SF, root, n_slices=2)
    assert res["parity_ok"], res
    assert res["emitted_rows"] == res["rows"] > 0
