"""Pin bench.py's record contract: the one-line stdout record's keys and
protocol string, and the BENCH_SELF_summary.json keys, which every
committed draw and the bench comparisons across rounds read."""

from __future__ import annotations

from bench import bench_records

META = {"commit": None, "utc": "2026-01-01T00:00:00Z", "cpus": 4, "heap": "24g"}


def _records(duck_timings={"q1_pricing_summary": 0.5, "z_dedup_minhash_lsh": 1.0}):
    return bench_records(
        timings={"q1_pricing_summary": 1.2, "z_dedup_minhash_lsh": 2.0, "z_broken": -1.0},
        samples={
            "q1_pricing_summary": [(0.2, 1.0), (0.3, 0.9), (0.1, 1.3)],
            "z_dedup_minhash_lsh": [(0.5, 1.5), (0.4, 1.6), (0.6, 1.5)],
        },
        errors={"z_broken": "AnalysisException: boom"},
        duck_timings=duck_timings,
        cache_leaks={"z_dedup_minhash_lsh"},
        sf=0.1,
        n_runs=3,
        shuffle_partitions="32",
        meta=META,
    )


def test_stdout_record_keys_and_protocol():
    record = _records()["stdout"]
    assert set(record) == {
        "metric", "value", "unit", "queries", "sf", "n_queries",
        "protocol", "duck_control_total", "shuffle_partitions",
    }
    assert record["protocol"] == "median_of_3_after_1_warmup+control_trailing"
    assert record["metric"] == "declared_suite_total"
    assert record["value"] == 3.2  # errored queries (-1.0) are not summed
    assert record["n_queries"] == 3
    assert record["duck_control_total"] == 1.5


def test_summary_keys_unchanged():
    summary = _records()["summary"]
    assert set(summary) == {
        "suite_total_sec", "n_queries", "n_errors", "sf", "protocol",
        "duck_control_total_sec", "spark_over_duck", "shuffle_partitions",
        "per_family", "slowest_5",
    }
    assert summary["spark_over_duck"] == round(3.2 / 1.5, 3)
    assert summary["per_family"]["dedup"] == {"n": 1, "spark_sec": 2.0, "duck_sec": 1.0}


def test_self_and_draw_carry_split_and_provenance():
    out = _records()
    full, draw = out["self"], out["draw"]
    assert full["samples"]["q1_pricing_summary"] == [1.2, 1.2, 1.4]
    assert full["build_s"]["q1_pricing_summary"] == 0.2
    assert full["exec_s"]["z_dedup_minhash_lsh"] == 1.5
    assert full["cache_leaks"] == ["z_dedup_minhash_lsh"]
    assert {"commit", "utc", "cpus", "heap"} <= set(draw)
    assert draw["n_errors"] == 1 and draw["ratio"] == round(3.2 / 1.5, 3)


def test_skipped_control_drops_protocol_suffix():
    out = _records(duck_timings=None)
    assert out["stdout"]["protocol"] == "median_of_3_after_1_warmup"
    assert out["stdout"]["duck_control_total"] is None
    assert out["self"]["duck_control"] == {}
