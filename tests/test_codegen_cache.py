"""Whole-stage codegen class cache: a repeated plan compiles nothing.

Spark compiles each generated class once and keeps it in one JVM-wide
cache. ``get_spark`` sizes that cache above Spark's default of 100
entries; these tests count Janino compiles through ``CodegenMetrics``.
"""

from __future__ import annotations

import pathlib


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_session_reports_the_cache_size(spark):
    from connected_data_lake_spark.session import CODEGEN_CACHE_ENTRIES

    assert CODEGEN_CACHE_ENTRIES > 100
    got = spark.conf.get("spark.sql.codegen.cache.maxEntries")
    assert int(got) == CODEGEN_CACHE_ENTRIES


def test_repeated_plan_compiles_nothing_after_150_others(spark):
    def run(i: int) -> None:
        spark.range(10).selectExpr(f"id * {i} AS v").collect()

    run(0)
    for i in range(1, 151):
        run(i)
    before = _compiles(spark)
    run(0)
    # at Spark's 100-entry default the first plan's classes were evicted
    assert _compiles(spark) == before


def test_take_with_new_ordinals_compiles_nothing(spark, tmp_path):
    from connected_data_lake_spark import Cdl

    src = tmp_path / "tree"
    src.mkdir()
    for i in range(12):
        pathlib.Path(src, f"f{i:02d}.txt").write_bytes(f"payload-{i}".encode())
    fs = Cdl(spark=spark).open(f"local://{src}")
    fs.load()
    first = fs.take([0, 3, 5], columns=("name",)).collect()
    assert [r["name"] for r in first] == ["f00.txt", "f03.txt", "f05.txt"]
    before = _compiles(spark)
    second = fs.take([1, 7, 8, 11], columns=("name",)).collect()
    assert _compiles(spark) == before
    assert [r["_rowid"] for r in second] == [1, 7, 8, 11]
    assert [r["name"] for r in second] == ["f01.txt", "f07.txt", "f08.txt", "f11.txt"]
