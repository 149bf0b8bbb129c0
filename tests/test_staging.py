"""Staged parquet output → named lake files (sources/staging.py).

Every lake writer places its data files through this one module, so
these tests pin it for all three table writers at once: escaped and
null hive partition values read back unchanged, and a write that fails
mid-job leaves neither a staging directory nor a new commit. A source
scan keeps the staging decision inside the module."""

from __future__ import annotations

import ast
import os
import pathlib
import re

import pytest
from pyspark.sql import functions as F

from connected_data_lake_spark.sources.delta import read_delta
from connected_data_lake_spark.sources.delta_write import write_delta
from connected_data_lake_spark.sources.hudi import read_hudi, write_hudi
from connected_data_lake_spark.sources.iceberg import read_iceberg
from connected_data_lake_spark.sources.iceberg_write import write_iceberg
from connected_data_lake_spark.sources.staging import (
    stage_parquet,
    write_single_parquet,
)

ODD = "a/b c=d%"  # Spark escapes '/', '=' and '%' in the directory name

#: writer name → (write partitioned on p, read back, commit log dir)
WRITERS = {
    "delta": (
        lambda df, t: write_delta(df, t, partition_by=["p"]),
        read_delta,
        "_delta_log",
    ),
    "iceberg": (
        lambda df, t: write_iceberg(df, t, partition_by=["p"]),
        read_iceberg,
        "metadata",
    ),
    "hudi": (
        lambda df, t: write_hudi(df, t, record_key="k", partition_by=["p"]),
        read_hudi,
        ".hoodie",
    ),
}


def _df(spark, lo: int, hi: int):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 3 == 0, F.lit(None))
        .when(F.col("id") % 3 == 1, F.lit(ODD))
        .otherwise(F.lit("plain"))
        .alias("p"),
        (F.col("id") * 1.5).alias("v"),
    )


def _staging_dirs(root: str) -> list[str]:
    return [
        os.path.relpath(os.path.join(d, n), root)
        for d, dirs, _files in os.walk(root)
        for n in dirs
        if "staging" in n or "__cdl_part_" in n
    ]


@pytest.mark.parametrize("fmt", sorted(WRITERS))
def test_escaped_and_null_partition_values_roundtrip(spark, tmp_path, fmt):
    write, read, _log = WRITERS[fmt]
    tbl = str(tmp_path / fmt)
    write(_df(spark, 0, 30), tbl)
    got = sorted(
        (r["k"], r["p"]) for r in read(spark, tbl).select("k", "p").collect()
    )
    assert got == sorted((r["k"], r["p"]) for r in _df(spark, 0, 30).collect())
    assert {p for _k, p in got} == {None, ODD, "plain"}
    assert _staging_dirs(tbl) == []


@pytest.mark.parametrize("fmt", sorted(WRITERS))
def test_failed_write_leaves_no_staging_and_no_commit(spark, tmp_path, fmt):
    write, read, log = WRITERS[fmt]
    tbl = str(tmp_path / fmt)
    write(_df(spark, 0, 30), tbl)
    log_before = sorted(os.listdir(os.path.join(tbl, log)))
    boom = _df(spark, 30, 60).withColumn(
        "v",
        F.when(F.col("k") == 45, F.raise_error(F.lit("boom"))).otherwise(
            F.col("v")
        ),
    )
    with pytest.raises(Exception, match="boom"):
        write(boom, tbl)
    assert _staging_dirs(tbl) == []
    assert sorted(os.listdir(os.path.join(tbl, log))) == log_before
    assert read(spark, tbl).count() == 30


def test_stage_parquet_places_files_with_decoded_values(spark, tmp_path):
    root = str(tmp_path / "out")
    placed = stage_parquet(
        _df(spark, 0, 12).repartition(1),
        os.path.join(root, "_stage"),
        lambda i, d: os.path.join(root, d, f"f{i}.parquet"),
        ["p"],
    )
    by_dir = {d: (dest, vals) for dest, d, vals in placed}
    assert by_dir.keys() == {
        "p=__HIVE_DEFAULT_PARTITION__", "p=a%2Fb c%3Dd%25", "p=plain"
    }
    assert by_dir["p=__HIVE_DEFAULT_PARTITION__"][1] == {"p": None}
    assert by_dir["p=a%2Fb c%3Dd%25"][1] == {"p": ODD}
    assert [os.path.basename(dest) for dest, _d, _v in placed] == [
        "f0.parquet", "f1.parquet", "f2.parquet"
    ]
    assert all(os.path.isfile(dest) for dest, _d, _v in placed)
    # Spark drops the partition column from the files unless asked
    assert "p" not in spark.read.parquet(placed[0][0]).columns
    assert not os.path.exists(os.path.join(root, "_stage"))


def test_stage_parquet_keeps_partition_columns_when_asked(spark, tmp_path):
    root = str(tmp_path / "out")
    placed = stage_parquet(
        _df(spark, 0, 12).repartition(1),
        os.path.join(root, "_stage"),
        lambda i, _d: os.path.join(root, f"f{i}.parquet"),
        ["p"],
        keep_partition_columns=True,
    )
    assert sorted(d for _dest, d, _v in placed) == [
        "p=__HIVE_DEFAULT_PARTITION__", "p=a%2Fb c%3Dd%25", "p=plain"
    ]
    for dest, _d, vals in placed:
        assert spark.read.parquet(dest).columns == ["k", "p", "v"]
        assert {r["p"] for r in spark.read.parquet(dest).collect()} == {vals["p"]}


def test_write_single_parquet(spark, tmp_path):
    dest = str(tmp_path / "d" / "one.parquet")
    write_single_parquet(_df(spark, 0, 20).repartition(4), dest)
    assert spark.read.parquet(dest).count() == 20
    assert os.listdir(tmp_path / "d") == ["one.parquet"]
    with pytest.raises(Exception, match="boom"):
        write_single_parquet(
            spark.range(3).select(F.raise_error(F.lit("boom"))),
            str(tmp_path / "d" / "two.parquet"),
        )
    assert os.listdir(tmp_path / "d") == ["one.parquet"]


PKG = pathlib.Path(__file__).resolve().parent.parent / "connected_data_lake_spark"
#: Spark part-file globbing, and walks or listings of a staging directory
_STAGING_SRC = re.compile(
    r"glob\([^)]*part-|os\.(?:walk|listdir|scandir)\(\s*\w*stag"
)


def test_only_the_staging_module_decides_file_placement():
    """Part-file globbing, staging-directory walks and decoding of
    ``__HIVE_DEFAULT_PARTITION__`` appear in sources/staging.py only
    (the reader-side ``_hive_escape`` in sources/delta.py encodes it)."""
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        if rel == "sources/staging.py":
            continue
        src = path.read_text()
        offenders += [
            f"{rel}:{src.count(chr(10), 0, m.start()) + 1}"
            for m in _STAGING_SRC.finditer(src)
        ]
        tree = ast.parse(src)
        allowed: set[int] = set()
        for node in ast.walk(tree):
            if (
                rel == "sources/delta.py"
                and isinstance(node, ast.FunctionDef)
                and node.name == "_hive_escape"
            ):
                allowed |= {id(n) for n in ast.walk(node)}
        offenders += [
            f"{rel}:{node.lineno}"
            for node in ast.walk(tree)
            if isinstance(node, ast.Constant)
            and node.value == "__HIVE_DEFAULT_PARTITION__"
            and id(node) not in allowed
        ]
    assert offenders == []
