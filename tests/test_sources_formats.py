"""CSV / JSON / Arrow-IPC readers (SURVEY §2.1 S13) and random row access
(S12 ``CdlFS.take``)."""

from __future__ import annotations

import json
import pathlib
import random

import pyarrow as pa
import pyarrow.ipc
import pytest

from connected_data_lake_spark.sources import formats

ROWS = [
    {"id": 1, "name": "alpha", "score": 0.5},
    {"id": 2, "name": "beta", "score": 1.25},
    {"id": 3, "name": "gamma", "score": -2.0},
]


def test_read_csv(spark, tmp_path):
    p = tmp_path / "t.csv"
    p.write_text("id,name,score\n" + "\n".join(f"{r['id']},{r['name']},{r['score']}" for r in ROWS))
    df = formats.read_csv(spark, str(p))
    got = {(r["id"], r["name"], r["score"]) for r in df.collect()}
    assert got == {(r["id"], r["name"], r["score"]) for r in ROWS}


def test_read_csv_explicit_schema(spark, tmp_path):
    p = tmp_path / "t.csv"
    p.write_text("id,name,score\n1,alpha,0.5\n")
    df = formats.read_csv(spark, str(p), schema="id INT, name STRING, score DOUBLE")
    assert [f.dataType.simpleString() for f in df.schema.fields] == ["int", "string", "double"]
    assert df.count() == 1


def test_read_json(spark, tmp_path):
    p = tmp_path / "t.jsonl"
    p.write_text("\n".join(json.dumps(r) for r in ROWS))
    df = formats.read_json(spark, str(p))
    got = {(r["id"], r["name"], r["score"]) for r in df.collect()}
    assert got == {(r["id"], r["name"], r["score"]) for r in ROWS}


@pytest.mark.parametrize("fmt", ["file", "stream"])
def test_read_arrow_ipc(spark, tmp_path, fmt):
    table = pa.table(
        {
            "id": pa.array([r["id"] for r in ROWS], pa.int64()),
            "name": pa.array([r["name"] for r in ROWS], pa.string()),
            "score": pa.array([r["score"] for r in ROWS], pa.float64()),
        }
    )
    # two files → two binaryFile rows → decode parallelism across tasks
    for i in range(2):
        p = tmp_path / f"part{i}.arrow"
        with p.open("wb") as f:
            writer = (
                pa.ipc.new_file(f, table.schema)
                if fmt == "file"
                else pa.ipc.new_stream(f, table.schema)
            )
            writer.write_table(table)
            writer.close()
    df = formats.read_arrow_ipc(spark, str(tmp_path))
    assert df.count() == 2 * len(ROWS)
    got = {(r["id"], r["name"], r["score"]) for r in df.collect()}
    assert got == {(r["id"], r["name"], r["score"]) for r in ROWS}


def test_read_arrow_ipc_empty_dir_raises(spark, tmp_path):
    (tmp_path / "empty").mkdir()
    with pytest.raises(Exception):
        formats.read_arrow_ipc(spark, str(tmp_path / "empty"))


def test_take_random_access(spark, tmp_path):
    from connected_data_lake_spark import Cdl

    src = tmp_path / "tree"
    src.mkdir()
    for i in range(5):
        pathlib.Path(src, f"f{i}.txt").write_bytes(f"payload-{i}".encode())
    fs = Cdl(spark=spark).open(f"local://{src}")
    fs.load()
    out = fs.take([0, 2, 4], columns=("name", "data")).collect()
    # canonical order is (parent, name, chunk_id) → f0, f2, f4
    assert [r["_rowid"] for r in out] == [0, 2, 4]
    assert [r["name"] for r in out] == ["f0.txt", "f2.txt", "f4.txt"]
    assert bytes(out[1]["data"]) == b"payload-2"

    # a chunked tree of 3 MB incompressible bytes: every ordinal resolves,
    # in canonical order
    big = tmp_path / "big"
    big.mkdir()
    for i in range(150):
        pathlib.Path(big, f"b{i:03d}.bin").write_bytes(random.Random(i).randbytes(20_000))
    fs = Cdl(spark=spark).open(f"local://{big}")
    fs.load(max_chunk_size=16 * 1024)
    n = fs.table().count()
    assert n == 300
    out = fs.take(list(range(n)), columns=("name", "chunk_id")).collect()
    assert [r["_rowid"] for r in out] == list(range(n))
    assert [(r["name"], r["chunk_id"]) for r in out] == [
        (f"b{i:03d}.bin", c) for i in range(150) for c in (0, 1)
    ]


def test_orc_round_trip_with_pushdown(spark, tmp_path):
    src = spark.createDataFrame(
        [(r["id"], r["name"], r["score"]) for r in ROWS], "id long, name string, score double"
    )
    dst = str(tmp_path / "t.orc")
    formats.write_orc(src, dst)
    df = formats.read_orc(spark, dst)
    got = {(r["id"], r["name"], r["score"]) for r in df.collect()}
    assert got == {(r["id"], r["name"], r["score"]) for r in ROWS}
    # filters reach the ORC scan (stripe-statistic skipping at scale)
    plan = (
        df.filter("id = 2")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [" in plan
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert pushed.strip(), "no filters pushed to the ORC scan"


def test_orc_write_modes(spark, tmp_path):
    src = spark.createDataFrame([(1, "a")], "id long, name string")
    dst = str(tmp_path / "m.orc")
    formats.write_orc(src, dst)
    with pytest.raises(Exception):
        formats.write_orc(src, dst)  # default mode errors on existing path
    formats.write_orc(src, dst, mode="overwrite")
    assert formats.read_orc(spark, dst).count() == 1
