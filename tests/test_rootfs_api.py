"""CdlFS public API round-trip: ingestion (S3), chunking (§1.1), canned
queries (P1-P5/O1), len UDF (U1), copy_to (S5/S6) byte-fidelity."""

from __future__ import annotations

import os
import pathlib

import pytest
from pyspark.sql import functions as F

from connected_data_lake_spark import Cdl


@pytest.fixture()
def tree(tmp_path):
    src = tmp_path / "src"
    (src / "sub").mkdir(parents=True)
    pathlib.Path(src, "empty.txt").write_bytes(b"")
    pathlib.Path(src, "small.txt").write_bytes(b"hello world")
    pathlib.Path(src, "sub", "big.bin").write_bytes(os.urandom(10_000))
    return src


def test_ingest_lists_all_files(spark, tree):
    fs = Cdl(spark=spark).open(f"local://{tree}")
    fs.load()
    names = {r["name"] for r in fs.read_dir_all().collect()}
    assert names == {"empty.txt", "small.txt", "big.bin"}


def test_chunking_one_row_per_chunk_metadata_on_head(spark, tree):
    fs = Cdl(spark=spark).open(f"local://{tree}")
    fs.load(max_chunk_size=4096)
    rows = fs.sql(
        "SELECT name, size, chunk_id, chunk_size FROM rootfs "
        "WHERE name = 'big.bin' ORDER BY chunk_id"
    ).collect()
    # 10000 bytes / 4096 → 3 chunks; size only on the head chunk (§1.1)
    assert [r["chunk_id"] for r in rows] == [0, 1, 2]
    assert rows[0]["size"] == 10_000
    assert [r["size"] for r in rows[1:]] == [None, None]
    assert sum(r["chunk_size"] for r in rows) == 10_000


def test_chunked_load_writes_rootfs_schema(spark, tree):
    from connected_data_lake_spark.sources.rootfs import ROOTFS_SCHEMA, write_table

    cdl = Cdl(spark=spark)
    fs = cdl.open(f"local://{tree}")
    fs.load(max_chunk_size=4096)
    typed = [(f.name, f.dataType) for f in fs.table().schema.fields]
    assert typed == [(f.name, f.dataType) for f in ROOTFS_SCHEMA.fields]
    extra = spark.createDataFrame(
        [("extra.txt", "/", None, None, None, 420, 3, 0, 0, 3, b"abc")], ROOTFS_SCHEMA
    )
    write_table(extra, fs.path.table_uri, mode="append")
    reopened = cdl.open(f"local://{tree}")
    assert reopened.table().count() == 6  # empty + small + 3 chunks of big + extra
    row = reopened.read_files("name = 'extra.txt'").collect()[0]
    assert (row["chunk_id"], bytes(row["data"])) == (0, b"abc")


def test_read_dir_drops_payload_and_non_head_chunks(spark, tree):
    fs = Cdl(spark=spark).open(f"local://{tree}")
    fs.load(max_chunk_size=4096)
    rows = fs.read_dir("sub").collect()
    assert [r["name"] for r in rows] == ["big.bin"]  # one row per FILE
    assert bytes(rows[0]["data"]) == b""  # P1 zero-byte literal


def test_len_udf_and_condition_splice(spark, tree):
    fs = Cdl(spark=spark).open(f"local://{tree}")
    fs.load()
    rows = fs.sql(
        "SELECT name, len(data) AS n FROM rootfs WHERE size IS NOT NULL ORDER BY name"
    ).collect()
    assert {(r["name"], r["n"]) for r in rows} == {
        ("empty.txt", 0),
        ("small.txt", 11),
        ("big.bin", 10_000),
    }
    assert fs.read_files("name LIKE '%.txt' AND size IS NOT NULL").count() == 2


@pytest.mark.parametrize("chunk", [0, 4096])
def test_copy_to_restores_bytes(spark, tree, tmp_path, chunk):
    dst = tmp_path / f"dst{chunk}"
    fs = Cdl(spark=spark).open(f"local://{tree}")
    fs.load(max_chunk_size=chunk)
    fs.copy_to(f"local://{dst}")
    for rel in ["empty.txt", "small.txt", "sub/big.bin"]:
        assert (
            pathlib.Path(dst, rel).read_bytes() == pathlib.Path(tree, rel).read_bytes()
        ), rel


def test_variadic_len_matches_reference_first_arg_semantics(spark, tree):
    """Reference len is Variadic(Binary) but its kernel reads only arg 0
    (len.rs:20-84) — multi-arg calls must work and equal the unary form."""
    fs = Cdl(spark=spark).open(f"local://{tree}")
    fs.load()
    rows = fs.sql(
        "SELECT name, len(data, data) AS n, len(data) AS n1 FROM rootfs "
        "WHERE name = 'small.txt'"
    ).collect()
    assert rows[0]["n"] == rows[0]["n1"] == 11


def test_rewrite_variadic_len_surgical():
    from connected_data_lake_spark.functions import rewrite_variadic_len as rw

    # untouched: unary call, other idents, string literals
    assert rw("SELECT len(data) FROM t") == "SELECT len(data) FROM t"
    assert rw("SELECT length(a, b) FROM t") == "SELECT length(a, b) FROM t"
    assert rw("SELECT 'len(a, b)' FROM t") == "SELECT 'len(a, b)' FROM t"
    assert rw("SELECT mylen(a, b) FROM t") == "SELECT mylen(a, b) FROM t"
    # rewritten: extra args dropped, nested parens/commas respected
    assert rw("SELECT len(a, b) FROM t") == "SELECT len(a) FROM t"
    assert rw("SELECT LEN(f(x, y), b, c)") == "SELECT len(f(x, y))"
    assert rw("SELECT len(concat(a, ','), b)") == "SELECT len(concat(a, ','))"
    # nested variadic call inside the kept argument is rewritten too
    assert rw("SELECT len(len(a, b), c)") == "SELECT len(len(a))"
    # opaque spans (ADVICE r9): backtick identifiers and comments survive
    assert rw("SELECT `len(a, b)` FROM t") == "SELECT `len(a, b)` FROM t"
    assert rw("SELECT `weird``len(a, b)` FROM t") == "SELECT `weird``len(a, b)` FROM t"
    assert rw("SELECT 1 -- len(x, y)\nFROM t") == "SELECT 1 -- len(x, y)\nFROM t"
    assert rw("SELECT /* len(x, y) */ 1") == "SELECT /* len(x, y) */ 1"
    assert rw("SELECT /* a /* len(x, y) */ b */ 1") == "SELECT /* a /* len(x, y) */ b */ 1"
    # ...while a REAL variadic call rewrites even with opaque spans inside
    assert rw("SELECT len(`a, weird`, b)") == "SELECT len(`a, weird`)"
    assert rw("SELECT len(a /* , fake */, b)") == "SELECT len(a /* , fake */)"
    assert rw("SELECT len(a, b) -- trailing len(c, d)\n") == "SELECT len(a) -- trailing len(c, d)\n"
    # unterminated spans consume the tail, never mangle it
    assert rw("SELECT 'len(a, b)") == "SELECT 'len(a, b)"
    assert rw("SELECT x -- len(a, b)") == "SELECT x -- len(a, b)"


def test_accessor_parity(spark, tree):
    fs = Cdl(spark=spark).open(f"local://{tree}")
    # local: global_path is the bare rel path, dataset_uri the bare rel dir
    assert fs.global_path == str(tree).lstrip("/")
    assert fs.dataset_uri == "rootfs"
    s3 = Cdl(
        spark=spark,
        s3_endpoint="http://localhost:9000",
        access_key="ak",
        secret_key="sk",
    ).open("s3://bucket/a/b")
    assert s3.global_path == "s3://bucket/a/b"
    assert s3.dataset_uri == "s3://bucket/rootfs"
    opts = s3.storage_options()
    assert opts["AWS_ENDPOINT_URL"] == "http://localhost:9000"
    assert opts["AWS_ACCESS_KEY_ID"] == "ak"
    assert opts["AWS_SECRET_ACCESS_KEY"] == "sk"
    assert opts["allow_http"] == "true" and opts["conditional_put"] == "etag"
    redacted = s3.storage_options(append_credentials=False)
    assert "AWS_ACCESS_KEY_ID" not in redacted


def test_rewrite_variadic_len_properties():
    """Property: the rewrite is a no-op on SQL without a variadic len
    call, never touches string literals, and is idempotent."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from connected_data_lake_spark.functions import rewrite_variadic_len as rw

    sql_atoms = st.sampled_from(
        ["SELECT", "name", "size", ",", "(", ")", "'len(a, b)'", "length(a, b)",
         "len(data)", "WHERE", "= 3", "AND", "octet_len(x, y)", " ",
         # opaque spans (ADVICE r9): a column literally named len(a, b),
         # line and block comments carrying fake variadic calls
         "`len(a, b)`", "/* len(a, b) */", "-- len(a, b)\n"]
    )

    @settings(max_examples=200, deadline=None)
    @given(st.lists(sql_atoms, min_size=1, max_size=12))
    def check(atoms):
        s = " ".join(atoms)
        out = rw(s)
        assert rw(out) == out  # idempotent
        if "len(data)" not in s:  # no variadic call constructible here
            # every atom is either len-free or already unary/quoted/suffixed
            assert out == s

    check()


# ---------------------------------------------------------------------------
# multi-dataset ("connected") sessions: two CdlFS instances must each
# keep serving THEIR OWN rows (r13 VERDICT: the shared `rootfs` alias
# silently served dataset B's rows from A's handle), and Cdl.sql joins
# across per-dataset views.
# ---------------------------------------------------------------------------


@pytest.fixture()
def two_trees(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    a.mkdir(), b.mkdir()
    pathlib.Path(a, "common.txt").write_bytes(b"aaaa")
    pathlib.Path(a, "only_a.txt").write_bytes(b"A" * 7)
    pathlib.Path(b, "common.txt").write_bytes(b"bbbbbbbb")
    pathlib.Path(b, "only_b.txt").write_bytes(b"B" * 3)
    return a, b


def test_two_instances_serve_their_own_rows(spark, two_trees):
    a, b = two_trees
    cdl = Cdl(spark=spark)
    fa = cdl.open(f"local://{a}")
    fa.load()
    fb = cdl.open(f"local://{b}")
    fb.load()  # B takes the shared `rootfs` alias
    # A's surfaces must STILL answer from A — interleaved with B's
    got_a = {(r["name"], r["size"]) for r in fa.sql(
        "SELECT name, size FROM rootfs WHERE size IS NOT NULL"
    ).collect()}
    assert got_a == {("common.txt", 4), ("only_a.txt", 7)}
    got_b = {(r["name"], r["size"]) for r in fb.sql(
        "SELECT name, size FROM rootfs WHERE size IS NOT NULL"
    ).collect()}
    assert got_b == {("common.txt", 8), ("only_b.txt", 3)}
    # every read surface binds per-instance, not per-alias
    assert {r["name"] for r in fa.read_dir_all().collect()} == {
        "common.txt", "only_a.txt",
    }
    assert fa.read_files("name = 'only_a.txt'").count() == 1
    assert fb.read_files("name = 'only_a.txt'").count() == 0
    assert fa.scan(filters=[("name", "=", "common.txt")]).first()["size"] == 4
    assert fb.scan(filters=[("name", "=", "common.txt")]).first()["size"] == 8
    take_a = fa.take([0, 1], columns=("name",)).collect()
    take_b = fb.take([0, 1], columns=("name",)).collect()
    assert {r["name"] for r in take_a} == {"common.txt", "only_a.txt"}
    assert {r["name"] for r in take_b} == {"common.txt", "only_b.txt"}


def test_copy_to_destination_does_not_hijack_source(spark, two_trees, tmp_path):
    a, _b = two_trees
    cdl = Cdl(spark=spark)
    fa = cdl.open(f"local://{a}")
    fa.load()
    dst = cdl.open(f"local://{tmp_path / 'dst'}")
    fa.copy_to(f"local://{tmp_path / 'dst'}")
    dst.load()
    # after the copy + destination load, the SOURCE still answers from A
    assert fa.sql("SELECT COUNT(*) AS n FROM rootfs").first()["n"] == 2
    assert {r["name"] for r in fa.read_dir_all().collect()} == {
        "common.txt", "only_a.txt",
    }


def test_cross_dataset_join_via_cdl_sql(spark, two_trees):
    a, b = two_trees
    cdl = Cdl(spark=spark)
    fa, fb = cdl.open_all(f"local://{a}", f"local://{b}")
    fa.load(), fb.load()
    assert fa.view_name != fb.view_name
    rows = cdl.sql(
        f"SELECT a.name, a.size AS size_a, b.size AS size_b "
        f"FROM {fa.view_name} a JOIN {fb.view_name} b ON a.name = b.name "
        f"WHERE a.size IS NOT NULL AND b.size IS NOT NULL"
    ).collect()
    assert [(r["name"], r["size_a"], r["size_b"]) for r in rows] == [
        ("common.txt", 4, 8)
    ]


def test_ordinal_index_invalidates_across_instances(spark, two_trees):
    a, _b = two_trees
    cdl = Cdl(spark=spark)
    f1 = cdl.open(f"local://{a}")
    f1.load()
    assert f1.take([0, 1], columns=("name",)).count() == 2  # warm the index
    f2 = cdl.open(f"local://{a}")  # same dataset, separate handle
    f2.delete("name = 'only_a.txt'")
    # f1's cached ordinal index predates f2's DML: must rebuild, not
    # serve the deleted row
    names = {r["name"] for r in f1.take([0, 1], columns=("name",)).collect()}
    assert names == {"common.txt"}


def test_property_every_surface_binds_per_instance(spark, tmp_path):
    """Randomized interleaving sweep (VERDICT r13 #8): N datasets with
    distinct contents, opened in one session; after EVERY registration
    order and an interleaved reload, each read surface (table / sql /
    read_dir_all / read_files / scan / take) answers from its OWN
    dataset — the per-URI view registry must be immune to any sequence
    of other instances taking the shared alias."""
    import random

    rng = random.Random(20260816)
    n = 4
    sizes = {}
    handles = []
    cdl = Cdl(spark=spark)
    for i in range(n):
        d = tmp_path / f"ds{i}"
        d.mkdir()
        size = 10 + 7 * i
        pathlib.Path(d, "marker.txt").write_bytes(bytes([65 + i]) * size)
        pathlib.Path(d, f"only_{i}.txt").write_bytes(b"x" * (i + 1))
        sizes[i] = size
        handles.append(cdl.open(f"local://{d}"))
    order = list(range(n))
    rng.shuffle(order)
    for i in order:
        handles[i].load()
    for _round in range(3):
        probe_order = list(range(n))
        rng.shuffle(probe_order)
        for i in probe_order:
            fs = handles[i]
            assert fs.sql(
                "SELECT size FROM rootfs WHERE name = 'marker.txt'"
            ).first()["size"] == sizes[i], f"sql bound wrong for ds{i}"
            assert fs.table().filter(
                F.col("name") == "marker.txt"
            ).first()["size"] == sizes[i]
            names = {r["name"] for r in fs.read_dir_all().collect()}
            assert names == {"marker.txt", f"only_{i}.txt"}
            assert fs.read_files(f"name = 'only_{i}.txt'").count() == 1
            assert (
                fs.scan(filters=[("name", "=", "marker.txt")]).first()["size"]
                == sizes[i]
            )
            got = {r["name"] for r in fs.take([0, 1], columns=("name",)).collect()}
            assert got == {"marker.txt", f"only_{i}.txt"}
        # interleave a mutation on a random OTHER handle: deleting its
        # unique file must not disturb anyone else's bindings
        j = rng.choice(range(n))
        victim = cdl.open(f"local://{tmp_path / f'ds{j}'}")
        victim.delete(f"name = 'only_{j}.txt'")
        assert handles[j].read_files("name LIKE 'only%'").count() == 0
        # restore for the next round (upsert through the same handle)
        restore = handles[j].table().filter(F.col("name") == "marker.txt").select(
            F.lit(f"only_{j}.txt").alias("name"), "parent", "atime", "ctime",
            "mtime", "mode",
            F.lit(j + 1).cast("long").alias("size"),
            F.col("chunk_id"), F.col("chunk_offset"),
            F.lit(j + 1).cast("long").alias("chunk_size"),
            F.lit(b"x" * (j + 1)).alias("data"),
        )
        handles[j].upsert(restore, ["name"])
