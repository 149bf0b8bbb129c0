"""Local mirror of the driver's correctness gate.

Runs every declared QuerySpec's Spark implementation AND its DuckDB oracle
SQL on the same parquet tables, then compares row count, column names, and
an order-insensitive canonicalized value hash. Used by tests and directly:

    python tools/oracle_check.py [--sf /root/testdata/sf0.001] [name ...]

Canonicalization (FIXTURES.md): columns sorted by name, floats rounded to
1e-6 and rendered fixed-point, timestamps/dates ISO-formatted, bytes hexed,
lists recursed, rows sorted lexicographically.
"""

from __future__ import annotations

import argparse
import hashlib
import math
import os
import sys
from dataclasses import dataclass

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _canon_value(v) -> str:
    import datetime

    import numpy as np

    if v is None:
        return "NULL"
    if isinstance(v, float) or isinstance(v, getattr(np, "floating", ())):
        f = float(v)
        if math.isnan(f):
            return "NaN"
        if math.isinf(f):
            return "Inf" if f > 0 else "-Inf"
        r = round(f, 6)
        if r == 0:
            r = 0.0  # normalize -0.0
        return f"{r:.6f}"
    if isinstance(v, (bool, getattr(np, "bool_", bool))):
        return "T" if v else "F"
    if isinstance(v, (int, getattr(np, "integer", int))):
        return str(int(v))
    if isinstance(v, (bytes, bytearray)):
        return "0x" + bytes(v).hex()
    if isinstance(v, datetime.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return "[" + ",".join(_canon_value(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon_value(v[k])}" for k in sorted(v)) + "}"
    # pandas NaT / NA
    s = str(v)
    if s in ("NaT", "<NA>"):
        return "NULL"
    return s


def canonicalize(df) -> tuple[int, list[str], str, list[str]]:
    """(row_count, sorted_columns, value_hash, sorted_row_strings)."""
    import pandas as pd

    cols = sorted(df.columns)
    df = df[cols]
    rows = []
    for tup in df.itertuples(index=False, name=None):
        rows.append("\x1f".join(_canon_value(v if not (isinstance(v, float) and pd.isna(v)) else None) for v in tup))
    rows.sort()
    digest = hashlib.sha256("\n".join(rows).encode()).hexdigest()
    return len(rows), cols, digest, rows


@dataclass
class CheckResult:
    name: str
    ok: bool
    detail: str = ""


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    # Spark's side is pinned to UTC (prepare_session); pin the oracle too so
    # TIMESTAMPTZ rendering can't diverge on a non-UTC host. Oracles are
    # also written TZ-independent where possible (naive make_timestamp).
    con.sql("SET TimeZone='UTC'")
    for t in TABLES:
        con.sql(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def check_spec(spark, con, spec, sf_dir: str, show_diff: int = 5) -> CheckResult:
    try:
        sdf = spec.spark(spark, sf_dir)
        spdf = sdf.toPandas()
    except Exception as e:  # noqa: BLE001
        return CheckResult(spec.name, False, f"SPARK ERROR: {type(e).__name__}: {str(e)[:500]}")
    if spec.oracle is None:
        return CheckResult(spec.name, True, f"rows-only: {len(spdf)} rows")
    try:
        odf = con.sql(spec.oracle).df()
    except Exception as e:  # noqa: BLE001
        return CheckResult(spec.name, False, f"ORACLE ERROR: {type(e).__name__}: {str(e)[:500]}")
    sn, scols, shash, srows = canonicalize(spdf)
    on, ocols, ohash, orows = canonicalize(odf)
    if scols != ocols:
        return CheckResult(spec.name, False, f"COLUMNS spark={scols} oracle={ocols}")
    if sn != on:
        return CheckResult(spec.name, False, f"ROWCOUNT spark={sn} oracle={on}")
    if shash != ohash:
        sset, oset = set(srows), set(orows)
        only_s = [r for r in srows if r not in oset][:show_diff]
        only_o = [r for r in orows if r not in sset][:show_diff]
        return CheckResult(
            spec.name,
            False,
            "HASH MISMATCH cols=" + str(scols) + "\n  spark-only: " + "\n              ".join(only_s) + "\n  oracle-only: " + "\n               ".join(only_o),
        )
    return CheckResult(spec.name, True, f"{sn} rows")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*", help="query names (default: all)")
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    args = ap.parse_args()

    from connected_data_lake_spark.plans import all_specs
    from connected_data_lake_spark.session import get_spark

    specs = all_specs()
    names = args.names or sorted(specs)
    spark = get_spark("oracle-check")
    con = duck_connection(args.sf)

    failures = 0
    for name in names:
        if name not in specs:
            print(f"?? {name}: unknown")
            failures += 1
            continue
        res = check_spec(spark, con, specs[name], args.sf)
        mark = "OK " if res.ok else "FAIL"
        print(f"{mark} {name}: {res.detail}")
        if not res.ok:
            failures += 1
    print(f"\n{len(names) - failures}/{len(names)} passed")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
