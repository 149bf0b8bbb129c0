"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

All real logic lives in the ``connected_data_lake_spark`` package; this
module only adapts the registry (connected_data_lake_spark/plans) to the
driver's three-function contract.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from connected_data_lake_spark.plans import all_specs, spec_of  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    specs = all_specs()
    name = spec_of("q1_pricing_summary").name
    return specs[name].spark(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: spec.spark for name, spec in sorted(all_specs().items())}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL per query (omitted for non-SQL-expressible
    ops → driver records a weaker rows-only check)."""
    return {
        name: spec.oracle for name, spec in sorted(all_specs().items()) if spec.oracle is not None
    }
