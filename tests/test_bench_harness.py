"""Smoke bench.py's shared harness at sf0.001: ``setup`` then ``run_once``
on a plain query and on one that persists through an operator, which must
leave nothing cached beyond the pinned table registry."""

from __future__ import annotations

import pytest

from bench import run_once, setup
from connected_data_lake_spark.plans import spec_of
from connected_data_lake_spark.sources.tables import (
    PINNED_TABLES,
    load_table,
    stray_cache_ids,
    track_session_indexes,
)


@pytest.fixture(scope="module")
def harness(spark, sf_dir):
    try:
        yield setup(spark, sf_dir)
    finally:
        # leave the shared test session as a library caller sees it
        track_session_indexes(False)
        for name in PINNED_TABLES:
            load_table(spark, sf_dir, name).unpersist()


@pytest.mark.parametrize("name", ["q1_pricing_summary", "z_dedup_minhash_lsh"])
def test_run_once_times_and_releases(spark, sf_dir, harness, name):
    registry_ids = harness
    build_s, exec_s, ids = run_once(spark, spec_of(name), sf_dir, registry_ids)
    assert build_s > 0 and exec_s > 0
    assert ids == registry_ids  # no fallback re-pin was needed
    assert not stray_cache_ids(spark, ids)
