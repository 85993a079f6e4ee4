"""What one ETL refresh writes: plans.etl.run_etl + write_warehouse on
seeded FIXTURES.md section A dialect CSVs (BOM, ';' separator, DIVIDENT,
unlisted symbols, remapped countries), checked against the benchmark's
DuckDB EtlOracle, against the lazy frames, and against the session's cache
manager, which a refresh must leave as it found it."""

from __future__ import annotations

import dataclasses
import os
import sys
from collections import Counter

import pytest
from pyspark.sql import functions as F

from financial_transaction_data_warehouse_interactive_dashboard_spark.plans.etl import (
    run_etl,
    write_warehouse,
)

# benchmark/oracle.py imports its sibling gen.py as a top-level module.
sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "benchmark")
)
from gen import write_raw_csvs  # noqa: E402
from oracle import EtlOracle  # noqa: E402


def _refresh(spark, paths, out):
    write_warehouse(
        run_etl(spark, paths["account"], paths["symbols"], paths["country"]), out
    )


def _oracle_mismatches(paths, out):
    oracle = EtlOracle(paths)
    try:
        return oracle.mismatches(out)
    finally:
        oracle.close()


def _cache_is_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.fixture(scope="module")
def raw(tmp_path_factory):
    return write_raw_csvs(str(tmp_path_factory.mktemp("raw")), 7, 2_281)


@pytest.fixture
def no_caches(spark):
    """The session fixture is shared, and earlier tests may leave their
    own caches in it; start from an empty cache manager."""
    spark.catalog.clearCache()
    assert _cache_is_empty(spark)


def _rows(df):
    return Counter(tuple(r) for r in df.collect())


def test_refresh_writes_what_the_lazy_frames_compute(spark, raw, tmp_path):
    out = str(tmp_path / "wh")
    _refresh(spark, raw, out)

    assert _oracle_mismatches(raw, out) == []

    lazy = run_etl(spark, raw["account"], raw["symbols"], raw["country"])
    fact = spark.read.parquet(f"{out}/fact_transactions")
    gold = spark.read.parquet(f"{out}/gold").select(*lazy.gold.columns)
    assert fact.columns == lazy.fact_transactions.columns
    assert _rows(fact) == _rows(lazy.fact_transactions)
    assert _rows(gold) == _rows(lazy.gold)

    for dim, key in [
        ("dim_time", "time_id"),
        ("dim_geography", "geography_id"),
        ("dim_symbol", "symbol_id"),
        ("dim_transaction_type", "transaction_type_id"),
    ]:
        ids = spark.read.parquet(f"{out}/{dim}").select(key)
        assert fact.join(ids, key, "left_anti").count() == 0, dim


def test_refresh_releases_its_caches(spark, no_caches, tmp_path):
    """Spark matches caches by plan: a cache left behind by one refresh
    would serve the old rows to the next refresh of the same paths."""
    raw_dir = str(tmp_path / "raw")
    paths = write_raw_csvs(raw_dir, 7, 2_281)
    _refresh(spark, paths, str(tmp_path / "first"))
    assert _cache_is_empty(spark)
    assert _oracle_mismatches(paths, str(tmp_path / "first")) == []

    assert write_raw_csvs(raw_dir, 8, 2_281) == paths
    _refresh(spark, paths, str(tmp_path / "second"))
    assert _cache_is_empty(spark)
    assert _oracle_mismatches(paths, str(tmp_path / "second")) == []
    # The two seeds' outputs differ, so the check above can see stale rows.
    assert _oracle_mismatches(paths, str(tmp_path / "first")) != []


def test_refresh_failure_names_the_table_and_writes_the_rest(
    spark, raw, no_caches, tmp_path
):
    wh = run_etl(spark, raw["account"], raw["symbols"], raw["country"])
    broken = dataclasses.replace(
        wh,
        dim_time=wh.dim_time.withColumn(
            "quarter", F.raise_error(F.lit("planted dim_time failure")).cast("string")
        ),
    )
    out = str(tmp_path / "wh")
    with pytest.raises(RuntimeError) as info:
        write_warehouse(broken, out)

    assert str(info.value).startswith("1 of 6 table writes failed: dim_time: ")
    assert "planted dim_time failure" in str(info.value.__cause__)
    assert _cache_is_empty(spark)
    assert not os.path.exists(f"{out}/dim_time/_SUCCESS")
    for name in ("dim_geography", "dim_symbol", "dim_transaction_type",
                 "fact_transactions", "gold"):
        assert os.path.exists(f"{out}/{name}/_SUCCESS"), name
