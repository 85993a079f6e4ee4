"""Reference ETL pipeline, Spark-first (SURVEY.md section 3.1).

Re-expresses etl.ipynb (raw CSVs -> star schema -> denormalized gold table)
as pure ``DataFrame -> DataFrame`` functions: every stage is a lazy lineage
that Catalyst plans as a whole (filter pushdown into the CSV scans, column
pruning, broadcast hash joins for every dim — zero shuffles except the tiny
dim-build windows).

One refresh evaluates each intermediate once. ``write_warehouse`` persists
the cleaned account, the country-mapped symbols and the four dims, then runs
the six table writes concurrently; the fact and the gold read those cached
frames instead of re-parsing the account CSV and re-running every dim
window. The caches are released when the writes return and when they raise.

Load-bearing reference semantics preserved on purpose (SURVEY.md section 1.4):
- transactions whose Symbol is absent from the symbols lookup are DROPPED
  (left_semi; etl.ipynb:16-29 does a driver-side set diff + ~isin);
- the misspelled 'DIVIDENT' type is kept as a first-class value;
- duplicate IDTransaction values are preserved (no dedup; 1,145 dupes);
- country remap {'Taiwan' -> 'Taiwan, Province of China',
  'Turkey' -> 'Türkiye'} with pass-through fallback (etl.ipynb:61-68);
- surrogate ids are row_number over the ascending natural key
  (etl.ipynb:51-52,78-81,86-87,91-95).

Scale notes: dims here are <= thousands of rows, so the single-partition
row_number window is correct and negligible; for huge dimensions use
operators.surrogate.dense_ids (two-phase offset assignment). The cached
intermediates use MEMORY_AND_DISK, so a refresh larger than executor memory
spills to local disk instead of failing. The gold table writer partitions by
quarter so downstream dashboard filters prune files.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import partial

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .. import schemas
from ..sources.csv import read_account_csv, read_plain_csv, read_semicolon_csv
from ..sources.inline import inline_table
from ..sources.warehouse import _write_tables

DATE_FMT = "dd/MM/yyyy HH:mm:ss"  # etl.ipynb:42 ('%d/%m/%Y %H:%M:%S')

# etl.ipynb:61-68,126-127 — the two symbols.csv country values absent from
# the ISO country list, remapped to their ISO names.
COUNTRY_REMAP = [
    ("Taiwan", "Taiwan, Province of China"),
    ("Turkey", "Türkiye"),
]


@dataclass
class Warehouse:
    """The star schema plus the denormalized gold table (all lazy), and
    the two cleaned inputs every table is derived from."""

    dim_time: DataFrame
    dim_geography: DataFrame
    dim_symbol: DataFrame
    dim_transaction_type: DataFrame
    fact_transactions: DataFrame
    gold: DataFrame
    account_clean: DataFrame
    symbols_mapped: DataFrame


def read_raw(
    spark: SparkSession, account_path: str, symbols_path: str, country_path: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """S1/S2 scans with explicit schemas (BOM + trailing-';' safe)."""
    account = read_account_csv(spark, account_path)
    symbols = read_semicolon_csv(spark, symbols_path, schemas.SYMBOLS)
    country = read_plain_csv(spark, country_path, schemas.COUNTRY)
    return account, symbols, country


def missing_symbol_report(account: DataFrame, symbols: DataFrame) -> DataFrame:
    """X1/J5: distinct transaction symbols absent from the lookup.

    Reference: etl.ipynb:17-19 (set(unique) - set(unique) on the driver).
    """
    return (
        account.select(F.col("Symbol").alias("symbol"))
        .distinct()
        .join(F.broadcast(symbols.select("symbol")), "symbol", "left_anti")
        .orderBy("symbol")
    )


def clean_account(account: DataFrame, symbols: DataFrame) -> DataFrame:
    """Drop transactions with unknown symbols; derive quarter label.

    Reference: etl.ipynb:16-29 (anti-filter) + :42-45 (timestamp parse and
    'Q'+quarter derivation). left_semi replaces the driver-side ~isin — the
    lookup broadcasts, so the fact table never shuffles.
    """
    lookup = symbols.select(F.col("symbol").alias("_lookup_sym"))
    return (
        account.join(
            F.broadcast(lookup),
            account["Symbol"] == F.col("_lookup_sym"),
            "left_semi",
        )
        # Spark resolves names case-insensitively by default, so account's
        # 'Symbol' and symbols' 'symbol' collide; normalize to lowercase
        # here and join USING-style downstream.
        .withColumnRenamed("Symbol", "symbol")
        .withColumn("_ts", F.to_timestamp("Date", DATE_FMT))
        .withColumn(
            "quarter", F.concat(F.lit("Q"), F.quarter("_ts").cast("string"))
        )
    )


def remap_country(symbols: DataFrame, spark: SparkSession) -> DataFrame:
    """J7: country-name remap with pass-through fallback.

    Reference: etl.ipynb:61-68 (map().fillna(original)). Broadcast join to
    the 2-row mapping + coalesce — same plan shape at any mapping size.
    """
    mapping = inline_table(spark, COUNTRY_REMAP, ["_old", "_new"])
    return (
        symbols.join(F.broadcast(mapping), symbols["country"] == F.col("_old"), "left")
        .withColumn("country_name", F.coalesce(F.col("_new"), F.col("country")))
        .drop("_old", "_new")
    )


def _with_ordinal_id(
    df: DataFrame, id_col: str, order_col: str, scale_safe: bool = False
) -> DataFrame:
    """W4: dense ordinal surrogate key by natural-key order (etl.ipynb:52).

    ``scale_safe=True`` assigns the same dense 1..n ids through
    operators.surrogate.dense_ids (two-phase partition-offset rank, no
    single-partition window) — for dimensions past a few million rows;
    equivalence-tested against the window path."""
    from ..operators.surrogate import resolve_scale_safe

    if resolve_scale_safe(df, scale_safe):
        from ..operators.surrogate import dense_ids

        cols = df.columns
        return dense_ids(df, order_col, id_col).select(
            F.col(id_col).cast("int").alias(id_col), *cols
        )
    w = Window.orderBy(order_col)
    return df.select(
        F.row_number().over(w).cast("int").alias(id_col), "*"
    )


def build_dims(
    account_clean: DataFrame,
    symbols_mapped: DataFrame,
    spark: SparkSession,
    scale_safe: bool = False,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """Dimension builds: distinct -> sort -> row_number (A6/O1/W4).

    Reference sites: dim_time etl.ipynb:40-55; dim_geography :58-81;
    dim_symbol :83-87; dim_transaction_type :89-95.
    """
    dim_time = _with_ordinal_id(
        account_clean.select("quarter").distinct(), "time_id", "quarter",
        scale_safe,
    )
    dim_geography = _with_ordinal_id(
        symbols_mapped.select("country_name").where(F.col("country_name").isNotNull()).distinct(),
        "geography_id",
        "country_name",
        scale_safe,
    )
    dim_symbol = _with_ordinal_id(
        symbols_mapped.select("symbol", "company_name", "sector", "industry"),
        "symbol_id",
        "symbol",
        scale_safe,
    )
    dim_transaction_type = _with_ordinal_id(
        account_clean.select(
            F.col("TransactionType").alias("transaction_type")
        ).distinct(),
        "transaction_type_id",
        "transaction_type",
        scale_safe,
    )
    return dim_time, dim_geography, dim_symbol, dim_transaction_type


def build_fact(
    account_clean: DataFrame,
    symbols_mapped: DataFrame,
    dim_time: DataFrame,
    dim_geography: DataFrame,
    dim_symbol: DataFrame,
    dim_transaction_type: DataFrame,
    keep_measures: bool = False,
) -> DataFrame:
    """J1/J2: resolve every natural key to its surrogate id via inner
    broadcast joins, then project + cast (P1/P3/P4, etl.ipynb:101-165).

    The physical plan is one fact scan through four BroadcastHashJoins —
    no shuffle at any scale, because dims broadcast.

    ``keep_measures=True`` retains the raw ``Unit`` quantity column
    (raw_file col 5) as the fact measure ``unit`` — the reference drops it
    at etl.ipynb:151, leaving a degenerate COUNT-only fact, but SURVEY
    section 1.2 commits to keeping it available: a measure-carrying fact
    is what makes SUM/AVG aggregation over the star possible at all.
    Default False preserves byte-parity with the reference's output.
    """
    sym_country = symbols_mapped.select("symbol", "country_name")
    measure_cols = (
        [F.col("Unit").cast("long").alias("unit")] if keep_measures else []
    )
    return (
        account_clean.join(F.broadcast(sym_country), "symbol")
        .join(F.broadcast(dim_time), "quarter")
        .join(F.broadcast(dim_geography), "country_name")
        .join(
            F.broadcast(dim_symbol.select("symbol_id", "symbol")), "symbol"
        )
        .join(
            F.broadcast(dim_transaction_type),
            account_clean["TransactionType"] == F.col("transaction_type"),
        )
        .select(
            F.col("IDTransaction").cast("long").alias("transaction_id"),
            F.col("time_id").cast("int").alias("time_id"),
            F.col("geography_id").cast("int").alias("geography_id"),
            F.col("symbol_id").cast("int").alias("symbol_id"),
            F.col("transaction_type_id").cast("int").alias("transaction_type_id"),
            *measure_cols,
        )
    )


def build_gold(
    fact: DataFrame,
    dim_time: DataFrame,
    dim_geography: DataFrame,
    dim_symbol: DataFrame,
    dim_transaction_type: DataFrame,
) -> DataFrame:
    """J3: denormalize the star back into the wide analysis table.

    Reference: etl.ipynb:174-192 -> transactions_merged.csv, the only table
    the dashboard reads (streamlit.py:40). Left joins: unmatched FKs keep
    the row with NULL attributes. If the fact carries the ``unit`` measure
    (build_fact(keep_measures=True)), it rides along into the gold table.
    """
    measure_cols = ["unit"] if "unit" in fact.columns else []
    return (
        fact.join(F.broadcast(dim_time), "time_id", "left")
        .join(F.broadcast(dim_geography), "geography_id", "left")
        .join(F.broadcast(dim_symbol), "symbol_id", "left")
        .join(F.broadcast(dim_transaction_type), "transaction_type_id", "left")
        .select(
            "quarter",
            "country_name",
            "symbol",
            "company_name",
            "sector",
            "industry",
            "transaction_type",
            *measure_cols,
        )
    )


def run_etl(
    spark: SparkSession,
    account_path: str,
    symbols_path: str,
    country_path: str,
    keep_measures: bool = False,
) -> Warehouse:
    """Full pipeline: raw CSVs -> star schema -> gold (all lazy).

    ``keep_measures=True`` carries the raw Unit quantity through fact and
    gold as the ``unit`` measure column (see build_fact); the default
    reproduces the reference's measureless star byte-for-byte."""
    account, symbols, _country = read_raw(
        spark, account_path, symbols_path, country_path
    )
    account_clean = clean_account(account, symbols)
    symbols_mapped = remap_country(symbols, spark)
    dt, dg, ds, dtt = build_dims(account_clean, symbols_mapped, spark)
    fact = build_fact(
        account_clean, symbols_mapped, dt, dg, ds, dtt, keep_measures=keep_measures
    )
    gold = build_gold(fact, dt, dg, ds, dtt)
    return Warehouse(dt, dg, ds, dtt, fact, gold, account_clean, symbols_mapped)


def write_warehouse(wh: Warehouse, out_dir: str) -> None:
    """S4 sinks: six parquet tables, gold partitioned by quarter so
    dashboard-style quarter filters prune whole partitions.

    Each intermediate is evaluated once per refresh: the cleaned inputs and
    the four dims are persisted (MEMORY_AND_DISK, so a large refresh spills
    instead of failing) before any write, and Spark's cache manager serves
    them to the fact and the gold, whose surrogate ids therefore come from
    the same dim evaluation that is written. The writes run concurrently,
    gold and fact first, as they take longest. Every write runs to the end;
    a failure raises one RuntimeError naming each failing table. The caches
    are released on return and on error: Spark matches caches by plan, so
    one left behind would serve stale rows to the next refresh of the same
    paths."""
    dims = [
        ("dim_time", wh.dim_time),
        ("dim_geography", wh.dim_geography),
        ("dim_symbol", wh.dim_symbol),
        ("dim_transaction_type", wh.dim_transaction_type),
    ]
    # Inputs first: a frame persisted later is planned over their caches.
    shared = [wh.account_clean, wh.symbols_mapped, *(df for _, df in dims)]
    try:
        for df in shared:
            df.persist(StorageLevel.MEMORY_AND_DISK)
        writers = [
            ("gold", wh.gold.write.partitionBy("quarter")),
            ("fact_transactions", wh.fact_transactions.write),
            *((name, df.write) for name, df in dims),
        ]
        _write_tables(
            [(name, partial(w.mode("overwrite").parquet, f"{out_dir}/{name}"))
             for name, w in writers]
        )
    finally:
        for df in shared:
            df.unpersist()
