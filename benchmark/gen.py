"""Seeded input generators for the benchmark workloads.

Two input families, both written under a directory the caller owns:

- ``write_star``: the four testdata-shaped tables the dashboard reads
  (``orders``, ``customer``, ``nation``, ``region``), with the same column
  names, types and value domains as the sf0.1 testdata tables.
- ``write_raw_csvs``: the reference's raw ETL inputs with every FIXTURES.md
  section A dialect quirk: UTF-8 BOM, ``;`` separator, trailing ``;`` on
  account rows, duplicated ``IDTransaction`` values, the ``DIVIDENT``
  spelling, symbols missing from ``symbols.csv``, and the ``Taiwan`` and
  ``Turkey`` countries that the ETL remaps.

The same seed always gives byte-identical files.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
N_NATIONS = 25
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
STAR_TABLES = ("orders", "customer", "nation", "region")

# FIXTURES.md A1: account rows per quarter (Q1 1109, Q2 605, Q3 290, Q4 277)
# and per type (SELL 1089, BUY 1082, DIVIDENT 110).
QUARTER_WEIGHTS = np.array([1109, 605, 290, 277]) / 2281
TX_TYPES = ["SELL", "BUY", "DIVIDENT"]
TX_WEIGHTS = np.array([1089, 1082, 110]) / 2281
N_SYMBOLS = 3194
N_TRADED = 129
N_MISSING = 18
N_COUNTRIES = 42
N_SECTORS = 11
N_INDUSTRIES = 143
N_ISO_COUNTRIES = 249


def write_star(out_dir: str, seed: int, n_orders: int = 150_000) -> None:
    """orders/customer/nation/region parquet files, sf0.1-shaped."""
    rng = np.random.default_rng(seed)
    n_cust = max(n_orders // 10, 100)
    os.makedirs(out_dir, exist_ok=True)
    region = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": REGIONS,
        }
    )
    nation = pa.table(
        {
            "n_nationkey": pa.array(np.arange(N_NATIONS), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(N_NATIONS)],
            "n_regionkey": pa.array(np.arange(N_NATIONS) % 5, pa.int32()),
        }
    )
    customer = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(
                rng.integers(0, N_NATIONS, n_cust), pa.int32()
            ),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    start = np.datetime64("1995-01-01", "D")
    n_days = (np.datetime64("2001-08-01", "D") - start).astype(np.int64) + 1
    dates = start + rng.integers(0, n_days, n_orders).astype("timedelta64[D]")
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
            "o_orderstatus": np.array(STATUSES)[rng.integers(0, 3, n_orders)],
            "o_totalprice": np.round(rng.uniform(850.0, 500000.0, n_orders), 2),
            "o_orderdate": pa.array(
                dates.astype("datetime64[us]"), pa.timestamp("us")
            ),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_orders)],
        }
    )
    for name, table in zip(STAR_TABLES, (orders, customer, nation, region)):
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _tickers(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` distinct upper-case tickers of 3 to 5 letters."""
    letters = np.array(list("ABCDEFGHIJKLMNOPQRSTUVWXYZ"))
    seen: set[str] = set()
    out: list[str] = []
    while len(out) < n:
        t = "".join(letters[rng.integers(0, 26, rng.integers(3, 6))])
        if t not in seen:
            seen.add(t)
            out.append(t)
    return out


def write_raw_csvs(out_dir: str, seed: int, n_rows: int) -> dict[str, str]:
    """account_statement.csv, symbols.csv and country.csv; returns paths."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    paths = {
        "account": os.path.join(out_dir, "account_statement.csv"),
        "symbols": os.path.join(out_dir, "symbols.csv"),
        "country": os.path.join(out_dir, "country.csv"),
    }
    tickers = _tickers(rng, N_SYMBOLS + N_MISSING)
    listed, missing = tickers[:N_SYMBOLS], tickers[N_SYMBOLS:]
    countries = ["Taiwan", "Turkey"] + [
        f"Country {i:02d}" for i in range(N_COUNTRIES - 2)
    ]
    # Every country, sector and industry value occurs at least once.
    country_idx = np.concatenate(
        [np.arange(N_COUNTRIES), rng.integers(0, N_COUNTRIES, N_SYMBOLS - N_COUNTRIES)]
    )
    industry_idx = np.concatenate(
        [
            np.arange(N_INDUSTRIES),
            rng.integers(0, N_INDUSTRIES, N_SYMBOLS - N_INDUSTRIES),
        ]
    )
    symbols = pd.DataFrame(
        {
            "symbol": listed,
            "company_name": [f"{t} Holdings Inc." for t in listed],
            "sector": [f"Sector {i % N_SECTORS:02d}" for i in industry_idx],
            "industry": [f"Industry {i:03d}" for i in industry_idx],
            "country": np.array(countries)[country_idx],
        }
    )
    symbols.to_csv(paths["symbols"], sep=";", index=False, encoding="utf-8-sig")

    # Traded symbols: N_TRADED listed plus the N_MISSING unlisted ones,
    # which carry about 9 % of rows as in the reference (212 of 2,281).
    traded = list(rng.choice(listed, N_TRADED, replace=False))
    sym_weights = np.concatenate(
        [
            np.full(N_TRADED, 0.907 / N_TRADED),
            np.full(N_MISSING, 0.093 / N_MISSING),
        ]
    )
    sym = np.array(traded + missing)[
        rng.choice(N_TRADED + N_MISSING, n_rows, p=sym_weights)
    ]
    quarter = rng.choice(4, n_rows, p=QUARTER_WEIGHTS)
    q_start = np.array([0, 91, 182, 274, 366])  # day of year, leap 2024
    q_len = q_start[1:] - q_start[:-1]
    day = q_start[quarter] + (rng.random(n_rows) * q_len[quarter]).astype(np.int64)
    second = rng.integers(0, 86400, n_rows)
    # 'dd/MM/yyyy HH:mm:ss' through lookup tables: strftime per row is slow.
    days = np.datetime64("2024-01-01") + np.arange(366)
    day_str = np.array(
        [f"{str(d)[8:10]}/{str(d)[5:7]}/2024 " for d in days], dtype=object
    )
    sec_str = np.array(
        [f"{s // 3600:02d}:{s // 60 % 60:02d}:{s % 60:02d}" for s in range(86400)],
        dtype=object,
    )
    account = pd.DataFrame(
        {
            # About half the ids repeat, as in the reference (1,145 of 2,281).
            "IDTransaction": rng.integers(1, n_rows // 2 + 2, n_rows),
            "Date": day_str[day] + sec_str[second],
            "TransactionType": np.array(TX_TYPES)[
                rng.choice(3, n_rows, p=TX_WEIGHTS)
            ],
            "Symbol": sym,
            "Unit": rng.integers(7, 1606, n_rows),
            "": "",
        }
    )
    account.to_csv(
        paths["account"],
        sep=";",
        index=False,
        encoding="utf-8-sig",
    )

    iso_names = ["Taiwan, Province of China", "Türkiye"] + countries[2:] + [
        f"Territory {i:03d}" for i in range(N_ISO_COUNTRIES - N_COUNTRIES)
    ]
    country = pd.DataFrame(
        {
            "name": iso_names,
            "alpha-2": [f"{i:02d}" for i in range(N_ISO_COUNTRIES)],
            "alpha-3": [f"{i:03d}" for i in range(N_ISO_COUNTRIES)],
            "country-code": [str(i) for i in range(N_ISO_COUNTRIES)],
            "iso_3166-2": [f"ISO 3166-2:{i:03d}" for i in range(N_ISO_COUNTRIES)],
            "region": "",
            "sub-region": "",
            "intermediate-region": "",
            "region-code": "",
            "sub-region-code": "",
            "intermediate-region-code": "",
        }
    )
    country.to_csv(paths["country"], index=False, quoting=1)
    return paths
