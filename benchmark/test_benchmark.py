"""Tests of the benchmark's own generators and correctness gate.

Run from the repository root:

    python3 -m pytest benchmark/test_benchmark.py -q -p no:cacheprovider

No Spark session is started: outputs are produced by DuckDB from the same
inputs, so the gate is shown to pass a right result and to count a planted
wrong result, or an op that raises, as failed.
"""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import workloads as W  # noqa: E402
from oracle import EtlOracle, TS_FMT  # noqa: E402


@pytest.fixture(scope="module")
def raw(tmp_path_factory):
    return gen.write_raw_csvs(str(tmp_path_factory.mktemp("raw")), 7, 5_000)


@pytest.fixture(scope="module")
def dash(tmp_path_factory):
    d = W.DashboardSession(str(tmp_path_factory.mktemp("dash")), 7, n_orders=2_000)
    d.prepare()
    yield d
    d.close()


def test_raw_csvs_carry_every_dialect_quirk(raw):
    with open(raw["account"], "rb") as f:
        account = f.read().decode("utf-8")
    with open(raw["symbols"], "rb") as f:
        symbols = f.read()
    with open(raw["country"], "rb") as f:
        country = f.read()
    assert account.startswith("﻿IDTransaction;Date;TransactionType;Symbol;Unit;")
    assert symbols.startswith(b"\xef\xbb\xbfsymbol;company_name;")
    assert not country.startswith(b"\xef\xbb\xbf") and country.startswith(b'"name",')
    rows = [line.split(";") for line in account.splitlines()[1:]]
    assert len(rows) == 5_000 and all(len(r) == 6 and r[5] == "" for r in rows)
    assert len({r[0] for r in rows}) < len(rows)  # duplicated IDTransaction
    assert {r[2] for r in rows} == {"BUY", "SELL", "DIVIDENT"}
    listed = {line.split(";")[0] for line in symbols.decode("utf-8-sig").splitlines()[1:]}
    assert len(listed) == gen.N_SYMBOLS
    assert len({r[3] for r in rows} - listed) == gen.N_MISSING
    countries = {line.split(";")[4] for line in symbols.decode("utf-8-sig").splitlines()[1:]}
    assert {"Taiwan", "Turkey"} <= countries and len(countries) == gen.N_COUNTRIES


def test_same_seed_same_bytes(tmp_path):
    a = gen.write_raw_csvs(str(tmp_path / "a"), 3, 1_000)
    b = gen.write_raw_csvs(str(tmp_path / "b"), 3, 1_000)
    c = gen.write_raw_csvs(str(tmp_path / "c"), 4, 1_000)

    def read(p):
        with open(p, "rb") as f:
            return f.read()

    assert read(a["account"]) == read(b["account"])
    assert read(a["account"]) != read(c["account"])
    gen.write_star(str(tmp_path / "s1"), 3, 500)
    gen.write_star(str(tmp_path / "s2"), 3, 500)
    assert read(str(tmp_path / "s1/orders.parquet")) == read(str(tmp_path / "s2/orders.parquet"))


def _widget_op(dash, kind="top_groups"):
    op = W.Op("widget", kind, {"quarters": (2, 4), "statuses": ["F", "O"],
                               "key": "segment", "k": 3})
    want = dash.oracle.widget(kind, (2, 4), ["F", "O"], "segment", 3)
    return op, [tuple(int(v) if v.isdigit() else v for v in r) for r in want]


def _canned_op(dash, name="q1_top_segments"):
    res = dash.oracle.con.execute(W.REGISTRY[name].oracle)
    return W.Op("canned", name), [d[0] for d in res.description], res.fetchall()


def test_right_dashboard_results_pass(dash):
    op, rows = _widget_op(dash)
    op.result = (["segment", "n"], rows)
    canned, cols, crows = _canned_op(dash)
    canned.result = (list(reversed(cols)), [tuple(reversed(r)) for r in reversed(crows)])
    W.check_all(dash, [op, canned])
    assert op.ok and canned.ok, (op.error, canned.error)


def test_planted_wrong_dashboard_results_count_as_failed(dash):
    op, rows = _widget_op(dash)
    rows[0] = (rows[0][0], rows[0][1] + 1)
    op.result = (["segment", "n"], rows)
    swapped, srows = _widget_op(dash)
    swapped.result = (["segment", "n"], list(reversed(srows)))  # order matters
    canned, cols, crows = _canned_op(dash)
    canned.result = (cols, crows[:-1])
    ops = [op, swapped, canned]
    W.check_all(dash, ops)
    assert [o.ok for o in ops] == [False, False, False]
    assert all(o.error == "wrong result" for o in ops)


def _fake_warehouse(raw, out, *, drop_fact_row=False, skip_remap=False):
    """Write the tables ``EtlOracle.mismatches`` reads, computed by DuckDB."""
    con = duckdb.connect()
    con.execute(
        f"""CREATE TABLE a AS SELECT * FROM read_csv('{raw["account"]}', delim=';',
            header=true, columns={{'IDTransaction': 'BIGINT', 'Date': 'VARCHAR',
            'TransactionType': 'VARCHAR', 'Symbol': 'VARCHAR', 'Unit': 'BIGINT',
            '_trailing': 'VARCHAR'}})"""
    )
    con.execute(
        f"""CREATE TABLE s AS SELECT * FROM read_csv('{raw["symbols"]}', delim=';',
            header=true, columns={{'symbol': 'VARCHAR', 'company_name': 'VARCHAR',
            'sector': 'VARCHAR', 'industry': 'VARCHAR', 'country': 'VARCHAR'}})"""
    )
    remap = "country" if skip_remap else (
        "CASE country WHEN 'Taiwan' THEN 'Taiwan, Province of China' "
        "WHEN 'Turkey' THEN 'Türkiye' ELSE country END"
    )
    con.execute(
        f"""CREATE TABLE g AS SELECT
            'Q' || CAST(quarter(strptime(Date, '{TS_FMT}')) AS VARCHAR) AS quarter,
            {remap} AS country_name, TransactionType AS transaction_type
            FROM a JOIN s ON a.Symbol = s.symbol"""
    )
    tables = {
        "dim_time": "SELECT DISTINCT quarter FROM g",
        "dim_geography": "SELECT DISTINCT country FROM s",
        "dim_symbol": "SELECT symbol FROM s",
        "dim_transaction_type": """SELECT CAST(row_number() OVER (ORDER BY t) AS INT)
            AS transaction_type_id, t AS transaction_type
            FROM (SELECT DISTINCT transaction_type AS t FROM g)""",
        "fact_transactions": "SELECT 1 AS x FROM g" + (" LIMIT (SELECT count(*) - 1 FROM g)"
                                                       if drop_fact_row else ""),
    }
    for name, sql in tables.items():
        os.makedirs(f"{out}/{name}")
        con.execute(f"COPY ({sql}) TO '{out}/{name}/part-0.parquet' (FORMAT PARQUET)")
    con.execute(f"COPY g TO '{out}/gold' (FORMAT PARQUET, PARTITION_BY (quarter))")
    con.close()


def test_etl_gate_passes_right_output_and_counts_planted_wrong(raw, tmp_path):
    etl = W.EtlRefresh(str(tmp_path), 7)
    etl.oracle = EtlOracle(raw)
    try:
        assert etl.oracle.fact_rows < etl.oracle.account_rows  # missing symbols drop
        ops = []
        for i, plant in enumerate([{}, {"drop_fact_row": True}, {"skip_remap": True}]):
            out = str(tmp_path / f"out{i}")
            _fake_warehouse(raw, out, **plant)
            op = W.Op("refresh", "refresh")
            op.result = out
            ops.append(op)
        W.check_all(etl, ops)
        assert [o.ok for o in ops] == [True, False, False], [o.error for o in ops]
        assert not any(os.path.exists(str(tmp_path / f"out{i}")) for i in range(3))
    finally:
        etl.close()


class _Raising:
    """A workload whose every other op raises and whose outputs are right."""

    def ops(self):
        while True:
            yield W.Op("widget", "x")

    def execute(self, op, span):
        if op.id % 2:
            raise RuntimeError("planted failure")
        return None, "right"

    def keep(self, op, df, result):
        op.result = result

    def check(self, op):
        return op.result == "right"


def test_raising_ops_count_as_failed():
    ops = W.run_loop(_Raising(), 0, min_ops=4)
    W.check_all(_Raising(), ops)
    assert len(ops) == 4
    assert [o.ok for o in ops] == [True, False, True, False]
    assert ops[1].error == "RuntimeError: planted failure"
