"""DuckDB twins that check every benchmark output outside the timed region.

- Widget ops: the same filter and aggregation over the generated star
  parquet files, compared row for row in output order.
- Canned ops: the entry's own ``REGISTRY[name].oracle`` SQL, compared by an
  order-insensitive value hash in the manner of tests/test_oracle_parity.py.
- ETL passes: fact rows equal account rows whose symbol is listed, and gold
  counts by (quarter, transaction_type, country_name) match the raw CSVs.
"""

from __future__ import annotations

import hashlib
import os

import duckdb

from gen import STAR_TABLES


def canon_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return repr(v)
    return str(v)


def value_hash(rows, columns) -> str:
    """Hash of a result that ignores row order and column order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    head = "|".join(columns[i] for i in order)
    body = sorted("|".join(canon_cell(r[i]) for i in order) for r in rows)
    return hashlib.sha256("\n".join([head, *body]).encode()).hexdigest()


def ordered_rows(rows) -> list[tuple[str, ...]]:
    return [tuple(canon_cell(v) for v in r) for r in rows]


class StarOracle:
    """Widget twin and canned-query oracle over the generated star tables."""

    def __init__(self, star_dir: str):
        self.con = duckdb.connect()
        for t in STAR_TABLES:
            path = os.path.join(star_dir, f"{t}.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        self.con.execute(
            """
            CREATE VIEW gold AS
            SELECT o_orderkey,
                   quarter(o_orderdate) AS qnum,
                   'Q' || CAST(quarter(o_orderdate) AS VARCHAR) AS quarter,
                   n_name AS nation_name, r_name AS region_name,
                   c_mktsegment AS segment, o_orderstatus AS status,
                   o_orderpriority AS priority
            FROM orders
            LEFT JOIN customer ON o_custkey = c_custkey
            LEFT JOIN nation ON c_nationkey = n_nationkey
            LEFT JOIN region ON n_regionkey = r_regionkey
            """
        )
        self._memo: dict[tuple, object] = {}

    def close(self) -> None:
        self.con.close()

    def widget(self, kind: str, quarters, statuses, key=None, k=None):
        """Expected rows of one ``Dashboard`` widget call, in output order."""
        memo_key = (kind, tuple(quarters), tuple(statuses or ()), key, k)
        if memo_key not in self._memo:
            where = f"qnum BETWEEN {quarters[0]} AND {quarters[1]}"
            if statuses is not None:
                where += " AND status IN (%s)" % ", ".join(f"'{s}'" for s in statuses)
            if kind == "kpis":
                sql = f"""SELECT count(*), count(*) FILTER (WHERE status = 'O'),
                              count(*) FILTER (WHERE status = 'F'),
                              count(DISTINCT segment)
                          FROM gold WHERE {where}"""
            elif kind == "quarter_matrix":
                sql = f"""SELECT quarter, status, count(*) AS n FROM gold
                          WHERE {where} GROUP BY quarter, status
                          ORDER BY quarter, status"""
            else:
                sql = f"""SELECT {key}, count(*) AS n FROM gold WHERE {where}
                          GROUP BY {key} ORDER BY n DESC, {key} ASC LIMIT {k}"""
            self._memo[memo_key] = ordered_rows(self.con.execute(sql).fetchall())
        return self._memo[memo_key]

    def canned(self, oracle_sql: str) -> str:
        if oracle_sql not in self._memo:
            res = self.con.execute(oracle_sql)
            cols = [d[0] for d in res.description]
            self._memo[oracle_sql] = value_hash(res.fetchall(), cols)
        return self._memo[oracle_sql]


TS_FMT = "%d/%m/%Y %H:%M:%S"


class EtlOracle:
    """Expected star and gold summaries, computed from the raw CSVs."""

    def __init__(self, paths: dict[str, str]):
        self.con = duckdb.connect()
        self.con.execute(
            f"""CREATE TABLE account AS SELECT * FROM read_csv('{paths["account"]}',
                delim=';', header=true, columns={{
                'IDTransaction': 'BIGINT', 'Date': 'VARCHAR',
                'TransactionType': 'VARCHAR', 'Symbol': 'VARCHAR',
                'Unit': 'BIGINT', '_trailing': 'VARCHAR'}})"""
        )
        self.con.execute(
            f"""CREATE TABLE symbols AS SELECT * FROM read_csv('{paths["symbols"]}',
                delim=';', header=true, columns={{
                'symbol': 'VARCHAR', 'company_name': 'VARCHAR',
                'sector': 'VARCHAR', 'industry': 'VARCHAR',
                'country': 'VARCHAR'}})"""
        )
        self.account_rows = self.con.execute("SELECT count(*) FROM account").fetchone()[0]
        self.fact_rows = self.con.execute(
            "SELECT count(*) FROM account WHERE Symbol IN (SELECT s.symbol FROM symbols s)"
        ).fetchone()[0]
        self.gold_counts = self.con.execute(
            f"""SELECT 'Q' || CAST(quarter(strptime(Date, '{TS_FMT}')) AS VARCHAR),
                       TransactionType,
                       CASE country WHEN 'Taiwan' THEN 'Taiwan, Province of China'
                                    WHEN 'Turkey' THEN 'Türkiye'
                                    ELSE country END AS country_name,
                       count(*)
                FROM account JOIN symbols ON account.Symbol = symbols.symbol
                GROUP BY ALL ORDER BY ALL"""
        ).fetchall()
        self.dim_rows = {
            "dim_time": 4,
            "dim_transaction_type": 3,
            "dim_symbol": self.con.execute("SELECT count(*) FROM symbols").fetchone()[0],
            "dim_geography": self.con.execute(
                "SELECT count(DISTINCT country) FROM symbols"
            ).fetchone()[0],
        }

    def close(self) -> None:
        self.con.close()

    def mismatches(self, out_dir: str) -> list[str]:
        """Names of the written tables that disagree with the raw inputs."""
        bad = []
        q = self.con.execute
        for name, n in self.dim_rows.items():
            got = q(f"SELECT count(*) FROM read_parquet('{out_dir}/{name}/*.parquet')")
            if got.fetchone()[0] != n:
                bad.append(name)
        types = q(
            f"""SELECT transaction_type_id, transaction_type FROM
                read_parquet('{out_dir}/dim_transaction_type/*.parquet') ORDER BY 1"""
        ).fetchall()
        if types != [(1, "BUY"), (2, "DIVIDENT"), (3, "SELL")]:
            bad.append("dim_transaction_type.ids")
        fact = q(f"SELECT count(*) FROM read_parquet('{out_dir}/fact_transactions/*.parquet')")
        if fact.fetchone()[0] != self.fact_rows:
            bad.append("fact_transactions")
        gold = q(
            f"""SELECT quarter, transaction_type, country_name, count(*)
                FROM read_parquet('{out_dir}/gold/*/*.parquet', hive_partitioning=true)
                GROUP BY ALL ORDER BY ALL"""
        ).fetchall()
        if gold != self.gold_counts:
            bad.append("gold")
        return bad
