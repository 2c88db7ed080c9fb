"""Untimed output checks: registry results against their DuckDB oracle
twins, and medallion layer counts and gold marts against the inputs.

Comparison uses the exact, type-strict multiset comparator of
``tools/check_oracle.py`` (``canon`` / ``df_to_multiset``). Oracle
results are cached on disk, keyed by the SQL text and a fingerprint of
the input files, so a rerun on the same inputs does not pay DuckDB
again.
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import os
from collections import Counter

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ORACLE_CACHE = os.path.join(HERE, ".cache", "oracle")

# gold mart -> registry entry whose oracle SQL computes the same table
GOLD_TWINS = {
    "dim_customers": "dim_customers_rollup",
    "dim_parts": "dim_parts_rollup",
    "mart_region_performance": "region_performance",
    "mart_return_velocity": "return_velocity",
}
_PK = {
    "region": "r_regionkey", "nation": "n_nationkey", "customer": "c_custkey",
    "supplier": "s_suppkey", "part": "p_partkey", "orders": "o_orderkey",
}


def _load_check_oracle():
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "tools", "check_oracle.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


df_to_multiset = _load_check_oracle().df_to_multiset


def fingerprint(data_dir: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(data_dir)):
        h.update(name.encode())
        with open(os.path.join(data_dir, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


class Oracle:
    """DuckDB over the input parquet files, with an on-disk result cache."""

    def __init__(self, data_dir: str):
        self.data_dir = data_dir
        self.fp = fingerprint(data_dir)
        self._con = None

    def _connect(self):
        if self._con is None:
            self._con = duckdb.connect()
            for f in sorted(os.listdir(self.data_dir)):
                t = f.removesuffix(".parquet")
                self._con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(self.data_dir, f)}'"
                )
        return self._con

    def result(self, sql: str) -> tuple[list[str], Counter]:
        """(sorted column names, multiset of canonical rows) of ``sql``."""
        key = hashlib.sha256(f"{self.fp}\n{sql}".encode()).hexdigest()
        path = os.path.join(ORACLE_CACHE, f"{key}.json")
        if os.path.exists(path):
            with open(path) as f:
                cached = json.load(f)
            return cached["cols"], Counter(
                {tuple(row): n for row, n in cached["rows"]}
            )
        tbl = self._connect().execute(sql).fetch_arrow_table()
        cols = list(tbl.column_names)
        rows = [tuple(d[c] for c in cols) for d in tbl.to_pylist()]
        ms = df_to_multiset(cols, rows)
        os.makedirs(ORACLE_CACHE, exist_ok=True)
        tmp = f"{path}.tmp-{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump({"cols": sorted(cols), "rows": [[list(r), n] for r, n in ms.items()]}, f)
        os.replace(tmp, path)
        return sorted(cols), ms

    def scalar(self, sql: str):
        (row,) = self._connect().execute(sql).fetchall()
        return row[0]

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None


def compare(cols: list[str], rows, expected: tuple[list[str], Counter]) -> str | None:
    """None when ``rows`` equal the expected multiset, else the problem."""
    got = df_to_multiset(cols, [tuple(r) for r in rows])
    exp_cols, exp = expected
    if sorted(cols) != exp_cols:
        return f"columns {sorted(cols)} != {exp_cols}"
    if got != exp:
        return (
            f"{sum(got.values())} rows vs {sum(exp.values())}; "
            f"engine-only {list((got - exp).items())[:2]} "
            f"oracle-only {list((exp - got).items())[:2]}"
        )
    return None


def medallion_expected(oracle: Oracle) -> dict:
    """Layer counts the pipeline must report on these inputs: bronze keeps
    every raw row, silver one row per primary key (lineitem has none and
    keeps every row), and the fact table one row per lineitem."""
    raw = {t: int(oracle.scalar(f"SELECT count(*) FROM {t}")) for t in [*_PK, "lineitem"]}
    silver = {
        t: int(oracle.scalar(f"SELECT count(DISTINCT {pk}) FROM {t}"))
        for t, pk in _PK.items()
    }
    silver["lineitem"] = raw["lineitem"]
    return {"bronze": raw, "silver": silver, "fct_lineitem": raw["lineitem"]}


def medallion_counts_problem(result, expected: dict) -> str | None:
    if result.bronze_counts != expected["bronze"]:
        return f"bronze counts {result.bronze_counts} != {expected['bronze']}"
    if result.silver_counts != expected["silver"]:
        return f"silver counts {result.silver_counts} != {expected['silver']}"
    if result.gold_counts.get("fct_lineitem") != expected["fct_lineitem"]:
        return f"fct_lineitem rows {result.gold_counts.get('fct_lineitem')}"
    return None
