"""Correctness gate helpers: DuckDB over the run's parquet files, and the
order-insensitive row comparison of the repository's parity harness
(``tests/parity.py``)."""

from __future__ import annotations

import importlib.util
import os

import duckdb

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _parity():
    spec = importlib.util.spec_from_file_location(
        "perfbench_parity", os.path.join(_ROOT, "tests", "parity.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def duck_connection(data_dir: str) -> duckdb.DuckDBPyConnection:
    """One view per ``<table>.parquet`` file in ``data_dir``."""
    con = duckdb.connect()
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            path = os.path.join(data_dir, f)
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{path}')")
    return con


def compare_frames(df, con, oracle_sql: str, name: str) -> list[str]:
    """Mismatch descriptions (empty when ``df`` equals the oracle's rows).

    DECIMAL columns are compared as DOUBLE, the cast the registry applies
    at its checked boundary and the oracles mirror."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import DecimalType

    parity = _parity()
    df = df.select(
        *[
            F.col(f.name).cast("double").alias(f.name)
            if isinstance(f.dataType, DecimalType)
            else F.col(f.name)
            for f in df.schema.fields
        ]
    )
    cur = con.execute(oracle_sql)
    o_cols = [d[0] for d in cur.description]
    o_rows = cur.fetchall()
    s_cols = df.columns
    s_rows = [tuple(r) for r in df.collect()]
    if sorted(s_cols) != sorted(o_cols):
        return [f"{name}: columns {sorted(s_cols)} != oracle {sorted(o_cols)}"]
    s_tok = parity._rows_to_tokens(s_cols, s_rows)
    o_tok = parity._rows_to_tokens(o_cols, o_rows)
    if s_tok != o_tok:
        diff = len(set(s_tok) ^ set(o_tok))
        return [f"{name}: {len(s_tok)} rows vs oracle {len(o_tok)}, {diff} differ"]
    return []
