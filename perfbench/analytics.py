"""The analyst client's inputs: a seeded ``events`` table and the DuckDB
oracle answers of the query tickets it sends.

``write_events`` writes the table with the column names, types and
value ranges of the repository's sf0.1 ``events`` fixture (100k rows,
1.5k users, 30 days). ``oracle_summaries`` runs each query's registered
DuckDB SQL over the same file and summarises the answer as (rows,
column names, per-column sums), which each served result is checked
against.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]


def write_events(sf_dir: str, seed: int, rows: int = 100_000,
                 users: int = 1_500) -> None:
    rng = np.random.default_rng([seed, 0xA7A])
    month_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, month_us, rows))
    table = pa.table({
        "event_id": pa.array(np.arange(rows), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, users, rows), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, rows)],
        "value": np.round(rng.exponential(60.0, rows), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, rows)],
    })
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(table, os.path.join(sf_dir, "events.parquet"))


def summarize(table: pa.Table) -> dict:
    """Rows, column names and per-column sums of numeric and boolean
    columns: enough to catch a wrong join, filter or aggregate without
    depending on row order."""
    sums = {}
    for name, col in zip(table.column_names, table.columns):
        if pa.types.is_integer(col.type) or pa.types.is_floating(col.type):
            sums[name] = float(np.nansum(col.to_numpy(zero_copy_only=False).astype(float)))
        elif pa.types.is_boolean(col.type):
            sums[name] = float(np.sum(col.to_numpy(zero_copy_only=False).astype(bool)))
    return {"rows": table.num_rows, "columns": sorted(table.column_names), "sums": sums}


def matches(got: dict, want: dict) -> bool:
    if got["rows"] != want["rows"] or got["columns"] != want["columns"]:
        return False
    if set(got["sums"]) != set(want["sums"]):
        return False
    return all(
        abs(got["sums"][k] - v) <= 1e-6 * max(1.0, abs(v)) for k, v in want["sums"].items()
    )


def oracle_summaries(sf_dir: str, oracles: dict[str, str]) -> dict[str, dict]:
    import duckdb

    con = duckdb.connect()
    try:
        path = os.path.join(sf_dir, "events.parquet").replace("'", "''")
        con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{path}')")
        return {q: summarize(con.execute(sql).fetch_arrow_table())
                for q, sql in oracles.items()}
    finally:
        con.close()
