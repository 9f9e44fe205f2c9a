"""Expected outputs, computed without Spark.

The ELT check runs the registry's own DuckDB oracle over the generated
inputs; the CDC target is checked against ``inputs.ChangeLog.state``.
"""

from __future__ import annotations

import os


class OutputMismatch(Exception):
    """An op's output differs from the expected output."""


def _connect(input_dir: str, tables: tuple[str, ...]):
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in tables:
        path = os.path.join(input_dir, f"{t}.parquet")
        src = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    return con


def registry_oracle(name: str, input_dir: str, tables: tuple[str, ...]) -> list[tuple]:
    """Rows of the registry's DuckDB oracle for query ``name``."""
    from promptly_data_pipelines_spark import registry

    sql = (registry.all_oracles() | registry.local_only_oracles())[name]
    con = _connect(input_dir, tables)
    try:
        return con.execute(sql).fetchall()
    finally:
        con.close()


def rows(records, cols: tuple[str, ...]) -> list[tuple]:
    """Spark rows → sorted plain tuples in ``cols`` order (naive UTC
    datetimes compare equal to DuckDB's TIMESTAMP values)."""
    return sorted(tuple(r[c] for c in cols) for r in records)


def elt_counts(input_dir: str) -> dict[str, int]:
    con = _connect(input_dir, ("events", "customer"))
    try:
        live, users = con.execute(
            "SELECT count(*), count(DISTINCT user_id) FROM events WHERE event_id % 10 <> 0"
        ).fetchone()
        (cust,) = con.execute("SELECT count(*) FROM customer").fetchone()
    finally:
        con.close()
    return {"raw_events": live, "raw_user_nation": cust, "curated_activity": users}


def cdc_aggregate(state: dict[int, tuple[int, str, float, int]]) -> tuple[int, int, int, int]:
    """(rows, Σ key, Σ value cents, Σ ts ms) of the replayed table — the
    aggregate the consumer read computes."""
    return (
        len(state),
        sum(state),
        sum(round(v[2] * 100) for v in state.values()),
        sum(v[3] for v in state.values()),
    )


def cdc_rows(state: dict[int, tuple[int, str, float, int]]) -> list[tuple]:
    return sorted((k, u, e, v, t) for k, (u, e, v, t) in state.items())
