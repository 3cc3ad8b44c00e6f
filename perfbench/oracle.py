"""Correctness gate: order-independent hashes of the engine's turns table
and of the DuckDB oracle over the generated events.

The hash is ``(row count, sum of DuckDB's 64-bit row hash)`` over the
columns of ``FINAL_STATE_SQL``, so both sides are hashed by the same
function after their values are brought to the same types.
"""

from __future__ import annotations

import duckdb
import pyarrow as pa

TURN_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
_HASH = "SELECT count(*), CAST(coalesce(sum(hash({c})::HUGEINT), 0) AS VARCHAR) FROM ({q})"


class GateError(RuntimeError):
    """The engine's output differs from its oracle."""


def _events_view(con, events_parquet: str, corrupt: bool) -> None:
    src = f"read_parquet('{events_parquet}')"
    if corrupt:
        # one turn of one surviving conversation gets a different text:
        # a correct engine output must now fail the gate
        con.execute(
            f"CREATE VIEW events AS SELECT * REPLACE ("
            f"CASE WHEN event_id = (SELECT min(event_id) FROM {src} "
            f"WHERE user_id % 10 != 7) THEN props || '!' ELSE props END AS props) "
            f"FROM {src}"
        )
    else:
        con.execute(f"CREATE VIEW events AS SELECT * FROM {src}")


def oracle_hashes(
    events_parquet: str, final_state_sql: str, keys: list[str], corrupt: bool = False
) -> tuple[tuple, dict]:
    """Hash of the whole final state, and of each lookup key's rows."""
    con = duckdb.connect()
    try:
        _events_view(con, events_parquet, corrupt)
        cols = ", ".join(TURN_COLS)
        whole = con.execute(_HASH.format(c=cols, q=final_state_sql)).fetchone()
        per_key = {}
        for k in keys:
            q = f"SELECT * FROM ({final_state_sql}) WHERE conv_id = '{k}'"
            per_key[k] = con.execute(_HASH.format(c=cols, q=q)).fetchone()
        return whole, per_key
    finally:
        con.close()


def arrow_hash(table: pa.Table) -> tuple:
    """Same hash over an Arrow table of the turns columns (Spark reads
    ``ts`` back as a UTC instant; the oracle's is the naive UTC value)."""
    table = table.select(TURN_COLS)
    ts = table.schema.field("ts")
    if pa.types.is_timestamp(ts.type) and ts.type.tz is not None:
        table = table.set_column(
            TURN_COLS.index("ts"), "ts", table["ts"].cast(pa.timestamp("us"))
        )
    con = duckdb.connect()
    try:
        con.register("t", table)
        return con.execute(_HASH.format(c=", ".join(TURN_COLS), q="SELECT * FROM t")).fetchone()
    finally:
        con.close()


def check(name: str, got: tuple, want: tuple) -> None:
    if tuple(got) != tuple(want):
        raise GateError(f"{name}: engine {tuple(got)} != oracle {tuple(want)}")
