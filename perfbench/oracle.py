"""Output checks against DuckDB, made outside the timed region.

Query keys: the result's row count and an order-insensitive hash of
its normalized rows must equal those of ``REGISTRY[key].oracle`` run
in DuckDB over the same lake; keys without an oracle must return rows.
The normalization is the one ``tools/driver_sim.py`` uses: columns sorted
by name, every value tagged with its type, floats rounded to six
decimals.
"""

from __future__ import annotations

import hashlib
import math
import os

import duckdb

FLOAT_DECIMALS = 6


def _norm(v) -> str:
    if isinstance(v, bool):
        return f"b:{v}"
    if isinstance(v, float):
        return "f:NaN" if math.isnan(v) else f"f:{round(v, FLOAT_DECIMALS)}"
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, bytes):
        return f"x:{v.hex()}"
    if v is None:
        return "n:"
    return f"s:{v}"


def rows_digest(cols: list[str], rows) -> tuple[int, str]:
    """(row count, hash) of a result, independent of row and column order."""
    cols = [c.lower() for c in cols]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    normed = sorted(
        "\x1f".join(_norm(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256("\x1e".join(sorted(cols[i] for i in order)).encode())
    for line in normed:
        h.update(line.encode())
        h.update(b"\x1e")
    return len(normed), h.hexdigest()


class Oracle:
    """A DuckDB connection with every lake table registered as a view."""

    def __init__(self, lake_dir: str, tables):
        self.con = duckdb.connect(config={
            "autoinstall_known_extensions": False,
            "autoload_known_extensions": False,
            "threads": 1,
        })
        for t in tables:
            path = os.path.join(lake_dir, f"{t}.parquet")
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )

    def digest(self, sql: str) -> tuple[int, str]:
        cur = self.con.execute(sql)
        cols = [d[0] for d in cur.description]
        return rows_digest(cols, cur.fetchall())

    def close(self) -> None:
        self.con.close()


def check_query(oracle: Oracle, spec, cols, rows) -> str | None:
    """None when the Spark result matches, else a one-line reason."""
    got = rows_digest(cols, rows)
    if spec.oracle is None:
        return None if got[0] > 0 else "no rows (key has no oracle)"
    want = oracle.digest(spec.oracle)
    if got[0] != want[0]:
        return f"row count {got[0]} != oracle {want[0]}"
    if got[1] != want[1]:
        return "value hash differs from oracle"
    return None
