"""Result checks of the benchmark.

- ``Oracle``: each batch query against its DuckDB ``oracle_sql()`` twin,
  canonicalised by ``_canon`` of ``tools/full_oracle_check.py``, the
  engine's own oracle gate (columns ordered by name, rows sorted through
  pandas, floats compared bit-exactly).
- ``hll_reference``: the final registers of the streaming distinct-count
  monitor, recomputed from the raw ids with ``hashlib`` alone, the
  independent build that ``tests/test_streaming_distinct.py`` checks the
  stream against.
"""

from __future__ import annotations

import hashlib
import os

import duckdb
from full_oracle_check import _canon


class Oracle:
    """DuckDB views over one data directory, answering each query's twin."""

    def __init__(self, data_dir: str, tables, oracle_sql: dict[str, str]):
        self.sql = oracle_sql
        self.con = duckdb.connect()
        for t in tables:
            path = os.path.join(data_dir, f"{t}.parquet")
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )

    def close(self) -> None:
        self.con.close()

    def mismatch(self, name: str, columns: list[str], rows: list[tuple]) -> str | None:
        """None when the collected ``rows`` equal the twin's result,
        otherwise a one-line reason. A query without a twin is checked
        rows-only: it must have collected without error."""
        if name not in self.sql:
            return None
        rel = self.con.sql(self.sql[name])
        want = list(rel.df().itertuples(index=False, name=None))
        if sorted(columns) != sorted(rel.columns):
            return f"columns {sorted(columns)} != {sorted(rel.columns)}"
        if len(rows) != len(want):
            return f"{len(rows)} rows != {len(want)} oracle rows"
        if _canon(rows, columns) != _canon(want, list(rel.columns)):
            return "values differ"
        return None


def hll_reference(user_ids, m: int, rho_max: int) -> list[int]:
    """HLL registers of a set of ids: md5 of the decimal id, first byte
    the register, the next five bytes' leading zeros the rank."""
    regs = [0] * m
    for u in set(user_ids):
        dig = hashlib.md5(str(u).encode()).digest()
        w = int.from_bytes(dig[1:6], "big")
        rho = rho_max - w.bit_length() if w else rho_max
        regs[dig[0]] = max(regs[dig[0]], rho)
    return regs
