"""Oracle check of each flow's parquet sink.

The sink a timed pass wrote is read back and compared with the flow's
DuckDB ``oracle_sql()`` run over the same generated input tables: row
count, column names, and the order-insensitive value hash.  Cell
normalization and hashing are the correctness gate's own
(``tools/check_correctness.py``), imported rather than copied.
"""

from __future__ import annotations

import datetime
import math
import os

import pyarrow.parquet as pq


def _naive_utc(v):
    # Spark writes session-UTC timestamps as UTC-adjusted parquet; the
    # frame's collect() and DuckDB both yield the naive UTC wall clock.
    if isinstance(v, datetime.datetime) and v.tzinfo is not None:
        return v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    return v


def read_sink(path: str) -> tuple[list[str], list[dict]]:
    table = pq.read_table(path)
    rows = [{k: _naive_utc(v) for k, v in r.items()} for r in table.to_pylist()]
    return table.column_names, rows


class OracleChecker:
    def __init__(self, data_dir: str, tables: list[str], threads: int,
                 temp_dir: str) -> None:
        import duckdb

        import __spark_entry__ as entry
        from tools.check_correctness import norm_cell, value_hash

        self.norm_cell, self.value_hash = norm_cell, value_hash
        self.oracles = entry.oracle_sql()
        self.con = duckdb.connect()
        self.con.execute(f"SET threads={threads}")
        self.con.execute(f"SET temp_directory='{temp_dir}'")
        for t in tables:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                             f"'{os.path.join(data_dir, t)}.parquet'")

    def check(self, flow: str, sink: str) -> list[str]:
        """Problems found comparing ``sink`` with the oracle (empty = pass)."""
        sql = self.oracles.get(flow)
        if sql is None:
            return [f"{flow} has no oracle_sql() entry"]
        scols, srows = read_sink(sink)
        ores = self.con.execute(sql).fetchdf()
        ocols = list(ores.columns)
        orows = ores.to_dict("records")
        for r in orows:  # DuckDB NULL floats arrive as NaN in fetchdf
            for k, v in r.items():
                if isinstance(v, float) and math.isnan(v):
                    r[k] = None
        problems = []
        if len(srows) != len(orows):
            problems.append(f"rowcount {len(srows)} != {len(orows)}")
        if sorted(scols) != sorted(ocols):
            problems.append(f"columns {sorted(scols)} != {sorted(ocols)}")
        elif self.value_hash(srows, scols) != self.value_hash(orows, ocols):
            key = sorted(scols)
            sset = {"|".join(self.norm_cell(r[c]) for c in key) for r in srows}
            oset = {"|".join(self.norm_cell(r[c]) for c in key) for r in orows}
            problems.append("value-hash mismatch; sink-only rows "
                            f"{sorted(sset - oset)[:3]}; oracle-only rows "
                            f"{sorted(oset - sset)[:3]}")
        return problems

    def close(self) -> None:
        self.con.close()
