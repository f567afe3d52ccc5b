"""Compare engine query results with their DuckDB oracle SQL.

The comparison is the one `tools/check.py` makes: columns sorted by name,
rows compared in order (every query ends in a total ORDER BY), floats
compared exactly after NaN and -0.0 are normalised, other values by
their string form.
"""
import glob
import math
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v + 0.0
    return v


def _rows_equal(a, b):
    for x, y in zip(map(_norm, a), map(_norm, b)):
        if x is None and y is None:
            continue
        if isinstance(x, float) and isinstance(y, float):
            if x != y:
                return False
        elif str(x) != str(y):
            return False
    return True


class Oracle:
    def __init__(self, data_dir):
        self.con = duckdb.connect()
        for t in TABLES:
            self.con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                         f"'{os.path.join(data_dir, t + '.parquet')}'")

    def compare(self, sql, result_dir):
        """Return (None, oracle row count) when the engine's parquet output
        in `result_dir` equals the oracle's rows, else (reason, count)."""
        du = self.con.sql(sql).df()
        files = sorted(glob.glob(os.path.join(result_dir, "*.parquet")))
        if not files:
            return "no engine output", len(du)
        sp = self.con.sql(f"SELECT * FROM read_parquet({files!r})").df()
        sp = sp.reindex(sorted(sp.columns), axis=1)
        du = du.reindex(sorted(du.columns), axis=1)
        if list(sp.columns) != list(du.columns):
            return f"columns {list(sp.columns)} != {list(du.columns)}", len(du)
        if len(sp) != len(du):
            return f"{len(sp)} rows != {len(du)}", len(du)
        for i, (a, b) in enumerate(zip(sp.values.tolist(), du.values.tolist())):
            if not _rows_equal(a, b):
                return f"row {i}: {a} != {b}", len(du)
        return None, len(du)
