"""Correctness gate: each query's first result against its DuckDB oracle.

Runs once per invocation, after the timed window, over the same
generated tables the engine read.  The comparison (type classes, then
the sorted-column value multiset with Decimal/NaN/timestamp
normalisation) is imported from ``tools/driver_sim.py``, the repo's
oracle-parity checker.
"""

from __future__ import annotations

import importlib.util
import os
from collections import Counter

from gen import ROWS


def _driver_sim(root: str):
    spec = importlib.util.spec_from_file_location(
        "driver_sim", os.path.join(root, "tools", "driver_sim.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Gate:
    def __init__(self, root: str, sf_dir: str):
        import duckdb

        self.ds = _driver_sim(root)
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 4")
        self.con.execute("SET memory_limit = '1GB'")
        for t in ROWS:
            p = os.path.join(sf_dir, f"{t}.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    def check(self, df, rows, oracle: str | None) -> str | None:
        """None when the result is right, else the reason it is not."""
        if oracle is None:
            return None if rows else "empty result (rows-only check)"
        ds = self.ds
        bad = ds.type_parity_violations(df, self.con, oracle)
        if bad:
            return f"type parity {bad}"
        cols = sorted(df.columns)
        got = Counter(tuple(ds.norm(r[c]) for c in cols) for r in rows)
        cur = self.con.execute(oracle)
        dcols = [d[0] for d in cur.description]
        if sorted(dcols) != cols:
            return f"columns spark={cols} duck={sorted(dcols)}"
        order = sorted(range(len(dcols)), key=lambda i: dcols[i])
        want = Counter(
            tuple(ds.norm(row[i]) for i in order) for row in cur.fetchall()
        )
        if got != want:
            s_only = list((got - want).elements())[:2]
            d_only = list((want - got).elements())[:2]
            return f"values spark-only={s_only} duck-only={d_only}"
        return None

    def same_rows(self, a: list[dict], b: list[dict]) -> bool:
        """Whether two results hold the same rows, in any order."""
        def bag(rows):
            return Counter(
                tuple(self.ds.norm(v) for _, v in sorted(r.items())) for r in rows
            )

        return bag(a) == bag(b)
