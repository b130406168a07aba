"""Output checks, run after each op outside its timed region.

Written parquet is read back with DuckDB, so the program's output and
the independent result cross the same reader. Query-suite outputs are
compared exactly (floats at 6 decimals) with the canonical form of
``tools/check_correctness.py``; feature tables, whose ``trx_amnt`` sums
depend on summation order, are compared within a relative tolerance.
"""

from __future__ import annotations

import importlib.util
import os

import duckdb
import numpy as np
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: Relative tolerance for feature-table floats.
RTOL = 1e-9


def _load_canon():
    path = os.path.join(ROOT, "tools", "check_correctness.py")
    spec = importlib.util.spec_from_file_location("_check_correctness", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.canon_pdf


canon_pdf = _load_canon()


def duck_frame(sql: str) -> pd.DataFrame:
    with duckdb.connect() as con:
        return con.execute(sql).df()


def read_parquet(path: str) -> pd.DataFrame:
    return duck_frame(f"SELECT * FROM read_parquet('{path}/*.parquet')")


class DuckOracle:
    """DuckDB views over the generated tables; runs a query's oracle SQL
    and compares it with that query's written output."""

    def __init__(self, sf_dir: str, names) -> None:
        self.con = duckdb.connect()
        for t in names:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
            )
        self._expected: dict[str, list] = {}

    def compare(self, name: str, oracle_sql: str, path: str) -> str | None:
        got = self.con.execute(
            f"SELECT * FROM read_parquet('{path}/*.parquet')"
        ).df()
        if name not in self._expected:
            want = self.con.execute(oracle_sql).df()
            self._expected[name] = (sorted(want.columns), canon_pdf(want))
        cols, want_rows = self._expected[name]
        if sorted(got.columns) != cols:
            return f"columns {sorted(got.columns)} != {cols}"
        if len(got) != len(want_rows):
            return f"rows {len(got)} != {len(want_rows)}"
        got_rows = canon_pdf(got)
        bad = sum(1 for a, b in zip(got_rows, want_rows) if a != b)
        return f"{bad}/{len(got_rows)} rows differ" if bad else None

    def close(self) -> None:
        self.con.close()


def features_pandas(spec, rows: pd.DataFrame) -> pd.DataFrame:
    """Independent pandas evaluation of a single-measure feature spec:
    each feature aggregates the measure over the rows of its category
    combination with ``time_col <= window``. Empty cells give count 0,
    sum 0.0 and NULL avg/min/max, as in ``plans.oracle``."""
    (key,) = spec.keys
    (m,) = spec.measures
    rows = rows[rows[spec.time_col] <= max(spec.windows)]
    index = pd.Index(np.sort(rows[key].unique()), name=key)
    cols: dict[str, pd.Series] = {}
    for grouping in spec.groupings:
        gcols = list(grouping.cols)
        for w in spec.windows:
            sub = rows[rows[spec.time_col] <= w]
            stats = sub.groupby([key, *gcols])[m].agg(
                ["count", "sum", "min", "max"]
            )
            for combo in grouping.combos():
                try:
                    cell = stats.xs(combo, level=gcols)
                except KeyError:
                    cell = stats.iloc[0:0].droplevel(gcols)
                cell = cell.reindex(index)
                count = cell["count"].fillna(0).astype("int64")
                total = cell["sum"].fillna(0.0)
                values = {
                    "count": count,
                    "sum": total,
                    "avg": (total / count).where(count > 0),
                    "min": cell["min"],
                    "max": cell["max"],
                }
                for agg in spec.aggs:
                    name = spec.feature_name(m, combo, w, agg)
                    cols[name] = values[agg.value]
    return pd.DataFrame(cols, index=index).reset_index()


def frames_close(got: pd.DataFrame, want: pd.DataFrame, key: str) -> str | None:
    """None when both frames hold the same keys and columns, and every
    value agrees (floats within :data:`RTOL`, NULL matching NULL)."""
    if sorted(got.columns) != sorted(want.columns):
        return "columns differ"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    cols = sorted(got.columns)
    got = got.sort_values(key)[cols].reset_index(drop=True)
    want = want.sort_values(key)[cols].reset_index(drop=True)
    bad = []
    for c in cols:
        a, b = got[c].to_numpy(), want[c].to_numpy()
        if np.issubdtype(a.dtype, np.number) and np.issubdtype(b.dtype, np.number):
            ok = np.isclose(
                a.astype(float), b.astype(float), rtol=RTOL, atol=0.0,
                equal_nan=True,
            )
        else:
            ok = (a == b) | (pd.isna(a) & pd.isna(b))
        if not ok.all():
            bad.append(c)
    return f"{len(bad)} columns differ, e.g. {bad[:3]}" if bad else None
