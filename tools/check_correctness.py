"""Local stand-in for the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` twin on DuckDB at the given sf dir, then compares
row count, column names, and values.

DRIVER-FAITHFUL CANONICALIZATION (round-3 rewrite): the driver fetches
both sides through pandas, sorts columns by name, and hashes values in a
dtype-sensitive way — DuckDB ``sum(BIGINT)`` returns HUGEINT which pandas
renders as float64 (``99111.0``) while Spark's ``sum(long)`` stays int64
(``99111``), flipping the hash on dtype alone even when the numbers are
equal. The round-2 gate compared via ``fetchall()`` (HUGEINT -> Python
int -> equal) and let exactly that class of bug survive a round. This
version fetches both sides as pandas (``toPandas()`` / ``.df()``) and
canonicalizes each cell as a (type-class, value) pair so int-vs-float
mismatches fail the gate. Floats are rounded to 6 decimals for the
verdict, but any exact-repr drift under the rounding is printed as a
warning so ulp-level differences stay visible.

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import decimal
import math
import sys
import time

import duckdb
import numpy as np

sys.path.insert(0, "/root/repo")

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings".split()
)


def canon_cell(v, exact: bool = False):
    """Dtype-class-sensitive canonical form of one pandas cell.

    Returns (tag, value) so that an int64 99111 and a float64 99111.0
    canonicalize differently — mirroring the driver's pandas value hash.
    """
    if v is None:
        return ("0",)
    if isinstance(v, (bool, np.bool_)):
        return ("b", bool(v))
    if isinstance(v, (int, np.integer)):
        return ("i", int(v))
    if isinstance(v, (float, np.floating)):
        f = float(v)
        if math.isnan(f):
            # pandas renders SQL NULL in numeric columns as NaN on BOTH
            # sides; treat NaN as the float-column null.
            return ("0",)
        return ("f", repr(f) if exact else round(f, 6))
    if isinstance(v, decimal.Decimal):
        # normalize scale: Decimal('1.50') == Decimal('1.5') numerically
        # and under Python/pandas hashing — don't fail on trailing zeros
        return ("dec", str(v.normalize()))
    if isinstance(v, (bytes, bytearray)):
        return ("y", bytes(v))
    if isinstance(v, str):
        return ("s", v)
    if isinstance(v, dict):
        return (
            "m",
            tuple(
                sorted(
                    (str(k), canon_cell(x, exact)) for k, x in v.items()
                )
            ),
        )
    if isinstance(v, (list, tuple, np.ndarray)):
        return ("a", tuple(canon_cell(x, exact) for x in v))
    try:
        if v != v:  # pd.NaT and friends
            return ("0",)
    except Exception:
        pass
    return ("s", str(v))


def canon_pdf(pdf, exact: bool = False) -> list[tuple]:
    """Driver-mimic canonical form: columns sorted by name, rows sorted."""
    pdf = pdf[sorted(pdf.columns)]
    rows = [
        tuple(canon_cell(v, exact) for v in row)
        for row in pdf.itertuples(index=False, name=None)
    ]
    rows.sort(key=repr)
    return rows


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as e
    from feature_generation_benchmark_spark.session import cache_scope

    # Mirror the driver: a VANILLA session (no engine confs) — catches any
    # query that silently depends on get_spark()'s profile (nanosAsLong,
    # UTC timeZone, Arrow, ...). Use SPARK_GRAFT_ENGINE_SESSION=1 to run
    # against the engine profile instead.
    import os

    if os.environ.get("SPARK_GRAFT_ENGINE_SESSION"):
        from feature_generation_benchmark_spark.session import get_spark

        spark = get_spark("check-correctness")
    else:
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[8]")
            .appName("check-correctness-vanilla")
            .getOrCreate()
        )

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs = e.queries()
    oracles = e.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        # the scope releases the query's pins: a full gate run otherwise
        # holds every cached frame at once
        with cache_scope(spark):
            t0 = time.time()
            spark_pdf = fn(spark, sf_dir).toPandas()
            t_spark = time.time() - t0
        n_spark = len(spark_pdf)
        if name not in oracles:
            print(f"{name}: rows={n_spark} (rows-only, no oracle) "
                  f"[{t_spark:.1f}s]")
            if n_spark == 0:
                failures.append((name, "0 rows"))
            continue
        duck_pdf = con.execute(oracles[name]).df()

        problems = []
        if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
            extra = set(spark_pdf.columns) - set(duck_pdf.columns)
            miss = set(duck_pdf.columns) - set(spark_pdf.columns)
            problems.append(f"columns differ extra={extra} missing={miss}")
        if n_spark != len(duck_pdf):
            problems.append(f"rowcount {n_spark} vs {len(duck_pdf)}")
        if not problems:
            a = canon_pdf(spark_pdf)
            b = canon_pdf(duck_pdf)
            if a != b:
                n_bad = sum(1 for x, y in zip(a, b) if x != y)
                problems.append(f"values differ in {n_bad}/{len(a)} rows")
                for x, y in zip(a, b):
                    if x != y:
                        diffs = [
                            (i, u, v)
                            for i, (u, v) in enumerate(zip(x, y))
                            if u != v
                        ][:5]
                        print(f"  first diff row: {diffs}")
                        break
            else:
                # rounded-equal: surface any exact-repr float drift as a
                # warning (the driver's hash may be exact).
                ax = canon_pdf(spark_pdf, exact=True)
                bx = canon_pdf(duck_pdf, exact=True)
                if ax != bx:
                    n_drift = sum(1 for x, y in zip(ax, bx) if x != y)
                    print(
                        f"  WARN {name}: float drift under 1e-6 in "
                        f"{n_drift}/{len(ax)} rows (rounded-equal)"
                    )
        status = "OK" if not problems else "FAIL " + "; ".join(problems)
        print(f"{name}: rows={n_spark} {status} [{t_spark:.1f}s]")
        if problems:
            failures.append((name, problems))

    print(f"\n{len(failures)} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
