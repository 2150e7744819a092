"""Local differential checker mimicking the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at the given scale factor, then compares row count, column names,
and order-insensitive values (columns sorted by name, rows sorted by all
columns, values normalized to strings).  Each query runs and is collected
inside its own ``gate_scope``, so no gate sees state an earlier one left.

Usage: python tools/check_oracle.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import os
import sys
import time
import traceback

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings".split()
)


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for col in df.columns:
        df[col] = df[col].map(lambda v: _norm_value(v))
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def _norm_value(v):
    if v is None or (isinstance(v, float) and pd.isna(v)):
        return "<null>"
    if isinstance(v, float):
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(v)
    if isinstance(v, bool):
        return str(bool(v)).lower()
    try:
        import numpy as np

        if isinstance(v, np.bool_):
            return str(bool(v)).lower()
        if isinstance(v, (np.integer,)):
            return str(int(v))
        if isinstance(v, (np.floating,)):
            return _norm_value(float(v))
    except ImportError:
        pass
    return str(v)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry_mod
    from aws_insurancelake_etl_spark.queries import gate_scope
    from aws_insurancelake_etl_spark.session import build_session

    spark = build_session(app_name="oracle-check", master="local[8]",
                          shuffle_partitions=8,
                          extra_confs={"spark.ui.enabled": "false"})
    con = duckdb.connect()
    for table in TABLES:
        con.execute(
            f"CREATE VIEW {table} AS SELECT * FROM '{sf_dir}/{table}.parquet'"
        )

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    ran = 0
    for name, fn in queries.items():
        if only and name not in only:
            continue
        ran += 1
        t0 = time.time()
        try:
            with gate_scope(spark):
                spark_pdf = fn(spark, sf_dir).toPandas()
        except Exception:
            print(f"FAIL  {name}: spark error\n{traceback.format_exc()}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"ok?   {name}: rows-only ({len(spark_pdf)} rows, no oracle) "
                  f"[{time.time()-t0:.1f}s]")
            continue
        try:
            duck_pdf = con.execute(oracles[name]).fetchdf()
        except Exception:
            print(f"FAIL  {name}: duckdb error\n{traceback.format_exc()}")
            failures.append(name)
            continue
        status, detail = compare(spark_pdf, duck_pdf)
        print(f"{status:5s} {name}: {detail} [{time.time()-t0:.1f}s]")
        if status == "FAIL":
            failures.append(name)

    print(f"\n{ran - len(failures)}/{ran} ok; failures: {failures}")
    spark.stop()
    return 1 if failures else 0


def _unhashable_cols(pdf: pd.DataFrame) -> list[str]:
    """Columns whose cells would crash the DRIVER's canonicalizer.

    The round driver sorts RAW cell values (``sort_values`` over
    unconverted objects), so list/array/dict cells raise
    ``TypeError: unhashable type`` there even though this checker's
    stringify-first normalization handles them fine (the one red r6
    driver row, ``sql_array_functions``).  Gates must serialize nested
    outputs; surface the trap locally instead of passing silently.
    """
    bad = []
    head = pdf.head(50)
    for col in pdf.columns:
        if any(isinstance(v, (list, tuple, dict, set, bytearray))
               or type(v).__name__ == "ndarray"
               for v in head[col]):
            bad.append(col)
    return bad


def compare(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> tuple[str, str]:
    for side, pdf in (("spark", spark_pdf), ("oracle", duck_pdf)):
        bad = _unhashable_cols(pdf)
        if bad:
            return "FAIL", (f"{side} result has driver-unhashable (nested) "
                            f"columns {bad}: serialize with array_join/to_json")
    if len(spark_pdf) != len(duck_pdf):
        return "FAIL", f"row count {len(spark_pdf)} != {len(duck_pdf)}"
    s_cols, d_cols = sorted(spark_pdf.columns), sorted(duck_pdf.columns)
    if [c.lower() for c in s_cols] != [c.lower() for c in d_cols]:
        return "FAIL", f"columns {s_cols} != {d_cols}"
    duck_pdf = duck_pdf.rename(columns=dict(zip(d_cols, s_cols)))
    a, b = normalize(spark_pdf), normalize(duck_pdf)
    if a.equals(b):
        return "OK", f"{len(a)} rows match"
    diff_mask = (a != b).any(axis=1)
    sample = pd.concat(
        [a[diff_mask].head(3).add_suffix("_spark"), b[diff_mask].head(3).add_suffix("_duck")],
        axis=1,
    )
    return "FAIL", f"{int(diff_mask.sum())} differing rows, e.g.\n{sample}"


if __name__ == "__main__":
    sys.exit(main())
