"""Local replica of the driver's Spark-vs-DuckDB correctness gate.

Runs each registered query builder AND its oracle SQL on the same
parquet, canonicalizes both results (columns sorted by name, rows
sorted, floats repr'd), and diffs them.  Stricter than the driver's
value hash, so passing here implies passing there.
"""

from __future__ import annotations

import math

import pandas as pd

from .harness import TABLES


def run_oracle(sql: str, sf_dir: str) -> pd.DataFrame:
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con.execute(sql).fetchdf()


def canonical(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()

    def cell(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return "NULL"
        if isinstance(v, float):
            return repr(float(v))
        return str(v)

    for c in df.columns:
        df[c] = df[c].map(cell)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def compare(spark_df, oracle_pdf: pd.DataFrame) -> tuple[bool, str]:
    got = canonical(spark_df.toPandas())
    want = canonical(oracle_pdf)
    if list(got.columns) != list(want.columns):
        return False, f"columns differ: {list(got.columns)} vs {list(want.columns)}"
    if len(got) != len(want):
        return False, f"row count differs: {len(got)} vs {len(want)}"
    neq = (got.values != want.values)
    if neq.any():
        import numpy as np

        r, c = np.argwhere(neq)[0]
        col = got.columns[c]
        return False, (
            f"first diff at row {r} col {col}: "
            f"spark={got.iloc[r, c]!r} oracle={want.iloc[r, c]!r} "
            f"({int(neq.sum())} differing cells)"
        )
    return True, f"OK ({len(got)} rows)"


def check_all(spark, sf_dir: str, only: list[str] | None = None) -> dict[str, str]:
    from .oracles import all_oracles
    from .queries import QUERIES

    oracles = all_oracles()
    results: dict[str, str] = {}
    for name, builder in QUERIES.items():
        if only and name not in only:
            continue
        try:
            sdf = builder(spark, sf_dir)
            if name not in oracles:
                n = sdf.count()
                results[name] = f"rows-only: {n} rows"
                continue
            ok, msg = compare(sdf, run_oracle(oracles[name], sf_dir))
            results[name] = ("PASS " if ok else "FAIL ") + msg
        except Exception as e:  # noqa: BLE001 — report, keep checking
            results[name] = f"ERROR {type(e).__name__}: {str(e)[:300]}"
    return results
