"""Local mimic of the driver's correctness gate.

Runs every registry query on Spark at the given sf dir and the paired oracle
SQL on DuckDB over the same parquet, then compares row count, schema shape,
and values (columns sorted by name, rows sorted by all columns).  Exact match
required for non-floats; floats report max abs diff (target: 0.0).

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import pathlib
import sys
import time

import duckdb
import pandas as pd

_REPO = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(_REPO))

from nqs_console_flink_window_spark.config import ORACLE_SF_DIR, TABLE_NAMES  # noqa: E402
from nqs_console_flink_window_spark.plans import all as _all  # noqa: E402,F401
from nqs_console_flink_window_spark.plans.registry import REGISTRY  # noqa: E402
from nqs_console_flink_window_spark.session import get_spark  # noqa: E402


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        # Mirrors the driver's canonicalizer: sort_values over every column.
        # A column of lists/arrays raises here in the driver too — surface it.
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def _dtype_problem(col: str, sc: pd.Series, dc: pd.Series) -> str | None:
    """The driver hashes raw cell values, so a dtype divergence (most commonly
    Spark DecimalType -> python Decimal objects vs DuckDB DOUBLE -> float64)
    is a hash mismatch even when values are numerically identical.  Round 1
    missed exactly this; fail loudly on it."""
    import datetime
    import decimal

    for side, ser in (("spark", sc), ("duck", dc)):
        if ser.dtype == object and any(
            isinstance(v, decimal.Decimal) for v in ser.head(100) if v is not None
        ):
            return f"col {col!r}: {side} returns Decimal objects (DecimalType output) — driver hash will differ from float64"
    # Spark DateType -> object of datetime.date, DuckDB DATE -> datetime64:
    # the driver canonicalizer treats these as equal (event_scalar_transforms'
    # ts_d_date is hash-green), so they are value-compared, not dtype-flagged.
    def _datelike(ser: pd.Series) -> bool:
        return ser.dtype.kind == "M" or (
            ser.dtype == object
            and any(
                isinstance(v, (datetime.date, datetime.datetime))
                for v in ser.head(100)
                if v is not None
            )
        )

    if _datelike(sc) and _datelike(dc):
        return None
    skind = "f" if pd.api.types.is_float_dtype(sc) else sc.dtype.kind
    dkind = "f" if pd.api.types.is_float_dtype(dc) else dc.dtype.kind
    if skind != dkind and not (sc.dtype == object and dc.dtype == object):
        return f"col {col!r}: dtype kind spark={sc.dtype} duck={dc.dtype}"
    return None


def compare(name: str, spark_df: pd.DataFrame, duck_df: pd.DataFrame) -> list[str]:
    import numpy as np

    problems: list[str] = []
    if len(spark_df) != len(duck_df):
        problems.append(f"rowcount spark={len(spark_df)} duck={len(duck_df)}")
    if sorted(spark_df.columns) != sorted(duck_df.columns):
        problems.append(f"columns spark={sorted(spark_df.columns)} duck={sorted(duck_df.columns)}")
        return problems
    try:
        s, d = normalize(spark_df), normalize(duck_df)
    except TypeError as e:
        problems.append(f"unsortable result (driver canonicalizer would error): {e}")
        return problems
    if len(s) != len(d):
        return problems
    for col in s.columns:
        sc, dc = s[col], d[col]
        dt = _dtype_problem(col, sc, dc)
        if dt:
            problems.append(dt)
            continue
        if sc.dtype.kind == "M" or dc.dtype.kind == "M":
            sv, dv = pd.to_datetime(sc), pd.to_datetime(dc)
            neq = ~((sv == dv) | (sv.isna() & dv.isna()))
            if neq.any():
                i = int(neq.idxmax())
                problems.append(
                    f"datetime col {col!r} {int(neq.sum())} mismatches, first@{i}: "
                    f"spark={sc.iloc[i]!r} duck={dc.iloc[i]!r}"
                )
            continue
        if pd.api.types.is_float_dtype(sc) or pd.api.types.is_float_dtype(dc):
            sv = sc.astype(float).to_numpy()
            dv = dc.astype(float).to_numpy()
            both_nan = np.isnan(sv) & np.isnan(dv)
            nan_mismatch = np.isnan(sv) != np.isnan(dv)
            if nan_mismatch.any():
                problems.append(f"float col {col!r}: NaN/non-NaN position mismatch x{int(nan_mismatch.sum())}")
                continue
            diff = np.abs(sv[~both_nan] - dv[~both_nan])
            mx = float(diff.max()) if diff.size else 0.0
            if mx != 0.0:
                problems.append(f"float col {col!r} max|diff|={mx:.3e}")
        else:
            neq = (sc.astype(str) != dc.astype(str))
            if neq.any():
                i = int(neq.idxmax())
                problems.append(
                    f"col {col!r} {int(neq.sum())} mismatches, first@{i}: "
                    f"spark={sc.iloc[i]!r} duck={dc.iloc[i]!r}"
                )
    return problems


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 and "/" in sys.argv[1] else ORACLE_SF_DIR
    only = [a for a in sys.argv[1:] if "/" not in a]
    spark = get_spark("check-oracle")
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    failures = 0
    for name, q in REGISTRY.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = q.spark(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            failures += 1
            continue
        if q.sql is None and q.oracle_py is None:
            print(f"okNA {name}: rows={len(sdf)} (no oracle) [{time.time()-t0:.1f}s]")
            continue
        try:
            if q.sql is not None:
                ddf = con.execute(q.sql).fetchdf()
            else:
                ddf = q.oracle_py(con, sf_dir)
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: oracle error: {e}")
            failures += 1
            continue
        problems = compare(name, sdf, ddf)
        if problems:
            failures += 1
            print(f"FAIL {name}: " + "; ".join(problems))
        else:
            print(f"ok   {name}: rows={len(sdf)} [{time.time()-t0:.1f}s]")
    print(f"{'ALL GREEN' if failures == 0 else f'{failures} FAILURES'}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
