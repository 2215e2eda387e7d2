"""Local simulation of the driver's correctness gate: run every
``queries()`` entry and its ``oracle_sql()`` side-by-side, compare
row count, column names, and order-insensitive values.

Usage: python scripts/check_entry.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import os
import sys
from decimal import Decimal

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod
from cherry_pipelines_spark.session import get_spark


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        df[c] = df[c].map(
            lambda v: (
                "NULL"
                if v is None or (isinstance(v, float) and pd.isna(v)) or v is pd.NaT
                else (
                    # decimals through the SAME canonical text as floats
                    # (1.227430 == 1.22743 == repr(1.22743)): Spark returns
                    # DECIMAL objects where DuckDB's fetchdf materializes
                    # float64 for the same column — the driver's comparator
                    # treats those equal, the old format(v, "f") kept
                    # trailing zeros and flagged value-identical rows
                    repr(float(v)) if isinstance(v, Decimal) else
                    repr(float(v)) if isinstance(v, float) else
                    v.hex() if isinstance(v, (bytes, bytearray)) else
                    str(list(v)) if isinstance(v, (list, tuple)) else
                    str(v)
                )
            )
        )
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    unknown = sorted(only - set(qs))
    for name in unknown:
        print(f"FAIL {name}: no such query")
    run = [name for name in qs if not only or name in only]
    spark = get_spark("check_entry")
    con = duckdb.connect()
    for t in entry_mod.TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    failed = []
    for name in run:
        try:
            sdf = qs[name](spark, sf_dir).toPandas()
        except Exception as ex:
            print(f"FAIL {name}: spark error: {ex}")
            failed.append(name)
            continue
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception as ex:
            print(f"FAIL {name}: oracle error: {ex}")
            failed.append(name)
            continue
        if sorted(sdf.columns) != sorted(odf.columns):
            print(f"FAIL {name}: columns {sorted(sdf.columns)} vs {sorted(odf.columns)}")
            failed.append(name)
            continue
        if len(sdf) != len(odf):
            print(f"FAIL {name}: rows {len(sdf)} vs {len(odf)}")
            failed.append(name)
            continue
        if len(sdf) == 0:
            # columns + zero rows on both sides: pandas .equals would
            # still compare the EMPTY frames' dtypes (int64 vs object
            # etc.), flagging value-identical results
            print(f"PASS {name}: 0 rows")
            continue
        a, b = normalize(sdf), normalize(odf)
        if not a.equals(b):
            neq = (a != b).any(axis=1)
            print(f"FAIL {name}: value mismatch on {int(neq.sum())}/{len(a)} rows")
            mism = a[neq].head(3)
            print("  spark:", mism.to_dict("records"))
            print("  oracle:", b[neq].head(3).to_dict("records"))
            failed.append(name)
            continue
        print(f"PASS {name}: {len(sdf)} rows")
    print(f"\n{len(run) - len(failed)}/{len(run)} passed")
    return 1 if failed or unknown else 0


if __name__ == "__main__":
    raise SystemExit(main())
