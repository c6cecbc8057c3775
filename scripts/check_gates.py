"""Local replica of the driver's correctness gate.

Runs every __spark_entry__.queries() entry and its oracle_sql() twin at a
given sf dir (default sf0.01), compares row count, schema width, and the
column-name-sorted value matrix. Prints one JSON line per gate and a
summary. Exits 1 when any gate fails and 2 on an unknown gate name.
Usage:

    python scripts/check_gates.py [sf_dir] [gate ...]
"""

from __future__ import annotations

import json
import os
import sys

import duckdb
import numpy as np
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype(np.float64).round(6)
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype(np.int64)
    return df.sort_values(list(df.columns), ignore_index=True)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry
    from katta_spark.session import get_spark

    spark = get_spark()
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    qs = entry.queries()
    oracles = entry.oracle_sql()
    unknown = only - set(qs)
    if unknown:
        # refuse rather than vacuously passing with zero gates run
        print(f"ERROR: unknown gate name(s): {sorted(unknown)}; "
              f"known: {sorted(qs)}")
        sys.exit(2)
    n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        res = {"gate": name}
        try:
            sdf = fn(spark, sf_dir).toPandas()
            res["spark_rows"] = len(sdf)
            if name not in oracles:
                res["err"] = "no_oracle"
                print(json.dumps(res))
                continue
            odf = con.execute(oracles[name]).fetchdf()
            res["oracle_rows"] = len(odf)
            res["rows_match"] = len(sdf) == len(odf)
            res["schema_match"] = sorted(map(str, sdf.columns)) == sorted(
                map(str, odf.columns)
            )
            if res["rows_match"] and res["schema_match"]:
                a, b = canon(sdf), canon(odf)
                try:
                    pd.testing.assert_frame_equal(
                        a, b, check_dtype=False, check_exact=False, atol=1e-9
                    )
                    res["values_match"] = True
                except AssertionError as e:
                    res["values_match"] = False
                    res["diff"] = str(e).splitlines()[-1][:300]
            else:
                res["values_match"] = False
        except Exception as e:  # noqa: BLE001
            res["err"] = f"{type(e).__name__}: {e}"[:400]
        ok = res.get("values_match") is True
        n_fail += 0 if ok or res.get("err") == "no_oracle" else 1
        print(json.dumps(res))
    print(f"SUMMARY: {'ALL GREEN' if n_fail == 0 else f'{n_fail} FAILING'}")
    if n_fail:
        sys.exit(1)


if __name__ == "__main__":
    main()
