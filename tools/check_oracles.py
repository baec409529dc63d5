"""Local stand-in for the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() twin on DuckDB, compare row count, schema
(column names), and an order-insensitive value multiset.

Both sides are canonicalized THROUGH PANDAS (Spark `toPandas()`, DuckDB
`res.df()`) to reproduce the driver's Arrow/pandas comparison exactly. This
matters for dtype surfaces the old `fetchall()` path could not see: DuckDB
`sum(<integer col>)` returns HUGEINT (int128), which pandas converts to
float64, so the driver hashes `74.0` against Spark's int64 `74` and fails
even though the Python-object values were equal. (That was agg_hier_rollup's
three-round red row — fixed oracle-side with CAST(... AS BIGINT), and this
gate now reproduces the mismatch class locally.)

Usage: python tools/check_oracles.py [--sf /root/testdata/sf0.01] [names...]
"""

from __future__ import annotations

import argparse
import math
import os
import sys
import traceback
from decimal import Decimal

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import numpy as np
import pandas as pd

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def norm_cell(v):
    # NOTE: int and float stay DISTINCT on purpose (repr 74 != repr 74.0) —
    # that is exactly the driver-visible dtype class this gate must catch.
    if v is None or v is pd.NaT:
        return None
    if isinstance(v, (bool, np.bool_)):
        return bool(v)
    if isinstance(v, (float, np.floating)):
        f = float(v)
        if math.isnan(f):
            return "NaN"
        # kill -0.0 and representation noise at the 9th decimal
        return round(f, 9) + 0.0
    if isinstance(v, (int, np.integer)):
        return int(v)
    if isinstance(v, Decimal):
        return round(float(v), 9) + 0.0
    if isinstance(v, np.ndarray):
        return tuple(norm_cell(x) for x in v.tolist())
    if isinstance(v, (list, tuple)):
        return tuple(norm_cell(x) for x in v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, bytearray):
        return bytes(v)
    # pandas represents SQL NULL in object columns as float nan sometimes
    try:
        if v != v:  # NaN-like
            return "NaN"
    except Exception:
        pass
    return v


def df_to_multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(
        tuple(repr(norm_cell(r[i])) for i in order) for r in rows
    )
    return [cols[i] for i in order], out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    import __spark_entry__ as mod
    from cdc_debezium_kafka_airflow_spark.session import get_spark

    spark = get_spark("oracle-check")
    qs = mod.queries()
    oracles = mod.oracle_sql()

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{args.sf}/{t}.parquet'"
        )

    names = args.names or list(qs)
    n_pass = n_fail = 0
    for name in names:
        fn = qs[name]
        try:
            # per-query isolation (r13): queries persist in-run frames and
            # memoize trained models in-process; drop both between queries
            # so a 344-name sweep doesn't accumulate cached blocks
            spark.catalog.clearCache()
            from cdc_debezium_kafka_airflow_spark.operators.similarity import (
                clear_model_memos,
            )

            clear_model_memos()
            sdf = fn(spark, args.sf)
            spdf = sdf.toPandas()
            scols = list(spdf.columns)
            srows = list(spdf.itertuples(index=False, name=None))
        except Exception:
            print(f"FAIL {name}: spark error")
            traceback.print_exc()
            n_fail += 1
            continue
        if name not in oracles:
            print(f"ROWS-ONLY {name}: {len(srows)} rows, cols={scols}")
            continue
        try:
            opdf = con.execute(oracles[name]).df()
            ocols = list(opdf.columns)
            orows = list(opdf.itertuples(index=False, name=None))
        except Exception:
            print(f"FAIL {name}: duckdb error")
            traceback.print_exc()
            n_fail += 1
            continue
        sc, sm = df_to_multiset(scols, srows)
        oc, om = df_to_multiset(ocols, orows)
        if sc != oc:
            print(f"FAIL {name}: columns spark={sc} oracle={oc}")
            n_fail += 1
            continue
        if len(sm) != len(om):
            print(f"FAIL {name}: rowcount spark={len(sm)} oracle={len(om)}")
            n_fail += 1
            continue
        if sm != om:
            diffs = [(a, b) for a, b in zip(sm, om) if a != b]
            print(f"FAIL {name}: {len(diffs)} differing rows of {len(sm)}; first:")
            for a, b in diffs[:3]:
                print("  spark :", a)
                print("  oracle:", b)
            n_fail += 1
            continue
        print(f"PASS {name}: {len(sm)} rows")
        n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, "
          f"{len([n for n in names if n not in oracles])} rows-only")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
