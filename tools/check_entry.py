"""Local stand-in for the driver's correctness gate: runs each
`queries()` entry on Spark and its `oracle_sql()` on DuckDB at sf0.01,
compares row count, column names, and order-insensitive values.

Usage: python tools/check_entry.py [sf_dir] [only_query ...]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E  # noqa: E402
from cello_spark.session import get_spark  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def canon_exact(df: pd.DataFrame) -> pd.DataFrame:
    """Driver-faithful canonical form: columns sorted by name, floats
    rounded to 6 decimals and stringified WITHOUT normalizing the sign
    of zero (the driver's value hash distinguishes -0.0 from 0.0 —
    this is exactly how the r3 q_onn_confidence red escaped the rtol
    gate), everything else stringified, rows sorted on the string
    form. Two frames with equal canon_exact forms hash equal under the
    driver; unequal forms are a driver red."""
    out = {}
    for c in sorted(df.columns):
        col = df[c]
        if pd.api.types.is_float_dtype(col):
            out[c] = col.astype(np.float64).round(6).map(repr)
        else:
            out[c] = col.astype(str)
    sdf = pd.DataFrame(out)
    return sdf.sort_values(list(sdf.columns), kind="mergesort").reset_index(
        drop=True
    )


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype(np.float64).round(6)
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        else:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def main() -> int:
    argv = [a for a in sys.argv[1:] if a != "--json"]
    write_json = "--json" in sys.argv
    sf_dir = argv[0] if len(argv) > 0 else "/root/testdata/sf0.01"
    only = set(argv[1:])
    spark = get_spark(app_name="check_entry")  # cores: $SPARK_GRAFT_CPUS
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    qs = E.queries()
    oracles = E.oracle_sql()
    failures = []
    record: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.monotonic()
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as ex:  # noqa: BLE001
            failures.append((name, f"SPARK ERROR: {ex}"))
            record[name] = {"status": "spark_error", "err": str(ex)[:300]}
            print(f"FAIL {name}: spark error: {str(ex)[:300]}")
            continue
        wall = time.monotonic() - t0
        if name not in oracles:
            record[name] = {"status": "rows_only", "rows": len(got),
                            "sec": round(wall, 1)}
            print(f"ok(rows-only) {name:28s} rows={len(got):7d} {wall:6.1f}s")
            continue
        try:
            want = con.sql(oracles[name]).df()
        except Exception as ex:  # noqa: BLE001
            failures.append((name, f"DUCKDB ERROR: {ex}"))
            record[name] = {"status": "duckdb_error", "err": str(ex)[:300]}
            print(f"FAIL {name}: duckdb error: {str(ex)[:300]}")
            continue
        g, w = canon(got), canon(want)
        if list(g.columns) != list(w.columns):
            failures.append((name, f"schema {list(g.columns)} vs {list(w.columns)}"))
            record[name] = {"status": "schema_mismatch"}
            print(f"FAIL {name}: schema mismatch {list(g.columns)} vs {list(w.columns)}")
            continue
        if len(g) != len(w):
            failures.append((name, f"rows {len(g)} vs {len(w)}"))
            record[name] = {"status": "rowcount_mismatch",
                            "spark": len(g), "duck": len(w)}
            print(f"FAIL {name}: row count {len(g)} vs {len(w)}")
            continue
        # float columns compare with RELATIVE tolerance: a sum of 1e9
        # carries ~1e-7 of legitimate double-summation-order drift
        # between engines (measured 5e-16 relative on q_agg_pricing at
        # sf0.1), which absolute 6-decimal rounding misreads as a
        # mismatch at large SF. rtol=1e-9 is still ~7 orders tighter
        # than any real semantic divergence.
        neq_cols = []
        for c in g.columns:
            if pd.api.types.is_float_dtype(g[c]):
                neq_cols.append(
                    ~np.isclose(
                        g[c], w[c], rtol=1e-9, atol=1e-9, equal_nan=True
                    )
                )
            else:
                neq_cols.append((g[c] != w[c]).to_numpy())
        neq_mat = np.column_stack(neq_cols) if neq_cols else np.zeros((len(g), 0), bool)
        if neq_mat.any():
            neq = pd.Series(neq_mat.any(axis=1), index=g.index)
            diff = pd.concat(
                [g[neq].head(3).assign(side="spark"), w[neq].head(3).assign(side="duck")]
            )
            failures.append((name, "values"))
            record[name] = {"status": "value_mismatch",
                            "rows_differing": int(neq.sum())}
            print(f"FAIL {name}: value mismatch ({int(neq.sum())} rows)\n{diff}")
            continue
        # second gate: driver-faithful exact-string hash (catches
        # sign-of-zero and any rounding-boundary divergence the rtol
        # compare forgives but the driver's hash does not)
        ge, we = canon_exact(got), canon_exact(want)
        if not ge.equals(we):
            neq = (ge != we).any(axis=1)
            diff = pd.concat(
                [ge[neq].head(3).assign(side="spark"),
                 we[neq].head(3).assign(side="duck")]
            )
            failures.append((name, "exact-hash"))
            record[name] = {"status": "exact_hash_mismatch",
                            "rows_differing": int(neq.sum())}
            print(
                f"FAIL {name}: rtol-equal but exact-hash mismatch "
                f"({int(neq.sum())} rows)\n{diff}"
            )
            continue
        record[name] = {"status": "oracle_match", "rows": len(g),
                        "sec": round(wall, 1)}
        print(f"ok            {name:28s} rows={len(g):7d} {wall:6.1f}s")
    print(f"\n{len(failures)} failures")
    if write_json:
        import json
        import os

        tag = os.path.basename(sf_dir.rstrip("/"))
        out_path = os.path.join("/root/repo/BENCH", f"gate_{tag}.json")
        with open(out_path, "w") as f:
            json.dump(
                {
                    "sf_dir": sf_dir,
                    "n_queries": len(record),
                    "n_failures": len(failures),
                    "queries": record,
                },
                f,
                indent=1,
            )
        print(f"wrote {out_path}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
