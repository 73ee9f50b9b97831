"""Driver-mimicking oracle parity checker.

Runs every queries()[k] on Spark and the matching oracle_sql()[k] on
DuckDB over the same parquet dir, compares row count, column names,
and an order-insensitive value hash (columns sorted by name, rows
sorted, values stringified). Usage:

    python tests/oracle_check.py [sf_dir] [key ...]
"""

from __future__ import annotations

import hashlib
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _canon(df: pd.DataFrame) -> tuple[int, list[str], str]:
    cols = sorted(df.columns)
    df = df[cols].copy()
    for c in cols:
        s = df[c]
        if pd.api.types.is_float_dtype(s):
            df[c] = s.round(6).map(lambda v: "" if pd.isna(v) else f"{v:.6f}")
        elif pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.dt.strftime("%Y-%m-%d %H:%M:%S.%f").fillna("")
        else:
            df[c] = s.map(lambda v: "" if v is None or (isinstance(v, float) and pd.isna(v)) else str(v))
    rows = sorted("\x1f".join(r) for r in df.astype(str).itertuples(index=False, name=None))
    h = hashlib.sha256("\x1e".join(rows).encode()).hexdigest()[:16]
    return len(df), cols, h


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    from flinkproj_spark import registry
    from flinkproj_spark.session import build_session
    from flinkproj_spark.sources.tables import register_oracle_views

    spark = build_session("oracle_check")
    con = duckdb.connect()
    register_oracle_views(con, sf_dir)

    qs, oracles = registry.queries(), registry.oracle_sql()
    failures = 0
    for key, fn in qs.items():
        if only and key not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL {key}: spark error: {e}")
            failures += 1
            continue
        finally:
            spark.catalog.clearCache()  # drop per-operator persists
        if key not in oracles:
            print(f"ROWS-ONLY {key}: {len(sdf)} rows (no oracle)")
            continue
        try:
            odf = con.execute(oracles[key]).df()
        except Exception as e:
            print(f"FAIL {key}: duckdb error: {e}")
            failures += 1
            continue
        sn, sc, sh = _canon(sdf)
        on, oc, oh = _canon(odf)
        status = "OK" if (sn, sc, sh) == (on, oc, oh) else "MISMATCH"
        if status != "OK":
            failures += 1
            print(f"{status} {key}: spark=({sn},{sc},{sh}) duck=({on},{oc},{oh})")
            if sc == oc and sn and on:
                merged = sdf[sorted(sdf.columns)].head(3)
                print("  spark head:\n", merged.to_string())
                print("  duck  head:\n", odf[sorted(odf.columns)].head(3).to_string())
        else:
            print(f"OK {key}: {sn} rows hash={sh}")
    spark.stop()
    # Print the TRUE count; exit 1-if-any so the status can never wrap
    # modulo 256 back to 0 (a 256-key failure would otherwise read as
    # success), and so callers can tell "parity failed" (1, with the
    # FAILURES line present) from a crash (traceback, no FAILURES line).
    print(f"FAILURES {failures}")
    return min(failures, 1)


if __name__ == "__main__":
    raise SystemExit(main())
