"""Command-line entry point — run any registered operator standalone.

    python -m flinkproj_spark list [--filter SUBSTR]
    python -m flinkproj_spark run KEY [--sf-dir DIR] [--limit N]
                                      [--out PATH] [--explain]
    python -m flinkproj_spark oracle KEY [--sf-dir DIR]

`run` executes one query key and prints (or writes) the result;
`oracle` runs the key's DuckDB twin on the same tables — the same
comparison the correctness gate performs, available interactively.
"""

from __future__ import annotations

import argparse
import sys

from flinkproj_spark import registry
from flinkproj_spark.sources.tables import DEFAULT_SF_DIR, register_oracle_views


def _cmd_list(args: argparse.Namespace) -> int:
    qs = registry.queries()
    oracles = registry.oracle_sql()
    for key in qs:
        if args.filter and args.filter not in key:
            continue
        tag = "oracle" if key in oracles else "rows-only"
        print(f"{key}\t{tag}")
    broken = registry.broken()
    if broken:
        print(f"ERROR: {len(broken)} operator module(s) failed to import: "
              f"{sorted(broken)}", file=sys.stderr)
        return 1
    return 0


def _cmd_run(args: argparse.Namespace) -> int:
    from flinkproj_spark.session import build_session

    qs = registry.queries()
    if args.key not in qs:
        print(f"unknown key {args.key!r}; `python -m flinkproj_spark list`",
              file=sys.stderr)
        return 2
    spark = build_session(f"flinkproj_spark-run-{args.key}")
    spark.sparkContext.setLogLevel("WARN")
    df = qs[args.key](spark, args.sf_dir)
    if args.explain:
        df.explain("formatted")
        return 0
    if args.out:
        df.write.mode("overwrite").parquet(args.out)
        print(f"wrote {args.out}")
        return 0
    df.show(args.limit, truncate=False)
    return 0


def _cmd_oracle(args: argparse.Namespace) -> int:
    import duckdb

    sql = registry.oracle_sql().get(args.key)
    if sql is None:
        print(f"{args.key!r} has no oracle (rows-only key or unknown)",
              file=sys.stderr)
        return 2
    con = duckdb.connect()
    register_oracle_views(con, args.sf_dir)
    print(con.execute(sql).fetchdf().to_string(index=False))
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="python -m flinkproj_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    p_list = sub.add_parser("list", help="list registered query keys")
    p_list.add_argument("--filter", default=None)
    p_list.set_defaults(fn=_cmd_list)

    p_run = sub.add_parser("run", help="run one query key on Spark")
    p_run.add_argument("key")
    p_run.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    p_run.add_argument("--limit", type=int, default=20)
    p_run.add_argument("--out", default=None, help="write parquet instead of show")
    p_run.add_argument("--explain", action="store_true")
    p_run.set_defaults(fn=_cmd_run)

    p_or = sub.add_parser("oracle", help="run the key's DuckDB oracle twin")
    p_or.add_argument("key")
    p_or.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    p_or.set_defaults(fn=_cmd_oracle)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
