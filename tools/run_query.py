"""Run one catalog query by name: print rows (bounded), optionally
the formatted physical plan and/or the DuckDB oracle result.

Usage:
    python tools/run_query.py NAME [sf_dir] [--explain] [--oracle] [--n 20]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("name")
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.01")
    ap.add_argument("--explain", action="store_true")
    ap.add_argument("--oracle", action="store_true")
    ap.add_argument("--n", type=int, default=20)
    args = ap.parse_args()

    from westtopologies_spark import queries as Q
    from westtopologies_spark.session import get_spark

    cat = Q.queries()
    if args.name not in cat:
        import difflib

        close = difflib.get_close_matches(args.name, cat, n=5)
        sys.exit(f"unknown query {args.name!r}; close: {close}")
    spark = get_spark("run-query")
    df = cat[args.name](spark, args.sf_dir)
    if args.explain:
        df.explain("formatted")
    t0 = time.time()
    rows = df.limit(args.n).collect()
    n_total = df.count()
    print(f"-- {args.name} @ {args.sf_dir}: {n_total} rows, "
          f"{time.time() - t0:.2f}s (showing {min(args.n, n_total)})")
    for r in rows:
        print(dict(r.asDict()))
    if args.oracle:
        sql = Q.oracle_sql().get(args.name)
        if sql is None:
            print("-- no oracle for this query (rows-only check)")
        else:
            from tools.check_oracle import fresh_con

            con = fresh_con(args.sf_dir)
            res = con.execute(sql).fetchall()
            print(f"-- oracle: {len(res)} rows (showing {min(args.n, len(res))})")
            for row in res[: args.n]:
                print(row)


if __name__ == "__main__":
    main()
