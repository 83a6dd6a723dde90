"""Time the DuckDB oracle suite — the self-referenced baseline.

The reference publishes no numbers (BASELINE.md), so the per-round
head-to-head is: engine catalog wall-clock (bench.py) vs the SAME
declared queries replayed through DuckDB on the same parquet.  This
tool produces the DuckDB side as one JSON line.

Usage: python tools/oracle_bench.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    from tools.check_oracle import fresh_con
    from westtopologies_spark.queries import oracle_sql

    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    t_all = time.time()
    for name, sql in oracle_sql().items():
        con = fresh_con(sf_dir)
        t0 = time.time()
        try:
            con.execute(sql).fetchall()
            timings[name] = round(time.time() - t0, 3)
        except Exception as e:  # noqa: BLE001 - a single replay OOM
            # must not void the suite measurement; record and move on
            errors[name] = str(e)[:120]
            print(f"ERROR {name}: {errors[name]}", file=sys.stderr)
        con.close()
    print(
        json.dumps(
            {
                "metric": "oracle_suite_wall_clock_duckdb",
                "value": round(time.time() - t_all, 3),
                "unit": "sec",
                "queries": timings,
                "errors": errors,
                "sf_dir": sf_dir,
            }
        )
    )


if __name__ == "__main__":
    main()
