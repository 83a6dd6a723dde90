"""Strict type-identity audit: DuckDB oracle result types vs Spark schemas.

VERDICT r3 #5: the driver's value hash is value-TYPE-sensitive (proven by
the HUGEINT class — 6 of 7 r3 red rows were uncast DuckDB ``sum()``
columns typed int128 against Spark LONG, values identical).  The local
gate's equivalence classes (all int widths == one class) are therefore
NOT faithful to the driver.  This tool derives the DuckDB result type of
every catalog oracle and diffs it against the Spark DataFrame schema
*strictly* — no equivalence classes beyond pure spelling (VARCHAR ==
string, BIGINT == long, TIMESTAMP == timestamp_ntz: same physical type,
different dialect spelling).  Any physical difference (width, sign,
int128, tz-awareness, decimal p/s) is a finding.

Usage:  python tools/type_audit.py [sf_dir] [query ...]
Exit 1 if any mismatch.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# Pure spelling normalization: each entry maps dialect spellings of the
# SAME physical type to one canon.  int32 and int64 stay DISTINCT; so do
# hugeint, unsigned widths, float vs double, tz-aware vs naive.
_SPELLING = {
    "bigint": "int64",
    "long": "int64",
    "int64": "int64",
    "integer": "int32",
    "int": "int32",
    "int32": "int32",
    "smallint": "int16",
    "short": "int16",
    "tinyint": "int8",
    "byte": "int8",
    "hugeint": "int128",
    "uhugeint": "uint128",
    "ubigint": "uint64",
    "uinteger": "uint32",
    "usmallint": "uint16",
    "utinyint": "uint8",
    "double": "float64",
    "float8": "float64",
    "real": "float32",
    "float": "float32",
    "float4": "float32",
    "varchar": "string",
    "string": "string",
    "text": "string",
    "timestamp": "timestamp",
    "timestamp_ntz": "timestamp",
    "datetime": "timestamp",
    "timestamp with time zone": "timestamptz",
    "timestamptz": "timestamptz",
    "timestamp_ltz": "timestamptz",
    "date": "date",
    "boolean": "bool",
    "bool": "bool",
    "blob": "binary",
    "binary": "binary",
    "bytea": "binary",
}


def norm(t: str) -> str:
    t = t.strip().lower()
    if t.endswith("[]"):
        return f"array<{norm(t[:-2])}>"
    if t.startswith("array<") and t.endswith(">"):
        return f"array<{norm(t[6:-1])}>"
    return _SPELLING.get(t, t)  # decimal(p,s), struct<...> pass through


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    from tools.check_oracle import fresh_con
    from westtopologies_spark.queries import catalog
    from westtopologies_spark.session import get_spark

    spark = get_spark("type-audit")

    mismatches = 0
    checked = 0
    for spec in catalog():
        if only and spec.name not in only:
            continue
        if spec.oracle is None:
            continue
        try:
            sdf = spec.spark(spark, sf_dir)
            s_typ = {f.name: norm(f.dataType.simpleString()) for f in sdf.schema.fields}
        except Exception as e:  # noqa: BLE001
            print(f"ERR  {spec.name}: spark: {e}")
            mismatches += 1
            continue
        con = fresh_con(sf_dir)
        try:
            rel = con.sql(spec.oracle)
            d_typ = {c: norm(str(t)) for c, t in zip(rel.columns, rel.types)}
        except Exception as e:  # noqa: BLE001
            print(f"ERR  {spec.name}: duckdb: {e}")
            mismatches += 1
            con.close()
            continue
        con.close()
        checked += 1
        if set(s_typ) != set(d_typ):
            print(f"COLS {spec.name}: spark={sorted(s_typ)} duck={sorted(d_typ)}")
            mismatches += 1
            continue
        bad = {c: (d_typ[c], s_typ[c]) for c in d_typ if d_typ[c] != s_typ[c]}
        if bad:
            print(f"TYPE {spec.name}: (duck, spark) {bad}")
            mismatches += 1

    spark.stop()
    print(f"\n{checked} oracles checked, {mismatches} strict-type mismatches")
    return 1 if mismatches else 0


if __name__ == "__main__":
    raise SystemExit(main())
