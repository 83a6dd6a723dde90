"""Every catalog query must match its DuckDB oracle at sf0.001.

This is the same compare the driver performs at sf0.01 (rowcount +
column names + order-insensitive values); running it in pytest keeps
regressions from ever reaching the driver gate.
"""

from __future__ import annotations

import pytest

from westtopologies_spark.queries import catalog

sys_path_specs = catalog()


def _rowset(cols, rows):
    import sys

    sys.path.insert(0, __file__.rsplit("/tests/", 1)[0])
    from tools.check_oracle import rowset

    return rowset(cols, rows)


@pytest.mark.parametrize("spec", sys_path_specs, ids=[s.name for s in sys_path_specs])
def test_query_matches_oracle(spec, spark, duck, sf_dir):
    import sys

    sys.path.insert(0, __file__.rsplit("/tests/", 1)[0])
    from tools.type_audit import norm as _norm_strict

    # a kernel owns its caching: no cached plan outlives the entry
    cache = spark._jsparkSession.sharedState().cacheManager()
    cached = cache.numCachedEntries()
    sdf = spec.spark(spark, sf_dir)
    s_cols, s_rows = _rowset(sdf.columns, [tuple(r) for r in sdf.collect()])
    assert cache.numCachedEntries() == cached
    if spec.oracle is None:
        assert isinstance(s_rows, list)  # rows-only smoke
        return
    rel = duck.sql(spec.oracle)
    d_cols, d_rows = _rowset(list(rel.columns), rel.fetchall())
    # STRICT type identity (round-4 lesson: the driver value hash is
    # type-sensitive — DuckDB HUGEINT vs Spark LONG fails with equal
    # values, and no width-equivalence class is safe by construction)
    s_typ = {f.name: _norm_strict(f.dataType.simpleString()) for f in sdf.schema.fields}
    d_typ = {c: _norm_strict(str(t)) for c, t in zip(rel.columns, rel.types)}
    assert s_typ == d_typ
    assert s_cols == d_cols
    assert len(s_rows) == len(d_rows)
    assert s_rows == d_rows


def test_stem_rule_boundaries_match_oracle(spark):
    """X4: every stemming rule at, below and above its min-stem length
    (plus rule chains and case folding) equals the ``x4_stem_rule_based``
    oracle's CASE chain run by DuckDB on the same tokens."""
    import duckdb
    from pyspark.sql import functions as F

    from westtopologies_spark.ops.text import stem_rule_based

    suffixes = ["ies", "sses", "s", "ss", "us", "is", "as", "ing", "ed", "ings", "eds", "ied"]
    words = sorted(
        {
            case(prefix[:n] + suffix)
            for prefix in ("abcdefg", "xxxxxxx", "àbçdéfg")
            for suffix in suffixes
            for n in range(0, 8)
            for case in (str.lower, str.upper)
        }
    )
    oracle = next(s.oracle for s in catalog() if s.name == "x4_stem_rule_based")
    with duckdb.connect() as con:
        con.execute("CREATE TABLE documents AS SELECT ? AS text", [" ".join(words)])
        expect = dict(con.sql(oracle).fetchall())
    toks = spark.createDataFrame([(w,) for w in words], "token string")
    got = {
        r["token"]: r["stem"]
        for r in toks.select("token", stem_rule_based(F.col("token")).alias("stem"))
        .filter(F.length("token") > 1)
        .collect()
    }
    assert len(got) > 400
    assert got == expect
