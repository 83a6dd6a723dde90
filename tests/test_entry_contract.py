"""Driver-contract regression tests for ``__spark_entry__``:
the exact invariants the per-round driver relies on (smoke-run
entry(), queries()/oracle_sql() key discipline, stable entry schema,
and the hash-exact output discipline for window-eligible queries)."""

from __future__ import annotations

import importlib
import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def entry_mod():
    sys.path.insert(0, REPO)
    return importlib.import_module("__spark_entry__")


def test_entry_runs_with_stable_schema(spark, entry_mod):
    df = entry_mod.entry(spark)
    assert df.columns == [
        "window_start",
        "event_type",
        "n_events",
        "n_users",
        "sum_value",
    ]
    assert len(df.take(5)) > 0


def test_oracle_keys_subset_of_queries(entry_mod):
    qs, osql = entry_mod.queries(), entry_mod.oracle_sql()
    assert set(osql) <= set(qs)
    # rows-only entries are the documented model exceptions
    # (ag_hll_distinct graduated to a hard oracle in r5 — the
    # deterministic fixed-hash HLL; ag_approx_percentiles in r7 —
    # the deterministic integer-histogram sketch)
    rows_only = set(qs) - set(osql)
    assert rows_only == {
        "m1_predict_locations",
    }


def test_window_queries_have_no_unprecedented_double_outputs(spark, entry_mod):
    """Hash-exact discipline (ORACLE_DISCIPLINE.md round-3 sweep):
    a correctness-window query may only emit double columns if it
    already has a driver value-hash PASS on record (precedent) or is
    rows-only by design (oracle=None — never hashed) — a NEVER-
    driver-checked window entrant with a double output would re-expose
    the ts_sessionize failure class. The rule itself lives in
    queries.py::window_double_offenders and is SHARED with
    tools/preflight.py stage 2 (VERDICT r4 #7)."""
    from westtopologies_spark.queries import window_double_offenders

    assert not window_double_offenders(spark), window_double_offenders(spark)


def test_no_entry_emits_complex_typed_outputs(spark, entry_mod):
    """Primitive-only outputs, CATALOG-WIDE (rows-only entries
    included): the driver's pandas canonicalizer cannot factorize
    array/map/struct values — ag_approx_percentiles' array<double>
    output was the one red r5 row, which proved rows-only entries
    are canonicalized too. Rule lives in
    queries.py::complex_output_offenders, shared with
    tools/preflight.py."""
    from westtopologies_spark.queries import complex_output_offenders

    assert not complex_output_offenders(spark), complex_output_offenders(spark)


@pytest.mark.parametrize(
    "submodule",
    [
        "queries_ext",
        "queries_ext2",
        "queries_ext3",
        "queries_ext4",
        "queries_ext5",
        "queries_ext6",
        "queries_ext7",
        "queries_scale",
        "queries_graph",
    ],
)
def test_submodule_first_import_order(submodule):
    """Importing ANY catalog submodule BEFORE the root queries module
    must still yield the full hardened catalog (regression class: the
    hash-exact sweep used to run at module scope and saw a partial
    _CATALOG; r5 found SEVEN more first-import breaks — eager oracle
    builders importing sibling-submodule helpers at registration time.
    Fixed via lazy-callable oracles + early pure-literal CTE blocks;
    every lazy oracle must resolve to a string at catalog access)."""
    import subprocess

    code = (
        "import sys; sys.path.insert(0, %r)\n"
        "import westtopologies_spark.%s\n"
        "import westtopologies_spark.queries as q\n"
        "specs = q._ordered()\n"
        "assert len(specs) >= 181, len(specs)\n"
        "assert all(isinstance(s.oracle, (str, type(None))) for s in specs)\n"
        "assert any('_x1e' in (s.oracle or '')\n"
        "           for s in specs if s.name == 'ag_pivot')\n"
        "print('ok')\n" % (REPO, submodule)
    )
    r = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, timeout=120
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert "ok" in r.stdout


def test_bench_contract_line_is_one_compact_json_line():
    """BENCH_r03.json came back parsed:null — the full per-query map
    overflowed the driver's stdout capture.  Pin the contract: one
    line, valid JSON, required keys, bounded size, even with every
    catalog entry present in the timing map."""
    import json
    import sys

    sys.path.insert(0, __file__.rsplit("/tests/", 1)[0])
    import bench
    from westtopologies_spark.queries import catalog

    timings = {s.name: 123.456 for s in catalog()}
    line = bench.contract_line(timings, 999.9, 0.1)
    assert "\n" not in line
    assert len(line) <= bench.CONTRACT_LINE_MAX_BYTES
    parsed = json.loads(line)
    assert set(parsed) == {"metric", "value", "unit", "queries", "sf"}
    assert parsed["queries"]  # non-empty headline subset
    assert set(parsed["queries"]) <= set(timings)
    # graceful degradation (ADVICE r4): pathological timing values must
    # trim the headline map, not crash after the timed suite already ran
    fat = {s.name: 1.23456789e12 for s in catalog()}
    fat_line = bench.contract_line(fat, 9.9e12, 0.1)
    assert len(fat_line) <= bench.CONTRACT_LINE_MAX_BYTES
    assert json.loads(fat_line)["metric"] == "catalog_suite_wall_clock"


def test_bench_regression_gate_flags_r5_shape():
    """tools/bench_regress.py (VERDICT r5 #3) must flag the exact
    r4->r5 per-query collapse it was built for, scale thresholds by
    the canary's ambient-load ratio, and stay quiet on a uniformly
    slower machine."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "bench_regress", os.path.join(REPO, "tools", "bench_regress.py")
    )
    br = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(br)
    base = {
        "p5_derived_flag": 0.231,
        "ann_ivf_topk": 3.9,
        "dd_embedding_neardup": 6.2,
        "x2_tokenize": 0.5,
        "tiny": 0.2,
    }
    cand = {
        "p5_derived_flag": 0.262,
        "ann_ivf_topk": 40.7,
        "dd_embedding_neardup": 92.4,
        "x2_tokenize": 0.55,
        "tiny": 0.8,  # 4x but sub-floor: timer noise, never a flag
    }
    flags, ratio = br.compare(base, cand)
    assert {f[0] for f in flags} == {"ann_ivf_topk", "dd_embedding_neardup"}
    assert 1.0 < ratio < 1.3
    # ambient slowdown (everything 2x, canary included) is not rot
    flags2, _ = br.compare(base, {k: v * 2 for k, v in base.items()})
    assert not flags2
    # queries on only one side are informational, never flagged
    flags3, _ = br.compare(base, {"p5_derived_flag": 0.24, "brand_new": 99.0})
    assert not flags3


def _load_bench_regress():
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "bench_regress", os.path.join(REPO, "tools", "bench_regress.py")
    )
    br = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(br)
    return br


def test_bench_gate_classifies_loaded_driver_run_mechanically():
    """VERDICT r7 #1 done-criterion: the gate, replayed against the
    driver's loaded r7 record (666.6s, canary 6.4x, flat Python
    probes) vs the committed clean record (473.1s), must label it
    load-not-regression WITHOUT hand analysis — exit 0, every flag
    downgraded with either per-entry stall evidence or the suite-load
    classifier, and the LOADED RUN banner printed."""
    import subprocess

    fix = os.path.join(REPO, "tests", "fixtures")
    r = subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "tools", "bench_regress.py"),
            os.path.join(fix, "bench_r7_clean.json"),
            os.path.join(fix, "bench_r7_driver_loaded.json"),
        ],
        capture_output=True,
        text=True,
        timeout=60,
    )
    assert r.returncode == 0, r.stdout + r.stderr
    assert "LOADED RUN" in r.stdout
    assert "FLAGGED" not in r.stdout
    # the known r7 load artifacts are all present as warnings, none hard
    for victim in ("gr_pagerank", "dd_embedding_neardup", "tx_rake_keywords"):
        assert f"(warn) {victim}" in r.stdout, victim


def test_bench_gate_suite_load_and_jumpy_ceiling_rules():
    """The r8 downgrade rules in isolation: (a) a clean-canary run
    with one genuine multi-second collapse still FAILS (suite-load
    needs canary AND breadth); (b) a KNOWN_JUMPY entry above its
    absolute ceiling flags hard — the pin expires (ADVICE r7);
    (c) stall inheritance is one corroborated hop, not transitive."""
    br = _load_bench_regress()

    base = {"p5_derived_flag": 0.5}
    for i in range(20):
        base[f"stable_{i}"] = 5.0
    # (a) canary flat, one entry collapsed 10x -> hard flag survives
    cand = dict(base)
    cand["stable_0"] = 50.0
    loaded, canary, frac = br._suite_load_evidence(base, cand)
    assert not loaded and canary < br.SUITE_LOAD_CANARY_X
    flags, _ = br.compare(base, cand)
    assert {f[0] for f in flags} == {"stable_0"}
    # canary 4x + only one inflated entry: breadth condition fails
    cand2 = dict(base)
    cand2["p5_derived_flag"] = 2.0
    cand2["stable_0"] = 50.0
    loaded2, _, frac2 = br._suite_load_evidence(base, cand2)
    assert not loaded2 and frac2 < br.SUITE_LOAD_FRACTION
    # canary 4x + >15% of stable entries inflated: loaded
    cand3 = dict(cand2)
    for i in range(4):
        cand3[f"stable_{i}"] = 15.0
    loaded3, _, _ = br._suite_load_evidence(base, cand3)
    assert loaded3
    # (b) jumpy ceiling: below ceiling forgiven, above it a real flag
    assert br.KNOWN_JUMPY["tx_bpe_train"] < 100.0
    jb = {"tx_bpe_train": 6.0, **{f"s{i}": 5.0 for i in range(10)}}
    jc = dict(jb)
    jc["tx_bpe_train"] = 100.0
    jflags, _ = br.compare(jb, jc)
    assert {f[0] for f in jflags} == {"tx_bpe_train"}
    # (c) one-hop inheritance requires the inheritor's own probe
    # elevated: an entry with a FLAT probe adjacent to a stalled one
    # is not forgiven by adjacency alone (exercised via
    # _probe_elevation + the PROBE_CORROBORATE_X constant)
    import json as _json

    blob = _json.dumps(
        {
            "queries": {f"q{i}": 5.0 for i in range(12)},
            "probes": {
                f"q{i}": (0.05 if i == 5 else 0.005) for i in range(12)
            },
            "jprobes": {},
        }
    )
    stalled = br._stalled_by_probe(blob)
    assert stalled == {"q4", "q5"}  # direct evidence + predecessor only
    elev = br._probe_elevation(blob)
    assert elev["q5"] > br.PROBE_STALL_X
    assert elev["q6"] < br.PROBE_CORROBORATE_X  # flat: cannot inherit
    # (d) absolute host anchors: a candidate whose cal.py_ms is 3x the
    # baseline's classifies as a slow-host record; records without
    # anchors (pre-r8) neutrally ratio to 1.0
    import json as _json2

    b_blob = _json2.dumps({"queries": {}, "cal": {"start": {"py_ms": 200.0}}})
    c_blob = _json2.dumps(
        {
            "queries": {},
            "cal": {"start": {"py_ms": 580.0}, "end": {"py_ms": 620.0}},
        }
    )
    r = br._cal_ratio(b_blob, c_blob)
    assert 2.9 < r < 3.1 and r >= br.CAL_SLOW_HOST_X
    assert br._cal_ratio(_json2.dumps({"queries": {}}), c_blob) == 1.0
    assert br._cal_ratio(None, c_blob) == 1.0


def test_pin_list_is_self_maintaining():
    """The driver-window pin head derives from the committed
    CORRECTNESS artifacts: latest-round failures re-check first,
    fix-carrying entries stay pinned until a CORRECTNESS row from a
    later round than their fix, sentinels always present — and every pin is
    a real catalog name inside the 50-entry window."""
    from westtopologies_spark.queries import (
        _PIN_UNTIL_RECHECKED,
        _SENTINELS,
        _latest_round_failures,
        _rounds_with_row,
        _top_priority,
        catalog,
    )

    pins = _top_priority()
    names = {s.name for s in catalog()}
    assert set(pins) <= names
    assert len(pins) <= 25  # never starve the rotating backlog
    window = [s.name for s in catalog()[:50]]
    assert window[: len(pins)] == pins
    for s in _SENTINELS:
        assert s in pins
    rounds = _rounds_with_row()
    for n, after in _PIN_UNTIL_RECHECKED.items():
        assert n in names
        assert (n in pins) == (not any(r > after for r in rounds.get(n, ())))
    for n in _latest_round_failures():
        assert n in pins
    # pins only ever come from the three sources above
    assert set(pins) <= (
        set(_latest_round_failures()) | set(_PIN_UNTIL_RECHECKED) | set(_SENTINELS)
    )


def test_rotation_is_staleness_first():
    """Round-8 rotation rework (VERDICT r7 "What's missing" #3): with
    the never-checked backlog at zero, the window must be dominated by
    the entries whose last driver row is OLDEST — the r2/r3-era rows
    that predate the r4 strict-type sweep and r5 scaled-int rewrites.
    Pin the invariant structurally: among non-pinned entries, everyone
    inside the 50-slot window is at least as stale (by last-checked
    round) as everyone outside it."""
    from westtopologies_spark.queries import (
        _rounds_with_row,
        _top_priority,
        catalog,
    )

    last = {n: max(rs) for n, rs in _rounds_with_row().items()}
    pins = set(_top_priority())
    specs = catalog()
    in_win = [last.get(s.name, 0) for s in specs[:50] if s.name not in pins]
    out_win = [last.get(s.name, 0) for s in specs[50:] if s.name not in pins]
    if in_win and out_win:
        assert max(in_win) <= min(out_win), (max(in_win), min(out_win))


def test_ckpt_small_contract(spark):
    """_ckpt_small's docstring contract (ADVICE r8): rows identical,
    materialized partition count bounded by the coalesce, and the
    result is a lineage-truncated leaf (its logical plan no longer
    references the input's scan) — callers rely on all three."""
    from pyspark.sql import functions as F

    from westtopologies_spark.queries import _ckpt_small

    src = spark.range(0, 1000).withColumn("g", F.col("id") % 7)
    out = _ckpt_small(src.groupBy("g").count(), n=4)
    assert out.rdd.getNumPartitions() <= 4
    assert {(r.g, r["count"]) for r in out.collect()} == {
        (r.g, r["count"]) for r in src.groupBy("g").count().collect()
    }
    # eager + truncated: the analyzed plan is a leaf RDD scan
    assert "LogicalRDD" in out._jdf.queryExecution().analyzed().toString()
