"""Self-tests of the benchmark. Run from the repository root:

    python3 -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider

The unit tests take a second; the smoke runs start Spark and take a few
minutes (deselect them with ``-k "not smoke"``).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import (  # noqa: E402
    catalog,
    common,
    gen,
    role_stream,
    roles_ref,
    run,
    state_stream,
    stats,
    trace,
)


# -- inputs come from the seed alone -------------------------------------------


def _frames_equal(a: dict, b: dict) -> bool:
    return a.keys() == b.keys() and all(a[k].equals(b[k]) for k in a)


def test_same_seed_same_inputs():
    assert _frames_equal(gen.catalog_frames(7, 0.001), gen.catalog_frames(7, 0.001))
    assert gen.tweet_ticks(gen.tweet_schedule(7, 50, 4, 3000), 0.25) == gen.tweet_ticks(
        gen.tweet_schedule(7, 50, 4, 3000), 0.25
    )
    assert gen.documents_frame(7, 300).equals(gen.documents_frame(7, 300))


def test_different_seed_different_inputs():
    a, b = gen.catalog_frames(7, 0.001), gen.catalog_frames(8, 0.001)
    assert not _frames_equal(a, b)
    assert gen.tweet_schedule(7, 50, 4, 3000) != gen.tweet_schedule(8, 50, 4, 3000)
    assert not gen.events_frame(7, 500, 20).equals(gen.events_frame(8, 500, 20))


def test_tweet_parents_stay_in_their_window():
    tweets = gen.tweet_schedule(3, 100, 6, 3000)
    window = {t["id_str"]: int(ev // 600) for _, ev, t in tweets if "id_str" in t}
    for _, ev, t in tweets:
        parent = t.get("in_reply_to_status_id_str") or (t.get("retweeted_status") or {}).get(
            "id_str"
        )
        if parent in window:
            assert window[parent] == int(ev // 600)


# -- percentiles -----------------------------------------------------------------


def test_percentile_needs_ten_samples_beyond():
    xs = [float(i) for i in range(100)]
    assert stats.percentile(xs[:19], 50) is None
    assert stats.percentile(xs[:20], 50) == pytest.approx(9.5)
    assert stats.percentile(xs[:39], 75) is None
    assert stats.percentile(xs[:40], 75) is not None
    assert stats.percentile(xs[:99], 90) is None
    assert stats.percentile(xs, 90) == pytest.approx(89.1)


# -- window latency attribution ------------------------------------------------------


def test_window_latency_attribution():
    # files: (write time, largest event second in the file)
    files = [(100.0, 500.0), (101.0, 1300.0), (102.0, 1900.0), (103.0, 2500.0)]
    # window [0, 600) closes once an event reaches 600 + 600 = 1200:
    # first such file is written at 101.0; window [600, 1200) needs
    # 1800 -> 102.0; window [1200, 1800) needs 2400 -> 103.0
    emitted = {0.0: 110.0, 600.0: 112.5, 1200.0: 120.0}
    got = role_stream.window_latencies(files, emitted)
    assert got == {0.0: 9.0, 600.0: 10.5, 1200.0: 17.0}
    # a window no file has closed yet has no latency
    assert role_stream.window_latencies(files, {1800.0: 130.0}) == {}


def test_generator_lateness_invalidates_a_run():
    role_stream.check_lateness([0.0, 0.01])
    with pytest.raises(RuntimeError, match="invalid"):
        role_stream.check_lateness([0.0, role_stream.MAX_LATE_S + 0.1])


# -- spans -------------------------------------------------------------------------


def test_self_times_sum_to_the_root():
    t = trace.Tracer()
    root = t.add("entry", 0.0, 10.0, None, "e")
    build = t.add("build", 0.0, 2.0, root.id, "e")
    action = t.add("action", 2.0, 10.0, root.id, "e")
    # two overlapping jobs under the action, one spilling past it
    t.add("job 1", 3.0, 6.0, action.id, "e")
    t.add("job 2", 5.0, 11.0, action.id, "e")
    t.add("job 0", 0.5, 1.0, build.id, "e")
    assert t.compute_self_times() == pytest.approx(0.0)
    by = {s.name: s.self_s for s in t.spans}
    assert by == pytest.approx(
        {"entry": 0.0, "build": 1.5, "job 0": 0.5, "action": 1.0, "job 1": 3.0, "job 2": 4.0}
    )


def test_event_log_counters(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "g"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Stage Attempt ID": 0,
         "Task Info": {"Launch Time": 1100},
         "Task Metrics": {"Executor Run Time": 50, "Executor CPU Time": 4e7, "JVM GC Time": 5,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 10}}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 0, "Stage Attempt ID": 0, "Submission Time": 1050,
            "Completion Time": 1200, "Number of Tasks": 1}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1300},
        {"Event": trace.SQL_START, "executionId": 3, "time": 990},
        {"Event": trace.AQE_UPDATE, "executionId": 3},
    ]
    path = tmp_path / "log"
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    log = trace.read_event_log(str(path))
    c = trace.counters(log, {0})
    assert (c["jobs"], c["stages"], c["tasks"]) == (1.0, 1.0, 1.0)
    assert c["sched_wait_s"] == pytest.approx(0.05)
    assert c["task_cpu_s"] == pytest.approx(0.04)
    assert c["shuffle_write_bytes"] == 10.0
    assert trace.sql_counts(log, 0.5, 1.5) == {"sql_executions": 1.0, "aqe_replans": 1.0}


def test_catalog_subset_is_in_the_catalog():
    from westtopologies_spark.queries import catalog as full

    names = {s.name for s in full()}
    assert set(catalog.SUBSET) <= names
    assert len(set(catalog.SUBSET)) == len(catalog.SUBSET) == 23
    import re

    families = {re.match(r"[a-z]+", n).group(0) for n in names}
    assert families == {re.match(r"[a-z]+", n).group(0) for n in catalog.SUBSET}


def test_per_layer_units():
    assert run.unit_of("streaming.role.trigger_ms_p50") == "ms"
    assert run.unit_of("queries.shuffle_read_bytes") == "bytes"
    assert run.unit_of("session.get_spark_s") == "s"
    assert len(run.PER_LAYER) == len(set(run.PER_LAYER)) <= 128


def test_benchmark_json_matches_the_command():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bm = json.load(f)
    assert {w["name"] for w in bm["workloads"]} <= set(run.workloads())
    assert {m["name"]: m["unit"] for m in bm["end_to_end"]} == run.END_TO_END_UNITS
    assert [(m["name"], m["unit"]) for m in bm["per_layer"]] == [
        (n, run.unit_of(n)) for n in run.PER_LAYER
    ]


# -- the command ---------------------------------------------------------------------


def test_fails_without_the_program(tmp_path):
    """In a directory holding only the benchmark, the command exits
    non-zero and prints no result."""
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench")
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "catalog", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


def test_smoke_reference_roles_match_the_batch_pipeline(tmp_path):
    """The role_stream check's plain-Python role analysis gives what
    ``role_analysis_batch`` gives over the same tweets."""
    from pyspark.sql import functions as F

    from westtopologies_spark.pipelines.role_analysis import role_analysis_batch
    from westtopologies_spark.schemas import TWEET_SCHEMA

    ctx = common.Context("roles_ref", 0, 0.0, False)
    common.prepare_env(ctx)
    try:
        spark = common.start_session(ctx, "roles-ref-test")
        for seed in (5, 6):
            tweets = gen.tweet_schedule(seed, 150, 2, 18_000)
            path = tmp_path / f"tweets-{seed}.json"
            path.write_text("".join(body for body, _ in gen.tweet_ticks(tweets, 0.25)))
            epoch = gen.STREAM_EPOCH.timestamp()
            roles = role_analysis_batch(spark.read.schema(TWEET_SCHEMA).json(str(path)))
            got: dict = {}
            for w, user, role in roles.select(
                F.unix_timestamp("window_start") - F.lit(epoch), "user_id", "role"
            ).collect():
                got.setdefault(float(w), set()).add((user, role))
            expect = roles_ref.roles_by_window(tweets)
            assert len(expect) > 20
            assert got == expect
    finally:
        common.stop_session(ctx)
        common.shutdown_jvm()
        ctx.cleanup()


def _smoke(workload: str, trace_flag: int, capsys) -> dict:
    rc = run.main(
        ["--workload", workload, "--seed", "3", "--seconds", "6", "--trace", str(trace_flag)]
    )
    lines = capsys.readouterr().out.strip().splitlines()
    assert rc == 0
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    return result


def test_smoke_catalog(monkeypatch, capsys):
    monkeypatch.setattr(catalog, "SF", 0.001)
    result = _smoke("catalog", 0, capsys)
    assert set(result["metrics"]) == set(run.END_TO_END_UNITS)


def test_smoke_role_stream(monkeypatch, capsys):
    monkeypatch.setattr(role_stream, "RATE", 20.0)
    result = _smoke("role_stream", 1, capsys)
    assert set(result["metrics"]) == set(run.PER_LAYER)
    assert result["metrics"]["streaming.role.rows_dropped_late"]["value"] == 0


def test_smoke_state_stream(monkeypatch, capsys):
    monkeypatch.setattr(state_stream, "EVENTS", 2_000)
    monkeypatch.setattr(state_stream, "DOCS", 300)
    monkeypatch.setattr(state_stream, "FILES_PER_QUERY", 3)
    result = _smoke("state_stream", 1, capsys)
    assert result["metrics"]["streaming.lsh.candidates"]["value"] > 0
