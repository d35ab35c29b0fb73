"""Tests of the benchmark harness itself: python3 -m pytest perfbench -q

The two smoke tests start Spark at sf0.001 and take about half a minute
each; the rest run in milliseconds."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402

with open(os.path.join(run.ROOT, "BENCHMARK.json"), encoding="utf-8") as _fh:
    BENCH = json.load(_fh)


# -- percentile rule ----------------------------------------------------------


def test_p90_needs_ten_samples_beyond_it():
    assert run.percentile([float(i) for i in range(99)], 0.9) is None
    values = [float(i) for i in range(100)]
    p90 = run.percentile(values, 0.9)
    assert p90 is not None
    assert sum(v > p90 for v in values) >= 10


def test_p50_needs_twenty_samples():
    assert run.percentile([1.0] * 19, 0.5) is None
    assert run.percentile([float(i) for i in range(21)], 0.5) == 10.0


def test_warming_flag():
    assert run.warming_up([6.0, 5.9, 5.0, 5.0])
    assert not run.warming_up([5.1, 5.0, 5.05, 5.0])
    assert not run.warming_up([9.0])


# -- failure counting -----------------------------------------------------------


def test_every_failure_counts_once():
    tally = run.Tally()

    def boom():
        raise RuntimeError("executor lost")

    assert tally.record("ok", lambda: (True, ""))
    assert not tally.record("wrong", lambda: (False, "row count mismatch"))
    assert not tally.record("raises", boom)
    assert (tally.attempted, tally.failed) == (3, 2)
    assert tally.failed_frac == pytest.approx(2 / 3)
    assert tally.errors == ["wrong: row count mismatch", "raises: RuntimeError: executor lost"]


def test_result_line_reports_failures():
    tally = run.Tally()
    tally.record("wrong", lambda: (False, "x"))
    metrics = {k: 1.5 for k in run.E2E_UNITS}
    out = json.loads(run.result_line(tally, metrics, run.E2E_UNITS))
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert (out["correct"], out["attempted"], out["failed"]) == (False, 1, 1)
    assert out["metrics"]["setup_s"] == {"value": 1.5, "unit": "s"}


# -- metric schema against BENCHMARK.json ----------------------------------------


def test_end_to_end_schema_matches_benchmark_json():
    declared = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    assert declared == run.E2E_UNITS
    assert all(0 < m["bound"] <= 0.25 for m in BENCH["end_to_end"])
    bounds = {m["name"]: m["bound"] for m in BENCH["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values())


def test_per_layer_schema_matches_benchmark_json():
    assert {m["name"]: m["unit"] for m in BENCH["per_layer"]} == run.LAYER_UNITS


def test_workloads_and_pinned_session_match_benchmark_json():
    assert [w["name"] for w in BENCH["workloads"]] == list(run.WORKLOADS)
    args = run.parse_args(BENCH["command"][2:] + ["--workload", "etl_pipeline"])
    assert 1 <= args.cores <= (os.cpu_count() or 1)
    assert args.shuffle_partitions >= 1


# -- tracing -----------------------------------------------------------------------


def _spans():
    S = tracing.Span
    return [
        S("op", 0.0, 1.0, -1, 0),
        S("runner.run", 0.1, 0.9, 0, 0),
        S("sources.read", 0.1, 0.3, 1, 0),
        S("sinks.write", 0.4, 0.8, 1, 0),
    ]


def test_self_time_subtracts_children():
    st = tracing.self_times(_spans())
    assert st[0] == pytest.approx(0.2)
    assert st[1] == pytest.approx(0.2)
    assert st[3] == pytest.approx(0.4)


def test_layer_metrics_attribute_jobs_by_span_group():
    jobs = [
        tracing.JobStats("bench:2", 1000, 1100, {1}, tasks=4, run_ms=300, cpu_ns=2_000_000, shuffle_bytes=10),
        tracing.JobStats("bench:3", 1400, 1800, {2, 3}, tasks=8, run_ms=1200, cpu_ns=4_000_000, spill_bytes=5),
        tracing.JobStats(None, 0, 10, {0}, tasks=1),  # outside the window
    ]
    m = tracing.layer_metrics(_spans(), jobs, n_ops=1, cores=4)
    assert m["runner.self_ms_per_op"] == pytest.approx(200.0)
    assert m["sources.read_ms_per_op"] == pytest.approx(200.0)
    assert m["sources.read_jobs_per_op"] == 1
    assert m["spark.jobs_per_op"] == 2
    assert m["spark.stages_per_op"] == 3
    assert m["spark.tasks_per_op"] == 12
    assert m["spark.exec_ms_per_op"] == 500
    assert m["spark.core_busy_frac"] == pytest.approx(1500 / (4 * 500))
    assert m["spark.task_cpu_ms_per_op"] == pytest.approx(6.0)
    assert (m["spark.shuffle_bytes_per_op"], m["spark.spill_bytes_per_op"]) == (10, 5)
    assert m["plans.build_ms_per_op"] == 0


def test_layer_table_reports_unattributed_time():
    rows = dict(tracing.layer_table(_spans(), n_ops=1))
    assert rows["unattributed"] == pytest.approx(200.0)
    assert rows["sinks"] == pytest.approx(400.0)


def test_read_event_log(tmp_path):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 5, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "bench:7"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
            "Executor Run Time": 40, "Executor CPU Time": 30_000_000, "Memory Bytes Spilled": 1,
            "Disk Bytes Spilled": 2, "Shuffle Write Metrics": {"Shuffle Bytes Written": 64}}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 50},
    ]  # fmt: skip
    (app / "events_1_local-1").write_text("".join(json.dumps(e) + "\n" for e in events))
    (job,) = tracing.read_event_log(str(tmp_path))
    assert (job.group, job.start_ms, job.end_ms, job.stages, job.tasks) == ("bench:7", 5, 50, {1}, 1)
    assert (job.run_ms, job.cpu_ns, job.shuffle_bytes, job.spill_bytes) == (40, 30_000_000, 64, 3)


def test_spans_round_trip(tmp_path):
    path = str(tmp_path / "spans.jsonl")
    tracing.dump_spans(_spans(), path)
    assert tracing.load_spans(path) == _spans()


# -- inputs ------------------------------------------------------------------------


def test_tables_depend_only_on_seed(tmp_path):
    import pyarrow.parquet as pq

    a, b, c = (str(tmp_path / d) for d in "abc")
    counts = datagen.write_tables(a, 3, 0.001)
    datagen.write_tables(b, 3, 0.001)
    datagen.write_tables(c, 4, 0.001)
    assert set(counts) == set(datagen.TABLES)
    for t in datagen.TABLES:
        assert pq.read_table(f"{a}/{t}.parquet").equals(pq.read_table(f"{b}/{t}.parquet"))
    assert not pq.read_table(f"{a}/lineitem.parquet").equals(pq.read_table(f"{c}/lineitem.parquet"))


def test_tables_keep_the_reference_shape(tmp_path):
    """Ranges and rules read off the reference tables (perfbench/README.md)."""
    import datetime as dt

    import pyarrow.parquet as pq

    datagen.write_tables(str(tmp_path), 6, 0.001)
    t = {name: pq.read_table(f"{tmp_path}/{name}.parquet").to_pydict() for name in ("orders", "lineitem", "events", "documents")}
    assert dt.datetime(1995, 1, 1) <= min(t["orders"]["o_orderdate"])
    assert max(t["orders"]["o_orderdate"]) <= dt.datetime(2001, 8, 1)
    assert dt.datetime(1995, 1, 2) <= min(t["lineitem"]["l_shipdate"])
    assert max(t["lineitem"]["l_shipdate"]) <= dt.datetime(2001, 11, 4)
    assert len(set(t["events"]["user_id"])) == 150 // 10
    words = [sum(w != "dup" for w in x.split()) for x in t["documents"]["text"]]
    assert 10 <= min(words) and max(words) <= 99


def test_etl_feed_counts_match_what_was_injected(tmp_path):
    got = datagen.write_etl_inputs(str(tmp_path), 5, 0.001)
    parsed, bad, keep_sum = 0, 0, 0
    for name in sorted(os.listdir(tmp_path)):
        for line in open(tmp_path / name, encoding="utf-8"):
            try:
                rec = json.loads(line)
            except json.JSONDecodeError:
                bad += 1
                continue
            parsed += 1
            if rec["id"] is not None and rec["cust"] is not None:
                keep_sum += int(rec["id"])
    assert (parsed, bad) == (got.rows, got.malformed)
    assert keep_sum == got.key_sum
    assert 0 < got.null_keys < got.rows


# -- smoke runs at sf0.001 ------------------------------------------------------------


def _smoke(workload: str, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), *BENCH["command"][2:], "--workload", workload,
           "--seed", "2", "--seconds", "1", "--trace", str(trace), "--sf", "0.001"]  # fmt: skip
    out = subprocess.run(cmd, cwd=run.ROOT, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-2000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload,trace", [("catalog_short", 1), ("etl_pipeline", 0)])
def test_smoke_run(workload, trace):
    res = _smoke(workload, trace)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0
    units = run.LAYER_UNITS if trace else run.E2E_UNITS
    assert {k: v["unit"] for k, v in res["metrics"].items()} == units
    assert all(isinstance(v["value"], float) for v in res["metrics"].values())
    if trace:
        assert res["metrics"]["plans.build_ms_per_op"]["value"] > 0
        assert res["metrics"]["spark.jobs_per_op"]["value"] > 0
    else:
        assert res["metrics"]["ops_per_s"]["value"] > 0
