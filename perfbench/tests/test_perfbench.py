"""Self-tests of the benchmark's own math: the tail percentile, the
geometric mean, /proc CPU accounting, event-log parsing against a small
canned log, layer self times and result fingerprints.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import decimal
import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import eventlog  # noqa: E402
import harness  # noqa: E402
import layers  # noqa: E402
from fingerprint import fingerprint  # noqa: E402

# --- percentile choice and geomean ---------------------------------------


def test_tail_leaves_exactly_ten_values_beyond():
    values = [float(v) for v in range(25, 0, -1)]  # 1..25, unsorted
    v, pct = harness.tail(values)
    assert v == 15.0
    assert sum(x > v for x in values) == 10
    assert pct == 60.0


def test_tail_falls_back_to_median_when_no_percentile_qualifies():
    assert harness.tail([3.0, 1.0, 2.0]) == (2.0, 50.0)
    assert harness.tail([float(v) for v in range(10)]) == (4.5, 50.0)
    v, pct = harness.tail([float(v) for v in range(11)])
    assert (v, pct) == (0.0, 100.0 / 11)


def test_geomean():
    assert harness.geomean([1.0, 4.0]) == 2.0
    assert abs(harness.geomean([2.0, 2.0, 2.0]) - 2.0) < 1e-12
    assert abs(harness.geomean([0.5, 8.0]) - 2.0) < 1e-12


def test_end_to_end_aggregates():
    ok = harness.Outcome(True, rows=10)
    recs = [
        harness.OpRecord(0, "a", 1.0, 2.0, ok),
        harness.OpRecord(1, "b", 4.0, 1.0, ok),
        harness.OpRecord(2, "a", 3.0, 3.0, harness.Outcome(False)),
        harness.OpRecord(3, "b", 0.0, 0.0, harness.Outcome(False)),  # raised: no time
    ]
    e = harness.end_to_end(recs)
    # the median round: a at 2 s (rows 10 and 0 -> 5, cpu 2.5), b at 4 s
    assert e["ops_per_s"] == 2 / 6.0
    assert e["rows_per_s"] == 15 / 6.0
    assert e["op_p50_s"] == 3.0  # the median of the type medians 2 and 4
    assert e["op_p50_all_s"] == 3.0  # the median of 1, 4 and 3
    assert abs(e["geomean_op_s"] - 8 ** 0.5) < 1e-12  # medians a: 2, b: 4
    assert e["cpu_s_per_op"] == 3.5 / 2
    assert e["error_rate"] == 2 / 4
    assert e["failed"] == 2


def test_throughput_and_cpu_ignore_one_slow_call_of_a_type():
    ok = harness.Outcome(True, rows=4)
    calls = [("a", 1.0, 2.0), ("a", 1.0, 2.0), ("b", 2.0, 1.0), ("b", 2.0, 1.0), ("b", 2.0, 1.0)]
    steady = harness.end_to_end([harness.OpRecord(i, op, t, c, ok) for i, (op, t, c) in enumerate(calls)])
    burst = harness.end_to_end(
        [harness.OpRecord(i, op, t, c, ok) for i, (op, t, c) in enumerate(calls + [("a", 9.0, 7.0)])]
    )
    for k in ("ops_per_s", "rows_per_s", "cpu_s_per_op", "op_p50_s", "geomean_op_s"):
        assert burst[k] == steady[k], k
    assert steady["ops_per_s"] == 2 / 3.0 and steady["rows_per_s"] == 8 / 3.0
    assert steady["cpu_s_per_op"] == 1.5


def test_op_p50_is_the_median_op_types_median():
    ok = harness.Outcome(True)
    recs = [harness.OpRecord(i, op, t, 0.0, ok) for i, (op, t) in enumerate(
        [("a", 1.0), ("a", 1.1), ("a", 0.9), ("b", 2.0), ("c", 10.0)]
    )]
    e = harness.end_to_end(recs)
    assert e["op_p50_s"] == 2.0
    assert e["op_p50_all_s"] == 1.1


def test_rounds_for_is_fixed_per_seconds_and_at_least_two():
    assert harness.rounds_for(10, 5.5) == 2
    assert harness.rounds_for(10, 2.0) == 5
    assert harness.rounds_for(1, 2.0) == 2
    assert harness.rounds_for(60, 5.3) == 11


class _FakeContext:
    def setJobDescription(self, description):
        pass


class _FakeSpark:
    sparkContext = _FakeContext()


class _CountingOp(harness.Op):
    def __init__(self, name):
        self.name, self.calls = name, 0

    def run(self, ctx, spans):
        self.calls += 1
        with spans("exec"):
            pass

    def check(self, ctx, result):
        return harness.Outcome(True)


def test_run_loop_warms_up_then_runs_whole_seeded_rounds(tmp_path):
    ops = [_CountingOp(f"op{i}") for i in range(3)]
    warm, _, timed, _ = harness.run_loop(_FakeSpark(), ops, 1, 2, str(tmp_path), False, sys.stderr)
    assert [r.op for r in warm] == ["op0", "op1", "op2"]
    assert [r.index for r in timed] == list(range(6))
    assert sorted(r.op for r in timed[:3]) == sorted(r.op for r in timed[3:]) == ["op0", "op1", "op2"]
    assert [op.calls for op in ops] == [3, 3, 3]
    _, _, again, _ = harness.run_loop(_FakeSpark(), ops, 1, 2, str(tmp_path), False, sys.stderr)
    assert [r.op for r in again] == [r.op for r in timed]  # the seed fixes the order


# --- /proc CPU accounting -------------------------------------------------


def test_tree_cpu_counts_descendants_only():
    table = {
        10: (1, 100),  # root: excluded
        11: (10, 50),  # child
        12: (11, 7),  # grandchild
        13: (1, 999),  # not a descendant
    }
    assert harness.descendants(10, table) in ([11, 12], [12, 11])
    assert harness.tree_cpu_s(10, table) == 57 / harness.CLK_TCK


def test_tree_cpu_keeps_reaped_grandchild_time():
    # the child runs a CPU-bound grandchild to completion, reaps it, then
    # idles: the grandchild's time must show in the child's cutime
    burn = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.4: pass\n"
    child = subprocess.Popen(
        [
            sys.executable,
            "-c",
            "import subprocess, sys, time\n"
            f"subprocess.run([sys.executable, '-c', {burn!r}])\n"
            "print('done', flush=True)\n"
            "time.sleep(30)\n",
        ],
        stdout=subprocess.PIPE,
        text=True,
    )
    try:
        before = harness.tree_cpu_s(os.getpid())
        assert child.stdout.readline().strip() == "done"
        after = harness.tree_cpu_s(os.getpid())
        assert after - before >= 0.3
    finally:
        child.kill()
        child.wait(timeout=10)
    assert child.poll() is not None


def test_process_age_and_cpu_times():
    age = harness.process_age_s()
    assert 0 < age < 24 * 3600
    steal, total = harness.cpu_times()
    assert 0 <= steal <= total


# --- event-log parsing ------------------------------------------------------

_SCOPE = json.dumps

CANNED_LOG = [
    {"Event": "SparkListenerLogStart", "Spark Version": "4.1.2"},
    {
        "Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
        "executionId": 0,
        "description": "pb|0|q|exec",
        "physicalPlanDescription": "== Physical Plan ==\ninitial",
    },
    {
        "Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
        "executionId": 0,
        "physicalPlanDescription": "== Physical Plan ==\nfinal",
    },
    {
        "Event": "SparkListenerJobStart",
        "Job ID": 0,
        "Stage IDs": [0, 1],
        "Properties": {"spark.job.description": "pb|0|q|exec", "spark.sql.execution.id": "0"},
    },
    {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
        "Executor Run Time": 1500, "Executor CPU Time": 250_000_000, "JVM GC Time": 20,
        "Input Metrics": {"Bytes Read": 1000, "Records Read": 10},
        "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 0},
        "Shuffle Write Metrics": {"Shuffle Bytes Written": 300},
        "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 0}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
        "Executor Run Time": 500, "Executor CPU Time": 50_000_000, "JVM GC Time": 0,
        "Input Metrics": {"Bytes Read": 24, "Records Read": 2},
        "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 0},
        "Shuffle Write Metrics": {"Shuffle Bytes Written": 100},
        "Memory Bytes Spilled": 64, "Disk Bytes Spilled": 16}},
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0, "RDD Info": [
        {"Name": "MapPartitionsRDD", "Scope": _SCOPE({"id": "6", "name": "MapInPandas"})},
        {"Name": "MapPartitionsRDD", "Scope": _SCOPE({"id": "7", "name": "WholeStageCodegen (1)"})},
    ]}},
    # stage 1 is listed by job 0 but skipped: no task, not counted
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
     "Properties": {"spark.job.description": "pb|0|q|exec", "spark.sql.execution.id": "0"}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {
        "Executor Run Time": 100, "Executor CPU Time": 10_000_000, "JVM GC Time": 0,
        "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 400},
        "Shuffle Write Metrics": {"Shuffle Bytes Written": 0}}},
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 2, "RDD Info": [
        {"Name": "ShuffledRowRDD", "Scope": _SCOPE({"id": "12", "name": "AQEShuffleRead"})}]}},
    # a job of another op, through a PythonRDD
    {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [3],
     "Properties": {"spark.job.description": "pb|1|r|full"}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 3, "Task Metrics": {"Executor Run Time": 300}},
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 3, "RDD Info": [
        {"Name": "PythonRDD"}, {"Name": "ParallelCollectionRDD", "Scope": _SCOPE({"id": "1", "name": "parallelize"})}]}},
    # an untagged job is ignored
    {"Event": "SparkListenerJobStart", "Job ID": 3, "Stage IDs": [4], "Properties": {}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 4, "Task Metrics": {"Executor Run Time": 9999}},
]


def test_eventlog_parse_canned_log():
    tags = eventlog.parse(json.dumps(e) + "\n" for e in CANNED_LOG)
    assert set(tags) == {"pb|0|q|exec", "pb|1|r|full"}
    q = tags["pb|0|q|exec"]
    assert (q.jobs, q.stages, q.tasks) == (2, 2, 3)
    assert q.python_stages == 1
    assert abs(q.python_task_run_s - 2.0) < 1e-9
    assert abs(q.run_s - 2.1) < 1e-9
    assert abs(q.cpu_s - 0.31) < 1e-9
    assert abs(q.gc_s - 0.02) < 1e-9
    assert (q.rows_read, q.bytes_read) == (12, 1024)
    assert (q.shuffle_read_bytes, q.shuffle_write_bytes, q.spill_bytes) == (400, 400, 80)
    assert q.plans == ["== Physical Plan ==\nfinal"]
    r = tags["pb|1|r|full"]
    assert (r.jobs, r.stages, r.tasks, r.python_stages) == (1, 1, 1, 1)
    assert abs(r.python_task_run_s - 0.3) < 1e-9


def test_split_tag():
    assert eventlog.split_tag("pb|w3|json_etl|scan") == ("w3", "json_etl", "scan")
    assert eventlog.split_tag("something else") is None


# --- layer self times ---------------------------------------------------------


def test_write_op_layers_difference_the_materializations():
    rec = harness.OpRecord(
        4, "json_etl", 1.0, 2.0, harness.Outcome(True, files=3, out_bytes=900),
        {"scan": 0.25, "render": 0.75, "full": 1.0},
    )
    scan = eventlog.TagRecord(jobs=1, stages=1, tasks=2, rows_read=8, bytes_read=512)
    full = eventlog.TagRecord(jobs=2, stages=3, tasks=6, python_stages=1)
    out = layers.op_layers(rec, {"pb|4|json_etl|scan": scan, "pb|4|json_etl|full": full})["layers"]
    assert out["sources.scan_s"] == 0.25
    assert out["pipelines.render_s"] == 0.5
    assert out["sinks.write_s"] == 0.25
    assert (out["sources.rows_read"], out["sources.bytes_read"]) == (8, 512)
    assert (out["sinks.files_written"], out["sinks.bytes_written"]) == (3, 900)
    # scheduling counts cover the op itself, not the probe scan
    assert (out["scheduling.jobs"], out["scheduling.stages"], out["scheduling.tasks"]) == (2, 3, 6)
    assert out["sparql.compile_s"] == 0.0


def test_sparql_op_layers():
    rec = harness.OpRecord(0, "per_image", 0.6, 1.0, harness.Outcome(True), {"compile": 0.1, "plan": 0.2, "exec": 0.3})
    out = layers.op_layers(rec, {})["layers"]
    assert (out["sparql.compile_s"], out["sparql.plan_s"], out["sparql.exec_s"]) == (0.1, 0.2, 0.3)
    assert out["sinks.write_s"] == 0.0 and out["driver.build_s"] == 0.0


def test_registry_sparql_op_keeps_the_store_out_of_compile():
    spans = {"store": 0.05, "build": 0.1, "plan": 0.2, "exec": 0.3}
    rec = harness.OpRecord(0, "sp09_parent_closure", 0.65, 1.0, harness.Outcome(True), spans)
    out = layers.op_layers(rec, {})["layers"]
    assert (out["sparql.compile_s"], out["sparql.plan_s"], out["sparql.exec_s"]) == (0.1, 0.2, 0.3)
    assert out["driver.build_s"] == 0.05
    rec = harness.OpRecord(1, "d08_dedup_clusters", 0.6, 1.0, harness.Outcome(True), {"build": 0.1, "plan": 0.2, "exec": 0.3})
    out = layers.op_layers(rec, {})["layers"]
    assert (out["driver.build_s"], out["driver.plan_s"], out["sparql.compile_s"]) == (0.1, 0.2, 0.0)


def test_per_layer_metrics_report_every_listed_op_type():
    ok = harness.Outcome(True)
    timed = [
        harness.OpRecord(0, "d08_dedup_clusters", 2.0, 4.0, ok, {"build": 1.0}),
        harness.OpRecord(1, "per_image", 1.0, 2.0, ok, {"compile": 0.5}),  # a by-hand geosparql_query type
    ]
    out = layers.per_layer_metrics(layers.per_op_records(timed, {}), timed)
    assert set(out) == set(layers.metric_units())
    assert out["op.d08_dedup_clusters_s"] == 2.0 and out["op.json_etl_s"] == 0.0
    assert out["trace.op_p50_s"] == 1.5 and out["trace.cpu_s_per_op"] == 3.0
    assert out["driver.build_s"] == 0.5 and out["sparql.compile_s"] == 0.25  # means per op


# --- fingerprints ---------------------------------------------------------------


def test_fingerprint_ignores_row_and_column_order():
    a = fingerprint([(1, "x", 0.5), (2, "y", None)], ["id", "s", "v"])
    b = fingerprint([("y", None, 2), ("x", 0.5, 1)], ["s", "v", "id"])
    assert a == b and a["rows"] == 2


def test_fingerprint_rounds_doubles_and_reads_decimals():
    assert fingerprint([(0.1 + 0.2,)], ["v"]) == fingerprint([(0.3,)], ["v"])
    assert fingerprint([(decimal.Decimal("12.50"),)], ["v"]) == fingerprint([(12.5,)], ["v"])
    assert fingerprint([(1.0,)], ["v"]) == fingerprint([(1,)], ["v"])
    assert fingerprint([(0.3,)], ["v"]) != fingerprint([(0.31,)], ["v"])


# --- the benchmark's declared metrics ---------------------------------------


def test_benchmark_json_matches_the_reported_metrics():
    import run
    import workloads

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == layers.metric_units()
    assert {w["name"] for w in bench["workloads"]} == set(workloads.WORKLOADS) - {"geosparql_query"}
    op_names = {c.name for c in (workloads.JsonEtl, workloads.SegmentationEtl, workloads.MongoEtl, workloads.HashRewrite)}
    assert set(layers.OP_TYPES) == op_names | set(workloads.OPERATOR_OPS)
