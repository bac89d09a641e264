"""Per-layer metric computation and the layer-diff tool, on synthetic input."""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH_DIR)
sys.path[:0] = [ROOT, BENCH_DIR]

import layerdiff  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402


def record(workload, **layers):
    return {"workload": workload, "metrics": {}, "layers": layers}


def test_layerdiff_compares_medians_per_workload(tmp_path, capsys):
    before, after = tmp_path / "before", tmp_path / "after"
    before.mkdir()
    after.mkdir()
    for i, v in enumerate((10.0, 12.0, 11.0)):
        (before / f"corpus-{i}.json").write_text(
            json.dumps(record("corpus", **{"text.build_jobs": v, "exec.jobs": 5.0})))
    (before / "analytics-0.json").write_text(
        json.dumps(record("analytics", **{"exec.jobs": 4.0})))
    (after / "corpus-0.json").write_text(
        json.dumps(record("corpus", **{"text.build_jobs": 5.5, "exec.jobs": 5.0})))
    (after / "untraced.json").write_text(
        json.dumps({"workload": "corpus", "metrics": {"suite_s": 1.0}}))

    rows = layerdiff.diff(layerdiff.load(str(before)), layerdiff.load(str(after)))
    assert rows == [("corpus", "text.build_jobs", 11.0, 5.5, -5.5, 0.5)]
    rows = layerdiff.diff(layerdiff.load(str(before)), layerdiff.load(str(after)),
                          show_all=True)
    assert ("corpus", "exec.jobs", 5.0, 5.0, 0.0, 1.0) in rows

    assert layerdiff.main([str(before), str(after)]) == 0
    out = capsys.readouterr().out
    assert "analytics: traced only before; skipped" in out
    assert "text.build_jobs" in out and "0.500" in out


def test_layerdiff_refuses_disjoint_records(tmp_path):
    a, b = tmp_path / "a.json", tmp_path / "b.json"
    a.write_text(json.dumps(record("corpus", x=1.0)))
    b.write_text(json.dumps(record("analytics", x=1.0)))
    assert layerdiff.main([str(a), str(b)]) == 1


def job(jid, t, stages, span=None):
    props = {tracing.SPAN_PROPERTY: span} if span else {}
    return {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": t,
            "Stage IDs": stages, "Properties": props}


def task(stage, launch, finish, run_ms, **extra):
    metrics = {"Executor Run Time": run_ms, "Executor CPU Time": run_ms * 1e6,
               "Executor Deserialize Time": 0, "Result Serialization Time": 0,
               "JVM GC Time": 1, "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 0,
               "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 10},
               "Shuffle Write Metrics": {"Shuffle Bytes Written": 20},
               "Input Metrics": {"Bytes Read": 30}}
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Launch Time": launch, "Finish Time": finish,
                          "Getting Result Time": 0,
                          "Accumulables": extra.get("accs", [])},
            "Task Metrics": metrics}


def test_jobs_attribute_by_tag_then_by_the_only_phase_in_flight():
    phases = [{"span": "0:build", "start": 1.0, "end": 2.0},
              {"span": "0:materialize", "start": 2.0, "end": 3.0},
              {"span": "1:build", "start": 2.5, "end": 4.0}]
    events = [job(1, 1500, [1]), job(2, 2700, [2]), job(3, 2700, [3], span="1:build"),
              job(4, 9000, [4])]
    assert tracing.attribute_jobs(events, phases) == {1: "0:build", 3: "1:build"}


def test_exec_and_python_metrics_from_event_log():
    plan = {"nodeName": "ArrowEvalPython", "metrics": [
        {"name": "number of output rows", "accumulatorId": 77}], "children": [
        {"nodeName": "Scan parquet", "metrics": [
            {"name": "number of output rows", "accumulatorId": 5}]}]}
    accs = [{"ID": 77, "Name": "number of output rows", "Update": "40"},
            {"ID": 5, "Name": "number of output rows", "Update": 999},
            {"ID": 8, "Name": tracing.PY_SENT, "Update": 100},
            {"ID": 9, "Name": tracing.PY_RECV, "Update": 60}]
    events = [
        job(1, 0, [1], span="0:build"),
        job(2, 0, [2]),  # not attributed: its tasks must not count
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 1,
                                                                "Submission Time": 100}},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "sparkPlanInfo": plan},
        task(1, 100, 110, 10, accs=accs),
        task(1, 105, 135, 30),
        task(1, 100, 120, 20),
        task(2, 0, 1000, 1000),
    ]
    ex, py = tracing.exec_metrics(events, {1: "0:build"}, wall_s=1.0, cores=2)
    assert ex["exec.jobs"] == 1 and ex["exec.stages"] == 1 and ex["exec.tasks"] == 3
    assert ex["exec.executor_run_ms"] == 60 and ex["exec.executor_cpu_ms"] == 60
    assert ex["exec.gc_ms"] == 3
    assert ex["exec.shuffle_read_bytes"] == 30 and ex["exec.shuffle_write_bytes"] == 60
    assert ex["exec.input_bytes"] == 90
    assert ex["exec.task_skew"] == 30 / 20
    assert ex["exec.scheduler_delay_ms"] == 5  # the second task queued 5 ms
    assert ex["exec.core_busy_ratio"] == 60 / 2000
    assert py == {"python.bytes_to_worker": 100, "python.bytes_from_worker": 60,
                  "python.rows_from_worker": 40}


def test_plan_counts_read_each_execution_final_plan():
    def node(name, *children):
        return {"nodeName": name, "children": list(children)}

    sql = "org.apache.spark.sql.execution.ui.SparkListenerSQL"
    initial = node("OverwriteByExpression", node("AdaptiveSparkPlan", node(
        "Exchange", node("ArrowEvalPython", node("Scan parquet")))))
    final = node("OverwriteByExpression", node("AdaptiveSparkPlan", node(
        "ShuffleQueryStage", node("Exchange", node("ArrowEvalPython"))), node(
        "BroadcastQueryStage", node("BroadcastExchange", node("Scan parquet")))))
    other = node("CollectLimit", node("ReusedExchange"))
    events = [
        {"Event": sql + "ExecutionStart", "executionId": 3, "sparkPlanInfo": initial},
        {"Event": sql + "ExecutionStart", "executionId": 4, "sparkPlanInfo": other},
        {**job(1, 0, [1], span="0:materialize"),
         "Properties": {tracing.SPAN_PROPERTY: "0:materialize",
                        "spark.sql.execution.id": "3"}},
        {"Event": sql + "AdaptiveExecutionUpdate", "executionId": 3,
         "sparkPlanInfo": final},
        {**job(2, 0, [2]), "Properties": {"spark.sql.execution.id": "4"}},
    ]
    assert tracing.plan_counts(events, {1: "0:materialize"}) == {
        "0:materialize": {"plan.exchanges": 2.0, "plan.python_eval_nodes": 1.0}}


def test_streaming_metrics_take_last_state_per_query_run():
    rows = [
        {"run": "a", "rows_in": 5, "dur": {"triggerExecution": 10, "addBatch": 6,
                                            "walCommit": 2}, "state": [(3, 100, 1)]},
        {"run": "a", "rows_in": 0, "dur": {"triggerExecution": 4}, "state": [(4, 120, 2)]},
        {"run": "b", "rows_in": 1, "dur": {}, "state": []},
    ]
    m = tracing.streaming_metrics(rows)
    assert m["batches"] == 3 and m["empty_batches"] == 1
    assert m["trigger_ms"] == 14 and m["add_batch_ms"] == 6 and m["wal_commit_ms"] == 2
    assert m["state_rows"] == 4 and m["state_memory_bytes"] == 120
    assert m["state_commit_ms"] == 3


def test_self_time_subtracts_covered_child_time():
    spans = [{"id": 0, "parent": None, "start": 0.0, "end": 10.0},
             {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
             {"id": 2, "parent": 0, "start": 3.0, "end": 6.0},
             {"id": 3, "parent": 0, "start": 12.0, "end": 13.0}]
    assert tracing.self_times(spans) == {0: 5.0, 1: 3.0, 2: 3.0, 3: 1.0}


def test_tail_is_the_highest_percentile_with_ten_beyond():
    assert run.tail_latency([float(i) for i in range(1, 31)]) == (20.0, 100 * 20 / 30, 10)
    assert run.tail_latency([3.0, 1.0, 2.0]) == (3.0, 100.0, 0)


def test_benchmark_json_names_every_reported_metric():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [m["name"] for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert [m["name"] for m in spec["per_layer"]] == tracing.layer_keys(
        workloads.modules())
    assert all(m["unit"] == run.UNITS[m["name"]] for m in spec["end_to_end"])
    assert all(m["unit"] == tracing.unit(m["name"]) for m in spec["per_layer"])
    assert {w["name"] for w in spec["workloads"]} <= set(workloads.WORKLOADS)
