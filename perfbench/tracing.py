"""Traced-run instrumentation and the per-layer metrics computed from it.

Spans come from the benchmark's own calls (run -> setup -> warmup.*, and
run -> issue -> build / plan / materialize, with a verify span per issue
caused by the issue; the plan span forces the built frame's Catalyst
phases).  Counts come from three sources:

* Spark's event log, written uncompressed so that reading it needs no
  zstandard module; a job is attributed to the issue phase that tagged it
  through the ``perfbench.span`` local property, or, when untagged, to the
  only issue phase in flight at its submission time;
* a Python ``StreamingQueryListener`` collecting micro-batch progress;
* the benchmark's own timings and the scratch trees on disk.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
import threading
import time

SPAN_PROPERTY = "perfbench.span"

EXCHANGE = re.compile(r"(?:Broadcast|Reused)?Exchange")
PYTHON_NODE = re.compile(r"Python|Pandas|InArrow")
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"

EXEC_KEYS = (
    "jobs", "stages", "tasks", "tasks_per_job", "executor_run_ms",
    "executor_cpu_ms", "gc_ms", "shuffle_read_bytes", "shuffle_write_bytes",
    "spill_bytes", "input_bytes", "task_skew", "scheduler_delay_ms",
    "core_busy_ratio",
)
STREAM_KEYS = (
    "batches", "empty_batches", "trigger_ms", "add_batch_ms", "wal_commit_ms",
    "state_rows", "state_memory_bytes", "state_commit_ms",
)


def event_log_confs(log_dir: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
    }


def tag(spark, span: str | None) -> None:
    """Make ``span`` the job group of this thread's next jobs (None clears
    it).  Streaming queries replace the job group of their micro-batch
    jobs with their run id, so the span is also kept in a property of its
    own, which the query's execution thread inherits."""
    sc = spark.sparkContext
    for key in ("spark.jobGroup.id", "spark.job.description", SPAN_PROPERTY):
        sc.setLocalProperty(key, span)


class ProgressTap:
    """Collects micro-batch progress from a StreamingQueryListener."""

    def __init__(self):
        self.rows: list[dict] = []
        self.started = 0
        self.terminated = 0
        self._lock = threading.Lock()

    def listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        tap = self

        class Tap(StreamingQueryListener):
            def onQueryStarted(self, event):
                with tap._lock:
                    tap.started += 1

            def onQueryProgress(self, event):
                p = event.progress
                state = [
                    (so.numRowsTotal, so.memoryUsedBytes, so.commitTimeMs)
                    for so in p.stateOperators or []
                ]
                row = {
                    "run": str(p.runId),
                    "rows_in": p.numInputRows,
                    "dur": dict(p.durationMs or {}),
                    "state": state,
                }
                with tap._lock:
                    tap.rows.append(row)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with tap._lock:
                    tap.terminated += 1

        return Tap()

    def settle(self, poll_s: float = 0.05, quiet_polls: int = 4,
               limit_s: float = 10.0) -> None:
        """Wait for listener delivery, which is asynchronous: poll until
        every started query has terminated and the progress rows stopped
        growing for ``quiet_polls`` polls, or ``limit_s`` passed."""
        deadline = time.monotonic() + limit_s
        last, quiet = -1, 0
        while time.monotonic() < deadline:
            with self._lock:
                n, done = len(self.rows), self.terminated >= self.started
            quiet = quiet + 1 if (n == last and done) else 0
            if quiet >= quiet_polls:
                break
            last = n
            time.sleep(poll_s)


def streaming_metrics(rows: list[dict]) -> dict[str, float]:
    """Totals over progress rows; state size is each query run's last
    reported size."""
    last_state: dict[str, list] = {}
    out = dict.fromkeys(STREAM_KEYS, 0.0)
    for r in rows:
        out["batches"] += 1
        out["empty_batches"] += r["rows_in"] == 0
        out["trigger_ms"] += r["dur"].get("triggerExecution", 0)
        out["add_batch_ms"] += r["dur"].get("addBatch", 0)
        out["wal_commit_ms"] += r["dur"].get("walCommit", 0)
        out["state_commit_ms"] += sum(s[2] for s in r["state"])
        if r["state"]:
            last_state[r["run"]] = r["state"]
    for state in last_state.values():
        out["state_rows"] += sum(s[0] for s in state)
        out["state_memory_bytes"] += sum(s[1] for s in state)
    return out


def catalyst_phases(df) -> dict[str, float]:
    """Catalyst phase times of ``df``'s own QueryExecution, after forcing
    its physical plan.  Analysis ran when the build call created ``df``;
    optimization and planning run here.  The noop write that follows
    plans again from the analyzed plan."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        out[f"catalyst.{phase}_ms"] = (
            float(opt.get().durationMs()) if opt.isDefined() else 0.0
        )
    return out


def _plan_nodes(plan: dict) -> list[str]:
    out = [plan.get("nodeName", "")]
    for child in plan.get("children", []):
        out.extend(_plan_nodes(child))
    return out


def plan_counts(events: list[dict], job_span: dict[int, str]) -> dict[str, dict]:
    """Span -> plan.* node counts of the SQL executions its jobs ran, each
    taken from the execution's last reported plan (the final adaptive
    plan when AQE re-planned it)."""
    final, exec_span = {}, {}
    for e in events:
        kind = e.get("Event", "")
        if kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
            final[e["executionId"]] = e.get("sparkPlanInfo") or {}
        elif kind == "SparkListenerJobStart" and e["Job ID"] in job_span:
            eid = (e.get("Properties") or {}).get("spark.sql.execution.id")
            if eid is not None:
                exec_span[int(eid)] = job_span[e["Job ID"]]
    out: dict[str, dict] = {}
    for eid, span in exec_span.items():
        nodes = _plan_nodes(final.get(eid, {}))
        counts = out.setdefault(span, {"plan.exchanges": 0.0,
                                       "plan.python_eval_nodes": 0.0})
        counts["plan.exchanges"] += sum(bool(EXCHANGE.fullmatch(n)) for n in nodes)
        counts["plan.python_eval_nodes"] += sum(
            bool(PYTHON_NODE.search(n)) for n in nodes)
    return out


def read_event_log(log_dir: str) -> list[dict]:
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if os.path.isfile(path) and not path.endswith(".crc"):
            with open(path) as fh:
                for line in fh:
                    if line.startswith("{"):
                        events.append(json.loads(line))
    return events


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def _python_row_ids(plan: dict, out: set) -> None:
    if PYTHON_NODE.search(plan.get("nodeName", "")):
        for m in plan.get("metrics", []):
            if m.get("name") == "number of output rows":
                out.add(m["accumulatorId"])
    for child in plan.get("children", []):
        _python_row_ids(child, out)


def attribute_jobs(events: list[dict], phases: list[dict]) -> dict[int, str]:
    """Job id -> issue phase span id (``<issue>:<phase>``)."""
    known = {p["span"] for p in phases}
    jobs = {}
    for e in events:
        if e.get("Event") != "SparkListenerJobStart":
            continue
        span = (e.get("Properties") or {}).get(SPAN_PROPERTY)
        if span not in known:
            t = e["Submission Time"] / 1000.0
            live = [p["span"] for p in phases if p["start"] <= t <= p["end"]]
            span = live[0] if len(live) == 1 else None
        if span is not None:
            jobs[e["Job ID"]] = span
    return jobs


def exec_metrics(events: list[dict], job_span: dict[int, str], wall_s: float,
                 cores: int) -> tuple[dict[str, float], dict[str, float]]:
    """(exec.* metrics, python.* metrics) over the attributed jobs' tasks."""
    stage_job, stage_submit, py_rows = {}, {}, set()
    for e in events:
        kind = e.get("Event", "")
        if kind == "SparkListenerJobStart" and e["Job ID"] in job_span:
            for sid in e.get("Stage IDs", []):
                stage_job[sid] = e["Job ID"]
        elif kind == "SparkListenerStageSubmitted":
            info = e["Stage Info"]
            stage_submit[info["Stage ID"]] = info.get("Submission Time")
        elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
            _python_row_ids(e.get("sparkPlanInfo") or {}, py_rows)

    run_ms, stages, by_stage = [], set(), {}
    ex = dict.fromkeys(EXEC_KEYS, 0.0)
    py = {"python.bytes_to_worker": 0.0, "python.bytes_from_worker": 0.0,
          "python.rows_from_worker": 0.0}
    for e in events:
        if e.get("Event") != "SparkListenerTaskEnd" or e["Stage ID"] not in stage_job:
            continue
        info, m = e["Task Info"], e.get("Task Metrics") or {}
        stages.add(e["Stage ID"])
        run = _num(m.get("Executor Run Time"))
        run_ms.append(run)
        by_stage.setdefault(e["Stage ID"], []).append(run)
        ex["tasks"] += 1
        ex["executor_run_ms"] += run
        ex["executor_cpu_ms"] += _num(m.get("Executor CPU Time")) / 1e6
        ex["gc_ms"] += _num(m.get("JVM GC Time"))
        sr = m.get("Shuffle Read Metrics") or {}
        ex["shuffle_read_bytes"] += _num(sr.get("Remote Bytes Read")) + _num(
            sr.get("Local Bytes Read"))
        ex["shuffle_write_bytes"] += _num(
            (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written"))
        ex["spill_bytes"] += _num(m.get("Memory Bytes Spilled")) + _num(
            m.get("Disk Bytes Spilled"))
        ex["input_bytes"] += _num((m.get("Input Metrics") or {}).get("Bytes Read"))
        # time the task waited: from stage submission to its launch, plus
        # the launch overhead Spark's UI calls scheduler delay
        duration = _num(info.get("Finish Time")) - _num(info.get("Launch Time"))
        ui_delay = duration - run - _num(m.get("Executor Deserialize Time")) - _num(
            m.get("Result Serialization Time"))
        if info.get("Getting Result Time"):
            ui_delay -= _num(info["Finish Time"]) - _num(info["Getting Result Time"])
        submitted = stage_submit.get(e["Stage ID"])
        queued = _num(info.get("Launch Time")) - _num(submitted) if submitted else 0.0
        ex["scheduler_delay_ms"] += max(0.0, ui_delay) + max(0.0, queued)
        for acc in info.get("Accumulables", []):
            name, upd = acc.get("Name"), _num(acc.get("Update"))
            if name == PY_SENT:
                py["python.bytes_to_worker"] += upd
            elif name == PY_RECV:
                py["python.bytes_from_worker"] += upd
            elif acc.get("ID") in py_rows:
                py["python.rows_from_worker"] += upd
    ex["jobs"] = float(len(job_span))
    ex["stages"] = float(len(stages))
    ex["tasks_per_job"] = ex["tasks"] / ex["jobs"] if ex["jobs"] else 0.0
    skews = [
        max(v) / statistics.median(v)
        for v in by_stage.values()
        if len(v) > 1 and statistics.median(v) > 0
    ]
    ex["task_skew"] = statistics.median(skews) if skews else 1.0
    ex["core_busy_ratio"] = (
        ex["executor_run_ms"] / (wall_s * 1000.0 * cores) if wall_s > 0 else 0.0
    )
    return {f"exec.{k}": v for k, v in ex.items()}, py


def tree_size(path: str) -> tuple[int, int]:
    """(directories, file bytes) under ``path``."""
    dirs = size = 0
    for root, dnames, fnames in os.walk(path):
        dirs += len(dnames)
        for f in fnames:
            try:
                size += os.lstat(os.path.join(root, f)).st_size
            except OSError:
                pass
    return dirs, size


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> its duration minus the part of it its children cover."""
    kids: dict[int, list] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, cur = 0.0, s["start"]
        for a, b in sorted(kids.get(s["id"], [])):
            a, b = max(a, cur), min(b, s["end"])
            if b > a:
                covered += b - a
                cur = b
        out[s["id"]] = s["end"] - s["start"] - covered
    return out


SETUP_KEYS = (
    "session.get_spark_s", "warmup.engine_s", "warmup.standing_index_s",
    "warmup.sentinel_events_s", "warmup.state_checkpoints_s",
    "warmup.ingest_artifacts_s", "warmup.layout_tables_s",
    "warmup.bucketed_tables_s",
)
MODULE_KEYS = ("build_s", "build_jobs", "materialize_s", "materialize_jobs")
PLAN_KEYS = (
    "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
    "plan.exchanges", "plan.python_eval_nodes",
)
PYTHON_KEYS = (
    "python.bytes_to_worker", "python.bytes_from_worker", "python.rows_from_worker",
)
DISK_KEYS = ("scratch.dirs_created", "scratch.bytes_written", "spark_local.bytes_written")
OTHER_KEYS = ("memo.repeat_build_jobs_ratio", "driver.python_cpu_s", "trace.suite_s")


def layer_keys(modules) -> list[str]:
    """Every per-layer metric name a traced run reports, in order."""
    return [
        *SETUP_KEYS,
        *(f"{m}.{k}" for m in modules for k in MODULE_KEYS),
        *PLAN_KEYS,
        *(f"exec.{k}" for k in EXEC_KEYS),
        *PYTHON_KEYS,
        *(f"streaming.{k}" for k in STREAM_KEYS),
        *DISK_KEYS,
        *OTHER_KEYS,
    ]


def unit(name: str) -> str:
    leaf = name.rsplit(".", 1)[1]
    if leaf.endswith("_ms"):
        return "ms"
    if leaf.endswith("_s"):
        return "s"
    if "bytes" in leaf:
        return "bytes"
    if leaf == "tasks_per_job":
        return "tasks/job"
    if leaf.endswith(("skew", "ratio")):
        return "ratio"
    return "count"


def spans_of(steps: list[dict], issues: list[dict]) -> list[dict]:
    """The run's span tree: run -> setup -> one span per set-up step, and
    run -> issue -> build / plan / materialize / verify.  The verify span
    runs after the timed window; its parent is the issue that caused it."""
    spans = []

    def add(name, parent, start, end, **attrs):
        spans.append({"id": len(spans), "name": name, "parent": parent,
                      "start": start, "end": end, **attrs})
        return len(spans) - 1

    last = max([s["end"] for s in steps]
               + [r.get("verify_end", r["end"]) for r in issues])
    run = add("run", None, steps[0]["start"], last)
    setup = add("setup", run, steps[0]["start"], steps[-1]["end"])
    for s in steps:
        add(s["metric"].rsplit("_s", 1)[0], setup, s["start"], s["end"])
    for r in issues:
        iss = add("issue", run, r["start"], r["end"], query=r["name"], i=r["i"])
        add("build", iss, r["start"], r["mid"])
        if "planned" in r:
            add("plan", iss, r["mid"], r["planned"])
        add("materialize", iss, r.get("planned", r["mid"]), r["end"])
        if "verify_start" in r:
            add("verify", iss, r["verify_start"], r["verify_end"])
    return spans


def layer_metrics(run, e2e, cpu_s, stream_rows, before, after, events, modules):
    """(per-layer metrics, spans, accounting) of a traced run."""
    issues = run.issues
    out = dict.fromkeys(SETUP_KEYS, 0.0)
    out.update({s["metric"]: s["end"] - s["start"] for s in run.steps})
    phases = [{"span": f"setup:{s['metric']}", "start": s["start"], "end": s["end"]}
              for s in run.steps]
    for r in issues:
        mat = r.get("planned", r["mid"])
        phases.append({"span": f"{r['i']}:build", "start": r["start"], "end": r["mid"]})
        if "planned" in r:
            phases.append({"span": f"{r['i']}:plan", "start": r["mid"], "end": mat})
        phases.append({"span": f"{r['i']}:materialize", "start": mat, "end": r["end"]})
        if "verify_start" in r:
            phases.append({"span": f"{r['i']}:verify", "start": r["verify_start"],
                           "end": r["verify_end"]})
    job_span = attribute_jobs(events, phases)
    jobs_of: dict[str, int] = {}
    for span in job_span.values():
        jobs_of[span] = jobs_of.get(span, 0) + 1
    for mod in modules:
        rs = [r for r in issues if r["module"] == mod]
        out[f"{mod}.build_s"] = sum(r["mid"] - r["start"] for r in rs)
        out[f"{mod}.build_jobs"] = float(sum(jobs_of.get(f"{r['i']}:build", 0) for r in rs))
        out[f"{mod}.materialize_s"] = sum(r["end"] - r.get("planned", r["mid"])
                                          for r in rs)
        out[f"{mod}.materialize_jobs"] = float(
            sum(jobs_of.get(f"{r['i']}:materialize", 0) for r in rs))
    counts = plan_counts(events, job_span)
    for k in PLAN_KEYS:
        out[k] = sum(
            {**r.get("phases", {}), **counts.get(f"{r['i']}:materialize", {})}.get(k, 0.0)
            for r in issues
        )
    issue_jobs = {
        j: s for j, s in job_span.items()
        if not s.startswith("setup:") and s.endswith((":build", ":plan", ":materialize"))
    }
    ex, py = exec_metrics(events, issue_jobs, e2e["suite_s"], run.cpus)
    out.update(ex)
    out.update(py)
    out.update({f"streaming.{k}": v for k, v in streaming_metrics(stream_rows).items()})
    out["scratch.dirs_created"] = float(after["scratch"][0] - before["scratch"][0])
    out["scratch.bytes_written"] = float(after["scratch"][1] - before["scratch"][1])
    out["spark_local.bytes_written"] = float(
        after["spark_local"][1] - before["spark_local"][1])
    first: dict[str, int] = {}
    repeat_jobs = first_jobs = 0
    for r in sorted(issues, key=lambda r: r["start"]):
        n = jobs_of.get(f"{r['i']}:build", 0)
        if r["name"] in first:
            repeat_jobs += n
            first_jobs += first[r["name"]]
        else:
            first[r["name"]] = n
    out["memo.repeat_build_jobs_ratio"] = repeat_jobs / first_jobs if first_jobs else 0.0
    out["driver.python_cpu_s"] = cpu_s
    out["trace.suite_s"] = e2e["suite_s"]

    spans = spans_of(run.steps, issues)
    own = self_times(spans)
    total = {}
    for s in spans:
        total[s["name"]] = total.get(s["name"], 0.0) + own[s["id"]]
    accounting = {
        "issue_latency_s": sum(r["end"] - r["start"] for r in issues),
        "self_s": total,
        "unattributed_jobs": sum(
            1 for e in events if e.get("Event") == "SparkListenerJobStart"
        ) - len(job_span),
    }
    return out, spans, accounting
