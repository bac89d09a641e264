#!/usr/bin/env python3
"""The repo benchmark: drives the query registry the way a client does.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 20 --trace 0

Each issue is the build call ``queries()[name](spark, sf_dir)`` followed by
the materialize call, a noop-sink write (bench.py's ``materialize``).  A
run starts one ``get_spark`` session on ``local[nproc]``, performs the
unbilled warm-up its queries need (``warmup.py``), issues its workload
(``workloads.py``) and checks every result against its DuckDB oracle after
the timed window.  Inputs are the fixed sf0.01 test fixture of TESTDATA.md,
copied under ``fixtures/`` (sf0.001 is the warm-up fixture bench.py also
uses); the seed fixes issue order and the concurrent mix, never the data.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs with the
event log and a streaming listener on and prints the per-layer metrics.
The last stdout line is one JSON object; the line before it states every
end-to-end metric with its unit, ``error_rate`` and the tail percentile.
Each run's full record, with its spans when traced, is written to
``.perfbench_work/records/``; ``layerdiff.py`` compares two of them.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
FIXTURE = os.path.join(HERE, "fixtures", "sf0.01")
WARM_FIXTURE = os.path.join(HERE, "fixtures", "sf0.001")
WORK = os.path.join(ROOT, ".perfbench_work")
RECORDS = os.path.join(WORK, "records")
CPUS = len(os.sched_getaffinity(0))
RSS_POLL_S = 0.2
WINDOW_CAP = 2.5

UNITS = {
    "setup_s": "s",
    "suite_s": "s",
    "queries_per_s": "1/s",
    "query_p50_s": "s",
    "query_tail_s": "s",
    "peak_rss_mb": "MB",
}
# the end-to-end metrics of the result line (BENCHMARK.json's end_to_end).
# The others are printed and recorded but not gated: over ten seeds on 4
# shared cores their spread was wider than a usable regression bound.  The
# issue order a seed picks decides which queries pay first-issue costs,
# which moved the latency percentiles by 20-44% (quartile spread), and
# with get_spark's default 8 GB driver heap the collector decides how far
# the heap grows, which moved peak_rss_mb by 12-37%.
END_TO_END = ("setup_s", "suite_s", "queries_per_s")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (parent pid, resident bytes) for every live process."""
    page = os.sysconf("SC_PAGE_SIZE")
    table = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if fields[0] != "Z":
            table[int(d)] = (int(fields[1]), int(fields[21]) * page)
    return table


def descendants(root: int, table=None) -> set[int]:
    table = _proc_table() if table is None else table
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, stack = set(), [root]
    while stack:
        for k in kids.get(stack.pop(), []):
            if k not in out:
                out.add(k)
                stack.append(k)
    return out


class PeakRss(threading.Thread):
    """Samples the resident memory of this process and all its descendants
    (the JVM and its Python workers) until stopped; keeps the peak sum.
    A process counts from its second sample on: the JVM forks short-lived
    helpers (chmod, readlink) that report the JVM's own pages as theirs
    until they exec."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = 0
        self._stop_evt = threading.Event()

    def run(self):
        me, seen = os.getpid(), set()
        while True:
            table = _proc_table()
            tree = descendants(me, table) | {me}
            self.peak = max(self.peak, sum(table[p][1] for p in tree & seen))
            seen = tree
            if self._stop_evt.wait(RSS_POLL_S):
                return

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        return self.peak / 2**20


def tail_latency(lat: list[float]) -> tuple[float, float, int]:
    """(latency, percentile, issues beyond) at the highest percentile that
    leaves at least 10 issues beyond it; the maximum when there are fewer."""
    s = sorted(lat)
    n = len(s)
    if n <= 10:
        return s[-1], 100.0, 0
    k = n - 11
    return s[k], 100.0 * (k + 1) / n, n - 1 - k


class Run:
    """One benchmark run: a session, its set-up, the issues and checks."""

    def __init__(self, args, work: str):
        import bench
        from mini_pandas_spark.queries import oracle_sql, queries

        import workloads

        self.args = args
        self.work = work
        self.traced = bool(args.trace)
        self.bench = bench
        self.qs = queries()
        self.oracles = oracle_sql()
        self.module_of = workloads.module_of
        self.queue = workloads.plan(args.workload, args.seed, bench.HEADLINE, self.qs)
        self.clients = CPUS if args.workload == "concurrent" else 1
        self.planned = set(self.queue)
        self.workloads = workloads
        self.cpus = CPUS
        self.steps: list[dict] = []  # set-up steps: metric, start, end
        self.issues: list[dict] = []
        self.frames: dict[int, object] = {}
        self._next = 0
        self._lock = threading.Lock()

    def _tag(self, span: str | None) -> None:
        if self.traced:
            import tracing

            tracing.tag(self.spark, span)

    # -- set-up ---------------------------------------------------------
    def _step(self, metric: str, fn) -> None:
        self._tag(f"setup:{metric}")
        start = time.time()
        fn()
        self.steps.append({"metric": metric, "start": start, "end": time.time()})
        self._tag(None)

    def set_up(self) -> None:
        from mini_pandas_spark.session import get_spark

        import tracing

        confs = {
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": "-Djava.io.tmpdir="
            + os.path.join(self.work, "tmp"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.traced:
            os.makedirs(os.path.join(self.work, "eventlog"))
            confs.update(tracing.event_log_confs(os.path.join(self.work, "eventlog")))
        start = time.time()
        self.spark = get_spark("perfbench", cpus=CPUS, extra_confs=confs)
        self.steps.append(
            {"metric": "session.get_spark_s", "start": start, "end": time.time()}
        )
        if self.traced:
            self.tap = tracing.ProgressTap()
            self.spark.streams.addListener(self.tap.listener())

        import warmup

        self._step(
            "warmup.engine_s",
            lambda: warmup.engine(
                self.spark, FIXTURE, WARM_FIXTURE, self.qs, self.bench.HEADLINE[0],
                self.planned, self.bench.materialize, CPUS,
            ),
        )
        names = set().union(*(self.workloads.reachable_names(self.qs[n])
                              for n in self.planned))
        for metric, builders in warmup.STANDING.items():
            used = tuple(b for b in builders
                         if self.workloads.builder_used(b, names))
            if used:
                self._step(
                    metric, lambda used=used: warmup.standing(self.spark, FIXTURE, used)
                )

    # -- issues ---------------------------------------------------------
    def issue(self, i: int, name: str, client: int) -> None:
        rec = {"i": i, "name": name, "module": self.module_of(self.qs[name]),
               "client": client, "error": None, "wrong": None}
        rec["start"] = time.time()
        try:
            self._tag(f"{i}:build")
            df = self.qs[name](self.spark, FIXTURE)
            rec["mid"] = time.time()
            if self.traced:
                import tracing

                # the built frame's own Catalyst phases, forced here so
                # they are paid inside the issue, in a span of their own
                self._tag(f"{i}:plan")
                rec["phases"] = tracing.catalyst_phases(df)
                rec["planned"] = time.time()
            self._tag(f"{i}:materialize")
            self.bench.materialize(df)
            rec["end"] = time.time()
            self.frames[i] = df
        except Exception as exc:  # a failed issue is counted, the run goes on
            rec.setdefault("mid", time.time())
            rec["end"] = time.time()
            rec["error"] = f"{type(exc).__name__}: {str(exc)[:400]}"
        finally:
            self._tag(None)
        with self._lock:
            self.issues.append(rec)

    def _client(self, client: int, deadline: float) -> None:
        while time.time() < deadline:
            with self._lock:
                if self._next >= len(self.queue):
                    return
                i, self._next = self._next, self._next + 1
            self.issue(i, self.queue[i], client)

    def measure(self) -> None:
        """Issue the whole fixed plan, which takes about ``--seconds`` on 4
        cores; no issue starts after ``WINDOW_CAP`` times that, so a slow
        host cannot push the run past its time limit.  A single client
        issues from this thread; concurrent clients are threads of their
        own, as a threaded caller's would be."""
        deadline = time.time() + WINDOW_CAP * self.args.seconds
        if self.clients == 1:
            self._client(0, deadline)
            return
        threads = [
            threading.Thread(target=self._client, args=(c, deadline))
            for c in range(self.clients)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        self.issues.sort(key=lambda r: r["i"])

    # -- checks ---------------------------------------------------------
    def verify(self) -> None:
        """Check every completed issue, CPUS results at a time."""
        from concurrent.futures import ThreadPoolExecutor

        from verify import Oracle

        oracle = Oracle(FIXTURE, self.oracles)
        with ThreadPoolExecutor(max_workers=CPUS) as pool:
            for fut in [pool.submit(self._check, oracle, rec) for rec in self.issues
                        if rec["i"] in self.frames]:
                fut.result()

    def _check(self, oracle, rec: dict) -> None:
        df = self.frames.pop(rec["i"])
        rec["verify_start"] = time.time()
        self._tag(f"{rec['i']}:verify")
        try:
            rec["wrong"] = oracle.check(rec["name"], df)
        except Exception as exc:  # an unreadable result is a wrong one
            rec["wrong"] = f"check failed: {type(exc).__name__}: {str(exc)[:400]}"
        finally:
            self._tag(None)
        rec["verify_end"] = time.time()

    # -- shutdown -------------------------------------------------------
    def stop(self) -> None:
        """Stop the session, then the JVM and its workers, and wait for
        every process this run started to end."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        tree = descendants(os.getpid())
        self.spark.stop()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.time() + 30
        while time.time() < deadline:
            alive = tree & set(_proc_table())
            if not alive:
                return
            time.sleep(0.1)
        for pid in tree & set(_proc_table()):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def end_to_end(run: Run, peak_mb: float) -> tuple[dict, dict]:
    """(metrics, details) of the measured window."""
    ok = [r for r in run.issues if r["error"] is None]
    lat = [r["end"] - r["start"] for r in ok]
    suite = max(r["end"] for r in run.issues) - min(r["start"] for r in run.issues)
    tail, pct, beyond = tail_latency(lat)
    setup = run.steps[-1]["end"] - run.steps[0]["start"]
    metrics = {
        "setup_s": setup,
        "suite_s": suite,
        "queries_per_s": len(ok) / suite,
        "query_p50_s": statistics.median(lat),
        "query_tail_s": tail,
        "peak_rss_mb": peak_mb,
    }
    failed = sum(1 for r in run.issues if r["error"] or r["wrong"])
    details = {
        "attempted": len(run.issues),
        "failed": failed,
        "error_rate": failed / len(run.issues),
        "tail_percentile": pct,
        "tail_issues_beyond": beyond,
    }
    return metrics, details


def untraced_suite_s(workload: str) -> float | None:
    """Median untraced ``suite_s`` of ``workload`` over the records in this
    checkout, or None when there are none."""
    values = []
    for path in glob.glob(os.path.join(RECORDS, f"{workload}-*-trace0-*.json")):
        with open(path) as fh:
            values.append(json.load(fh)["metrics"]["suite_s"])
    return statistics.median(values) if values else None


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    sys.path.insert(1, HERE)
    try:
        import bench  # noqa: F401
        import mini_pandas_spark  # noqa: F401

        import workloads
    except ImportError as exc:
        print(f"perfbench: cannot import the program: {exc}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {workloads.WORKLOADS}", file=sys.stderr)
        return 2
    for sf in (FIXTURE, WARM_FIXTURE):
        if not glob.glob(os.path.join(sf, "*.parquet")):
            print(f"perfbench: fixture missing under {sf}", file=sys.stderr)
            return 2

    work = os.path.join(WORK, f"run-{os.getpid()}")
    for sub in ("scratch", "local", "tmp"):
        os.makedirs(os.path.join(work, sub))
    os.environ["SPARK_GRAFT_SCRATCH"] = os.path.join(work, "scratch")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    try:
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _trees() -> dict[str, tuple[int, int]]:
    """(directories, bytes) of the engine's scratch tree and Spark's local dir."""
    import tracing

    return {
        "scratch": tracing.tree_size(os.environ["SPARK_GRAFT_SCRATCH"]),
        "spark_local": tracing.tree_size(os.environ["SPARK_LOCAL_DIRS"]),
    }


def _run(args, work: str) -> int:
    import tracing

    run = Run(args, work)
    rss = PeakRss()
    rss.start()
    trees_before = _trees()
    try:
        run.set_up()
        if run.traced:
            run.tap.settle()
            stream_mark = len(run.tap.rows)
        cpu0 = time.process_time()
        run.measure()
        cpu = time.process_time() - cpu0
        peak_mb = rss.stop()
        if run.traced:
            run.tap.settle()
            stream_rows = run.tap.rows[stream_mark:]
        run.verify()
        trees_after = _trees()
    finally:
        rss.stop()
        if hasattr(run, "spark"):
            run.stop()

    if not any(r["error"] is None for r in run.issues):
        print("perfbench: no issue completed", file=sys.stderr)
        for r in run.issues:
            print(f"  {r['name']}: {r['error']}", file=sys.stderr)
        return 1
    metrics, details = end_to_end(run, peak_mb)
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cpus": CPUS, "clients": run.clients,
        "metrics": metrics, **details,
        "setup_steps": run.steps,
        "issues": run.issues,
    }
    if run.traced:
        record["layers"], record["spans"], record["accounting"] = tracing.layer_metrics(
            run, metrics, cpu, stream_rows, trees_before, trees_after,
            tracing.read_event_log(os.path.join(work, "eventlog")),
            run.workloads.modules(),
        )
        base = untraced_suite_s(args.workload)
        record["trace_overhead_s"] = None if base is None else metrics["suite_s"] - base
    os.makedirs(RECORDS, exist_ok=True)
    path = os.path.join(
        RECORDS, f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}-{os.getpid()}.json"
    )
    with open(path, "w") as fh:
        json.dump(record, fh, indent=1, default=str)

    for r in run.issues:
        if r["error"] or r["wrong"]:
            print(f"FAILED {r['name']}: {r['error'] or r['wrong']}")
    print(
        f"{args.workload} seed={args.seed} trace={args.trace}: "
        + " ".join(f"{k}={v:.4g} {UNITS[k]}" for k, v in metrics.items())
        + f" error_rate={details['error_rate']:.4g} ({details['failed']} of "
        f"{details['attempted']} issues)"
        + f" tail=p{details['tail_percentile']:.1f} with "
        f"{details['tail_issues_beyond']} issues beyond"
        + (f" trace_overhead_s={record['trace_overhead_s']}" if run.traced else "")
        + f"; record {os.path.relpath(path, ROOT)}"
    )
    if run.traced:
        shown = record["layers"]
        units = {k: tracing.unit(k) for k in shown}
    else:
        shown = {k: metrics[k] for k in END_TO_END}
        units = UNITS
    # correct: every result that came back matched its oracle; an issue
    # that raised produced no result and counts in failed instead
    result = {
        "correct": not any(r["wrong"] for r in run.issues),
        "attempted": details["attempted"],
        "failed": details["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in shown.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
