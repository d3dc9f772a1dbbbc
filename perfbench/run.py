"""Benchmark for the micro-batch loader and its query registry.

    python3 perfbench/run.py --workload {ingest,analytics}
        --seed N --seconds S --trace {0,1}

Run from the repository root. Each run sets up once: it checks the
reference tables (refdata.py), starts Spark ``local[4]`` on a cold JVM,
prepares the seeded inputs and runs one untimed verification pass that
also warms every plan shape the workload uses. ``setup_s`` is the wall
time of all of that. Then a fixed number of timed passes fill about
``--seconds`` (at least three). With ``--trace 1`` one more
pass runs with spans around every layer call and Spark's status store
and streaming progress harvested; its per-layer metrics replace the
end-to-end ones on the result line.

Workloads (closed loops, one client, no think time):

- ``ingest``: file events through ``IngestPipeline``; an operation is a
  call that flushed a batch, the heavy part is reading every sink table
  back.
- ``analytics``: registry queries (see queries.py): light and heavy
  queries in a seeded order, then Structured Streaming store builds and
  the reads they serve. Light and read queries are its light
  operations; heavy and build queries its heavy part.

End-to-end metrics: ``setup_s``, ``retained_mb`` (JVM heap live after a
full collection at the end of the timed passes, plus the resident set
of this Python process), ``pass_s`` (median wall time of a pass,
cleanup between operations included), ``light_s`` and ``heavy_s`` (median
per-pass sum of the light operations and of the heavy part;
per-operation medians and tails are in the artifact) and ``pass_cpu_s``
(median CPU seconds a pass costs this process, the JVM and its Python
workers; steadier than wall time on a shared host). The last line of
standard output is one JSON object; a write-once artifact with the run's
metadata and every sample goes to ``.perfbench_runs/``. Exit status is 1
when a correctness check fails.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import layers  # noqa: E402
import refdata  # noqa: E402
import spans  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("ingest", "analytics")
MIN_PASSES = 3
# Nominal pass length per workload on a 4-core host: a run makes
# max(MIN_PASSES, ceil(seconds / nominal)) timed passes, so the number of
# passes, and with it how far the JIT has warmed, is the same every run.
NOMINAL_PASS_S = {"ingest": 5.0, "analytics": 11.5}
CORES = 4
DRIVER_MEM = "3g"
E2E_UNITS = {
    "setup_s": "s",
    "retained_mb": "MB",
    "pass_s": "s",
    "light_s": "s",
    "heavy_s": "s",
    "pass_cpu_s": "s",
}
PACKAGE = "aws_lambda_redshift_loader_spark"


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    return p.parse_args(argv)


def prepare_env(work: str) -> None:
    """Keep every file Spark, Derby and Python write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    java_opts = " ".join(
        [
            f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.system.home={work}",
            f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
            # The embedded Derby database stands in for a remote
            # warehouse: skip its fsyncs, which would time this disk.
            "-Dderby.system.durability=test",
        ]
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "{java_opts}" '
        f"--conf spark.local.dir={os.path.join(work, 'spark-local')} "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'spark-warehouse')} "
        # Keep every job and stage of a run in the status store, so the
        # traced pass is attributed from complete entries.
        "--conf spark.ui.retainedJobs=100000 --conf spark.ui.retainedStages=100000 "
        "pyspark-shell"
    )
    os.chdir(work)  # relative writes (metastore_db, derby.log) land here


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of each process's peak resident set (VmHWM)."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024.0


def cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants (the
    JVM and its Python workers)."""
    return stats.tree_cpu_ticks(stats.process_table(), [os.getpid()]) / os.sysconf("SC_CLK_TCK")


def measure_retained_mb(spark) -> float:
    """JVM heap still in use after a full collection, plus the resident
    set of this Python process."""
    import gc

    gc.collect()
    rt = spark.sparkContext._jvm.java.lang.Runtime.getRuntime()
    spark.sparkContext._jvm.System.gc()
    heap = int(rt.totalMemory()) - int(rt.freeMemory())
    rss_kb = 0
    with open("/proc/self/status") as fh:
        for line in fh:
            if line.startswith("VmRSS:"):
                rss_kb = int(line.split()[1])
    return heap / 2**20 + rss_kb / 1024.0


def git_meta(root: str) -> dict:
    def git(*args: str) -> str:
        try:
            out = subprocess.run(["git", *args], cwd=root, capture_output=True, text=True, timeout=10)
        except (OSError, subprocess.TimeoutExpired):
            return ""
        return out.stdout.strip() if out.returncode == 0 else ""

    sha = git("rev-parse", "HEAD")
    return {"git_sha": sha or None, "git_dirty": bool(git("status", "--porcelain")) if sha else None}


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    spark.stop()
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except (OSError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait(timeout=30)


class Run:
    def __init__(self, args, work: str) -> None:
        self.args = args
        self.work = work
        self.spark = None
        self.inputs = None
        self.setup_times: dict[str, float] = {}
        self.pids: list[int] = [os.getpid()]
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.passes: list[dict] = []
        self.retained_mb = 0.0

    # -- set-up ------------------------------------------------------------

    def setup(self) -> None:
        """One real set-up, timed from a cold JVM start through the
        untimed verification pass that also warms every plan shape."""
        wl = self.args.workload
        t0 = time.perf_counter()
        bad = refdata.check()
        if bad:
            raise RuntimeError(f"reference tables differ from SHA256SUMS: {bad}")
        from aws_lambda_redshift_loader_spark.session import get_spark

        self.spark = get_spark(f"perfbench-{wl}")
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        out = os.path.join(self.work, "inputs")
        if wl == "ingest":
            import ingest

            self.inputs = ingest.prepare(self.args.seed, out)
        else:
            import queries

            self.inputs = queries.prepare(self.args.seed, out)
        t2 = time.perf_counter()
        if wl == "ingest":
            self.verify_ingest()
        else:
            self.verify_queries()
        t3 = time.perf_counter()
        self.setup_times = {"session_s": t1 - t0, "inputs_s": t2 - t1, "verify_s": t3 - t2, "total_s": t3 - t0}
        self.pids.append(jvm_pid(self.spark))

    # -- workloads ---------------------------------------------------------

    def run(self) -> dict:
        if self.args.workload == "ingest":
            return self.run_ingest()
        return self.run_queries()

    def _timed_loop(self, one_pass) -> float:
        """The timed passes, then the memory the program retains."""
        n = max(MIN_PASSES, math.ceil(self.args.seconds / NOMINAL_PASS_S[self.args.workload]))
        t0 = time.perf_counter()
        for _ in range(n):
            one_pass()
        measured = time.perf_counter() - t0
        self.retained_mb = measure_retained_mb(self.spark)
        return measured

    def ingest_pass(self, tracer=None):
        """One ingest pass with fresh session memos, pipeline, sink
        directories and Derby database."""
        import ingest
        from aws_lambda_redshift_loader_spark.memos import clear_session_memos

        clear_session_memos()
        pass_dir = os.path.join(self.work, f"pass{len(self.passes)}")
        res = ingest.run_pass(self.spark, self.inputs, pass_dir, tracer)
        self.attempted += res.attempted
        self.failed += res.failed
        self.errors += [f"pass {len(self.passes)}: {e}" for e in res.errors]
        return res, pass_dir

    def verify_ingest(self) -> None:
        res, _ = self.ingest_pass()
        self.passes.append({"kind": "verify", **self._ingest_record(res)})

    def run_ingest(self) -> dict:
        land = self.inputs
        timed: list = []

        def timed_one():
            c0 = cpu_s()
            res, _ = self.ingest_pass()
            res.cpu_s = cpu_s() - c0
            timed.append(res)
            self.passes.append({"kind": "timed", "cpu_s": res.cpu_s, **self._ingest_record(res)})

        measured = self._timed_loop(timed_one)
        loads = [x for r in timed for x in r.loads]
        e2e = {
            "pass_s": statistics.median(r.wall_s for r in timed),
            "light_s": statistics.median(r.load_s for r in timed),
            "heavy_s": statistics.median(r.readback_s for r in timed),
            "pass_cpu_s": statistics.median(r.cpu_s for r in timed),
        }
        out = {"e2e": e2e, "measured_s": measured, "load_summary": stats.summarize(loads)}
        if self.args.trace:
            harvester = spans.StatusHarvester(self.spark)
            tracer = spans.Tracer(spans.SparkIds(self.spark))
            counters = layers.IngestCounters()
            undo = layers.instrument_ingest(tracer, counters)
            try:
                with tracer.span("pass", "pass") as top:
                    res, pass_dir = self.ingest_pass(tracer)
            finally:
                for u in undo:
                    u()
            harvester.drain()
            m = layers.ingest_layers(tracer, counters, res, land, pass_dir)
            m["control.event_p50_us"] = statistics.median(x for r in timed for x in r.event_us)
            out["layers"] = self._common_layers(m, tracer, harvester, top, res.wall_s, e2e["pass_s"])
            self.passes.append({"kind": "traced", **self._ingest_record(res)})
        return out

    @staticmethod
    def _ingest_record(res) -> dict:
        return {
            "wall_s": res.wall_s,
            "load_s": res.load_s,
            "replay_s": res.replay_s,
            "readback_s": res.readback_s,
            "loads": res.loads,
            "census": res.census,
            "errors": res.errors,
        }

    def verify_queries(self) -> None:
        """Collect every query of the mix once and compare it with its
        DuckDB oracle; record the memo builds a pass must repeat."""
        import queries
        import __spark_entry__ as entry
        from aws_lambda_redshift_loader_spark.memos import clear_session_memos
        from aws_lambda_redshift_loader_spark.operators import dedup

        self.order = queries.mix(self.args.seed)
        self.fns = entry.queries()
        clear_session_memos()
        n_ev = len(dedup.MEMO_EVENTS)
        t0 = time.perf_counter()
        checked = queries.verify_pass(self.spark, self.inputs, self.order, self.fns, entry.oracle_sql(), log)
        verify_wall = time.perf_counter() - t0
        self.verify_builds = sorted({e for e in dedup.MEMO_EVENTS[n_ev:] if e.endswith("_build")})
        self.attempted += len(checked)
        self.failed += sum(not r["ok"] for r in checked)
        self.errors += [f"verify {r['query']}: {r['error']}" for r in checked if not r["ok"]]
        self.passes.append(
            {"kind": "verify", "wall_s": verify_wall, "queries": checked, "memo_builds": self.verify_builds}
        )

    def run_queries(self) -> dict:
        import queries
        from aws_lambda_redshift_loader_spark.memos import clear_session_memos
        from aws_lambda_redshift_loader_spark.operators import dedup

        def builds(records) -> list[str]:
            return sorted({e for r in records for e in r.get("memo", []) if e.endswith("_build")})

        timed: list[list[dict]] = []

        def one(tracer=None) -> list[dict]:
            clear_session_memos()
            t0 = time.perf_counter()
            recs = queries.timed_pass(self.spark, self.inputs, self.order, self.fns, tracer, dedup.MEMO_EVENTS)
            wall = time.perf_counter() - t0  # includes the cleanup between queries
            self.attempted += len(recs)
            self.failed += sum(not r["ok"] for r in recs)
            self.errors += [f"{r['query']}: {r['error']}" for r in recs if not r["ok"]]
            if builds(recs) != self.verify_builds:
                self.errors.append(
                    f"memo isolation: pass built {builds(recs)}, first pass built {self.verify_builds}"
                )
            self.passes.append({"kind": "traced" if tracer else "timed", "wall_s": wall, "queries": recs})
            return recs, wall

        walls: list[float] = []

        cpus: list[float] = []

        def timed_one():
            c0 = cpu_s()
            recs, wall = one()
            cpus.append(cpu_s() - c0)
            self.passes[-1]["cpu_s"] = cpus[-1]
            timed.append(recs)
            walls.append(wall)

        measured = self._timed_loop(timed_one)
        light = [r["s"] for recs in timed for r in recs if r["class"] in queries.LIGHT_CLASSES]

        def class_s(recs, classes) -> float:
            return sum(r["s"] for r in recs if r["class"] in classes)

        e2e = {
            "pass_s": statistics.median(walls),
            "light_s": statistics.median(class_s(recs, queries.LIGHT_CLASSES) for recs in timed),
            "heavy_s": statistics.median(class_s(recs, queries.HEAVY_CLASSES) for recs in timed),
            "pass_cpu_s": statistics.median(cpus),
        }
        out = {"e2e": e2e, "measured_s": measured, "light_summary": stats.summarize(light)}
        if self.args.trace:
            harvester = spans.StatusHarvester(self.spark)
            tracer = spans.Tracer(spans.SparkIds(self.spark))
            progress = spans.StreamProgress()
            listener = progress.listener()
            self.spark.streams.addListener(listener)
            try:
                with tracer.span("pass", "pass") as top:
                    recs, wall = one(tracer)
            finally:
                harvester.drain()
                self.spark.streams.removeListener(listener)
            m = layers.query_layers(tracer, harvester, recs, CORES, time.time() - time.perf_counter())
            m.update(progress.metrics())
            out["layers"] = self._common_layers(m, tracer, harvester, top, wall, e2e["pass_s"])
        return out

    def _common_layers(self, m: dict, tracer, harvester, top, traced_wall: float, untraced_pass: float) -> dict:
        """Session, workload-level Spark and overhead metrics, then zero
        for every layer this workload does not reach."""
        m["session.start_s"] = self.setup_times["session_s"]
        m["session.warm_s"] = self.setup_times["verify_s"]
        sp = harvester.spark_metrics(top, CORES, time.time() - time.perf_counter())
        for f, _ in layers.SPARK_FIELDS:
            m[f"spark.{f}"] = sp.get(f, 0.0)
        m["trace.overhead_s"] = traced_wall - untraced_pass
        m["failed_frac"] = self.failed / self.attempted if self.attempted else 0.0
        # Per-span attribution must be non-negative and add up to no more
        # than the pass it belongs to.
        top_idx = tracer.spans.index(top)
        for kind in ("jobs", "stages"):
            kids = {
                f"{s.name}#{i}": getattr(s, kind)[1] - getattr(s, kind)[0]
                for i, s in enumerate(tracer.spans)
                if s.parent == top_idx and getattr(s, kind) is not None
            }
            total = getattr(top, kind)[1] - getattr(top, kind)[0]
            try:
                stats.check_attribution(kids, total)
            except ValueError as exc:
                self.errors.append(f"{kind} attribution: {exc}")
        absent = sorted(k for k, _ in layers.PER_LAYER if k not in m)
        self.absent = {k: f"layer not reached by the {self.args.workload} workload" for k in absent}
        self.evicted = {"jobs": harvester.evicted_jobs, "stages": harvester.evicted_stages}
        if harvester.evicted_jobs or harvester.evicted_stages:
            self.errors.append(f"status store evicted entries mid-pass: {self.evicted}")
        return {k: float(m.get(k, 0.0)) for k, _ in layers.PER_LAYER}


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not (os.path.isdir(os.path.join(root, PACKAGE)) and os.path.isfile(os.path.join(root, "__spark_entry__.py"))):
        log(f"run from the repository root: {PACKAGE}/ and __spark_entry__.py not found in {root}")
        return 2
    sys.path.insert(0, root)
    stamp = time.strftime("%Y%m%dT%H%M%S", time.gmtime())
    work = os.path.join(root, ".perfbench_work", f"{stamp}-{os.getpid()}")
    runs_dir = os.path.join(root, ".perfbench_runs")
    os.makedirs(runs_dir, exist_ok=True)
    prepare_env(work)
    meta = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": os.cpu_count(),
        "cores": CORES,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "driver_mem": DRIVER_MEM,
        "loadavg_start": os.getloadavg(),
        **git_meta(root),
    }
    cpu0 = stats.read_proc_stat()
    run = Run(args, work)
    result: dict = {}
    try:
        run.setup()
        result = run.run()
        peak_rss = peak_rss_mb(run.pids)
    finally:
        if run.spark is not None:
            stop_spark(run.spark)
        os.chdir(root)
        shutil.rmtree(work, ignore_errors=True)
    e2e = dict(result["e2e"])
    e2e["setup_s"] = run.setup_times["total_s"]
    e2e["retained_mb"] = run.retained_mb
    meta["peak_rss_mb"] = peak_rss
    meta["loadavg_end"] = os.getloadavg()
    meta["cpu"] = stats.cpu_delta_pct(cpu0, stats.read_proc_stat())
    meta["sf"] = __import__("ingest" if args.workload == "ingest" else "queries").SF
    correct = run.failed == 0 and not run.errors
    if args.trace:
        metrics = {k: {"value": v, "unit": layers.UNITS[k]} for k, v in result["layers"].items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
    line = {"correct": correct, "attempted": max(run.attempted, 1), "failed": run.failed, "metrics": metrics}
    artifact = {
        "meta": meta,
        "end_to_end": {k: e2e[k] for k in E2E_UNITS},
        "per_layer": result.get("layers"),
        "absent": getattr(run, "absent", None),
        "status_store_evicted": getattr(run, "evicted", None),
        "setup": run.setup_times,
        "measured_s": result.get("measured_s"),
        "summaries": {k: v for k, v in result.items() if k.endswith("_summary")},
        "passes": run.passes,
        "errors": run.errors,
        "result": line,
    }
    name = f"{stamp}-{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}.json"
    with open(os.path.join(runs_dir, name), "x") as fh:  # write-once
        json.dump(artifact, fh, indent=1, default=str)
    for e in run.errors:
        log(f"error: {e}")
    print(json.dumps(line))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
