#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload mr_wordcount_sort --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  Inputs are generated from ``--seed``
under ``.perfbench_work/`` (removed when the run ends).  The last line of
standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` -- the end-to-end metrics of BENCHMARK.json
with ``--trace 0``, its per-layer metrics with ``--trace 1``.  A traced
run also writes its spans to ``.perfbench_out/``.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "mapreduce_implementation_spark"
SETUPS = 3  # set-ups per run; setup_s is their median
MAX_DRIVER_MEM_MB = 1024


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def configure_env(work: str) -> None:
    """Size the session to this machine and keep every file it writes
    under ``work``; the program reads these settings, it is not edited."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    mem_mb = min(MAX_DRIVER_MEM_MB, _mem_total_mb() // 4)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": f"{mem_mb}m",
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        "SPARK_GRAFT_DERIVED": os.path.join(work, "derived"),
        "TMPDIR": tmp,
        # few malloc arenas: with the default (8 per core) the JVM's resident
        # set ended anywhere from 1.0 to 2.0 GB on identical work
        "MALLOC_ARENA_MAX": "2",
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    confs = {
        "spark.ui.showConsoleProgress": "false",
        # the status store must keep every stage and query of a run
        "spark.ui.retainedJobs": "1000000",
        "spark.ui.retainedStages": "1000000",
        "spark.sql.ui.retainedExecutions": "1000000",
    }
    args = [a for k, v in confs.items() for a in ("--conf", f"{k}={v}")]
    args += ["--driver-java-options",
             # no hsperfdata file under /tmp: the run writes only in its checkout
             f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} -Dderby.system.home={work}",
             "pyspark-shell"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args)


class Runner:
    def __init__(self, wl_cls, work: str, seed: int):
        self.work = work
        self.wl = wl_cls(os.path.join(work, "in"), seed, small=False)
        self.warm = wl_cls(os.path.join(work, "warm"), seed, small=True)
        self.spark = None
        self.latencies: list[tuple[str, float]] = []  # (job name, seconds)
        self.attempted = 0
        self.failed = 0
        self.job_seq = 0

    # ---------------------------------------------------------------- set-up

    def setup(self) -> tuple[float, float]:
        from mapreduce_implementation_spark import session

        if self.spark is not None:
            session.stop_spark()
        t0 = time.perf_counter()
        self.spark = session.get_spark("perfbench")
        t1 = time.perf_counter()
        for job in self.warm.jobs(self.spark):
            self._execute(job)
        return t1 - t0, time.perf_counter() - t1

    # ------------------------------------------------------------------ jobs

    def _out(self) -> str:
        self.job_seq += 1
        return os.path.join(self.work, "out", f"job{self.job_seq}")

    def _execute(self, job, tracer=None, store=None) -> tuple[float, dict]:
        """Run one job; return (latency, facts gathered after it)."""
        import workloads
        from mapreduce_implementation_spark.operators import caching

        out = self._out()
        facts: dict = {}
        if tracer is None:
            t0 = time.perf_counter()
            job.sink(job.build(), out)
            dt = time.perf_counter() - t0
        else:
            tracer.job = self.job_seq
            t0 = time.perf_counter()
            with tracer.span("job"):
                j0 = store.last_job_id()
                with tracer.span("build"):
                    df = job.build()
                j1 = store.last_job_id()
                with tracer.span("plan"):
                    df._jdf.queryExecution().executedPlan()
                with tracer.span("sink"):
                    job.sink(df, out)
            dt = time.perf_counter() - t0
            facts["eager_jobs"] = j1 - j0
            facts["persisted"] = caching.persisted_count()
            facts["cached_b"] = store.cached_bytes()
        caching.release_persisted()
        facts["files"] = len(workloads.output_files(out))
        try:
            if job.check is not None:
                job.check(out)
        finally:
            shutil.rmtree(out, ignore_errors=True)
        return dt, facts

    def measured_pass(self, tracer=None, store=None) -> tuple[float, list[dict]]:
        import workloads

        total, facts = 0.0, []
        for job in self.wl.jobs(self.spark):
            self.attempted += 1
            try:
                dt, f = self._execute(job, tracer, store)
            except workloads.CheckFailed as e:
                print(f"check failed: {job.name}: {e}", file=sys.stderr)
                self.failed += 1
                continue
            except Exception:  # noqa: BLE001 -- a failing job is counted, the run goes on
                traceback.print_exc()
                self.failed += 1
                continue
            self.latencies.append((job.name, dt))
            total += dt
            facts.append(f)
        return total, facts

    def shutdown(self) -> None:
        from pyspark import SparkContext

        from mapreduce_implementation_spark import session

        session.stop_spark()
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
        _reap_descendants()


def _reap_descendants() -> None:
    """Wait for the PySpark daemon and workers to exit; kill stragglers."""
    import probe

    deadline = time.time() + 20
    while (left := probe.descendants(os.getpid())) and time.time() < deadline:
        time.sleep(0.2)
    for pid in probe.descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    for pid in left:
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass


def passes_for(wl_cls, seconds: int) -> int:
    """A run does a fixed number of passes, ``seconds`` of work on the
    reference box, so its job count -- and the percentile job_tail_s
    reports -- is the same on every commit."""
    return max(1, round(seconds / wl_cls.nominal_pass_s))


def run(args, spec: dict, work: str) -> dict:
    import probe
    import stats
    import workloads

    wl_cls = workloads.WORKLOADS[args.workload]
    clock = [("start", time.perf_counter())]
    runner = Runner(wl_cls, work, args.seed)
    rss = probe.PeakRss().start()
    try:
        clock.append(("generate", time.perf_counter()))
        setups = [runner.setup() for _ in range(SETUPS)]
        clock.append(("set-up", time.perf_counter()))
        passes = passes_for(wl_cls, args.seconds)
        if args.trace:
            metrics = traced(runner, wl_cls, passes, setups, args)
        else:
            pass_times = [runner.measured_pass()[0] for _ in range(passes)]
        clock.append(("measure", time.perf_counter()))
    finally:
        peak_mb = rss.stop()
        runner.shutdown()
    clock.append(("shutdown", time.perf_counter()))
    print("phases: " + ", ".join(f"{name} {t - clock[i][1]:.1f} s"
                                 for i, (name, t) in enumerate(clock[1:])), file=sys.stderr)

    if not runner.latencies:
        raise RuntimeError("every measured job failed")
    if args.trace:
        # a layer the workload does not run reads 0
        return _result(runner, {m["name"]: 0.0 for m in spec["per_layer"]} | metrics,
                       spec["per_layer"])
    tail_s, tail_pct, n = stats.tail([dt for _, dt in runner.latencies])
    print(f"{args.workload}: {passes} passes, {n} jobs; job_tail_s is p{tail_pct:.1f}; "
          f"input {runner.wl.input_bytes / 1e6:.1f} MB; "
          f"set-ups {', '.join(f'{a:.2f}+{b:.2f}' for a, b in setups)} s; "
          f"passes {', '.join(f'{p:.2f}' for p in pass_times)} s")
    pass_s = stats.median(pass_times)
    metrics = {
        "setup_s": stats.median([a + b for a, b in setups]),
        "pass_s": pass_s,
        "job_p50_s": stats.job_p50(runner.latencies),
        "job_tail_s": tail_s,
        "input_mb_per_s": runner.wl.input_bytes / 1e6 / pass_s,
        "peak_rss_mb": peak_mb,
    }
    return _result(runner, metrics, spec["end_to_end"])


def traced(runner, wl_cls, passes, setups, args) -> dict:
    """``passes`` untraced and ``passes`` traced passes, in the order
    UT TU UT ..., so the JVM's warm-up trend falls on both sides of the
    overhead; the ladders and counts follow."""
    import probe
    import stats

    store = probe.StatusStore(runner.spark)
    tracer = probe.Tracer()
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    untraced, per_pass = [], []
    for i in range(2 * passes):
        if (i + i // 2) % 2 == 0:
            untraced.append(runner.measured_pass()[0])
        else:
            with tracer.installed(wl_cls.spanned):
                per_pass.append(_traced_pass(runner, tracer, store, cores))
    with tracer.installed(wl_cls.spanned):
        out = {k: stats.median([p[k] for p in per_pass]) for k in per_pass[0]}
        out.update(runner.wl.ladder(runner.spark))
        out.update(runner.wl.counts(runner.spark))
    tracer.dump(os.path.join(ROOT, ".perfbench_out",
                             f"trace-{args.workload}-seed{args.seed}.json"))
    traced_pass = out.pop("pass_s")
    _, tail_pct, n = stats.tail([dt for _, dt in runner.latencies])
    out.update({
        "session.start_s": stats.median([a for a, _ in setups]),
        "session.warmup_s": stats.median([b for _, b in setups]),
        "trace.untraced_pass_s": stats.median(untraced),
        "trace.traced_pass_s": traced_pass,
        "trace.overhead_s": traced_pass - stats.median(untraced),
        "bench.jobs": n,
        "bench.tail_percentile": tail_pct,
    })
    return out


def _traced_pass(runner, tracer, store, cores: int) -> dict:
    """One pass with spans, and what the status store saw during it."""
    mark = store.mark()
    with tracer.span("pass"):
        wall, facts = runner.measured_pass(tracer, store)
    span = tracer.spans[max(i for i, s in enumerate(tracer.spans) if s["name"] == "pass")]
    span_wall = span["end"] - span["start"]
    d = store.delta(mark)
    return {
        "pass_s": wall,
        "queries.build_s": _spans_in_pass(tracer, "build"),
        "queries.plan_s": _spans_in_pass(tracer, "plan"),
        "queries.exec_s": _spans_in_pass(tracer, "sink"),
        "queries.eager_jobs": sum(f["eager_jobs"] for f in facts),
        "sources.input_mb": d["input_b"] / 1e6,
        "sources.scan_tasks": d["scan_tasks"],
        "sinks.output_mb": d["output_b"] / 1e6,
        "sinks.files": sum(f["files"] for f in facts),
        "operators.caching.persisted_frames": sum(f["persisted"] for f in facts),
        "operators.caching.cached_mb": max((f["cached_b"] for f in facts), default=0) / 1e6,
        "operators.joins.broadcast_joins": d["joins"]["broadcast"],
        "operators.joins.shuffle_joins": d["joins"]["shuffle"],
        "spark.exchange.shuffle_write_mb": d["shuffle_write_b"] / 1e6,
        "spark.exchange.shuffle_read_mb": d["shuffle_read_b"] / 1e6,
        "spark.exchange.spill_mb": d["spill_b"] / 1e6,
        "spark.executor.tasks": d["tasks"],
        "spark.executor.task_failures": d["task_failures"],
        "spark.executor.run_s": d["run_ms"] / 1e3,
        "spark.executor.cpu_s": d["cpu_ns"] / 1e9,
        "spark.executor.gc_s": d["gc_ms"] / 1e3,
        "spark.executor.core_busy_frac": d["run_ms"] / 1e3 / (span_wall * cores),
        "spark.driver_gap_s": max(0.0, span_wall - d["busy_s"]),
    }


def _spans_in_pass(tracer, name: str) -> float:
    """Total time of ``name`` spans inside the most recent pass span."""
    last = max(i for i, s in enumerate(tracer.spans) if s["name"] == "pass")
    return sum(s["end"] - s["start"] for s in tracer.spans[last:] if s["name"] == name)


def _result(runner, metrics: dict, declared: list[dict]) -> dict:
    names = {m["name"] for m in declared}
    if set(metrics) != names:
        raise RuntimeError(f"measured metrics differ from BENCHMARK.json: "
                           f"{sorted(set(metrics) ^ names)}")
    for m in declared:
        print(f"  {m['name']:<40} {metrics[m['name']]:>14.6g} {m['unit']}")
    return {
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {m["name"]: {"value": float(metrics[m["name"]]), "unit": m["unit"]}
                    for m in declared},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE}/ package next to perfbench/ in {ROOT}",
              file=sys.stderr)
        return 2
    spec = _spec()
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    if args.seconds < 1:
        print("perfbench: --seconds must be at least 1", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        configure_env(work)
        sys.path[:0] = [HERE, ROOT]
        result = run(args, spec, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
