#!/usr/bin/env python3
"""Engine benchmark: one workload per invocation, on local[nproc].

    python3 perfbench/run.py --workload pr_powerlaw_ckpt --seed 1 \\
        --seconds 15 --trace 0

Run it from the repository root. One run:

1. sets up ``SETUP_REPS`` times (session start, then input generation
   into parquet) and reports the median as ``setup_s``;
2. runs the workload's untimed warm-up repetitions, if it has any, then
   times its engine job at least once, and again while one more
   repetition still fits in ``--seconds``;
3. times the fixed-work host sentinel and a trivial one-row job;
4. checks every repetition's outputs against oracles computed outside
   Spark, then stops Spark and its JVM and deletes its work directory.

Everything it writes goes under ``.perfbench_work/`` in the repository.
The next-to-last line of standard output is a detail object: the run's
environment and every end-to-end metric that applies to the workload,
by name and unit. The last line is the result object. With
``--trace 1`` each span also collects the Spark jobs and stages that ran
inside it, and the result carries the per-layer metrics instead of the
end-to-end ones, which come from ``--trace 0`` runs.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import resource
import shutil
import signal
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")

SETUP_REPS = 3
CALIBRATION_REPS = 3
FLOOR_REPS = 10
# A run must end within 180 s; past this it stops and fails.
DEADLINE_S = 170
# Fits a 15 GB host with room for the Python workers and the OS.
DRIVER_MEMORY = "3g"

# Gated in BENCHMARK.json. They apply to every workload and repeat
# within the bounds there; the other end-to-end metrics go only on the
# detail line.
END_TO_END = ("setup_s", "job_s")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def isolate(work: str, cores: int) -> dict[str, str]:
    """Point every scratch location of Python, Spark and the JVM into
    ``work``; returns the Spark settings that do the same."""
    import tempfile

    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts   # spark-submit's launcher
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    tempfile.tempdir = tmp
    return {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.extraJavaOptions": jvm_opts,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # The tracer reads every job and stage back from the status
        # store; raise the retention limits so that none is evicted.
        "spark.ui.retainedJobs": "1000000",
        "spark.ui.retainedStages": "1000000",
    }


def rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


def stop_children(grace_s: float = 30.0) -> None:
    """Terminate this process's children (the JVM) and wait for them,
    killing any that outlive ``grace_s``."""
    me = str(os.getpid())
    kids = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        if stat.rsplit(")", 1)[1].split()[1] == me:
            kids.append(int(pid))
    for pid in kids:
        _signal(pid, signal.SIGTERM)
    end = time.monotonic() + grace_s
    for pid in kids:
        while os.waitpid(pid, os.WNOHANG) == (0, 0):
            if time.monotonic() > end:
                _signal(pid, signal.SIGKILL)
                os.waitpid(pid, 0)
                break
            time.sleep(0.1)


def _signal(pid: int, sig) -> None:
    try:
        os.kill(pid, sig)
    except ProcessLookupError:
        pass


def _deadline(signum, frame):
    raise TimeoutError(f"run exceeded {DEADLINE_S} s")


@dataclass
class Run:
    """What one run measured, for the metrics."""

    wl: object
    spark: object
    tracer: object
    inputs: dict
    cores: int
    setup_s: list[float]
    session_s: list[float]
    timed: list = field(default_factory=list)    # [(rep index, Rep)]
    expected: dict = field(default_factory=dict)
    calibration: list[float] = field(default_factory=list)
    floor: list[float] = field(default_factory=list)


class Bench:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.cores = len(os.sched_getaffinity(0))
        self.conf = isolate(work, self.cores)
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def close(self) -> None:
        """Stop Spark, then the JVM it runs in, and wait for it to end."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            SparkContext._gateway = SparkContext._jvm = None
        stop_children()

    def set_up(self, wl) -> Run:
        """Session start plus input generation, ``SETUP_REPS`` times; the
        last session and input are the ones measured."""
        from pagerank_spark.session import get_spark
        from spans import Tracer

        setup_s, session_s = [], []
        for _ in range(SETUP_REPS):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            self.spark = get_spark(app_name="perfbench",
                                   master=f"local[{self.cores}]",
                                   extra_conf=self.conf)
            session_s.append(time.perf_counter() - t0)
            tracer = Tracer(self.spark, bool(self.args.trace))
            inputs = wl.make_input(self.spark, self.args.seed, self.work,
                                   tracer)
            setup_s.append(time.perf_counter() - t0)
        log(f"set-up {sum(setup_s):.1f} s")
        return Run(wl, self.spark, tracer, inputs, self.cores, setup_s,
                   session_s)

    def repeat(self, run: Run) -> list:
        """Warm-up repetitions, then timed ones while the next still fits
        in ``--seconds``. Returns every completed (index, Rep, timed)."""
        wl, tracer = run.wl, run.tracer
        done = []
        start = None
        i = 0
        while True:
            timed = i >= wl.warmup_reps
            n_timed = i - wl.warmup_reps
            if timed and start is None:
                start = time.monotonic()
            elif timed and n_timed and ((time.monotonic() - start)
                                        * (n_timed + 1) / n_timed
                                        > self.args.seconds):
                break
            tracer.rep = i
            ckpt_root = os.path.join(self.work, "checkpoints")
            try:
                with tracer.span("job"):
                    rep = wl.run_once(run.spark, run.inputs, tracer,
                                      ckpt_root, warmup=not timed)
                done.append((i, rep, timed))
                self.attempted += len(rep.calls)
            except Exception as exc:  # counts as failed; the run goes on
                # The repetition's results are lost: all its calls fail.
                traceback.print_exc()
                self.attempted += len(wl.calls)
                self.failed += len(wl.calls)
                self.errors.append(f"rep {i}: {exc!r}")
            finally:
                tracer.rep = None
                shutil.rmtree(ckpt_root, ignore_errors=True)
                run.spark.catalog.clearCache()
            log(f"rep {i} {tracer.walls(i).get('job', 0.0):.1f} s"
                f"{'' if timed else ' (warm-up)'}")
            i += 1
        return done

    def sentinels(self, run: Run) -> None:
        """Host sentinel and job floor, timed once the JVM is warm."""
        from pyspark.sql import functions as F

        with run.tracer.span("host.calibration"):
            for _ in range(CALIBRATION_REPS):
                t0 = time.perf_counter()
                run.spark.range(400_000_000).select(
                    F.sum(F.col("id") % 7)).collect()
                run.calibration.append(time.perf_counter() - t0)
        with run.tracer.span("session.job_floor"):
            for _ in range(FLOOR_REPS):
                t0 = time.perf_counter()
                run.spark.range(0, 1, 1, 1).collect()
                run.floor.append(time.perf_counter() - t0)

    def run(self, wl) -> tuple[dict, dict]:
        from spans import StatusStore

        run = self.set_up(wl)
        reps = self.repeat(run)
        self.sentinels(run)
        run.expected = wl.oracle(run.inputs)
        for i, rep, _ in reps:
            bad = wl.check(rep, run.expected)
            self.failed += len(bad)
            self.errors += [f"rep {i}: {call}: {msg}"
                            for call, msg in bad.items()]
        run.timed = [(i, rep) for i, rep, timed in reps if timed]
        if not run.timed:
            raise RuntimeError("no timed repetition completed")

        detail = end_to_end(run)
        detail["fail_frac"] = (self.failed / self.attempted, "1")
        if self.args.trace:
            t0 = time.perf_counter()
            store = StatusStore(run.spark)
            store.drain()
            jobs, evicted = store.jobs()
            metrics = per_layer(run, jobs, evicted)
            metrics["trace.collect_ms"] = (
                (time.perf_counter() - t0) * 1000.0, "ms")
            outside = metrics["spark.unattributed_jobs"][0]
            if evicted or outside:
                self.errors.append(f"{evicted} stages evicted, "
                                   f"{outside:.0f} jobs outside any span")
        else:
            metrics = {k: detail[k] for k in END_TO_END}
        for msg in self.errors:
            log(msg)

        info = {
            "workload": wl.name, "seed": self.args.seed,
            "trace": self.args.trace, "nproc": self.cores,
            "timed_reps": len(run.timed), "spark": run.spark.version,
            "java": run.spark._jvm.java.lang.System.getProperty(
                "java.version"),
            "python": platform.python_version(),
            "host.calibration_s": median(run.calibration),
            "session.job_floor_ms": median(run.floor) * 1000.0,
            "metrics": _named(detail),
        }
        result = {"correct": not self.errors, "attempted": self.attempted,
                  "failed": self.failed, "metrics": _named(metrics)}
        return info, result


def _named(metrics: dict[str, tuple[float, str]]) -> dict:
    return {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}


def end_to_end(run: Run) -> dict[str, tuple[float, str]]:
    """What a user of the engine sees, as medians over the timed
    repetitions: END_TO_END for every workload, the rest where the
    workload runs that layer."""
    walls = {i: run.tracer.walls(i) for i, _ in run.timed}

    def med(fn):
        return median([fn(walls[i], rep) for i, rep in run.timed])

    out = {
        "setup_s": (median(run.setup_s), "s"),
        # The job span also holds the collection of results for checks.
        "job_s": (med(lambda w, _: w["job"] - w.get("check.collect", 0.0)),
                  "s"),
        "build_s": (med(lambda w, _: w["graph.prepare"]), "s"),
        "operators_s": (med(lambda w, _: sum(w[op]
                                             for op in run.wl.operators)),
                        "s"),
        "peak_rss_mb": (rss_mb(run.spark), "MB"),
    }
    if "extraction.derive_edges" in run.wl.calls:
        out["extract_s"] = (med(lambda w, _: w["extraction.derive_edges"]
                                + w["graph.encode_dense_ids"]), "s")
    if "operators.pagerank" in run.wl.calls:
        n_edges = run.expected["n_edges"]
        out["pagerank_s"] = (med(lambda w, _: w["operators.pagerank"]), "s")
        out["ms_per_iter"] = (med(
            lambda w, rep: w["operators.pagerank"] * 1000.0
            / rep.counts["iterations"]), "ms")
        out["edges_per_s_per_iter"] = (med(
            lambda w, rep: n_edges * rep.counts["iterations"]
            / w["operators.pagerank"]), "1/s")
    for key, span in (("cc_s", "operators.components"),
                      ("lpa_s", "operators.labelprop"),
                      ("triangles_s", "operators.triangles")):
        if span in run.wl.calls:
            out[key] = (med(lambda w, _: w[span]), "s")
    return out


# Per-layer metric -> (span, statistic, unit). Statistics come from
# spans.layer_stats; a "/iter" suffix divides by the rep's iterations.
LAYER_METRICS = {
    "extraction.ms": ("extraction.derive_edges", "ms", "ms"),
    "extraction.task_ms": ("extraction.derive_edges", "task_ms", "ms"),
    "extraction.shuffle_bytes": ("extraction.derive_edges", "shuffle_bytes",
                                 "B"),
    "graph.encode_ms": ("graph.encode_dense_ids", "ms", "ms"),
    "graph.prepare_ms": ("graph.prepare", "ms", "ms"),
    "graph.prepare_jobs": ("graph.prepare", "jobs", "count"),
    "graph.prepare_task_ms": ("graph.prepare", "task_ms", "ms"),
    "graph.prepare_shuffle_bytes": ("graph.prepare", "shuffle_bytes", "B"),
    "pagerank.ms": ("operators.pagerank", "ms", "ms"),
    "pagerank.ms_per_iter": ("operators.pagerank", "ms/iter", "ms"),
    "pagerank.jobs_per_iter": ("operators.pagerank", "jobs/iter", "count"),
    "pagerank.stages_per_iter": ("operators.pagerank", "stages/iter", "count"),
    "pagerank.tasks_per_iter": ("operators.pagerank", "tasks/iter", "count"),
    "pagerank.driver_ms_per_iter": ("operators.pagerank", "driver_ms/iter",
                                    "ms"),
    "pagerank.stage_ms_per_iter": ("operators.pagerank", "stage_ms/iter",
                                   "ms"),
    "pagerank.task_ms_per_iter": ("operators.pagerank", "task_ms/iter", "ms"),
    "pagerank.cpu_ms_per_iter": ("operators.pagerank", "cpu_ms/iter", "ms"),
    "pagerank.shuffle_bytes_per_iter": ("operators.pagerank",
                                        "shuffle_bytes/iter", "B"),
    "pagerank.spill_bytes": ("operators.pagerank", "spill_bytes", "B"),
    "pagerank.task_skew": ("operators.pagerank", "task_skew", "ratio"),
    "pagerank.core_util": ("operators.pagerank", "core_util", "ratio"),
    "checkpoint.write_ms": ("checkpoint.write_state", "ms", "ms"),
    "checkpoint.metrics_ms": ("checkpoint.write_metrics", "ms", "ms"),
}
for _layer in ("components", "labelprop", "triangles"):
    for _stat, _unit in (("ms", "ms"), ("jobs", "count"),
                         ("stages", "count"), ("driver_ms", "ms"),
                         ("task_ms", "ms"), ("shuffle_bytes", "B")):
        LAYER_METRICS[f"{_layer}.{_stat}"] = (f"operators.{_layer}", _stat,
                                              _unit)
LAYER_METRICS["triangles.task_skew"] = ("operators.triangles", "task_skew",
                                        "ratio")


def per_layer(run: Run, jobs, evicted: int) -> dict[str, tuple[float, str]]:
    """Per-layer metrics, medians over the timed repetitions. Metrics of
    layers the workload does not run read 0."""
    from spans import layer_stats

    tracer = run.tracer
    by_group: dict[str | None, list] = {}
    for job in jobs:
        by_group.setdefault(job.group, []).append(job)
    span_ids = {sp.sid for sp in tracer.spans}
    n_edges = run.expected.get("n_edges", 0)
    n_files = run.inputs.get("n_files", 0)

    rows = []
    for i, rep in run.timed:
        stats = {}
        for span_name in {s for s, _, _ in LAYER_METRICS.values()}:
            roots = [sp for sp in tracer.spans
                     if sp.rep == i and sp.name == span_name]
            if roots:
                stats[span_name] = layer_stats(tracer, roots, by_group,
                                               run.cores)
        iters = rep.counts.get("iterations", 0.0)
        row = {}
        for name, (span_name, stat, _) in LAYER_METRICS.items():
            key, per_iter = stat.removesuffix("/iter"), stat.endswith("/iter")
            value = stats[span_name][key] if span_name in stats else 0.0
            row[name] = value / iters if per_iter and iters else value
        iter_ms = sorted(rep.outputs.get("iter_ms", []))
        row["pagerank.iter_ms_p50"] = _quantile(iter_ms, 0.5)
        row["pagerank.iter_ms_p90"] = _quantile(iter_ms, 0.9)
        row["pagerank.edges_per_s_per_iter"] = (
            n_edges * 1000.0 / row["pagerank.ms_per_iter"]
            if row["pagerank.ms_per_iter"] else 0.0)
        row["extraction.edges"] = rep.counts.get("edges", 0.0)
        row["extraction.files_per_s"] = (
            n_files * 1000.0 / row["extraction.ms"]
            if row["extraction.ms"] else 0.0)
        row["checkpoint.writes"] = float(
            tracer.count(i, "checkpoint.write_state"))
        row["checkpoint.metrics_writes"] = float(
            tracer.count(i, "checkpoint.write_metrics"))
        row["checkpoint.bytes"] = float(rep.ckpt_bytes)
        row["checkpoint.files"] = float(rep.ckpt_files)
        walls = tracer.walls(i)
        row["trace.job_s"] = walls["job"] - walls.get("check.collect", 0.0)
        rows.append(row)

    units = {name: unit for name, (_, _, unit) in LAYER_METRICS.items()}
    units.update({
        "pagerank.iter_ms_p50": "ms", "pagerank.iter_ms_p90": "ms",
        "pagerank.edges_per_s_per_iter": "1/s", "extraction.edges": "count",
        "extraction.files_per_s": "1/s", "checkpoint.writes": "count",
        "checkpoint.metrics_writes": "count", "checkpoint.bytes": "B",
        "checkpoint.files": "count", "trace.job_s": "s",
    })
    out = {name: (median([row[name] for row in rows]), unit)
           for name, unit in units.items()}
    ran = [s for j in jobs for s in j.stages if s.ran]
    out.update({
        "session.start_ms": (median(run.session_s) * 1000.0, "ms"),
        "session.job_floor_ms": (median(run.floor) * 1000.0, "ms"),
        "host.calibration_s": (median(run.calibration), "s"),
        "spark.jobs": (float(len(jobs)), "count"),
        "spark.failed_tasks": (float(sum(j.failed_tasks for j in jobs)),
                               "count"),
        "spark.failed_stages": (float(sum(s.failed for s in ran)), "count"),
        "spark.unattributed_jobs": (float(sum(
            len(js) for g, js in by_group.items() if g not in span_ids)),
            "count"),
        "spark.evicted_stages": (float(evicted), "count"),
    })
    return out


def _quantile(sorted_xs: list[float], q: float) -> float:
    if not sorted_xs:
        return 0.0
    return sorted_xs[min(int(q * len(sorted_xs)), len(sorted_xs) - 1)]


def main(argv=None) -> int:
    started = time.monotonic()
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "pagerank_spark")):
        log("run from a checkout that holds pagerank_spark/")
        return 2
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; "
            f"choose from {sorted(WORKLOADS)}")
        return 2
    shutil.rmtree(WORK, ignore_errors=True)
    signal.signal(signal.SIGALRM, _deadline)
    signal.alarm(DEADLINE_S)
    bench = Bench(args, WORK)
    try:
        info, result = bench.run(WORKLOADS[args.workload])
    finally:
        signal.alarm(0)
        bench.close()
        shutil.rmtree(WORK, ignore_errors=True)
    log(f"run took {time.monotonic() - started:.1f} s")
    print(json.dumps(info))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
