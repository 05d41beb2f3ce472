"""Run one workload: the untraced run (end-to-end metrics) or the traced
run (per-layer metrics). One Python process, closed loop: each iteration
starts when the previous one and its output check have finished."""

from __future__ import annotations

import os
import shutil
import statistics
import time
import traceback

from perfbench import probes
from perfbench.stats import summary
from perfbench.trace import Tracer, prefix_self_times
from perfbench.workloads import WORKLOADS, noop

#: untimed iterations after the cold set-up (the JVM keeps compiling for the
#: first several; on near_dup the first timed iteration after two was still
#: ~15% slower than the next), and the fewest timed iterations a run takes
WARMUP, MIN_SAMPLES = 4, 2
#: untraced/traced iteration pairs and timed ladder passes in the traced run
TRACED_PAIRS, LADDER_REPS = 2, 2

END_TO_END = {
    "files_per_s": "files/s",
    "setup_s": "s",
    "cpu_s": "CPU-s",
}
PER_LAYER = {
    "session.build_s": "s",
    "scan.s": "s",
    "scan.tasks": "count",
    "python.init_s": "s",
    "python.run_s": "s",
    "python.bytes_sent": "bytes",
    "python.bytes_returned": "bytes",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.task_skew": "ratio",
    "trace.fps_ratio": "ratio",
}


class Run:
    """Bookkeeping shared by the untraced and traced runs."""

    def __init__(self, name: str, seed: int, root: str):
        self.work = os.path.join(root, ".perfbench")
        self.run_dir = os.path.join(self.work, "runs", str(os.getpid()))
        os.makedirs(self.run_dir, exist_ok=True)
        self.wl = WORKLOADS[name](self.work, seed, self.run_dir)
        self.attempted = self.failed = 0
        self.problems: list[str] = []
        self.spark = self.model = None
        self.counters: dict = {}

    def setup(self) -> tuple[float, float]:
        """Session + model + first iteration; returns (setup_s, build_s).
        Cached inputs that need Spark are built outside the clock."""
        from llm_tab_cleaner_spark.functions.scoring import train_model
        from llm_tab_cleaner_spark.session import build_session

        t0 = time.perf_counter()
        self.spark = build_session(app_name="perfbench")
        build = time.perf_counter() - t0
        self.model = train_model()
        t1 = time.perf_counter()
        self.wl.open(self.spark, self.model)
        wall, _ = self.iteration()
        return (t1 - t0) + wall, build

    def iteration(self, wl=None, tracer=None) -> tuple[float, object]:
        """One closed-loop iteration of ``wl`` (default: the run's
        workload): untimed reset, timed work, untimed check. Returns
        (wall seconds, output); output is None when the iteration failed.
        With a tracer the work runs under its own job group, and Spark's
        counters for it land in ``self.counters``."""
        wl = wl or self.wl
        wl.reset()
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = wl.iterate() if tracer is None else self._traced(wl, tracer)
            wall = time.perf_counter() - t0
            problems = wl.check(out)
        except Exception:  # noqa: BLE001 — a failed iteration is counted, not fatal
            wall, out = time.perf_counter() - t0, None
            problems = [traceback.format_exc(limit=3)]
        if problems:
            self.failed += 1
            self.problems.extend(problems)
            return wall, None
        return wall, out

    def _traced(self, wl, tracer):
        sc = self.spark.sparkContext
        group = f"perfbench-{tracer.iteration}"
        since = probes.sql_executions(self.spark)
        sc.setJobGroup(group, group)
        try:
            out = wl.iterate(tracer)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        # a streaming query runs its jobs under its own run id
        self.counters = _counters(self.spark, out.get("run_id", group), since)
        return out

    def close(self) -> None:
        """Stop Spark, end the JVM and wait for it, drop run outputs."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except Exception:  # noqa: BLE001 — escalate, then reap
                    proc.kill()
                    proc.wait()
        shutil.rmtree(self.run_dir, ignore_errors=True)

    def result(self, metrics: dict, units: dict) -> dict:
        missing = set(units) - set(metrics)
        if missing:
            raise RuntimeError(f"metrics not measured: {sorted(missing)}")
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
        }


def untraced(run: Run, seconds: float) -> tuple[dict, dict]:
    """End-to-end metrics: one cold set-up, ``WARMUP`` untimed iterations,
    then timed iterations for ``seconds`` (at least ``MIN_SAMPLES``)."""
    setup_s, _ = run.setup()
    for _ in range(WARMUP):
        run.iteration()
    walls, cpus, lats = [], [], []
    deadline = time.perf_counter() + seconds
    while len(walls) < MIN_SAMPLES or time.perf_counter() < deadline:
        c0 = probes._cpu_seconds_tree()
        wall, out = run.iteration()
        c1 = probes._cpu_seconds_tree()
        if out is not None:
            walls.append(wall)
            cpus.append(c1 - c0)
            lats.extend(run.wl.latencies(out, wall))
        elif run.failed > run.attempted // 2:
            break
    if not walls:
        raise RuntimeError("no iteration succeeded: " + " | ".join(run.problems[:3]))
    wall_stats = summary(walls)
    metrics = {
        "files_per_s": run.wl.rows / wall_stats["median"],
        "setup_s": setup_s,
        "cpu_s": statistics.median(cpus),
    }
    detail = {
        # the JVM's heap growth under build_session's 8g default makes this
        # vary by up to 1.6x between runs: reported, not bounded
        "peak_rss_mb": probes.peak_rss_mb(),
        "rows": run.wl.rows,
        "iteration_s": wall_stats,
        "walls": walls,
        "batch_latency_s": summary(lats),
        "cpu_s": summary(cpus),
        "error_rate": run.failed / run.attempted,
    }
    return metrics, detail


def _counters(spark, group: str, since: int) -> dict:
    """Spark's counters for the jobs of ``group`` and the SQL executions
    after the first ``since``."""
    sc = spark.sparkContext
    jobs = probes.job_group_counts(sc, group)
    stages = probes.stage_metrics(sc, jobs["stage_ids"])
    py = probes.python_boundary(probes.sql_node_metrics(spark, since))
    return {
        "spark.jobs": jobs["jobs"],
        "spark.stages": jobs["stages"],
        "spark.tasks": jobs["tasks"],
        **{f"spark.{k}": v for k, v in stages.items()},
        **py,
    }


def _traced_iteration(run: Run, wl, tracer: Tracer):
    """One traced iteration of ``wl``; returns (wall, output, counters) or
    None when it failed."""
    tracer.iteration = f"{wl.name}-traced-{wl.count + 1}"
    with tracer.span("iteration") as span:
        wall, out = run.iteration(wl, tracer)
    if out is None:
        return None
    span["counters"] = run.counters
    return wall, out, run.counters


def _ladder(run: Run, wl, tracer: Tracer) -> tuple[dict, dict, int]:
    """Time each prefix of ``wl``'s ladder ``LADDER_REPS`` times,
    interleaved, after one untimed pass that compiles every plan shape.
    Returns (median prefix seconds, self seconds per layer, scan tasks)."""
    sc = run.spark.sparkContext
    ladder = wl.ladder()
    times: dict[str, list[float]] = {name: [] for name, _ in ladder}
    scan_tasks = 0
    for rep in range(LADDER_REPS + 1):
        for name, build in ladder:
            tracer.iteration = f"{wl.name}-ladder-{rep}"
            group = f"perfbench-{tracer.iteration}-{name}"
            sc.setJobGroup(group, group)
            with tracer.span(f"prefix.{name}") as span:
                noop(build())
            sc.setLocalProperty("spark.jobGroup.id", None)
            if rep:
                times[name].append(span["end"] - span["start"])
                if name == "scan.s":
                    scan_tasks = probes.job_group_counts(sc, group)["tasks"]
    prefix = {name: statistics.median(ts) for name, ts in times.items()}
    return prefix, prefix_self_times(list(prefix.items())), scan_tasks


def traced(run: Run, trace_path: str) -> tuple[dict, dict]:
    """Per-layer metrics: one set-up, untraced then traced iterations, the
    prefix ladder, and the legs of other workloads that share the session."""
    tracer = Tracer()
    setup_s, build_s = run.setup()
    # untraced and traced iterations alternate, so warm-up drift after the
    # set-up does not land on one side of the overhead ratio
    plain, traced_runs = [], []
    for _ in range(TRACED_PAIRS):
        wall, out = run.iteration()
        if out is not None:
            plain.append(wall)
        traced_runs.append(_traced_iteration(run, run.wl, tracer))
    done = [t for t in traced_runs if t is not None]
    if not (plain and done):
        raise RuntimeError("no iteration succeeded: " + " | ".join(run.problems[:3]))
    walls, outs, counters = zip(*done)
    prefix, self_times, scan_tasks = _ladder(run, run.wl, tracer)

    untraced_fps = run.wl.rows / statistics.median(plain)
    traced_fps = run.wl.rows / statistics.median(walls)
    # python.start_s and spark.spill_bytes read 0 on the reference host, so
    # they stay in the detail line only
    spark_counters = {k: statistics.median(c[k] for c in counters) for k in counters[0]}
    metrics = {
        "session.build_s": build_s,
        "scan.s": self_times["scan.s"],
        "scan.tasks": scan_tasks,
        **{k: v for k, v in spark_counters.items() if k in PER_LAYER},
        "trace.fps_ratio": traced_fps / untraced_fps,
    }
    detail = {
        **spark_counters,
        "setup_s": setup_s,
        "untraced_files_per_s": untraced_fps,
        "traced_files_per_s": traced_fps,
        "prefix_s": prefix,
        **self_times,
        **run.wl.layer_detail(tracer, outs),
        "legs": {},
    }
    for name in run.wl.legs:
        leg = WORKLOADS[name](run.work, run.wl.seed, run.run_dir)
        leg.prepare()
        leg.open(run.spark, run.model)
        run.iteration(leg)  # warm-up: compiles the leg's plan shapes
        traced_leg = _traced_iteration(run, leg, tracer)
        if traced_leg is None:
            continue
        _, leg_out, leg_counters = traced_leg
        leg_prefix, leg_self, _ = _ladder(run, leg, tracer)
        detail["legs"][name] = {
            "prefix_s": leg_prefix,
            **leg_self,
            **leg.layer_detail(tracer, [leg_out]),
            **leg_counters,
        }
    tracer.dump(trace_path)
    return metrics, detail


def main(name: str, seed: int, seconds: float, trace: bool, root: str) -> dict:
    run = Run(name, seed, root)
    try:
        run.wl.prepare()
        if trace:
            os.makedirs(os.path.join(run.work, "traces"), exist_ok=True)
            path = os.path.join(run.work, "traces", f"{name}-s{seed}.json")
            metrics, detail = traced(run, path)
            units = PER_LAYER
        else:
            metrics, detail = untraced(run, seconds)
            units = END_TO_END
    finally:
        run.close()
    detail["problems"] = run.problems[:20]
    return run.result(metrics, units), detail
