"""Per-query noop-sink micro-bench + plan capture (guide §1.4/§7.2).

bench.py is FROZEN for driver measurement; this harness is for optimization
work: it isolates single queries with the noop sink, reports per-run walls
(warm-first, then N timed runs), /proc CPU-seconds per run, the Spark job
count per run, and optionally dumps `.explain("formatted")` to a file.

Usage:
    python bench_extra.py q1 q2 ...            # time queries at $SPARK_GRAFT_SF_DIR
    SPARK_GRAFT_PLAN_DIR=plans/r06 SPARK_GRAFT_PLAN_SUFFIX=_before.txt \
        python bench_extra.py --plans-only q1  # just dump plans
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS,
SPARK_GRAFT_XRUNS (timed runs per query, default 3).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import _cpu_seconds_tree  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
XRUNS = int(os.environ.get("SPARK_GRAFT_XRUNS", "3"))
PLAN_DIR = os.environ.get("SPARK_GRAFT_PLAN_DIR")
PLAN_SUFFIX = os.environ.get("SPARK_GRAFT_PLAN_SUFFIX", ".txt")


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    plans_only = "--plans-only" in sys.argv

    from llm_tab_cleaner_spark.session import build_session
    import __spark_entry__ as entry

    spark = build_session(app_name="bench_extra", cpus=CPUS)
    sc = spark.sparkContext
    qs = entry.queries()
    names = args or list(qs)
    out: dict[str, dict] = {}
    for name in names:
        if name not in qs:
            print(f"unknown query: {name}", file=sys.stderr)
            continue
        sc.setJobDescription(f"bench_extra: {name}")
        if PLAN_DIR:
            os.makedirs(PLAN_DIR, exist_ok=True)
            df = qs[name](spark, SF_DIR)
            with open(os.path.join(PLAN_DIR, f"{name}{PLAN_SUFFIX}"), "w") as f:
                f.write(df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"))
        if plans_only:
            continue
        # warm (codegen/JIT per plan shape)
        qs[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
        walls, cpus_, jobs = [], [], []
        tracker = sc.statusTracker()
        for r in range(XRUNS):
            group = f"bx_{name}_{r}"
            sc.setJobGroup(group, name)
            c0 = _cpu_seconds_tree()
            t0 = time.time()
            qs[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
            walls.append(round(time.time() - t0, 3))
            cpus_.append(round(_cpu_seconds_tree() - c0, 2))
            jobs.append(len(tracker.getJobIdsForGroup(group) or []))
        out[name] = {
            "wall": walls, "wall_min": min(walls),
            "cpu": cpus_, "cpu_min": min(cpus_), "jobs": jobs[-1],
        }
        print(f"{name}: wall={walls} cpu={cpus_} jobs={jobs}", file=sys.stderr)
    sc.setJobDescription(None)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
