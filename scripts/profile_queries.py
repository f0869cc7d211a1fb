"""Per-query bench profiler for the optimization rounds (guide §1).

For each named query (default: the slowest N from BENCH_DETAIL.json)
this measures, with the same noop-sink methodology as bench.py:

* warm + median timed seconds,
* the number of Spark JOBS, STAGES and TASKS one timed execution
  schedules (via the status tracker, grouped by a per-query job group)
  — on the tiny bench fixtures wall time is dominated by stage/job
  scheduling overhead, so "how many stages does this plan run" is the
  local proxy for "how many exchanges/passes does this plan need",
  which is exactly the 100 TB cost model too,
* the number of generated classes Janino COMPILES in the warm run and
  per timed execution (Spark's ``CodegenMetrics`` compilation count) —
  the warm count is what the query adds to the codegen cache's working
  set; after it the query's classes sit in the cache, so a timed count
  above 0 means the cache is thrashing and every run pays the compile
  again,
* the formatted physical plan, written to ``plans/r13/<name>_before.txt``
  (or ``_after.txt`` with ``--after``).

Usage:
  python scripts/profile_queries.py [--after] [--top N] [name ...]
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from inverted_index_using_the_map_reduce_paradigm_spark.registry import load_all  # noqa: E402
from inverted_index_using_the_map_reduce_paradigm_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))


def run_once(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def main() -> None:
    args = sys.argv[1:]
    suffix = "before"
    if "--after" in args:
        args.remove("--after")
        suffix = "after"
    top_n = 0
    if "--top" in args:
        i = args.index("--top")
        top_n = int(args[i + 1])
        del args[i : i + 2]
    names = list(args)
    if top_n:
        with open(os.path.join(REPO, "BENCH_DETAIL.json")) as f:
            committed = json.load(f)["queries"]
        names += sorted(committed, key=committed.get, reverse=True)[:top_n]

    plans_dir = os.path.join(REPO, "plans", os.environ.get("PLANS_ROUND", "r14"))
    os.makedirs(plans_dir, exist_ok=True)
    spark = get_spark("profile_queries")
    sc = spark.sparkContext
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    qs = load_all()
    unknown = [n for n in names if n not in qs]
    if unknown:
        print(f"unknown: {unknown}", file=sys.stderr)
        raise SystemExit(2)

    rows = []
    for name in names:
        q = qs[name]
        if not q.bench:
            print(f"{name}: bench=False, skipping", file=sys.stderr)
            continue
        df = q.fn(spark, SF_DIR)
        compiled_before = compiles.getCount()
        warm = run_once(df)
        n_compiled_warm = compiles.getCount() - compiled_before
        group = f"prof_{name}_{suffix}"
        sc.setJobGroup(group, name)
        compiled_before = compiles.getCount()
        samples = sorted(run_once(df) for _ in range(RUNS))
        n_compiled = compiles.getCount() - compiled_before
        sc.setJobGroup(None, None)
        med = statistics.median(samples)
        tracker = sc.statusTracker()
        job_ids = tracker.getJobIdsForGroup(group)
        n_jobs = len(job_ids)
        stage_ids = set()
        n_tasks = 0
        for jid in job_ids:
            ji = tracker.getJobInfo(jid)
            if ji is None:
                continue
            for sid in ji.stageIds:
                if sid in stage_ids:
                    continue
                stage_ids.add(sid)
                si = tracker.getStageInfo(sid)
                if si is not None:
                    n_tasks += si.numTasks
        # jobs/stages above cover RUNS executions; report per-execution
        per = max(RUNS, 1)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        with open(os.path.join(plans_dir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(plan)
        n_exch = plan.count("Exchange")
        n_py = sum(
            plan.count(k)
            for k in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "MapInArrow", "FlatMapGroupsInPandas")
        )
        rows.append(
            {
                "query": name,
                "warm": round(warm, 3),
                "median": round(med, 3),
                "runs": [round(s, 3) for s in samples],
                "jobs_per_run": round(n_jobs / per, 1),
                "stages_per_run": round(len(stage_ids) / per, 1),
                "tasks_per_run": round(n_tasks / per, 1),
                "codegen_compiles_warm": n_compiled_warm,
                "codegen_compiles_per_run": round(n_compiled / per, 1),
                "plan_exchanges": n_exch,
                "plan_python_nodes": n_py,
            }
        )
        print(
            f"{name}: median={med:.3f} warm={warm:.3f} "
            f"jobs/run={n_jobs / per:.1f} stages/run={len(stage_ids) / per:.1f} "
            f"tasks/run={n_tasks / per:.0f} compiles warm={n_compiled_warm} "
            f"per run={n_compiled / per:.1f} "
            f"exch={n_exch} py={n_py}",
            flush=True,
        )

    out_path = os.path.join(plans_dir, f"profile_{suffix}.json")
    with open(out_path, "w") as f:
        json.dump(
            {
                "sf_dir": SF_DIR,
                "load1": round(os.getloadavg()[0], 2),
                "at": time.strftime("%Y-%m-%dT%H:%M:%S%z"),
                "rows": rows,
            },
            f,
            indent=1,
        )
    print(f"wrote {out_path}", file=sys.stderr)


if __name__ == "__main__":
    main()
