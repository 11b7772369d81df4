"""Capture registry query plans, or count the Spark work a query runs.

Usage:
  python tools/plan_probe.py plans OUT_DIR TAG [query ...]
      Write ``explain("formatted")`` of each query (default: all) to
      OUT_DIR/<query>_<tag>.txt and print each plan's size.
  python tools/plan_probe.py counts [query ...]
      Run each query to the noop sink and print one JSON line:
      {"query", "build_jobs", "jobs", "stages", "tasks"} — jobs started
      while building the DataFrame, all jobs, and the distinct stages
      with tasks and their task count. Counts do not depend on host
      speed, so a removed pass or exchange shows in them directly.

Queries read the sf0.1 tables (or SPARK_GRAFT_SF_DIR), the scale the
bench runs, so size-driven planner choices such as broadcast joins
match it. Iterative queries show their final assembly plan; their
per-round shapes are pinned in tests/test_plans.py.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import sys


def _plans(spark, queries, names, sf_dir: str, out_dir: str, tag: str) -> None:
    from flink_streaming_2_10_spark.pipeline.caching import release_cached

    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        try:
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                queries[name](spark, sf_dir).explain("formatted")
            plan = buf.getvalue()
        except Exception as exc:  # noqa: BLE001
            plan = f"ERROR building plan: {exc}\n"
        finally:
            release_cached()
        with open(os.path.join(out_dir, f"{name}_{tag}.txt"), "w") as fh:
            fh.write(plan)
        print(f"{name}: {len(plan)} chars", flush=True)


def _counts(spark, queries, names, sf_dir: str) -> None:
    from flink_streaming_2_10_spark.pipeline.caching import release_cached

    sc = spark.sparkContext
    st = sc.statusTracker()
    for name in names:
        sc.setJobGroup(f"build:{name}", name)
        df = queries[name](spark, sf_dir)
        sc.setJobGroup(f"run:{name}", name)
        df.write.format("noop").mode("overwrite").save()
        build = st.getJobIdsForGroup(f"build:{name}")
        jobs = build + st.getJobIdsForGroup(f"run:{name}")
        stages: set[int] = set()
        tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in info.stageIds if info is not None else ():
                si = st.getStageInfo(s)
                if si is not None and si.numTasks > 0 and s not in stages:
                    stages.add(s)
                    tasks += si.numTasks
        print(
            json.dumps(
                {"query": name, "build_jobs": len(build), "jobs": len(jobs),
                 "stages": len(stages), "tasks": tasks}
            ),
            flush=True,
        )
        release_cached()


def main() -> None:
    args = sys.argv[1:]
    if not args or args[0] not in ("plans", "counts") or (
        args[0] == "plans" and len(args) < 3
    ):
        sys.exit(__doc__)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)
    import __spark_entry__ as entrymod
    from flink_streaming_2_10_spark.session import get_spark

    mode, rest = args[0], args[1:]
    if mode == "plans":
        (out_dir, tag), rest = rest[:2], rest[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("plan-probe")
    queries = entrymod.queries()
    names = rest or sorted(queries)
    if mode == "plans":
        _plans(spark, queries, names, sf_dir, out_dir, tag)
    else:
        _counts(spark, queries, names, sf_dir)
    spark.stop()


if __name__ == "__main__":
    main()
