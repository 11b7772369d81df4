"""Self-tests of the benchmark's own machinery.

Usage: python3 perfbench/selftest.py

1. Working-directory independence: a child process started in a fresh
   temporary directory runs ``async_ordered_identity`` (Python workers)
   against its oracle digest and a short topspeed stream against its
   bounded recomputation.
2. Event-log parser: the test writes two event logs of the same sf0.001
   wordcount -- one plain single file, one rolled and compressed -- and
   checks that both parse to the job count Spark's status tracker saw.

Exits 0 when every check passes.
"""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)


def child() -> int:
    """Runs inside the temporary directory."""
    import run

    work = os.path.join(os.getcwd(), "work")
    run.prepare_env(work, trace=False)
    sys.path.insert(0, ROOT)
    from batch import BatchRun
    from stream_loops import closed_loop
    from workloads import SELFTEST_QUERY, STREAM_WORKLOADS

    from flink_streaming_2_10_spark.session import get_spark

    spark = get_spark("perfbench-selftest")
    try:
        spark.sparkContext.setLogLevel("ERROR")
        batch = BatchRun(spark, [SELFTEST_QUERY], seed=0)
        batch.check()
        cfg = {"topspeed": STREAM_WORKLOADS["stream-rate"]["topspeed"]}
        plan = {"warmup": 1, "rounds": 1, "round_batches": 1, "timeout_s": 120}
        stream = closed_loop(spark, cfg, 0, work, plan)
        errors = batch.failures + stream.get("errors", [])
    finally:
        spark.stop()
    for e in errors:
        print(f"FAIL {e}")
    print(f"cwd {os.getcwd()}: {'ok' if not errors else 'FAILED'}")
    return 1 if errors else 0


def cwd_independence() -> bool:
    with tempfile.TemporaryDirectory(prefix="perfbench-cwd-") as cwd:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--child"], cwd=cwd, timeout=600
        )
    return proc.returncode == 0


def eventlog_parser() -> bool:
    with tempfile.TemporaryDirectory(prefix="perfbench-eventlog-") as work:
        import run

        run.prepare_env(work, trace=False)
        results = [
            eventlog_case(work, label, compress)
            for label, compress in (("plain", False), ("rolled", True))
        ]
    return all(results)


def eventlog_case(work: str, label: str, compressed: bool) -> bool:
    """Write a log of one sf0.001 wordcount and parse it back. ``rolled``
    is Spark 4's rolled directory with compressed files."""
    sys.path.insert(0, ROOT)
    from pyspark.sql import SparkSession

    import __spark_entry__ as entrymod
    import eventlog

    log_dir = os.path.join(work, label)
    os.makedirs(log_dir)
    flag = "true" if compressed else "false"
    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", f"file://{log_dir}")
        .config("spark.eventLog.compress", flag)
        .config("spark.eventLog.rolling.enabled", flag)
        .getOrCreate()
    )
    sc = spark.sparkContext
    sc.setJobGroup("selftest:wordcount", "wordcount")
    sf = os.path.join(HERE, "data", "sf0.001")
    rows = entrymod.queries()["wordcount_rolling_sum"](spark, sf).collect()
    jobs = len(sc.statusTracker().getJobIdsForGroup("selftest:wordcount"))
    app_id, jvm = sc.applicationId, sc._jvm
    spark.stop()
    path = eventlog.find_log(log_dir, app_id)
    got = eventlog.parse(path, jvm=jvm, scratch=work).get("selftest:wordcount", {})
    files = eventlog._files(path)
    good = bool(
        rows
        and jobs > 0
        and got.get("spark.jobs") == jobs
        and got.get("spark.tasks", 0) >= jobs
        and got.get("spark.input_bytes", 0) > 0
        and os.path.isdir(path) == compressed
        and any(eventlog._codec(f) for f in files) == compressed
    )
    print(
        f"eventlog {label} ({os.path.basename(path)}): jobs {got.get('spark.jobs')} "
        f"vs tracker {jobs}: {'ok' if good else 'FAILED'}"
    )
    return good


def main(argv: list[str]) -> int:
    if argv == ["--child"]:
        return child()
    results = {"cwd independence": cwd_independence(), "event-log parser": eventlog_parser()}
    for name, ok in results.items():
        print(f"{name}: {'ok' if ok else 'FAILED'}")
    return 0 if all(results.values()) else 1


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
