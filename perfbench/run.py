"""The repository's benchmark: one workload, one seed, one JSON result.

Usage (from the root of a checkout)::

    python3 perfbench/run.py --workload batch-registry --seed 1 --seconds 10 --trace 0

``--trace 0`` prints every end-to-end metric; ``--trace 1`` runs the same
workload with spans around each layer call and Spark's event log on, and
prints every per-layer metric. The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}``; the line before it
records provenance. Spans and the full record go to
``.perfbench_work/results/``. ``perfbench/NOTES.md`` says what each
workload and metric is for.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()  # setup_s counts from here

import argparse  # noqa: E402
import contextlib  # noqa: E402
import glob  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from workloads import (  # noqa: E402
    BATCH_WORKLOADS,
    MIN_WARM_PASSES,
    WARMUP_PASSES,
    CLOSED_LOOP,
    SINGLE_THREAD_LOOP,
    END_TO_END,
    OPEN_LOOP,
    QUERY_SCALE,
    STREAM_WORKLOADS,
)
from batch import BatchRun, pass_median, query_latencies_ms  # noqa: E402
from metrics import PER_LAYER  # noqa: E402

PACKAGE = "flink_streaming_2_10_spark"
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(prog="perfbench")
    ap.add_argument(
        "--workload", required=True, choices=[*BATCH_WORKLOADS, *STREAM_WORKLOADS]
    )
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: str, trace: bool) -> None:
    """Environment for Spark and its Python workers, set before the JVM
    starts. Workers get the checkout on ``PYTHONPATH``, so nothing
    depends on the current directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = os.environ
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, env.get("PYTHONPATH", "")) if p
    )
    env["SPARK_GRAFT_CPUS"] = str(nproc())
    env.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    env["TMPDIR"] = tmp
    env["TZ"] = "UTC"
    time.tzset()
    env["JAVA_TOOL_OPTIONS"] = (
        env.get("JAVA_TOOL_OPTIONS", "") + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    ).strip()
    confs = [f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"]
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        confs += ["spark.eventLog.enabled=true", f"spark.eventLog.dir=file://{log_dir}"]
    env["PYSPARK_SUBMIT_ARGS"] = (
        " ".join(f"--conf {c}" for c in confs) + " pyspark-shell"
    )


def source_sha256() -> str:
    """Digest of the code under test (the package and the query registry)."""
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, PACKAGE, "**", "*.py"), recursive=True))
    for path in [os.path.join(ROOT, "__spark_entry__.py"), *files]:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def git_sha() -> str:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"],
            cwd=ROOT,
            capture_output=True,
            text=True,
            timeout=10,
        )
    except OSError:
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def provenance(args, spark, config: dict) -> dict:
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "git_sha": git_sha(),
        "source_sha256": source_sha256(),
        "nproc": nproc(),
        "spark": spark.version,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "config": config,
    }


def finite(v) -> float:
    """JSON has no NaN: a metric a failed run could not measure reads 0
    (the run is then reported as not correct)."""
    v = float(v)
    return v if math.isfinite(v) else 0.0


# ---------------------------------------------------------------------------
# batch workloads
# ---------------------------------------------------------------------------


def run_batch(args, spark, tracer) -> dict:
    import numpy as np

    names = BATCH_WORKLOADS[args.workload]
    run = BatchRun(spark, names, args.seed, tracer=tracer)
    if tracer is not None:
        install_patches(tracer)
    cold = run.run_pass("cold")
    # Untimed warm-up: the check pass, then noop passes, since the
    # driver-side build keeps getting faster for several passes.
    run.check()
    for i in range(WARMUP_PASSES):
        run.run_pass(f"prewarm{i}")
    if tracer is None:
        warm, untraced = run.warm(time.time() + args.seconds, "warm"), None
    else:
        # Untraced and traced passes alternate, so that JIT warm-up does not
        # bias the tracing overhead (traced minus untraced pass_s).
        warm, untraced = [], []
        for i in range(MIN_WARM_PASSES):
            for traced in (i % 2 == 1, i % 2 == 0):
                set_tracing(run, tracer, traced)
                rec = run.run_pass(f"warm{i}" if traced else f"plain{i}")
                if rec is not None:
                    (warm if traced else untraced).append(rec)
        set_tracing(run, tracer, True)
    lat = query_latencies_ms(warm)
    e2e = {
        "first_pass_s": cold["wall_s"] if cold else float("nan"),
        "pass_s": pass_median(warm),
        "latency_p50_ms": float(np.percentile(lat, 50)) if lat else float("nan"),
        "latency_p99_ms": float(np.percentile(lat, 99)) if lat else float("nan"),
    }
    out = {
        "e2e": e2e,
        "attempted": run.attempted,
        "failures": run.failures,
        "record": {"passes": run.passes},
        "timed": {p["label"] for p in warm},
    }
    if tracer is not None:
        out["layers"] = batch_layers(tracer, warm, untraced, len(lat))
    return out


def install_patches(tracer) -> None:
    tracer.patch(f"{PACKAGE}.catalog", "load_table", "catalog.load_table")
    tracer.patch(f"{PACKAGE}.pipeline.caching", "release_cached", "pipeline.release_cached")


def set_tracing(run: BatchRun, tracer, on: bool) -> None:
    tracer.unpatch()
    if on:
        install_patches(tracer)
    run.tracer = tracer if on else None


def _spans(tracer, name: str, labels: set[str]) -> list[dict]:
    """Finished spans called ``name`` inside the passes ``labels``."""
    by_id = {s["id"]: s for s in tracer.spans}

    def pass_of(s):
        while s is not None:
            if s["name"] == "pass":
                return s["key"]
            s = by_id.get(s["parent"])
        return None

    return [s for s in tracer.finished() if s["name"] == name and pass_of(s) in labels]


def batch_layers(tracer, warm, untraced, samples: int) -> dict:
    labels = {p["label"] for p in warm}
    n = max(len(warm), 1)
    tracer.self_times()

    def total(name, field="dur", which=labels):
        spans = _spans(tracer, name, which)
        if field == "dur":
            return sum(s["end"] - s["start"] for s in spans)
        if field == "self":
            return sum(s["self_s"] for s in spans)
        if field == "n":
            return len(spans)
        return sum(s.get("count", 0) for s in spans)

    cold_label = {"cold"}

    return {
        "entry.build_s": total("entry.build") / n,
        "entry.exec_s": total("entry.exec") / n,
        "catalog.load_table_s": total("catalog.load_table", which=cold_label),
        "catalog.load_table_calls": total("catalog.load_table", "n", cold_label),
        "pipeline.release_cached_s": total("pipeline.release_cached") / n,
        "pipeline.persisted_rdds": total("pipeline.release_cached", "count") / n,
        "self.entry.build_s": total("entry.build", "self") / n,
        "self.pass_s": total("pass", "self") / n,
        "latency.samples": samples,
        "trace.overhead_s": pass_median(warm) - pass_median(untraced),
    }


# ---------------------------------------------------------------------------
# stream workloads
# ---------------------------------------------------------------------------


def run_stream(args, spark, tracer, work: str) -> dict:
    import numpy as np

    from stream_loops import closed_loop, open_loop

    cfgs = STREAM_WORKLOADS[args.workload]
    failures: list[str] = []
    attempted = 0

    res = open_loop(
        spark, cfgs, args.seed, os.path.join(work, "open"), args.seconds, OPEN_LOOP, tracer
    )
    progs = res["programs"]
    for r in progs.values():
        attempted += len(r.get("batch_s", [])) or 1
        if "error" in r:
            failures.append(r["error"])
    lat_by_program = [r["latency_ms"] for r in progs.values() if "latency_ms" in r]
    lat = np.concatenate(lat_by_program) if lat_by_program else np.array([])
    e2e = {
        "first_pass_s": sum(r.get("cold_s", float("nan")) for r in progs.values()),
        "pass_s": stream_pass_s(progs),
        "latency_p50_ms": float(np.percentile(lat, 50)) if lat.size else float("nan"),
        "latency_p99_ms": float(np.percentile(lat, 99)) if lat.size else float("nan"),
    }
    record = {
        "open_loop": {
            p: {
                "cold_s": r.get("cold_s"),
                "batches": len(r.get("batch_s", [])),
                "batch_s": r.get("batch_s"),
                "rows": r.get("rows"),
                "error": r.get("error"),
            }
            for p, r in progs.items()
        },
        "latency_samples": int(lat.size),
    }
    out = {"e2e": e2e, "attempted": attempted, "failures": failures, "record": record}
    if tracer is None:
        return out
    layers = stream_layers(res, lat)
    # The event-log groups of the measured micro-batches.
    out["timed"] = {
        f"{p['runId']}#{p['batchId']}" for r in progs.values() for p in r.get("measured", [])
    }
    # A traced run's sinks alternate: even batches run in a span, odd ones not.
    layers["trace.overhead_s"] = stream_pass_s(progs, traced=True) - stream_pass_s(
        progs, traced=False
    )
    # Closed loop: per-program capacity at local[nproc], then on one core.
    for tag, cpus, plan in (("", None, CLOSED_LOOP), ("single_thread_", 1, SINGLE_THREAD_LOOP)):
        if cpus is not None:
            spark = restart_session(spark, cpus)
        closed = closed_loop(
            spark, cfgs, args.seed, os.path.join(work, f"closed{cpus or ''}"), plan, tracer
        )
        for program, r in closed["programs"].items():
            attempted += plan["rounds"] * plan["round_batches"]
            if "error" in r:
                failures.append(r["error"])
            layers[f"stream.{program}.{tag}rows_per_s"] = r.get("rows_per_s", float("nan"))
        record[f"closed_loop{cpus or ''}"] = {
            "cold_s": closed.get("cold_s"),
            "round_s": closed.get("round_s"),
        }
    out["attempted"] = attempted
    out["layers"] = layers
    out["spark"] = spark
    return out


def stream_pass_s(progs: dict, traced: bool | None = None) -> float:
    """One micro-batch of each program: the sum of the programs' median
    micro-batch times (NaN when a program has none). ``traced`` keeps only
    the batches whose sink call did (True) or did not (False) run in a span."""
    total = 0.0
    for r in progs.values():
        times = [
            t
            for t, on in zip(r.get("batch_s", []), r.get("batch_traced", []))
            if traced is None or on == traced
        ]
        total += statistics.median(times) if times else float("nan")
    return total


def restart_session(spark, cpus: int):
    from flink_streaming_2_10_spark.session import get_spark

    spark.stop()
    return get_spark("perfbench", cpus=cpus)


def stream_layers(res: dict, lat) -> dict:
    import numpy as np

    layers: dict = {
        "state.rows_total": 0,
        "state.memory_bytes": 0,
        "state.rows_dropped_by_watermark": 0,
        "sources.backlog_rows": 0.0,
        "sources.backlog_slope": 0.0,
        "sources.processed_rows_per_s": 0.0,
        "latency.samples": int(lat.size),
    }
    measured = []  # progress records of measured batches, all programs
    for program, r in res["programs"].items():
        for p in r["progress"]:
            for s in p.get("stateOperators", []):
                layers["state.rows_dropped_by_watermark"] += s.get("numRowsDroppedByWatermark", 0)
        if "latency_ms" not in r:
            continue
        measured += r["measured"]
        layers[f"stream.{program}.latency_p50_ms"] = float(np.percentile(r["latency_ms"], 50))
        layers[f"stream.{program}.latency_p99_ms"] = float(np.percentile(r["latency_ms"], 99))
        t = np.array([b[0] for b in r["backlog"]])
        y = np.array([b[1] for b in r["backlog"]])
        layers["sources.backlog_rows"] += float(y[-1])
        if len(t) > 1:
            layers["sources.backlog_slope"] += float(np.polyfit(t - t[0], y, 1)[0])
        layers["sources.processed_rows_per_s"] += r["rows"] / max(r["span_s"], 1e-9)
        state = r["measured"][-1].get("stateOperators", [])
        layers["state.rows_total"] += sum(s.get("numRowsTotal", 0) for s in state)
        layers["state.memory_bytes"] += sum(s.get("memoryUsedBytes", 0) for s in state)
    n = max(len(measured), 1)

    def mean_duration(key: str) -> float:
        return sum(p["durationMs"].get(key, 0) for p in measured) / n

    layers.update(
        {
            "streaming.batches": len(measured),
            "streaming.trigger_ms": mean_duration("triggerExecution"),
            "streaming.query_planning_ms": mean_duration("queryPlanning"),
            "streaming.latest_offset_ms": mean_duration("latestOffset"),
            "streaming.wal_commit_ms": mean_duration("walCommit"),
            "streaming.commit_offsets_ms": mean_duration("commitOffsets"),
            "streaming.add_batch_ms": mean_duration("addBatch"),
            "state.commit_ms": sum(
                s.get("commitTimeMs", 0) for p in measured for s in p.get("stateOperators", [])
            ) / n,
        }
    )
    return layers


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------


def check_checkout() -> str | None:
    """Why this directory cannot be benchmarked, or None."""
    for rel in (os.path.join(PACKAGE, "__init__.py"), "__spark_entry__.py"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            return f"{rel} is missing: run from the root of a full checkout"
    try:
        import pyspark  # noqa: F401
    except ImportError:
        return "pyspark is not installed"
    return None


def traced_layers(res: dict, spark, work: str, app_id: str, is_batch: bool) -> dict:
    """The workload's per-layer figures plus the ``spark.*`` metrics of its
    timed job groups from the event log: per warm pass (batch) or per
    measured micro-batch (stream)."""
    import eventlog

    layers = res["layers"]
    path = eventlog.find_log(os.path.join(work, "eventlog"), app_id)
    groups = eventlog.parse(path, jvm=spark.sparkContext._jvm, scratch=work)
    if is_batch:
        # Batch groups are ``pb:<pass>:<query>:<phase>``.
        timed = lambda g: g.startswith("pb:") and g.split(":")[1] in res["timed"]  # noqa: E731
        n = len(res["timed"])
        layers["entry.build_jobs"] = sum(
            m["spark.jobs"] for g, m in groups.items() if timed(g) and g.endswith(":build")
        ) / max(n, 1)
    else:
        timed = lambda g: g in res["timed"]  # noqa: E731
        n = layers.get("streaming.batches", 0)
    totals = eventlog.total(groups, timed)
    layers.update({k: v / max(n, 1) for k, v in totals.items()})
    return layers


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    signal.signal(signal.SIGTERM, _terminate)  # clean up on timeout kills too
    problem = check_checkout()
    if problem:
        print(f"perfbench: {problem}", file=sys.stderr)
        return 2
    work = os.path.join(WORK_ROOT, f"{args.workload}-{os.getpid()}")
    results = os.path.join(WORK_ROOT, "results")
    os.makedirs(results, exist_ok=True)
    prepare_env(work, bool(args.trace))
    sys.path.insert(0, ROOT)

    from tracing import Tracer

    tracer = Tracer() if args.trace else None
    with contextlib.ExitStack() as cleanup:
        # Runs in reverse order, each step even if an earlier one raised.
        cleanup.callback(shutil.rmtree, work, ignore_errors=True)
        cleanup.callback(stop_jvm)
        from flink_streaming_2_10_spark.session import get_spark

        t0 = time.time()
        if tracer:
            with tracer.span("session.get_spark"):
                spark = get_spark("perfbench")
        else:
            spark = get_spark("perfbench")
        cleanup.callback(lambda: spark.stop())
        get_spark_s = time.time() - t0
        setup_s = time.time() - T_PROCESS
        spark.sparkContext.setLogLevel("ERROR")
        app_id = spark.sparkContext.applicationId
        is_batch = args.workload in BATCH_WORKLOADS
        config = (
            {"queries": {q: QUERY_SCALE[q] for q in BATCH_WORKLOADS[args.workload]}}
            if is_batch
            else {
                "programs": STREAM_WORKLOADS[args.workload],
                "open_loop": OPEN_LOOP,
                "closed_loop": CLOSED_LOOP,
                "single_thread_loop": SINGLE_THREAD_LOOP,
            }
        )
        prov = provenance(args, spark, config)
        res = run_batch(args, spark, tracer) if is_batch else run_stream(args, spark, tracer, work)
        spark = res.pop("spark", spark)
        metrics = {"setup_s": setup_s, **res["e2e"]}
        values = {k: (metrics[k], END_TO_END[k]) for k in END_TO_END}
        if args.trace:
            spark.stop()  # flushes and closes the event log
            layers = traced_layers(res, spark, work, app_id, is_batch)
            layers["session.get_spark_s"] = get_spark_s
            values = {k: (layers.get(k, 0.0), unit) for k, unit in PER_LAYER.items()}
            tracer.write(os.path.join(results, f"spans-{args.workload}-{args.seed}.json"))
        failures = res["failures"]
        result = {
            "correct": not failures,
            "attempted": res["attempted"],
            "failed": len(failures),
            "metrics": {
                k: {"value": finite(v), "unit": unit} for k, (v, unit) in values.items()
            },
        }
        with open(
            os.path.join(results, f"{args.workload}-{args.seed}-trace{args.trace}.json"), "w"
        ) as f:
            json.dump(
                {"provenance": prov, "result": result, "failures": failures, "record": res["record"]},
                f,
                indent=1,
                default=str,
            )
        for failure in failures:
            print(f"perfbench: FAILED {failure}", file=sys.stderr)
        print(f"failed/attempted: {len(failures)}/{res['attempted']}")
        print(json.dumps({"provenance": prov}))
        print(json.dumps(result))
        return 0


def stop_jvm() -> None:
    """End the Spark JVM (and with it the Python workers) and wait for it.
    The JVM exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is None or proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _terminate(signum, frame):
    raise SystemExit(128 + signum)


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
