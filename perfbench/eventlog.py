"""Spark event-log parser: JobStart, StageCompleted and TaskEnd events
grouped by job group into the ``spark.*`` per-layer metrics.

Reads the plain single-file log and Spark 4's rolled directory
(``eventlog_v2_<app>/events_<n>_<app>``), compressed or not. Compressed
files are decoded by Spark's own codec through the running JVM, since
the Python image ships no zstd/lz4 module.
"""

from __future__ import annotations

import json
import os
import re

CODECS = ("zstd", "lz4", "lzf", "snappy")

#: Metric name -> unit, in report order.
SPARK_METRICS = {
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.task_deserialize_s": "s",
    "spark.task_run_s": "s",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.input_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.python_bytes_sent": "bytes",
    "spark.python_bytes_received": "bytes",
}

#: The job property a streaming query sets to the micro-batch id.
BATCH_ID = "streaming.sql.batchId"
_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"


def find_log(log_dir: str, app_id: str) -> str:
    """The event log (file or rolled directory) of one application."""
    for name in sorted(os.listdir(log_dir)):
        if app_id in name:
            return os.path.join(log_dir, name)
    raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")


def _files(path: str) -> list[str]:
    if not os.path.isdir(path):
        return [path]

    def index(name: str) -> int:
        m = re.match(r"events_(\d+)_", name)
        return int(m.group(1)) if m else -1

    names = [n for n in os.listdir(path) if n.startswith("events_")]
    return [os.path.join(path, n) for n in sorted(names, key=index)]


def _codec(path: str) -> str | None:
    name = os.path.basename(path).removesuffix(".inprogress")
    ext = name.rsplit(".", 1)[-1] if "." in name else ""
    return ext if ext in CODECS else None


def _lines(path: str, jvm, scratch: str):
    codec = _codec(path)
    if codec is None:
        with open(path, encoding="utf-8") as f:
            yield from f
        return
    if jvm is None:
        raise RuntimeError(f"{path}: decoding {codec} needs the Spark JVM")
    plain = os.path.join(scratch, os.path.basename(path) + ".json")
    codec_obj = jvm.org.apache.spark.io.CompressionCodec.createCodec(
        jvm.org.apache.spark.SparkConf(False), codec
    )
    stream = codec_obj.compressedInputStream(jvm.java.io.FileInputStream(path))
    try:
        jvm.org.apache.commons.io.FileUtils.copyInputStreamToFile(
            stream, jvm.java.io.File(plain)
        )
    finally:
        stream.close()
    try:
        with open(plain, encoding="utf-8") as f:
            yield from f
    finally:
        os.remove(plain)


def _num(x) -> float:
    try:
        return float(x)
    except (TypeError, ValueError):
        return 0.0


def parse(path: str, jvm=None, scratch: str | None = None) -> dict[str, dict]:
    """``{job group: {spark.* metric: value}}`` for one application's log.

    Jobs without a group are under ``""``. A streaming query's jobs carry
    its run id as job group and the micro-batch id as a property; they are
    under ``"<run id>#<batch id>"``, one group per micro-batch.
    """
    scratch = scratch or os.path.dirname(os.path.abspath(path))
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = {}

    def rec(group: str) -> dict:
        return out.setdefault(group, {k: 0.0 for k in SPARK_METRICS})

    for file in _files(path):
        for line in _lines(file, jvm, scratch):
            if not line.strip():
                continue
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                group = props.get("spark.jobGroup.id") or ""
                if BATCH_ID in props:
                    group = f"{group}#{props[BATCH_ID]}"
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = group
                rec(group)["spark.jobs"] += 1
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                rec(stage_group.get(sid, ""))["spark.stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                r = rec(stage_group.get(ev.get("Stage ID"), ""))
                info = ev.get("Task Info") or {}
                r["spark.tasks"] += 1
                # Tasks killed by a query stop or job cancel are not failures.
                reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
                if reason not in ("Success", "TaskKilled"):
                    r["spark.failed_tasks"] += 1
                m = ev.get("Task Metrics") or {}
                r["spark.task_deserialize_s"] += _num(m.get("Executor Deserialize Time")) / 1e3
                r["spark.task_run_s"] += _num(m.get("Executor Run Time")) / 1e3
                r["spark.task_cpu_s"] += _num(m.get("Executor CPU Time")) / 1e9
                r["spark.gc_s"] += _num(m.get("JVM GC Time")) / 1e3
                r["spark.input_bytes"] += _num((m.get("Input Metrics") or {}).get("Bytes Read"))
                sr = m.get("Shuffle Read Metrics") or {}
                r["spark.shuffle_read_bytes"] += _num(sr.get("Remote Bytes Read")) + _num(
                    sr.get("Local Bytes Read")
                )
                sw = m.get("Shuffle Write Metrics") or {}
                r["spark.shuffle_write_bytes"] += _num(sw.get("Shuffle Bytes Written"))
                r["spark.spill_bytes"] += _num(m.get("Disk Bytes Spilled"))
                for acc in info.get("Accumulables") or []:
                    if acc.get("Name") == _PY_SENT:
                        r["spark.python_bytes_sent"] += _num(acc.get("Update"))
                    elif acc.get("Name") == _PY_RECV:
                        r["spark.python_bytes_received"] += _num(acc.get("Update"))
    return out


def total(groups: dict[str, dict], keep) -> dict[str, float]:
    """Sum the metrics of every group for which ``keep(group)`` is true."""
    acc = {k: 0.0 for k in SPARK_METRICS}
    for group, metrics in groups.items():
        if keep(group):
            for k, v in metrics.items():
                acc[k] += v
    return acc
