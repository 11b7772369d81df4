"""Closed-loop and open-loop runs of the streaming programs.

Closed loop: a ``rate-micro-batch`` source with fixed rows per batch; the
next micro-batch starts when the previous one is committed, so the
program's own speed sets the load. Open loop: a ``rate`` source at a fixed
offered rate, released whole seconds at a time; latency runs from each
event's scheduled creation time to the return of the ``foreachBatch``
call that processed it.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import nullcontext

import numpy as np

from digest import digest
from streams import (
    BASE_MS,
    OUTPUT_MODE,
    bounded_answer,
    build_stream,
    program_inputs,
    rate_like,
)


class Sink:
    """``foreachBatch`` sink: collects each micro-batch into this process and
    records when the call returns. With a tracer, only even batches run in
    a span, so one traced run gives traced and untraced batch times."""

    def __init__(self, program: str, stop_after: int | None, tracer=None):
        self.program = program
        self.stop_after = stop_after
        self.tracer = tracer
        self.rows: dict[int, list[tuple]] = {}
        self.returned: dict[int, float] = {}
        self.traced: set[int] = set()
        self.done = threading.Event()

    def __call__(self, df, batch_id: int) -> None:
        traced = self.tracer is not None and batch_id % 2 == 0
        if traced:
            self.traced.add(batch_id)
        span = self.tracer.span("stream.sink", self.program) if traced else nullcontext()
        with span:
            rows = df.collect()
        self.rows[batch_id] = [tuple(r) for r in rows]
        self.returned[batch_id] = time.time()
        if self.stop_after is not None and batch_id >= self.stop_after:
            self.done.set()


def _sources(spark, program: str, fmt: str, options: dict) -> list:
    n = 2 if program == "window_join" else 1
    out = []
    for _ in range(n):
        reader = spark.readStream.format(fmt)
        for k, v in options.items():
            reader = reader.option(k, str(v))
        out.append(reader.load())
    return out


def _start(df, program: str, sink: Sink, checkpoint: str, name: str):
    return (
        df.writeStream.queryName(name)
        .outputMode(OUTPUT_MODE[program])
        .foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def _stop(query):
    """Stop ``query``; returns the exception it failed with before the
    stop, or None. Errors raised by the stop itself are not the program's:
    interrupting a Python ``foreachBatch`` call can make Spark record one."""
    if not query.isActive:
        return query.exception()
    query.stop()
    return None


def _wait(query, event: threading.Event, timeout: float) -> None:
    deadline = time.time() + timeout
    while not event.wait(0.1):
        if not query.isActive or time.time() > deadline:
            break


def closed_loop(
    spark, cfgs: dict, seed: int, workdir: str, plan: dict, tracer=None
) -> dict:
    """Run every program concurrently on ``rate-micro-batch`` sources:
    ``plan['warmup']`` cold batches, then ``plan['rounds']`` rounds of
    ``plan['round_batches']`` batches each; then check each program's
    output against the bounded recomputation.

    Returns ``cold_s`` (start until every program returned its last
    warm-up batch), ``round_s`` (a round ends when the last program
    returns that round's final batch), and per program ``rows_per_s``
    over the measured rounds, ``error`` if any, and the progress list.
    """
    warm, rounds, k = plan["warmup"], plan["rounds"], plan["round_batches"]
    last = warm + rounds * k - 1
    running = []
    t0 = time.time()
    for program, cfg in cfgs.items():
        srcs = _sources(
            spark,
            program,
            "rate-micro-batch",
            {
                "rowsPerBatch": cfg["rows_per_batch"],
                "startTimestamp": BASE_MS,
                "advanceMillisPerBatch": 1000,
            },
        )
        inputs = program_inputs(program, srcs, cfg, seed, closed=True)
        span = tracer.span("streaming.build", program) if tracer else nullcontext()
        with span:
            df = build_stream(program, inputs)
        sink = Sink(program, stop_after=last, tracer=tracer)
        ckpt = os.path.join(workdir, f"closed-{program}")
        query = _start(df, program, sink, ckpt, f"closed_{program}")
        running.append((program, cfg, len(srcs), sink, query))
    deadline = time.time() + plan["timeout_s"]
    try:
        for _, _, _, sink, query in running:
            _wait(query, sink.done, max(0.0, deadline - time.time()))
    finally:
        failed = {program: _stop(query) for program, *_, query in running}
    out: dict = {"programs": {}}
    for program, cfg, n_src, sink, query in running:
        progress = [json.loads(p.json) for p in query.recentProgress]
        res = {"progress": progress, "run_id": str(query.runId)}
        out["programs"][program] = res
        exc = failed[program]
        missing = [b for b in range(last + 1) if b not in sink.returned]
        if exc is not None or missing:
            res["error"] = f"{program} closed loop: " + (
                _first_line(exc)
                if exc is not None
                else f"batches {missing[:5]} never returned"
            )
            continue
        per_batch = cfg["rows_per_batch"] * n_src
        by_batch = {p["batchId"]: p["numInputRows"] for p in progress}
        short = [b for b in range(last + 1) if by_batch.get(b, per_batch) != per_batch]
        if short:
            res["error"] = f"{program} closed loop: batches {short[:5]} read a partial batch"
            continue
        res["returned"] = [sink.returned[b] for b in range(last + 1)]
        res["rows_per_s"] = (rounds * k * per_batch) / (
            sink.returned[last] - sink.returned[warm - 1]
        )
        error = _check_closed(spark, program, cfg, seed, sink, last)
        if error:
            res["error"] = error
    errors = [r["error"] for r in out["programs"].values() if "error" in r]
    if errors:
        out["errors"] = errors
        return out
    ends = [
        max(r["returned"][warm - 1 + c * k] for r in out["programs"].values())
        for c in range(rounds + 1)
    ]
    out["cold_s"] = ends[0] - t0
    out["round_s"] = [b - a for a, b in zip(ends, ends[1:])]
    return out


def _check_closed(spark, program: str, cfg: dict, seed: int, sink: Sink, last: int):
    """Compare the program's output over batches ``0..last`` with the
    bounded recomputation over the same rows; returns an error or None."""
    rows = (last + 1) * cfg["rows_per_batch"]
    srcs = [rate_like(spark, rows, BASE_MS, 0)] * (2 if program == "window_join" else 1)
    expected = bounded_answer(spark, program, cfg, seed, srcs, closed=True)
    return compare(program, "closed loop", sink, last, expected)


def compare(program: str, phase: str, sink: Sink, last: int, expected: list[tuple]):
    """Compare the sink's output of batches ``0..last`` with ``expected``;
    returns an error or None."""
    if program == "wordcount":
        final: dict = {}
        for b in range(last + 1):  # update mode: the last refinement wins
            final.update(dict(sink.rows.get(b, [])))
        got = list(final.items())
    else:
        got = [r for b in range(last + 1) for r in sink.rows.get(b, [])]
    if not expected:
        return f"{program} {phase}: the bounded recomputation is empty"
    cols = [f"c{i}" for i in range(len(expected[0]))]
    if digest(cols, got) != digest(cols, expected):
        return (
            f"{program} {phase}: output differs from the bounded "
            f"recomputation ({len(got)} vs {len(expected)} rows)"
        )
    return None


def _first_line(exc) -> str:
    text = str(exc).strip()
    return f"{type(exc).__name__}: {text.splitlines()[0] if text else ''}"


def _creation_ms(checkpoint: str, source: int) -> int:
    """The rate source's start time, which it keeps in its checkpoint."""
    with open(os.path.join(checkpoint, "sources", str(source), "0")) as f:
        return int(f.read().split()[-1])


def _offset(x) -> int:
    return int(json.loads(x) if isinstance(x, str) else x)


def _epoch(iso: str) -> float:
    import datetime as dt

    return dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def open_loop(
    spark, cfgs: dict, seed: int, workdir: str, seconds: float, plan: dict, tracer=None
) -> dict:
    """Run the programs one after another, each alone on the session, on
    ``rate`` sources at its offered rate. ``seconds`` is shared equally
    among them. Running them one at a time keeps one program's triggers
    from queueing behind another's on the same cores, so each program's
    latency is its own.

    Returns per program: ``cold_s`` (start until its first non-empty batch
    returned), ``latency_ms`` (one value per measured event), ``batch_s``
    (start to sink return of each measured batch) and ``batch_traced``
    (whether its sink call ran in a span), ``backlog`` samples
    ``(t, rows)``, ``rows``, ``span_s``, the progress list and ``error`` if
    the program failed or its output differs from the bounded
    recomputation.
    """
    share = seconds / len(cfgs)
    return {
        "programs": {
            program: _open_one(
                spark, program, cfg, seed, os.path.join(workdir, program), share, plan, tracer
            )
            for program, cfg in cfgs.items()
        }
    }


def _open_one(
    spark, program: str, cfg: dict, seed: int, workdir: str, seconds: float, plan: dict, tracer
) -> dict:
    """One program's open loop. Cold phase: until it has returned a
    non-empty batch. Then ``plan['warmup_s']`` unmeasured, then ``seconds``
    measured; a batch is measured when it starts inside the measured
    window."""
    t0 = time.time()
    rate = cfg["offered_rows_per_s"]
    srcs = _sources(spark, program, "rate", {"rowsPerSecond": rate})
    inputs = program_inputs(program, srcs, cfg, seed, closed=False)
    span = tracer.span("streaming.build", program) if tracer else nullcontext()
    with span:
        df = build_stream(program, inputs)
    sink = Sink(program, stop_after=None, tracer=tracer)
    ckpt = os.path.join(workdir, "checkpoint")
    query = _start(df, program, sink, ckpt, f"open_{program}")

    def first_data() -> float | None:
        for p in query.recentProgress:
            if p.numInputRows > 0 and p.batchId in sink.returned:
                return sink.returned[p.batchId]
        return None

    def measured() -> int:
        return sum(
            1
            for p in query.recentProgress
            if p.numInputRows > 0
            and p.batchId in sink.returned
            and _epoch(p.timestamp) >= measure_from
        )

    deadline = t0 + plan["timeout_s"]
    first = None
    while first is None and query.isActive and time.time() < deadline:
        first = first_data()
        time.sleep(0.05)
    measure_from = measure_to = float("inf")
    if first is not None:
        measure_from = first + plan["warmup_s"]
        # Measure for ``seconds``, and on until ``min_batches`` batches
        # were measured (a slow host stretches triggers).
        while time.time() < deadline and query.isActive:
            if time.time() >= measure_from + seconds and measured() >= plan["min_batches"]:
                break
            time.sleep(0.1)
        measure_to = time.time()
    exc = _stop(query)
    res = _open_result(
        spark, program, cfg, seed, len(srcs), sink, ckpt, query, exc, (measure_from, measure_to)
    )
    if first is not None:
        res["cold_s"] = first - t0
    return res


def _open_result(
    spark, program, cfg, seed, n_src, sink, ckpt, query, exc, window
) -> dict:
    rate = cfg["offered_rows_per_s"]
    progress = [json.loads(p.json) for p in query.recentProgress]
    res = {"progress": progress, "run_id": str(query.runId)}
    if exc is not None:
        res["error"] = f"{program} open loop: {_first_line(exc)}"
        return res
    measure_from, measure_to = window
    if measure_from == float("inf"):
        res["error"] = f"{program} open loop: no data returned before the timeout"
        return res
    created = [_creation_ms(ckpt, i) for i in range(n_src)]
    lat, batch_s, batch_traced, backlog, measured, rows = [], [], [], [], [], 0
    first_start = last_return = None
    for p in progress:
        ret = sink.returned.get(p["batchId"])
        start = _epoch(p["timestamp"])
        if ret is None or not measure_from <= start < measure_to or p["numInputRows"] == 0:
            continue
        batch_s.append(ret - start)
        batch_traced.append(p["batchId"] in sink.traced)
        measured.append(p)
        rows += p["numInputRows"]
        first_start = start if first_start is None else min(first_start, start)
        last_return = ret if last_return is None else max(last_return, ret)
        ret_ms = ret * 1000.0
        for i, src in enumerate(p["sources"]):
            s0, s1 = _offset(src["startOffset"]), _offset(src["endOffset"])
            values = np.arange(s0 * rate, s1 * rate, dtype=np.float64)
            lat.append(ret_ms - (created[i] + values * 1000.0 / rate))
            if i == 0:
                backlog.append((ret, rate * (ret_ms - created[i]) / 1000.0 - s1 * rate))
    if not batch_s:
        res["error"] = f"{program} open loop: no batch in the measured window"
        return res
    res.update(
        latency_ms=np.concatenate(lat),
        batch_s=batch_s,
        batch_traced=batch_traced,
        backlog=backlog,
        measured=measured,
        rows=rows,
        span_s=last_return - first_start,
    )
    # Correctness: batches 0..last with both a progress record and a sink
    # return, compared with the batch path over the rows they read.
    done = {p["batchId"]: p for p in progress if p["batchId"] in sink.returned}
    last = -1
    while last + 1 in done:
        last += 1
    if last < 0:
        res["error"] = f"{program} open loop: no committed batch"
        return res
    ends = [_offset(s["endOffset"]) * rate for s in done[last]["sources"]]
    srcs = [rate_like(spark, n, c, 1000 // rate) for n, c in zip(ends, created)]
    expected = bounded_answer(spark, program, cfg, seed, srcs, closed=False)
    error = compare(program, "open loop", sink, last, expected)
    if error:
        res["error"] = error
    return res
