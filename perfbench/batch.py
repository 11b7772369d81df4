"""The batch workload: registry queries built and run in seeded order.

Pass structure of one run:

1. cold pass (timed: ``first_pass_s``) -- build plus noop write of every
   query, the first time this process runs it;
2. correctness pass (not timed, and the first warm-up pass) -- every
   query's collected result against its stored oracle digest;
3. one more untimed warm-up pass;
4. warm passes (timed: ``pass_s`` is their median) for ``seconds``, at
   least ``MIN_WARM_PASSES``.

A query that raises or mismatches is a failed operation, reported by
name; its time is never counted.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import time
import traceback
from contextlib import nullcontext

from digest import spark_digest
from workloads import MIN_WARM_PASSES, MAX_WARM_PASSES, data_dir

HERE = os.path.dirname(os.path.abspath(__file__))


def _load_digests() -> dict:
    with open(os.path.join(HERE, "oracle_digests.json")) as f:
        return json.load(f)


class BatchRun:
    def __init__(self, spark, names: list[str], seed: int, tracer=None):
        import __spark_entry__ as entrymod
        from flink_streaming_2_10_spark.pipeline import caching

        self.spark = spark
        self.sc = spark.sparkContext
        self.queries = entrymod.queries()
        self.caching = caching
        self.names = list(names)
        self.rng = random.Random(seed)
        self.tracer = tracer
        self.attempted = 0
        self.failures: list[str] = []
        self.passes: list[dict] = []

    def _span(self, name: str, key: str | None = None):
        return self.tracer.span(name, key) if self.tracer else nullcontext()

    def _fail(self, name: str, what: str) -> None:
        self.failures.append(f"{name}: {what}")

    def run_pass(self, label: str) -> dict | None:
        """One timed pass in a fresh seeded order. Returns the pass record,
        or None when a query failed (the pass is then not timed)."""
        order = self.names[:]
        self.rng.shuffle(order)
        rec = {"label": label, "order": order, "queries": {}}
        ok = True
        with self._span("pass", label):
            t_pass = time.perf_counter()
            for name in order:
                self.attempted += 1
                group = f"pb:{label}:{name}"
                try:
                    self.sc.setJobGroup(f"{group}:build", name)
                    t0 = time.perf_counter()
                    with self._span("entry.build", name):
                        df = self.queries[name](self.spark, data_dir(name))
                    t1 = time.perf_counter()
                    self.sc.setJobGroup(f"{group}:exec", name)
                    with self._span("entry.exec", name):
                        df.write.format("noop").mode("overwrite").save()
                    t2 = time.perf_counter()
                except Exception as exc:  # noqa: BLE001 - reported by name
                    self._fail(name, f"{label}: {type(exc).__name__}: {exc}".splitlines()[0])
                    traceback.print_exc()
                    ok = False
                    continue
                finally:
                    self.sc.setJobGroup(f"{group}:release", name)
                    self.caching.release_cached()
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                rec["queries"][name] = {"build_s": t1 - t0, "exec_s": t2 - t1}
            rec["wall_s"] = time.perf_counter() - t_pass
        self.passes.append(rec)
        return rec if ok else None

    def check(self) -> None:
        """Collect every query once and compare with its oracle digest."""
        digests = _load_digests()
        for name in self.names:
            self.attempted += 1
            self.sc.setJobGroup(f"pb:check:{name}", name)
            try:
                got = spark_digest(self.queries[name](self.spark, data_dir(name)))
            except Exception as exc:  # noqa: BLE001 - reported by name
                self._fail(name, f"check: {type(exc).__name__}: {exc}".splitlines()[0])
                traceback.print_exc()
                continue
            finally:
                self.caching.release_cached()
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            want = digests.get(name)
            if got != want:
                self._fail(name, f"result differs from the oracle digest: {got} vs {want}")

    def warm(self, until: float, label: str) -> list[dict]:
        """Warm passes until the clock reaches ``until`` (bounded below and
        above by the pass-count limits)."""
        out: list[dict] = []
        i = 0
        while i < MAX_WARM_PASSES and (i < MIN_WARM_PASSES or time.time() < until):
            rec = self.run_pass(f"{label}{i}")
            if rec is not None:
                out.append(rec)
            i += 1
        return out


def query_latencies_ms(passes: list[dict]) -> list[float]:
    """The latency (build + noop write) of every query run in ``passes``."""
    return [
        (q["build_s"] + q["exec_s"]) * 1e3 for p in passes for q in p["queries"].values()
    ]


def pass_median(passes: list[dict]) -> float:
    return statistics.median(p["wall_s"] for p in passes) if passes else float("nan")
