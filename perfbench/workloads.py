"""Workload definitions: which queries, which stream programs, what sizes.

Every figure here is also recorded in each result's ``provenance``.
"""

from __future__ import annotations

import os

HERE = os.path.dirname(os.path.abspath(__file__))

#: The tables the queries read: copies of the deterministic sf0.01 and
#: sf0.1 test tables (only ``documents`` and ``events``). The run's seed
#: varies the query order, not the data.
TABLES = ("documents", "events")

#: Batch workloads: registry query names, run in a seeded order each pass.
#: ``wordcount_rolling_sum`` and ``topspeed_delta_trigger`` (the bounded
#: faces of two streamed programs) spend their time in Spark's data plane:
#: scan, shuffle, Arrow/Python; each starts at most one job while
#: building. ``dedup_components`` starts 31 jobs while it builds and
#: persists its intermediates through ``pipeline.caching``, so its time is
#: per-job fixed cost and Python in this process.
BATCH_WORKLOADS: dict[str, list[str]] = {
    "batch-registry": [
        "wordcount_rolling_sum",
        "topspeed_delta_trigger",
        "dedup_components",
    ],
}
#: The batch query the self-test runs from a foreign working directory.
SELFTEST_QUERY = "async_ordered_identity"

#: The scale each query reads. The data-plane queries read sf0.1, so that
#: scan, shuffle and Arrow work is a fair share of a pass; the 31-job
#: build of ``dedup_components`` is per-job cost, which sf0.01 shows.
QUERY_SCALE = {
    "wordcount_rolling_sum": "sf0.1",
    "topspeed_delta_trigger": "sf0.1",
    "dedup_components": "sf0.01",
    SELFTEST_QUERY: "sf0.01",
}


def data_dir(query: str) -> str:
    return os.path.join(HERE, "data", QUERY_SCALE[query])


#: Untimed noop passes after the check pass, before the timed passes.
WARMUP_PASSES = 1
MIN_WARM_PASSES = 4
MAX_WARM_PASSES = 12

#: Stream workloads: per program, the generator settings and the open-loop
#: offered rate (rows per second per source; each divides 1000, so a rate
#: source's event times are whole milliseconds).
STREAM_WORKLOADS: dict[str, dict] = {
    "stream-rate": {
        "wordcount": {
            "offered_rows_per_s": 500,
            "rows_per_batch": 2000,
            "vocab": 5000,
            "words_per_line": 8,
        },
        "window_join": {
            "offered_rows_per_s": 250,
            "rows_per_batch": 1000,
            "names": 1000,
        },
        "topspeed": {
            "offered_rows_per_s": 500,
            "rows_per_batch": 2000,
            "cars": 16,
        },
    },
}
#: Open loop: the programs run one after another, each for an equal share
#: of the run's seconds; a program's batches that start before ``warmup_s``
#: after its first non-empty batch returned are not measured, and it gets
#: at least ``min_batches`` measured batches.
OPEN_LOOP = {"warmup_s": 1.0, "min_batches": 3, "timeout_s": 60.0}
#: Closed loop (traced runs only): warm-up batches, then rounds.
CLOSED_LOOP = {"warmup": 2, "rounds": 2, "round_batches": 1, "timeout_s": 150.0}
#: The same on one core, where a batch takes about twice as long: one
#: warm-up batch and one round keep the traced run within its time limit.
SINGLE_THREAD_LOOP = {**CLOSED_LOOP, "warmup": 1, "rounds": 1}

END_TO_END = {
    "setup_s": "s",
    "first_pass_s": "s",
    "pass_s": "s",
    "latency_p50_ms": "ms",
    "latency_p99_ms": "ms",
}
