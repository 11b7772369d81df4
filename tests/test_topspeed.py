"""A6 delta-trigger/evictor/argmax properties (FIXTURES.md F-4 contract;
semantics from TopSpeedWindowing.scala:104-115)."""

from __future__ import annotations

import json
import math
import random

import numpy as np
import pandas as pd

from flink_streaming_2_10_spark.operators.topspeed import (
    _replay,
    _replay_micro_batch,
    replay_columns,
    top_speed_windowing,
)
from flink_streaming_2_10_spark.sources.generators import car_event_simulator


def test_replay_state_machine_basic():
    # (speed, distance, time); trigger 50 m, horizon 10 s
    rows = [
        (10, 0.0, 0),      # seeds last-trigger state, no fire
        (20, 30.0, 1000),  # delta 30 ≤ 50 → no fire
        (30, 60.0, 2000),  # delta 60 > 50 → FIRE, argmax speed = 30
        (5, 100.0, 3000),  # delta 40 → no fire
        (7, 120.0, 20000), # delta 60 > 50 → FIRE; evictor drops all < 10s
    ]
    out, buf, last = _replay(rows, [], None, 50.0, 10_000)
    assert out[0] == (30, 60.0, 2000)
    # second fire: only the t=20000 event survives the 10 s evictor
    assert out[1] == (7, 120.0, 20000)
    assert last == 120.0
    assert buf == [(7, 120.0, 20000)]


def test_replay_first_seen_tie_break():
    rows = [
        (10, 0.0, 0),
        (42, 30.0, 1000),
        (42, 60.0, 2000),  # fire; two speed-42 records → first-seen wins
    ]
    out, _, _ = _replay(rows, [], None, 50.0, 10_000)
    assert out == [(42, 30.0, 1000)]


def test_replay_fire_on_emptied_window_emits_nothing():
    # The evictor empties the buffer, the firing row included: a null
    # (NaN) time compares false against every cutoff, and a zero horizon
    # keeps only rows newer than the firing row itself.
    out, buf, last = _replay(
        [(1, 0.0, 0), (2, 100.0, math.nan)], [], None, 50.0, 10_000
    )
    assert (out, buf, last) == ([], [], 100.0)
    out, buf, last = _replay([(1, 0.0, 0), (2, 100.0, 1000)], [], None, 50.0, 0)
    assert (out, buf, last) == ([], [], 100.0)


def test_output_rows_are_subset_of_input(spark):
    cars = car_event_simulator(spark, num_cars=2, ticks=200, seed=7)
    out = top_speed_windowing(cars, trigger_meters=50.0, eviction_sec=10)
    inp = {tuple(r) for r in cars.collect()}
    got = [tuple(r) for r in out.collect()]
    assert got, "simulator at 50 km/h avg must trigger fires"
    assert all(r in inp for r in got)


def test_spark_replay_matches_independent_simulation(spark):
    # Exact check of the applyInPandas wiring (grouping, per-key time sort,
    # schema) against an in-test re-simulation of the Flink state machine.
    cars = car_event_simulator(spark, num_cars=2, ticks=300, seed=11)
    out = top_speed_windowing(cars, trigger_meters=50.0, eviction_sec=10)
    got = sorted((r.carId, r.speed, r.distance, r.time) for r in out.collect())

    expected = []
    rows = sorted(cars.collect(), key=lambda r: (r.carId, r.time))
    from itertools import groupby

    for car, group in groupby(rows, key=lambda r: r.carId):
        buf, last = [], None
        for r in group:
            buf.append(r)
            if last is None:
                last = r.distance
                continue
            if r.distance - last > 50.0:
                last = r.distance
                buf = [e for e in buf if e.time > r.time - 10_000]
                best = max(buf, key=lambda e: e.speed)
                expected.append((car, best.speed, best.distance, best.time))
    assert got == sorted(expected)


def _nan_last_key(rec):
    speed, distance, time = rec
    return (time, distance, math.isnan(speed), 0.0 if math.isnan(speed) else speed)


def _plain(rows):
    """Rows with NaN as None, so equal replays compare equal."""
    return [tuple(None if v != v else v for v in r) for r in rows]


def test_replay_columns_equals_sorted_replay_randomized():
    # Pure Python (no JVM). Ties on all three sort keys, NaN speeds and
    # non-monotone distances; the helper sorts numpy columns in any order
    # and must match _replay over Python-sorted tuples, also when the rows
    # come in two calls that carry the buffer and the trigger distance.
    rng = random.Random(20261019)
    for trial in range(200):
        n = rng.randint(1, 60)
        rows = [
            (
                float("nan") if rng.random() < 0.1 else float(rng.randint(0, 4)),
                float(rng.choice([0.0, 25.0, 50.0, 60.0, 75.5, 130.0, 200.0])),
                rng.randint(0, 8) * 1000,
            )
            for _ in range(n)
        ]
        trigger = rng.choice([10.0, 50.0])
        eviction_ms = rng.choice([1000, 3000, 10_000])
        ordered = sorted(rows, key=_nan_last_key)
        want, want_buf, want_last = _replay(
            ordered, [], None, trigger, eviction_ms
        )

        def cols(part):
            part = list(part)
            rng.shuffle(part)
            return [np.array(c) for c in zip(*part)] or [np.array([])] * 3

        got, buf, last = replay_columns(*cols(rows), [], None, trigger, eviction_ms)
        assert (_plain(got), _plain(buf), last) == (
            _plain(want), _plain(want_buf), want_last
        ), trial

        cut = rng.randint(0, n)
        first, buf, last = replay_columns(
            *cols(ordered[:cut]), [], None, trigger, eviction_ms
        )
        second, buf, last = replay_columns(
            *cols(ordered[cut:]), buf, last, trigger, eviction_ms
        )
        assert (_plain(first + second), _plain(buf), last) == (
            _plain(want), _plain(want_buf), want_last
        ), trial


def test_micro_batch_state_is_flat_and_carries_exactly():
    # Pure Python (no JVM). The streaming state is two scalars: the last
    # trigger distance and the buffer as a JSON string. Carried across
    # micro-batches (the second split into two Arrow chunks), it must give
    # what one replay gives, NaN speeds and arbitrary doubles included.
    rng = random.Random(20261020)
    for trial in range(50):
        n = rng.randint(3, 60)
        rows = [
            (
                float("nan") if rng.random() < 0.1 else float(rng.randint(0, 200)),
                rng.random() * 400,
                rng.randint(0, 30) * 1000 + 2**40,
            )
            for _ in range(n)
        ]
        rows.sort(key=_nan_last_key)
        want, want_buf, _ = replay_columns(
            *[np.array(c) for c in zip(*rows)], [], None, 50.0, 10_000
        )

        def frame(part):
            return pd.DataFrame(part, columns=["speed", "distance", "time"])

        cut = rng.randint(1, n - 2)
        split = rng.randint(cut + 1, n - 1)
        out1, stored = _replay_micro_batch(
            7, iter([frame(rows[:cut])]), None, 50.0, 10_000
        )
        assert isinstance(stored[0], float) and isinstance(stored[1], str)
        out2, stored = _replay_micro_batch(
            7, iter([frame(rows[cut:split]), frame(rows[split:])]), stored, 50.0, 10_000
        )
        got = [
            tuple(r)[1:]
            for out in (out1, out2)
            if out is not None
            for r in out.itertuples(index=False)
        ]
        assert _plain(got) == _plain(want), trial
        assert _plain(zip(*json.loads(stored[1]))) == _plain(want_buf), trial
