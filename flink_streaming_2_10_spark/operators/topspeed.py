"""Top-speed windowing — global window + DeltaTrigger + TimeEvictor + maxBy
(SURVEY.md §2.4 A6; the one genuinely custom stateful operator).

Reference: ``TopSpeedWindowing.scala:104-115`` — per car:
* events accumulate in a never-closing global window;
* ``DeltaTrigger`` FIREs when ``new.distance − lastTriggered.distance >
  triggerMeters`` (50 m default; first element only seeds the state —
  Flink 1.1.4 DeltaTrigger.onElement semantics);
* on fire, ``TimeEvictor`` first drops buffered events older than
  ``newest.time − evictionSec`` (10 s default), then ``maxBy("speed")``
  emits the buffered record with max speed (first-seen on ties — with
  ascending-time replay that is the earliest such record);
* the window is FIREd, not PURGEd: surviving buffer is retained.

Spark has no trigger/evictor surface, so this is implemented as a per-key
replay. :func:`replay_columns` sorts one car's ``speed``, ``distance`` and
``time`` columns once by (time, distance, speed) and feeds them, as native
Python values, to the ``_replay`` state machine. The batch path runs it
per car through ``applyInArrow`` (an Arrow table in, an Arrow table out).
The streaming path, ``applyInPandasWithState``, concatenates a key's
chunks within a micro-batch, runs the same helper and carries (buffer,
last-trigger) state across micro-batches.

Scale notes: one hash exchange on the key; the Python stage is
Arrow-batched, one Arrow table (batch) or one set of pandas chunks
(streaming) per key group. Per-key state is bounded by the eviction
horizon (only events within 10 s of the newest can ever be emitted, and
the buffer is trimmed on every fire), so memory per key is
O(events / eviction window), independent of total history length.
"""

from __future__ import annotations

import json
from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa

from pyspark.sql import DataFrame

OUTPUT_COLUMNS = ["carId", "speed", "distance", "time"]
_SCHEMA = "carId int, speed int, distance double, time long"
# _SCHEMA as Arrow types: the batch path's output table.
_ARROW_SCHEMA = pa.schema(
    zip(OUTPUT_COLUMNS, [pa.int32(), pa.int32(), pa.float64(), pa.int64()])
)
# Flat on purpose: a state row holding arrays makes Spark recompile its
# state codec (two Janino classes) on every micro-batch.
_STATE_SCHEMA = "last_distance double, buffer string"


def _replay(
    rows: list[tuple[int, float, int]],
    buffer: list[tuple[int, float, int]],
    last_trigger_distance: float | None,
    trigger_meters: float,
    eviction_ms: int,
) -> tuple[list[tuple[int, float, int]], list[tuple[int, float, int]], float | None]:
    """Feed ``rows`` (time-ascending ``(speed, distance, time)`` tuples)
    through the trigger/evictor/argmax state machine.

    Returns (emitted, surviving_buffer, new_last_trigger_distance).
    """
    out: list[tuple[int, float, int]] = []
    for rec in rows:
        _, distance, time = rec
        buffer.append(rec)
        if last_trigger_distance is None:
            # First element seeds DeltaTrigger state without firing.
            last_trigger_distance = distance
            continue
        if distance - last_trigger_distance > trigger_meters:
            last_trigger_distance = distance
            # TimeEvictor: drop events older than (newest − horizon) …
            cutoff = time - eviction_ms
            buffer[:] = [r for r in buffer if r[2] > cutoff]
            # … then maxBy(speed), first-seen (= earliest in time order).
            # A null time or a zero horizon can evict every row, the
            # firing one too; like Flink's evicting window, an empty
            # window emits nothing.
            if buffer:
                out.append(max(buffer, key=lambda r: r[0]))
    return out, buffer, last_trigger_distance


def replay_columns(
    speed: np.ndarray,
    distance: np.ndarray,
    time: np.ndarray,
    buffer: list[tuple[int, float, int]],
    last_trigger_distance: float | None,
    trigger_meters: float,
    eviction_ms: int,
) -> tuple[list[tuple[int, float, int]], list[tuple[int, float, int]], float | None]:
    """Replay one car's rows, given as numpy columns in any order.

    The rows are sorted once by (time, distance, speed), a total order on
    the replay-relevant fields, so the fold is deterministic even when
    timestamps tie (rows tying on all three are identical tuples and
    commute; NaN, a null from Arrow, sorts last). The DuckDB oracle
    numbers rows in the same order. ``buffer`` and
    ``last_trigger_distance`` carry the state of rows replayed earlier,
    which must all come before these in that order.

    Returns (emitted, surviving_buffer, new_last_trigger_distance), as
    ``_replay`` does, holding native Python values.
    """
    order = np.lexsort((speed, distance, time))
    rows = list(
        zip(speed[order].tolist(), distance[order].tolist(), time[order].tolist())
    )
    return _replay(rows, buffer, last_trigger_distance, trigger_meters, eviction_ms)


def _columns(rows: list[tuple[int, float, int]]) -> list[list]:
    """``(speed, distance, time)`` rows as three column lists."""
    return [list(c) for c in zip(*rows)] or [[], [], []]


def top_speed_windowing(
    df: DataFrame,
    trigger_meters: float = 50.0,
    eviction_sec: int = 10,
) -> DataFrame:
    """Batch path: full-history replay per car.

    Expects columns ``carId int, speed int, distance double, time long``
    (epoch millis, FIXTURES.md F-4). Output rows are a subset of input rows.
    """
    eviction_ms = eviction_sec * 1000

    def replay_group(table: pa.Table) -> pa.Table:
        emitted, _, _ = replay_columns(
            table.column("speed").to_numpy(),
            table.column("distance").to_numpy(),
            table.column("time").to_numpy(),
            [],
            None,
            trigger_meters,
            eviction_ms,
        )
        car = table.column("carId")[0].as_py()
        columns = [[car] * len(emitted), *_columns(emitted)]
        # from_pandas: a NaN (null speed or time read as float) stays null.
        return pa.Table.from_arrays(
            [
                pa.array(values, type=field.type, from_pandas=True)
                for values, field in zip(columns, _ARROW_SCHEMA)
            ],
            schema=_ARROW_SCHEMA,
        )

    return (
        df.select(*OUTPUT_COLUMNS)
        .groupBy("carId")
        .applyInArrow(replay_group, schema=_SCHEMA)
    )


def _replay_micro_batch(
    car,
    chunks: Iterator[pd.DataFrame],
    stored: tuple | None,
    trigger_meters: float,
    eviction_ms: int,
) -> tuple[pd.DataFrame | None, tuple]:
    """One key's micro-batch on the streaming path.

    Concatenates the key's chunks before sorting: Arrow splits a large
    group at ``spark.sql.execution.arrow.maxRecordsPerBatch``, and time
    order must hold across the split. Replays them after ``stored`` (the
    state tuple, ``None`` for a new key) and returns (emitted rows as a
    frame, or ``None`` when nothing fired; the new state tuple).

    The state tuple is ``(last_distance, buffer)`` with the buffer as a
    JSON string of its speed, distance and time columns: JSON round-trips
    Python ints, floats and NaN exactly.
    """
    if stored is None:
        last_distance, buffer = None, []
    else:
        last_distance, encoded = stored
        buffer = list(zip(*json.loads(encoded)))
    frames = list(chunks)
    pdf = pd.concat(frames) if len(frames) > 1 else frames[0]
    emitted, buffer, last_distance = replay_columns(
        pdf["speed"].to_numpy(),
        pdf["distance"].to_numpy(),
        pdf["time"].to_numpy(),
        buffer,
        last_distance,
        trigger_meters,
        eviction_ms,
    )
    out = None
    if emitted:
        columns = [[car] * len(emitted), *_columns(emitted)]
        out = pd.DataFrame(dict(zip(OUTPUT_COLUMNS, columns)))
    return out, (last_distance, json.dumps(_columns(buffer), separators=(",", ":")))


def top_speed_windowing_stream(
    df: DataFrame,
    trigger_meters: float = 50.0,
    eviction_sec: int = 10,
):
    """Streaming path: same state machine carried across micro-batches via
    ``applyInPandasWithState``. Requires per-key time order across
    micro-batches: no row may sort before one an earlier micro-batch
    replayed. Within a micro-batch rows may arrive in any order. The
    reference guarantees ascending timestamps
    (TopSpeedWindowing.scala:105)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    eviction_ms = eviction_sec * 1000

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        out, stored = _replay_micro_batch(
            key[0],
            pdfs,
            state.get if state.exists else None,
            trigger_meters,
            eviction_ms,
        )
        state.update(stored)
        if out is not None:
            yield out

    return (
        df.select(*OUTPUT_COLUMNS)
        .groupBy("carId")
        .applyInPandasWithState(
            update,
            outputStructType=_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
