"""Streaming stateful operators under the RocksDB state store
(session.enable_rocksdb_state): parity must hold provider-for-provider.

Heap state (Spark's default HDFSBackedStateStoreProvider) is the
Flink-1.1 weakness the reference inherits (SURVEY.md §4.2) — every key's
state lives in executor memory. RocksDB spills to local disk, which is
what unbounded-key streaming state (exact dedup over all fingerprints
ever seen, per-user sessionization) needs at 100×. These tests pin that
the engine's stateful operators — dropDuplicates state, session-window
merge state, and applyInPandasWithState user state — produce the SAME
answers under RocksDB as the batch operators, so flipping the provider
in production is a pure capacity change, not a semantics change.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flink_streaming_2_10_spark.session import (
    ROCKSDB_STATE_PROVIDER,
    enable_rocksdb_state,
)
from flink_streaming_2_10_spark.streaming.runners import (
    sessionize_stream,
    streaming_exact_dedup,
)
from tests.stream_util import collect_stream
from tests.test_streaming import _stream_lines, _write_text_files

_PROVIDER_KEY = "spark.sql.streaming.stateStore.providerClass"
#: Every key enable_rocksdb_state sets.
_ROCKSDB_KEYS = (
    _PROVIDER_KEY,
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
)


@pytest.fixture()
def rocksdb_spark(spark):
    """The shared session with RocksDB state enabled, restored after."""
    before = {key: spark.conf.get(key, None) for key in _ROCKSDB_KEYS}
    enable_rocksdb_state(spark)
    assert spark.conf.get(_PROVIDER_KEY) == ROCKSDB_STATE_PROVIDER
    yield spark
    for key, value in before.items():
        if value is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, value)


def test_exact_dedup_parity_under_rocksdb(rocksdb_spark, tmp_path):
    """Cross-batch duplicate suppression with dropDuplicates state held
    in RocksDB: one survivor per fingerprint, including dups that arrive
    in a LATER micro-batch than their original."""
    spark = rocksdb_spark
    src = str(tmp_path / "docs")
    _write_text_files(
        src,
        [
            "1,alpha beta\n2,gamma delta",
            "3,alpha  BETA\n4,epsilon",  # 3 normalizes to 1's fingerprint
            "5,gamma delta\n6,zeta",     # 5 duplicates 2 across batches
        ],
    )
    parts = F.split(F.col("text"), ",", 2)
    stream = _stream_lines(spark, src).select(
        F.element_at(parts, 1).cast("long").alias("doc_id"),
        F.element_at(parts, 2).alias("body"),
    )
    batches = collect_stream(
        streaming_exact_dedup(stream, id_col="doc_id", text_col="body"),
        str(tmp_path / "ck"),
        output_mode="append",
    )
    survivors = sorted(r["doc_id"] for b in batches for r in b)
    assert survivors == [1, 2, 4, 6]


def test_sessionize_stream_parity_under_rocksdb(rocksdb_spark, tmp_path):
    """applyInPandasWithState per-key (last_t, idx) state in RocksDB:
    streamed session labels must equal the batch operator's, with
    sessions continuing and starting across micro-batch boundaries."""
    import random

    from flink_streaming_2_10_spark.operators.temporal import sessionize

    spark = rocksdb_spark
    rng = random.Random(31)
    gap = 25
    events, t = [], {}
    for eid in range(90):
        k = f"u{rng.randrange(3)}"
        t[k] = t.get(k, 0) + rng.randrange(1, 60)
        events.append((eid, k, t[k]))
    events.sort(key=lambda e: e[2])
    df = spark.createDataFrame(events, ["event_id", "k", "t"])
    expected = {
        r["event_id"]: (r["k"], r["session_idx"])
        for r in sessionize(df, on=["k"], time_col="t", gap=gap).collect()
    }

    src = str(tmp_path / "ev")
    half = len(events) // 2
    _write_text_files(
        src,
        [
            "\n".join(f"{e},{k},{tt}" for e, k, tt in chunk)
            for chunk in (events[:half], events[half:])
        ],
    )
    parts = F.split(F.col("text"), ",")
    stream = _stream_lines(spark, src).select(
        F.element_at(parts, 1).cast("long").alias("event_id"),
        F.element_at(parts, 2).alias("k"),
        F.element_at(parts, 3).cast("long").alias("t"),
    )
    batches = collect_stream(
        sessionize_stream(stream, on=["k"], time_col="t", gap=gap),
        str(tmp_path / "ck"),
        output_mode="append",
    )
    got = {
        r["event_id"]: (r["k"], r["session_idx"])
        for batch in batches for r in batch
    }
    assert got == expected


def test_session_window_agg_parity_under_rocksdb(rocksdb_spark, tmp_path):
    """Watermarked session-window aggregation with merge state in
    RocksDB: a session assembled across two micro-batches must close
    with the batch operator's bounds and count."""
    from flink_streaming_2_10_spark.operators.windows import session_window_agg

    spark = rocksdb_spark
    file1 = [
        ("2024-01-01 00:00:00", "a"),
        ("2024-01-01 00:02:00", "a"),
        ("2024-01-01 00:03:00", "b"),
    ]
    file2 = [
        ("2024-01-01 00:04:00", "a"),
        ("2024-01-01 00:20:00", "a"),
        ("2024-01-01 01:00:00", "zz"),  # flush: closes everything else
    ]
    src = str(tmp_path / "in")
    _write_text_files(
        src, ["\n".join(f"{ts},{u}" for ts, u in f) for f in (file1, file2)]
    )

    def parse(df):
        parts = F.split(F.col("text"), ",")
        return df.select(
            F.element_at(parts, 1).cast("timestamp").alias("ts"),
            F.element_at(parts, 2).alias("user"),
        )

    all_rows = [(f"{ts},{u}",) for ts, u in file1 + file2]
    batch_df = parse(spark.createDataFrame(all_rows, ["text"]))
    kw = dict(keys=["user"], gap="5 minutes")
    aggs = lambda: [F.count(F.lit(1)).alias("cnt")]  # noqa: E731
    expected = {
        (r["session_start"], r["session_end"], r["user"], r["cnt"])
        for r in session_window_agg(batch_df, aggs=aggs(), **kw).collect()
        if r["user"] != "zz"
    }
    stream = session_window_agg(
        parse(_stream_lines(spark, src)), aggs=aggs(), **kw
    )
    batches = collect_stream(stream, str(tmp_path / "ck"), output_mode="append")
    got = {
        (r["session_start"], r["session_end"], r["user"], r["cnt"])
        for batch in batches for r in batch
    }
    assert got == expected


def test_incremental_ingestion_dedup_under_rocksdb(rocksdb_spark, tmp_path):
    """The production composition: availableNow incremental passes with
    exact-dedup state in RocksDB — fingerprints persist across RUNS via
    the checkpoint and across KEYS via disk-backed state, so a later
    pass suppresses an earlier pass's documents without heap growth."""
    from pyspark.sql import functions as F

    from flink_streaming_2_10_spark.streaming.runners import (
        run_incremental,
        streaming_exact_dedup,
    )

    spark = rocksdb_spark
    src = str(tmp_path / "docs")
    ck = str(tmp_path / "ck")
    _write_text_files(src, ["1,alpha beta\n2,gamma delta"])
    parts = F.split(F.col("text"), ",", 2)

    def stream():
        raw = spark.readStream.text(src).withColumnRenamed("value", "text")
        return streaming_exact_dedup(
            raw.select(
                F.element_at(parts, 1).cast("long").alias("doc_id"),
                F.element_at(parts, 2).alias("body"),
            ),
            id_col="doc_id",
            text_col="body",
        )

    out: list[int] = []

    def on_batch(bdf, _bid):
        out.extend(r["doc_id"] for r in bdf.collect())

    run_incremental(stream(), ck, on_batch)
    assert sorted(out) == [1, 2]
    out.clear()
    _write_text_files(
        src, ["1,alpha beta\n2,gamma delta", "3,alpha BETA\n4,epsilon"]
    )
    run_incremental(stream(), ck, on_batch)
    assert sorted(out) == [4]  # 3 suppressed by run-1 RocksDB state
