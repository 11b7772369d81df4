"""Streaming parity tests (SURVEY.md §5.2 items 4-5): every operator runs
both as a batch DataFrame and as a Structured Streaming query over a file
source, and the final streaming state must equal the batch answer. The
rolling word count additionally checks the per-batch refinement sequence —
the streaming analog of TwitterExampleData.STREAMING_COUNTS_AS_TUPLES
(TwitterExampleData.java:28)."""

from __future__ import annotations

import json
import os
import time

import pytest
from pyspark.sql import functions as F

from flink_streaming_2_10_spark.operators.topspeed import (
    top_speed_windowing,
    top_speed_windowing_stream,
)
from flink_streaming_2_10_spark.operators.windows import windowed_word_count
from flink_streaming_2_10_spark.operators.wordcount import word_count
from flink_streaming_2_10_spark.sources.generators import car_event_simulator
from flink_streaming_2_10_spark.streaming.runners import (
    interval_join_event_stream,
    run_update_stream,
    streaming_word_count,
    twitter_stream,
    window_join_stream,
)
from tests.stream_util import collect_stream


def _write_text_files(dirpath: str, contents: list[str], ext: str = "txt") -> None:
    """One file per element, mtime-ordered so maxFilesPerTrigger=1 replays
    them as separate micro-batches in order."""
    os.makedirs(dirpath, exist_ok=True)
    for i, content in enumerate(contents):
        path = os.path.join(dirpath, f"part-{i:04d}.{ext}")
        with open(path, "w") as fh:
            fh.write(content)
        mtime = time.time() - (len(contents) - i) * 10
        os.utime(path, (mtime, mtime))


def _stream_lines(spark, dirpath: str, per_file: bool = True):
    reader = spark.readStream
    if per_file:
        reader = reader.option("maxFilesPerTrigger", 1)
    return reader.text(dirpath).withColumnRenamed("value", "text")


def test_session_sets_one_partition_per_core_and_filesystem_checkpoints(spark):
    # Each stateful operator commits one state store per shuffle
    # partition per micro-batch, so get_spark sizes them to the cores
    # (the fixture's cpus=8); the FileSystem-API manager does not shell
    # out for file status on local disk.
    assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
    assert spark.conf.get("spark.sql.streaming.checkpointFileManagerClass").endswith(
        "FileSystemBasedCheckpointFileManager"
    )


def test_rolling_wordcount_refinement_sequence(spark, tmp_path):
    """Three micro-batches of 'apache flink' lines must refine cumulative
    counts 1→2→3 per word — the STREAMING_COUNTS_AS_TUPLES contract at
    micro-batch granularity."""
    src = str(tmp_path / "in")
    _write_text_files(src, ["apache flink", "apache flink", "apache flink"])
    lines = _stream_lines(spark, src)
    batches = collect_stream(
        streaming_word_count(lines), str(tmp_path / "ck"), output_mode="update"
    )
    seq = [
        sorted((r["word"], r["cnt"]) for r in batch) for batch in batches
    ]
    assert seq == [
        [("apache", 1), ("flink", 1)],
        [("apache", 2), ("flink", 2)],
        [("apache", 3), ("flink", 3)],
    ]


def test_streaming_wordcount_final_equals_batch(spark, tmp_path):
    texts = ["the quick brown fox", "the lazy dog", "the fox again"]
    src = str(tmp_path / "in")
    _write_text_files(src, texts)
    batch_df = spark.createDataFrame([(t,) for t in texts], ["text"])
    expected = {(r["word"], r["cnt"]) for r in word_count(batch_df).collect()}

    lines = _stream_lines(spark, src)
    batches = collect_stream(
        streaming_word_count(lines), str(tmp_path / "ck"), output_mode="update"
    )
    final: dict[str, int] = {}
    for batch in batches:
        for r in batch:
            final[r["word"]] = r["cnt"]
    assert set(final.items()) == expected


def test_streaming_windowed_wordcount_event_time(spark, tmp_path):
    """Tumbling event-time window agg: streaming result (append mode after
    watermark passes) equals the batch window agg on the same rows."""
    rows = [
        ("2024-01-01 00:00:01", "a"),
        ("2024-01-01 00:00:02", "a"),
        ("2024-01-01 00:00:07", "a"),
        ("2024-01-01 00:00:08", "b"),
        ("2024-01-01 00:10:00", "flush"),  # advances the watermark
    ]
    csv = "\n".join(f"{ts},{w}" for ts, w in rows)
    src = str(tmp_path / "in")
    _write_text_files(src, [csv])

    def parse(df):
        parts = F.split(F.col("text"), ",")
        return df.select(
            F.element_at(parts, 1).cast("timestamp").alias("ts"),
            F.element_at(parts, 2).alias("word"),
            F.lit(1).alias("frequency"),
        )

    batch_df = parse(spark.createDataFrame([(line,) for line in csv.split("\n")], ["text"]))
    expected = {
        (r["window_start"], r["word"], r["cnt"])
        for r in windowed_word_count(batch_df, "5 seconds").collect()
    }

    stream = windowed_word_count(parse(_stream_lines(spark, src, per_file=False)), "5 seconds")
    batches = collect_stream(stream, str(tmp_path / "ck"), output_mode="append")
    got = {
        (r["window_start"], r["word"], r["cnt"]) for batch in batches for r in batch
    }
    # append mode only emits windows the watermark has closed; every emitted
    # window must match batch, and the closed subset must cover all but the
    # final flush window.
    assert got <= expected
    assert len(got) >= len(expected) - 1


def test_sessionize_stream_equals_batch(spark, tmp_path):
    """Event-level sessionization parity: the applyInPandasWithState
    labeler over time-ordered micro-batches must assign exactly the
    batch operator's session indices, including sessions that continue
    and sessions that start across a batch boundary."""
    import random

    from flink_streaming_2_10_spark.operators.temporal import sessionize
    from flink_streaming_2_10_spark.streaming.runners import sessionize_stream

    rng = random.Random(29)
    gap = 25
    events, t = [], {}
    for eid in range(120):
        k = f"u{rng.randrange(4)}"
        t[k] = t.get(k, 0) + rng.randrange(1, 60)  # ascending per key
        events.append((eid, k, t[k]))
    events.sort(key=lambda e: e[2])  # global time order for the replay
    df = spark.createDataFrame(events, ["event_id", "k", "t"])
    expected = {
        r["event_id"]: (r["k"], r["session_idx"])
        for r in sessionize(df, on=["k"], time_col="t", gap=gap).collect()
    }

    src = str(tmp_path / "ev")
    third = len(events) // 3
    _write_text_files(
        src,
        [
            "\n".join(f"{e},{k},{tt}" for e, k, tt in chunk)
            for chunk in (events[:third], events[third : 2 * third],
                          events[2 * third :])
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


def test_session_window_stream_equals_batch(spark, tmp_path):
    """A9 live face: session-window aggregation as a watermarked streaming
    query. One session's events arrive across TWO micro-batches (state
    merge), a later event starts a second session, and a far-future flush
    event advances the watermark so append mode emits every closed
    session. Streamed sessions must equal the batch operator's."""
    from flink_streaming_2_10_spark.operators.windows import session_window_agg

    file1 = [
        ("2024-01-01 00:00:00", "a"),
        ("2024-01-01 00:02:00", "a"),
        ("2024-01-01 00:03:00", "b"),
    ]
    file2 = [
        ("2024-01-01 00:04:00", "a"),   # merges into a's first session
        ("2024-01-01 00:20:00", "a"),   # > 5 min gap: second session
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
        if r["user"] != "zz"  # the flush session never closes
    }
    assert len(expected) == 3  # a x2 (merged first, second), b x1

    stream = session_window_agg(
        parse(_stream_lines(spark, src)), aggs=aggs(), **kw
    )
    batches = collect_stream(stream, str(tmp_path / "ck"), output_mode="append")
    got = {
        (r["session_start"], r["session_end"], r["user"], r["cnt"])
        for batch in batches for r in batch
    }
    assert got == expected


def test_streaming_window_join_equals_batch(spark, tmp_path):
    grades_rows = [
        ("2024-01-01 00:00:00", "alice", 3),
        ("2024-01-01 00:00:01", "bob", 4),
        ("2024-01-01 00:00:05", "alice", 5),
        ("2024-01-01 00:59:00", "zz", 1),
    ]
    salaries_rows = [
        ("2024-01-01 00:00:01", "alice", 100),
        ("2024-01-01 00:00:01", "bob", 200),
        ("2024-01-01 00:00:06", "alice", 300),
        ("2024-01-01 00:59:00", "zz", 1),
    ]
    gsrc, ssrc = str(tmp_path / "g"), str(tmp_path / "s")
    _write_text_files(gsrc, ["\n".join(f"{t},{n},{v}" for t, n, v in grades_rows)])
    _write_text_files(ssrc, ["\n".join(f"{t},{n},{v}" for t, n, v in salaries_rows)])

    def parse(df, val):
        parts = F.split(F.col("text"), ",")
        return df.select(
            F.element_at(parts, 1).cast("timestamp").alias("ts"),
            F.element_at(parts, 2).alias("name"),
            F.element_at(parts, 3).cast("int").alias(val),
        )

    bg = parse(spark.createDataFrame([(f"{t},{n},{v}",) for t, n, v in grades_rows], ["text"]), "grade")
    bs = parse(spark.createDataFrame([(f"{t},{n},{v}",) for t, n, v in salaries_rows], ["text"]), "salary")
    expected = {
        tuple(r) for r in window_join_stream(bg, bs, "2 seconds").collect()
    }

    sg = parse(_stream_lines(spark, gsrc, per_file=False), "grade")
    ss = parse(_stream_lines(spark, ssrc, per_file=False), "salary")
    batches = collect_stream(
        window_join_stream(sg, ss, "2 seconds"),
        str(tmp_path / "ck"),
        output_mode="append",
    )
    got = {tuple(r) for batch in batches for r in batch}
    assert got == expected
    assert ("alice",) not in {r[1:2] for r in got} or got  # sanity: non-empty
    assert any(r[1] == "alice" for r in got)


def test_streaming_interval_join_equals_batch(spark, tmp_path):
    """Watermarked stream–stream interval join parity: the same builder
    run over a replayed file stream (2 micro-batches per side) must emit
    exactly the pairs the bounded run produces, and exactly the pairs the
    batch numeric-µs interval_join finds."""
    from flink_streaming_2_10_spark.operators.temporal import interval_join

    clicks = [
        ("2024-01-01 00:00:00", "u1", 1),
        ("2024-01-01 00:00:30", "u2", 2),
        ("2024-01-01 00:10:00", "u1", 3),
        ("2024-01-01 01:00:00", "u3", 4),
    ]
    errors = [
        ("2024-01-01 00:00:20", "u1", 91),  # 20s after click 1 -> pair
        ("2024-01-01 00:01:00", "u2", 92),  # 30s after click 2 -> pair
        ("2024-01-01 00:09:00", "u1", 93),  # before click 3 -> no
        ("2024-01-01 00:10:45", "u1", 94),  # 45s after click 3 -> pair
        ("2024-01-01 02:00:00", "u3", 95),  # 1h later -> no
    ]

    def parse(df, val):
        parts = F.split(F.col("text"), ",")
        return df.select(
            F.element_at(parts, 1).cast("timestamp").alias("ts"),
            F.element_at(parts, 2).alias("user_id"),
            F.element_at(parts, 3).cast("int").alias(val),
        )

    def fmt(rows):
        mid = len(rows) // 2
        return [
            "\n".join(f"{t},{u},{v}" for t, u, v in chunk)
            for chunk in (rows[:mid], rows[mid:])
        ]

    csrc, esrc = str(tmp_path / "c"), str(tmp_path / "e")
    _write_text_files(csrc, fmt(clicks))
    _write_text_files(esrc, fmt(errors))

    kw = dict(
        on=["user_id"], left_time="ts", right_time="ts",
        lower_seconds=0, upper_seconds=60,
    )
    bc = parse(spark.createDataFrame([(f"{t},{u},{v}",) for t, u, v in clicks], ["text"]), "click_id")
    be = parse(spark.createDataFrame([(f"{t},{u},{v}",) for t, u, v in errors], ["text"]), "err_id")
    bounded = interval_join_event_stream(bc, be, **kw)
    expected = {(r["click_id"], r["r_err_id"]) for r in bounded.collect()}
    assert expected == {(1, 91), (2, 92), (3, 94)}

    # cross-check against the batch numeric operator on µs longs
    numeric = interval_join(
        bc.withColumn("t", F.unix_micros("ts")),
        be.withColumn("t", F.unix_micros("ts")),
        on=["user_id"], left_time="t", right_time="t",
        lower=0, upper=60_000_000,
    )
    assert {(r["click_id"], r["r_err_id"]) for r in numeric.collect()} == expected

    sc_ = parse(_stream_lines(spark, csrc, per_file=False), "click_id")
    se = parse(_stream_lines(spark, esrc, per_file=False), "err_id")
    batches = collect_stream(
        interval_join_event_stream(sc_, se, **kw),
        str(tmp_path / "ck"),
        output_mode="append",
    )
    got = {(r["click_id"], r["r_err_id"]) for batch in batches for r in batch}
    assert got == expected


def test_twitter_stream_golden_counts(spark, tmp_path):
    """The reference's golden rolling-count fixture: three 'Apache Flink'
    tweets must produce cumulative counts (apache,1..3)/(flink,1..3)
    (TwitterExampleData.java:22-28), one refinement per micro-batch."""

    def tweet(text: str, lang: str = "en") -> str:
        return json.dumps({"text": text, "user": {"lang": lang}})

    files = [tweet("Apache Flink"), tweet("Apache Flink"), tweet("Apache Flink")]
    src = str(tmp_path / "in")
    _write_text_files(src, files, ext="json")
    lines = (
        spark.readStream.option("maxFilesPerTrigger", 1)
        .text(src)
        .withColumnRenamed("value", "json")
    )
    batches = collect_stream(
        twitter_stream(lines), str(tmp_path / "ck"), output_mode="update"
    )
    seq = [sorted((r["word"], r["cnt"]) for r in b) for b in batches]
    assert seq == [
        [("apache", 1), ("flink", 1)],
        [("apache", 2), ("flink", 2)],
        [("apache", 3), ("flink", 3)],
    ]


def test_topspeed_stream_equals_batch(spark, tmp_path):
    """A6 streaming parity: applyInPandasWithState over micro-batches must
    emit exactly the batch replay's rows (ascending per-key input order
    holds within and across batches by construction)."""
    cars = car_event_simulator(spark, num_cars=2, ticks=60)
    expected = {tuple(r) for r in top_speed_windowing(cars).collect()}

    rows = cars.orderBy("time").collect()
    third = len(rows) // 3
    chunks = [rows[:third], rows[third : 2 * third], rows[2 * third :]]
    src = str(tmp_path / "in")
    _write_text_files(
        src,
        [
            "\n".join(f"{r['carId']},{r['speed']},{r['distance']},{r['time']}" for r in chunk)
            for chunk in chunks
        ],
        ext="csv",
    )
    parts = F.split(F.col("value"), ",")
    stream = (
        spark.readStream.option("maxFilesPerTrigger", 1)
        .text(src)
        .select(
            F.element_at(parts, 1).cast("int").alias("carId"),
            F.element_at(parts, 2).cast("int").alias("speed"),
            F.element_at(parts, 3).cast("double").alias("distance"),
            F.element_at(parts, 4).cast("long").alias("time"),
        )
    )
    batches = collect_stream(
        top_speed_windowing_stream(stream),
        str(tmp_path / "ck"),
        output_mode="append",
    )
    got = {tuple(r) for batch in batches for r in batch}
    assert got == expected


def test_topspeed_stream_sorts_across_arrow_chunks(spark, tmp_path):
    """Time order is required across micro-batches, not within one: one
    car's 120 rows arrive newest first in a single micro-batch, which
    Arrow splits into 7-row chunks. The key's chunks are replayed as one
    sorted run, so the stream still emits the batch replay's rows."""
    cars = car_event_simulator(spark, num_cars=1, ticks=120)
    expected = {tuple(r) for r in top_speed_windowing(cars).collect()}

    rows = cars.orderBy(F.desc("time")).collect()
    src = str(tmp_path / "in")
    _write_text_files(
        src,
        ["\n".join(f"{r['carId']},{r['speed']},{r['distance']},{r['time']}" for r in rows)],
        ext="csv",
    )
    parts = F.split(F.col("value"), ",")
    stream = spark.readStream.text(src).select(
        F.element_at(parts, 1).cast("int").alias("carId"),
        F.element_at(parts, 2).cast("int").alias("speed"),
        F.element_at(parts, 3).cast("double").alias("distance"),
        F.element_at(parts, 4).cast("long").alias("time"),
    )
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        batches = collect_stream(
            top_speed_windowing_stream(stream),
            str(tmp_path / "ck"),
            output_mode="append",
        )
    finally:
        spark.conf.set(key, prev)
    got = {tuple(r) for batch in batches for r in batch}
    assert len(expected) > 2
    assert got == expected


def test_topspeed_stream_compiles_no_classes_per_micro_batch(spark, tmp_path):
    """TopSpeed's state row is flat. A state row holding arrays made Spark
    compile two classes (its state codec) on every micro-batch; once warm,
    a micro-batch now compiles none."""
    compiled = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiled = compiled.METRIC_COMPILATION_TIME()
    value = F.col("value")
    cars = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", 200)
        .option("numPartitions", 2)
        .load()
        .select(
            (value % 4).cast("int").alias("carId"),
            (value % 37).cast("int").alias("speed"),
            (value * 7.0).alias("distance"),
            (value * 100).alias("time"),
        )
    )
    counts: list[int] = []

    def on_batch(bdf, batch_id: int) -> None:
        bdf.collect()
        counts.append(compiled.getCount())

    query = (
        top_speed_windowing_stream(cars)
        .writeStream.outputMode("append")
        .foreachBatch(on_batch)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        deadline = time.time() + 120
        while len(counts) < 6 and time.time() < deadline and query.isActive:
            time.sleep(0.2)
    finally:
        query.stop()
    assert len(counts) >= 6, (counts, query.exception())
    # Batches 0-1 warm up (first state load, first emit); the rest reuse.
    assert counts[5] == counts[1], counts


def test_kafka_source_contract(spark):
    """S10: the Kafka wiring is gated on connector availability — in this
    container (no connector jar) it must fail with the actionable message,
    never an opaque ClassNotFound."""
    from flink_streaming_2_10_spark.sources.kafka import (
        kafka_available,
        kafka_json_stream,
    )

    if kafka_available(spark):
        df = kafka_json_stream(
            spark, "localhost:9092", "events", "event_id long, value double"
        )
        assert df.isStreaming
        assert df.columns[:2] == ["event_id", "value"]
    else:
        with pytest.raises(RuntimeError, match="spark-sql-kafka"):
            kafka_json_stream(
                spark, "localhost:9092", "events", "event_id long, value double"
            )


def test_asof_enrich_stream_matches_batch_asof(spark, tmp_path):
    """Stream-static as-of enrichment parity: the broadcast-history probe
    must agree with the batch merge-asof on unique-time data, bounded AND
    streamed."""
    import random

    from flink_streaming_2_10_spark.operators.temporal import asof_join
    from flink_streaming_2_10_spark.streaming.runners import asof_enrich_stream

    rng = random.Random(11)
    times = rng.sample(range(100_000), 400)
    clicks = [(i, f"u{i % 7}", times[i]) for i in range(200)]
    prices = [(200 + i, f"u{i % 7}", times[200 + i]) for i in range(200)]
    left = spark.createDataFrame(clicks, ["lid", "k", "t"])
    dim = spark.createDataFrame(prices, ["rid", "k", "t"])

    expected = {
        r["lid"]: r["q_rid"]
        for r in asof_join(
            left, dim, on=["k"], left_time="t", right_time="t",
            tolerance=50_000, right_prefix="q_",
        ).collect()
    }
    bounded = {
        r["lid"]: r["q_rid"]
        for r in asof_enrich_stream(
            left, dim, on=["k"], left_time="t", right_time="t",
            tolerance=50_000, right_prefix="q_",
        ).collect()
    }
    assert bounded == expected and any(v is not None for v in expected.values())

    src = str(tmp_path / "clicks")
    _write_text_files(
        src,
        ["\n".join(f"{l},{k},{t}" for l, k, t in chunk)
         for chunk in (clicks[:100], clicks[100:])],
    )
    parts = F.split(F.col("text"), ",")
    sleft = _stream_lines(spark, src, per_file=False).select(
        F.element_at(parts, 1).cast("long").alias("lid"),
        F.element_at(parts, 2).alias("k"),
        F.element_at(parts, 3).cast("long").alias("t"),
    )
    batches = collect_stream(
        asof_enrich_stream(
            sleft, dim, on=["k"], left_time="t", right_time="t",
            tolerance=50_000, right_prefix="q_",
        ),
        str(tmp_path / "ck"),
        output_mode="append",
    )
    streamed = {r["lid"]: r["q_rid"] for batch in batches for r in batch}
    assert streamed == expected


def test_asof_enrich_history_bounds_pathological_key(spark):
    """A dimension key with a deep version history must stay under the
    configured bounds with IDENTICAL results: min_event_time+tolerance
    prunes never-matchable versions exactly; max_history hard-caps the
    per-key array."""
    from pyspark.sql import functions as F

    from flink_streaming_2_10_spark.operators.temporal import asof_join
    from flink_streaming_2_10_spark.streaming.runners import (
        asof_enrich_stream,
        dim_history,
    )

    # 5000 versions of one hot key, one version of a cold key; probes all
    # land in the newest 1% of the history.
    dim = spark.range(5000).select(
        F.col("id").alias("rid"), F.lit("hot").alias("k"), F.col("id").alias("t")
    ).union(
        spark.createDataFrame([(9000, "cold", 10)], ["rid", "k", "t"])
    )
    left = spark.createDataFrame(
        [(1, "hot", 4999), (2, "hot", 4960), (3, "cold", 4000)], ["lid", "k", "t"]
    )
    kw = dict(on=["k"], left_time="t", right_time="t", right_prefix="q_")
    expected = {
        r["lid"]: r["q_rid"]
        for r in asof_join(left, dim, tolerance=100, **kw).collect()
    }
    assert expected == {1: 4999, 2: 4960, 3: None}  # cold: 3990 too stale

    # exact pruning: only versions >= 4950 - 100 can ever match
    pruned = {
        r["lid"]: r["q_rid"]
        for r in asof_enrich_stream(
            left, dim, tolerance=100, min_event_time=4950, **kw
        ).collect()
    }
    assert pruned == expected
    hist = dim_history(
        dim, on=["k"], right_time="t", tolerance=100, min_event_time=4950
    )
    sizes = {r["k"]: r["n"] for r in hist.select(
        "k", F.size("__hist").alias("n")).collect()}
    assert sizes["hot"] == 150 and "cold" not in sizes  # 4850..4999 kept

    # hard cap: newest max_history versions per key, same probe answers
    capped = {
        r["lid"]: r["q_rid"]
        for r in asof_enrich_stream(
            left, dim, tolerance=100, max_history=64, **kw
        ).collect()
    }
    assert capped == expected
    hist_cap = dim_history(dim, on=["k"], right_time="t", max_history=64)
    assert hist_cap.agg(F.max(F.size("__hist"))).collect()[0][0] == 64
    # the cap keeps the NEWEST versions
    newest = hist_cap.filter(F.col("k") == "hot").select(
        F.element_at("__hist", -1)["__t"].alias("t_last"),
        F.element_at("__hist", 1)["__t"].alias("t_first"),
    ).collect()[0]
    assert (newest["t_first"], newest["t_last"]) == (4936, 4999)


def test_asof_enrich_stream_tie_is_greatest_payload(spark):
    from flink_streaming_2_10_spark.streaming.runners import asof_enrich_stream

    left = spark.createDataFrame([(1, "A", 100)], ["lid", "k", "t"])
    dim = spark.createDataFrame(
        [(7, "A", 100), (9, "A", 100), (8, "A", 100)], ["rid", "k", "t"]
    )
    got = asof_enrich_stream(
        left, dim, on=["k"], left_time="t", right_time="t", right_prefix="q_"
    ).collect()[0]
    assert got["q_rid"] == 9


def test_kafka_stub_protocol_end_to_end(spark, tmp_path):
    """S10 integration without a broker: wire-shaped parquet batches
    (binary key/value + topic/partition/offset metadata, the connector's
    exact load() schema) stream through decode_kafka_records into the
    rolling word count — every pipeline stage past the connector runs as
    a live Structured Streaming query, one micro-batch per produced file.
    """
    from flink_streaming_2_10_spark.sources.kafka import (
        KAFKA_WIRE_SCHEMA,
        decode_kafka_records,
        kafka_wire_stub_stream,
    )

    docs = [
        (1, "apache flink streams"),
        (2, "apache spark streams"),
        (3, "spark streams words"),
    ]
    src = str(tmp_path / "topic-events")
    os.makedirs(src)
    # produce one wire-shaped file per record, offsets increasing — the
    # shape a single-partition topic drains in
    for off, (doc_id, text) in enumerate(docs):
        payload = json.dumps({"doc_id": doc_id, "text": text}).encode()
        spark.createDataFrame(
            [(str(doc_id).encode(), payload, "events", 0, off)],
            "key binary, value binary, topic string, partition int, offset long",
        ).withColumn("timestamp", F.current_timestamp()).withColumn(
            "timestampType", F.lit(0)
        ).coalesce(1).write.mode("append").parquet(src)

    raw = kafka_wire_stub_stream(spark, src)
    assert raw.isStreaming
    assert ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in raw.schema.fields
    ) == KAFKA_WIRE_SCHEMA.replace("offset long", "offset bigint")
    decoded = decode_kafka_records(raw, "doc_id long, text string")
    counts = word_count(decoded, "text")
    batches = collect_stream(counts, str(tmp_path / "ck"), output_mode="update")
    final = {}
    for batch in batches:
        for r in batch:
            final[r["word"]] = r["cnt"]
    batch_texts = spark.createDataFrame(docs, ["doc_id", "text"])
    expected = {
        r["word"]: r["cnt"] for r in word_count(batch_texts, "text").collect()
    }
    assert final == expected
    assert final["streams"] == 3 and final["apache"] == 2


def test_kafka_stub_checkpoint_recovery_exactly_once(spark, tmp_path):
    """Offset-resume semantics through the wire stub: the consumer is
    killed after draining the first half of the topic, more records
    arrive while it is down, and a restart from the SAME checkpoint must
    (a) resume past the committed offsets — never re-reading or
    re-emitting the first half — and (b) continue micro-batch numbering,
    so the batch_id-keyed sink is exactly-once end to end."""
    from flink_streaming_2_10_spark.sources.kafka import (
        decode_kafka_records,
        kafka_wire_stub_stream,
    )

    src = str(tmp_path / "topic-events")
    ck = str(tmp_path / "ck")
    os.makedirs(src)
    docs = [(i, f"payload number {i}") for i in range(6)]

    def produce(items):
        for doc_id, text in items:
            payload = json.dumps({"doc_id": doc_id, "text": text}).encode()
            spark.createDataFrame(
                [(str(doc_id).encode(), payload, "events", 0, doc_id)],
                "key binary, value binary, topic string, partition int, "
                "offset long",
            ).withColumn("timestamp", F.current_timestamp()).withColumn(
                "timestampType", F.lit(0)
            ).coalesce(1).write.mode("append").parquet(src)

    seen: dict[int, list] = {}  # batch_id -> offsets (last write wins: a
    # restart may re-deliver the one uncommitted in-flight batch under
    # its original batch_id — the documented foreachBatch contract)

    def run_once():
        decoded = decode_kafka_records(
            kafka_wire_stub_stream(spark, src), "doc_id long, text string"
        )

        def on_batch(bdf, bid):
            rows = bdf.collect()
            if rows:
                seen[bid] = sorted(r["_offset"] for r in rows)

        run_update_stream(decoded, ck, on_batch, output_mode="append")

    produce(docs[:3])
    run_once()  # consumer dies here (query stopped) with offsets 0-2 committed
    first_batches = dict(seen)
    assert sorted(o for b in first_batches.values() for o in b) == [0, 1, 2]

    produce(docs[3:])  # topic keeps filling while the consumer is down
    run_once()  # restart from the same checkpoint
    new_batches = {b: o for b, o in seen.items() if b not in first_batches}
    # resume: only the new offsets flow; batch numbering continues
    assert sorted(o for b in new_batches.values() for o in b) == [3, 4, 5]
    assert new_batches and min(new_batches) > max(first_batches)
    # exactly-once across the kill/restart
    all_offsets = sorted(o for b in seen.values() for o in b)
    assert all_offsets == [0, 1, 2, 3, 4, 5]


def _kafka_connector_present() -> bool:
    from flink_streaming_2_10_spark.sources.kafka import find_kafka_jars

    builtin = any(
        "spark-sql-kafka" in j
        for j in os.listdir(
            os.path.join(os.path.dirname(__import__("pyspark").__file__), "jars")
        )
    )
    return builtin or bool(find_kafka_jars())


@pytest.mark.skipif(
    not _kafka_connector_present(),
    reason="spark-sql-kafka connector jar not shipped in this container "
    "(neither built-in, nor in $SPARK_HOME/jars / $SPARK_GRAFT_KAFKA_JARS) "
    "and no broker is available; the live load() path is exercised by "
    "test_kafka_stub_protocol_end_to_end minus the connector itself",
)
def test_kafka_live_roundtrip(spark, tmp_path):
    """Runs only where the connector jar is present: consume a topic via
    kafka_json_stream and drain one bounded micro-batch."""
    from flink_streaming_2_10_spark.sources.kafka import kafka_json_stream

    df = kafka_json_stream(
        spark, "localhost:9092", "events", "doc_id long, text string",
        starting_offsets="earliest",
    )
    assert df.isStreaming


def test_socket_source_live_wordcount(spark):
    """S4 live: a real localhost TCP server feeds the socket source
    (SocketWindowWordCount.scala:58 semantics — Spark connects as the
    client), and the rolling word count over the stream must converge to
    the batch counts of the sent lines. Loopback only — no external
    network."""
    import socket
    import threading

    from flink_streaming_2_10_spark.sources.generators import socket_text_stream

    lines = ["apache flink", "apache spark", "flink streaming"]
    release = threading.Event()

    server = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    server.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    server.bind(("127.0.0.1", 0))
    port = server.getsockname()[1]
    server.listen(1)

    def serve() -> None:
        conn, _ = server.accept()
        try:
            for line in lines:
                conn.sendall((line + "\n").encode())
            # Keep the connection open until the query is done — the
            # socket source treats a dropped connection as stream end.
            release.wait(60)
        finally:
            conn.close()
            server.close()

    threading.Thread(target=serve, daemon=True).start()

    stream = socket_text_stream(spark, "127.0.0.1", port)
    q = (
        streaming_word_count(stream)
        .writeStream.format("memory")
        .queryName("socket_wc")
        .outputMode("complete")
        .start()
    )
    try:
        expected = {("apache", 2), ("flink", 2), ("spark", 1), ("streaming", 1)}
        deadline = time.time() + 60
        got: set = set()
        while time.time() < deadline:
            got = {
                (r["word"], r["cnt"])
                for r in spark.sql("SELECT * FROM socket_wc").collect()
            }
            if got == expected:
                break
            time.sleep(0.5)
        assert got == expected
    finally:
        release.set()
        q.stop()


def test_kafka_decode_projection_on_wire_shaped_frame(spark):
    """The Kafka decode path, driven without a broker: a DataFrame with
    the connector's exact wire schema (binary key/value, topic, partition,
    offset, timestamp) goes through the same projection
    kafka_json_stream applies after load()."""
    import datetime

    from flink_streaming_2_10_spark.sources.kafka import decode_kafka_records

    ts = datetime.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (b"k1", b'{"user_id": 7, "value": 1.5}', "events", 0, 42, ts),
        (None, b'{"user_id": 8, "value": 2.5}', "events", 1, 43, ts),
        (b"k3", b"not json", "events", 0, 44, ts),  # bad payload -> NULLs
    ]
    raw = spark.createDataFrame(
        rows,
        "key binary, value binary, topic string, partition int, "
        "offset long, timestamp timestamp",
    )
    out = decode_kafka_records(raw, "user_id long, value double").collect()
    assert [r["user_id"] for r in out] == [7, 8, None]
    assert [r["_key"] for r in out] == ["k1", None, "k3"]
    assert [r["_offset"] for r in out] == [42, 43, 44]
    assert all(r["_topic"] == "events" for r in out)


def test_streaming_exact_dedup_suppresses_cross_batch_dups(spark, tmp_path):
    """Fingerprint state must persist ACROSS micro-batches: a duplicate
    arriving in a later file is suppressed; survivor set equals the batch
    operator's (arrival order == id order here, so ids match too)."""
    import json as jsonlib

    from flink_streaming_2_10_spark.pipeline.dedup import exact_dedup
    from flink_streaming_2_10_spark.streaming.runners import (
        streaming_exact_dedup,
    )

    batches_in = [
        [(1, "alpha beta gamma"), (2, "delta epsilon")],
        [(3, "Alpha  BETA gamma"), (4, "zeta eta")],  # 3 dups 1 (normalized)
        [(5, "zeta eta")],  # verbatim dup of 4
    ]
    src = str(tmp_path / "in")
    _write_text_files(
        src,
        [
            "\n".join(
                jsonlib.dumps({"doc_id": i, "text": t}) for i, t in rows
            )
            for rows in batches_in
        ],
    )
    stream = (
        spark.readStream.option("maxFilesPerTrigger", 1)
        .schema("doc_id LONG, text STRING")
        .json(src)
    )
    out = streaming_exact_dedup(stream)
    collected = collect_stream(out, str(tmp_path / "ck"), output_mode="append")
    survivors = sorted(r["doc_id"] for batch in collected for r in batch)
    assert survivors == [1, 2, 4]

    all_rows = [r for rows in batches_in for r in rows]
    batch_df = spark.createDataFrame(all_rows, ["doc_id", "text"])
    batch_survivors = sorted(
        r["doc_id"] for r in exact_dedup(batch_df).collect()
    )
    assert survivors == batch_survivors


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """The watermark variant bounds state by event-time age; with all
    events inside the horizon it must behave like plain dedup."""
    import json as jsonlib

    from flink_streaming_2_10_spark.streaming.runners import (
        streaming_exact_dedup,
    )

    rows = [
        (1, "alpha beta", "2024-01-01T00:00:00"),
        (2, "alpha beta", "2024-01-01T00:00:30"),  # dup inside horizon
        (3, "gamma delta", "2024-01-01T00:01:00"),
    ]
    src = str(tmp_path / "in")
    _write_text_files(
        src,
        [
            "\n".join(
                jsonlib.dumps({"doc_id": i, "text": t, "ts": ts})
                for i, t, ts in rows
            )
        ],
    )
    stream = (
        spark.readStream.schema("doc_id LONG, text STRING, ts TIMESTAMP")
        .json(src)
    )
    out = streaming_exact_dedup(stream, watermark_delay="10 minutes")
    collected = collect_stream(out, str(tmp_path / "ck"), output_mode="append")
    survivors = sorted(r["doc_id"] for batch in collected for r in batch)
    assert survivors == [1, 3]


def test_incremental_ingestion_dedups_across_runs(spark, tmp_path):
    """availableNow incremental ingestion (runners.run_incremental): the
    second invocation processes ONLY files that arrived after the first
    (no rescan — batch row counts prove it), and exact-dedup state
    persists across runs through the checkpoint, so a later run
    suppresses duplicates of documents ingested by an earlier one."""
    from flink_streaming_2_10_spark.streaming.runners import (
        run_incremental,
        streaming_exact_dedup,
    )

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

    seen: list[tuple[int, int]] = []  # (run, doc_id)

    def collect_run(run_no):
        def on_batch(bdf, _bid):
            for r in bdf.collect():
                seen.append((run_no, r["doc_id"]))
        return on_batch

    run_incremental(stream(), ck, collect_run(1))
    assert sorted(d for n, d in seen if n == 1) == [1, 2]

    # second drop: 3 duplicates run-1's doc 1 (normalized), 4 is new
    _write_text_files(
        src, ["1,alpha beta\n2,gamma delta", "3,ALPHA  beta\n4,epsilon"]
    )
    run_incremental(stream(), ck, collect_run(2))
    # only the new file was read, and 3 was suppressed by run-1 state
    assert sorted(d for n, d in seen if n == 2) == [4]


def test_trending_topk_stream_equals_batch(spark, tmp_path):
    """windowed_topk's documented streaming face (operators/sliding.py):
    the watermarked sliding COUNT runs live in append mode — count state
    is the only streaming state — and the top-N rank is applied to each
    window as it closes (foreachBatch side). Final streamed top-N must
    equal batch windowed_topk over the same events for every window the
    watermark closed, across a micro-batch boundary."""
    from pyspark.sql.window import Window

    from flink_streaming_2_10_spark.operators.sliding import (
        sliding_window_agg,
        windowed_topk,
    )

    batch1 = [
        ("2024-01-01 00:00:10", "click"),
        ("2024-01-01 00:00:20", "click"),
        ("2024-01-01 00:00:30", "view"),
        ("2024-01-01 00:01:10", "view"),
        ("2024-01-01 00:01:20", "view"),
        ("2024-01-01 00:01:40", "buy"),
    ]
    batch2 = [
        ("2024-01-01 00:02:05", "click"),
        ("2024-01-01 00:02:10", "buy"),
        # far-future sentinel: advances the watermark past every window
        # above so they all CLOSE; its own windows never close and are
        # excluded from the comparison below on both sides.
        ("2024-01-01 02:00:00", "sentinel"),
    ]
    horizon_ms = 1704074400000  # 2024-01-01 02:00:00 UTC epoch millis

    def parse(df):
        parts = F.split(F.col("text"), ",")
        return df.select(
            F.element_at(parts, 1).cast("timestamp").alias("ts"),
            F.element_at(parts, 2).alias("event_type"),
        )

    kw = dict(window_size="2 minutes", slide="1 minute")

    # batch truth: rank over every window, keep the closed ones
    bdf = parse(
        spark.createDataFrame(
            [(f"{t},{e}",) for t, e in batch1 + batch2], ["text"]
        )
    )
    expected = {
        tuple(r)
        for r in windowed_topk(bdf, key="event_type", k=2, **kw)
        .filter(F.col("window_end") <= horizon_ms)
        .collect()
    }
    # sanity on the fixture: multiple windows, a contested top spot, and
    # the count-DESC/key-ASC tie-break all exercised
    assert len({w for w, *_ in expected}) >= 3
    assert ("view", 3) in {(r[2], r[3]) for r in expected}

    src = str(tmp_path / "ev")
    _write_text_files(
        src,
        [
            "\n".join(f"{t},{e}" for t, e in batch1),
            "\n".join(f"{t},{e}" for t, e in batch2),
        ],
    )
    counts = sliding_window_agg(
        parse(_stream_lines(spark, src)),
        keys=["event_type"],
        aggs=[F.count(F.lit(1)).alias("n")],
        **kw,
    )
    batches = collect_stream(
        counts, str(tmp_path / "ck"), output_mode="append"
    )
    # each appended row belongs to a window the watermark closed — apply
    # the rank exactly as the documented foreachBatch step would
    closed = [r for batch in batches for r in batch]
    assert closed, "append mode emitted no closed windows"
    cdf = spark.createDataFrame(
        closed,
        "window_start long, window_end long, event_type string, n long",
    )
    w = Window.partitionBy("window_start").orderBy(
        F.col("n").desc(), F.col("event_type").asc()
    )
    got = {
        tuple(r)
        for r in cdf.withColumn("rnk", F.row_number().over(w))
        .filter((F.col("rnk") <= 2) & (F.col("window_end") <= horizon_ms))
        .collect()
    }
    assert got == expected
