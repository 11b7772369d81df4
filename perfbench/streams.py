"""Seeded input generation and the three streaming programs under test.

Every generated column is a pure function of the source row's ``value``
and the run's seed (``xxhash64``), so a bounded recomputation over
``spark.range(n)`` sees exactly the rows the stream saw. The programs
receive only these generated DataFrames.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

#: Event-time origin (epoch ms) for closed-loop rows: batch ``i`` of a
#: closed-loop source carries event time ``BASE_MS + i * 1000``.
BASE_MS = 1_700_000_000_000

#: Output mode of each program's streaming query.
OUTPUT_MODE = {"wordcount": "update", "window_join": "append", "topspeed": "append"}


def _uniform(value: Column, seed: int, salt: int) -> Column:
    """Uniform double in [0, 1) from (value, seed, salt)."""
    h = F.pmod(F.xxhash64(value, F.lit(seed), F.lit(salt)), F.lit(1 << 30))
    return h.cast("double") / float(1 << 30)


def _bucket(value: Column, seed: int, salt: int, n: int) -> Column:
    return F.pmod(F.xxhash64(value, F.lit(seed), F.lit(salt)), F.lit(n))


def text_lines(src: DataFrame, seed: int, vocab: int, words: int) -> DataFrame:
    """``text`` lines of ``words`` words, Zipf(1)-skewed over ``vocab``
    words: word index ``floor((vocab + 1) ** u) - 1`` for uniform ``u``."""
    v = F.col("value")
    picks = [
        F.concat(
            F.lit("w"),
            (F.floor(F.pow(F.lit(vocab + 1.0), _uniform(v, seed, j))) - 1)
            .cast("long")
            .cast("string"),
        )
        for j in range(words)
    ]
    return src.select(F.concat_ws(" ", *picks).alias("text"))


def grades(src: DataFrame, seed: int, names: int, ts: Column) -> DataFrame:
    v = F.col("value")
    return src.select(
        ts.alias("ts"),
        F.concat(F.lit("n"), _bucket(v, seed, 101, names).cast("string")).alias("name"),
        (F.lit(1) + _bucket(v, seed, 102, 5)).cast("int").alias("grade"),
    )


def salaries(src: DataFrame, seed: int, names: int, ts: Column) -> DataFrame:
    v = F.col("value")
    return src.select(
        ts.alias("ts"),
        F.concat(F.lit("n"), _bucket(v, seed, 201, names).cast("string")).alias("name"),
        _bucket(v, seed, 202, 10_000).cast("int").alias("salary"),
    )


def cars(src: DataFrame, seed: int, num_cars: int, time_ms: Column) -> DataFrame:
    """Car events: ``value`` round-robins over the cars; each car's k-th
    event is 2.5 m further on, so the 50 m DeltaTrigger fires every 21
    events per car."""
    v = F.col("value")
    return src.select(
        (v % num_cars).cast("int").alias("carId"),
        _bucket(v, seed, 301, 101).cast("int").alias("speed"),
        ((v / num_cars).cast("long") * F.lit(2.5)).alias("distance"),
        time_ms.cast("long").alias("time"),
    )


def closed_loop_ts(rows_per_batch: int) -> Column:
    """Event time of a closed-loop row: one second per micro-batch."""
    batch = (F.col("value") / rows_per_batch).cast("long")
    return F.timestamp_millis(F.lit(BASE_MS) + batch * 1000)


def closed_loop_car_time(num_cars: int) -> Column:
    """Closed-loop car clock: 100 ms per event of a car."""
    return F.lit(BASE_MS) + (F.col("value") / num_cars).cast("long") * 100


def program_inputs(
    program: str, sources: list[DataFrame], cfg: dict, seed: int, closed: bool
) -> list[DataFrame]:
    """The generated input DataFrames of one program.

    ``sources`` are rate-shaped DataFrames (``value``, ``timestamp``): one
    for wordcount and topspeed, two (grades, salaries) for the join.
    ``closed`` selects the closed-loop event clock derived from ``value``;
    otherwise event time is the rate source's ``timestamp``.
    """
    if program == "wordcount":
        return [text_lines(sources[0], seed, cfg["vocab"], cfg["words_per_line"])]
    if program == "window_join":
        ts = closed_loop_ts(cfg["rows_per_batch"]) if closed else F.col("timestamp")
        return [
            grades(sources[0], seed, cfg["names"], ts),
            salaries(sources[1], seed, cfg["names"], ts),
        ]
    if program == "topspeed":
        time_ms = (
            closed_loop_car_time(cfg["cars"])
            if closed
            else F.unix_millis(F.col("timestamp"))
        )
        return [cars(sources[0], seed, cfg["cars"], time_ms)]
    raise ValueError(f"unknown program {program!r}")


def build_stream(program: str, inputs: list[DataFrame]) -> DataFrame:
    """The program's streaming function from the package under test."""
    if program == "wordcount":
        from flink_streaming_2_10_spark.streaming.runners import streaming_word_count

        return streaming_word_count(inputs[0])
    if program == "window_join":
        from flink_streaming_2_10_spark.streaming.runners import window_join_stream

        return window_join_stream(inputs[0], inputs[1], "2 seconds")
    if program == "topspeed":
        from flink_streaming_2_10_spark.operators.topspeed import (
            top_speed_windowing_stream,
        )

        return top_speed_windowing_stream(inputs[0])
    raise ValueError(f"unknown program {program!r}")


def rate_like(spark: SparkSession, rows: int, start_ms: int, ms_per_row: int) -> DataFrame:
    """A bounded DataFrame shaped like a rate source's first ``rows`` rows:
    ``value`` and ``timestamp = start_ms + value * ms_per_row``."""
    return spark.range(rows).select(
        F.col("id").alias("value"),
        F.timestamp_millis(F.lit(start_ms) + F.col("id") * ms_per_row).alias("timestamp"),
    )


def bounded_answer(
    spark: SparkSession,
    program: str,
    cfg: dict,
    seed: int,
    sources: list[DataFrame],
    closed: bool,
) -> list[tuple]:
    """The program's answer over bounded ``sources`` (see ``rate_like``),
    computed by the package's batch path."""
    inputs = program_inputs(program, sources, cfg, seed, closed=closed)
    if program == "wordcount":
        from flink_streaming_2_10_spark.operators.wordcount import word_count

        out = word_count(inputs[0])
    elif program == "window_join":
        from flink_streaming_2_10_spark.operators.join import join_grades_salaries

        out = join_grades_salaries(inputs[0], inputs[1], "2 seconds")
    else:
        from flink_streaming_2_10_spark.operators.topspeed import top_speed_windowing

        out = top_speed_windowing(inputs[0])
    return [tuple(r) for r in out.collect()]
