"""SparkSession construction and engine-level tuning.

The reference's only execution knobs are job/sink parallelism
(TopSpeedWindowing.scala:66, TwitterExample.java:68, WindowJoin.scala:78);
everything else here is Spark-native tuning for the 100 TB design point:
AQE (runtime re-plan, skew-join splitting, partition coalescing), Arrow for
every pandas exchange, and parquet filter pushdown.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Configs that are safe to set on a live session (all are SQLConf /
#: runtime-settable). ``get_spark`` passes them to its builder;
#: ``configure()`` applies them to sessions built elsewhere (the driver's),
#: which ``catalog.load_table`` does on a table's first load.
RUNTIME_CONF: dict[str, str] = {
    # The driver's testdata writes events.ts as parquet TIMESTAMP(NANOS),
    # which Spark's reader rejects by default; read it as a long and convert
    # explicitly in catalog.load_table.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Deterministic wall-clock semantics for window()/time_bucket parity
    # with the DuckDB oracle.
    "spark.sql.session.timeZone": "UTC",
    # Adaptive execution: runtime partition coalescing, skew-join splitting,
    # and plan re-optimization from real shuffle statistics.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Every Python exchange is Arrow-vectorized (SNIPPETS.md patterns [2],[3]).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Scan efficiency: pushdown + pruning must reach the parquet reader.
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
}


#: Provider class for RocksDB-backed streaming state (ships with Spark
#: since 3.2; rocksdbjni is in $SPARK_HOME/jars). Heap state — the
#: default, and the Flink-1.1 weakness the reference inherits (SURVEY.md
#: §4.2) — holds every key's state in executor memory; RocksDB spills to
#: local disk, which is what an unbounded-key stateful stream (exact
#: dedup over all fingerprints ever seen, per-user sessionization) needs
#: at 100×. Opt-in because local heap is faster for the bounded-key
#: test/bench workloads.
ROCKSDB_STATE_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def enable_rocksdb_state(spark: SparkSession) -> SparkSession:
    """Switch this session's NEW streaming queries to RocksDB state.

    Runtime-settable (the provider is read at query start). Changelog
    checkpointing keeps commit latency flat as state grows: checkpoints
    upload per-batch deltas instead of full SST snapshots.
    """
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass", ROCKSDB_STATE_PROVIDER
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true",
    )
    return spark


def configure(spark: SparkSession) -> SparkSession:
    """Apply :data:`RUNTIME_CONF` to an existing session.

    Raises if a key cannot be set: a session left without
    ``nanosAsLong`` or the UTC zone fails later, in a query, with an
    unclear error.
    """
    for key, value in RUNTIME_CONF.items():
        spark.conf.set(key, value)
    return spark


def default_driver_memory(physical_bytes: int | None = None) -> str:
    """Half of physical memory (this host's by default) in whole GiB,
    between 1g and 16g: the driver JVM also runs the executors, so a
    heap larger than the host lets the kernel kill it under load."""
    if physical_bytes is None:
        physical_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(16, max(1, physical_bytes // 2**31))}g"


def get_spark(
    app_name: str = "flink-streaming-2-10-spark",
    cpus: int | str | None = None,
) -> SparkSession:
    """Build a local SparkSession sized for this machine.

    On a real cluster the same engine code runs unchanged; only
    master/parallelism change (SURVEY.md §3.1 step 2: the environment is the
    single submission-context switch, as in the reference's
    ``StreamExecutionEnvironment.getExecutionEnvironment``).

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS``, else to the cores this
    process may run on.

    Two settings here set the fixed cost of a streaming trigger, which
    dominates each micro-batch of the streaming programs:

    - ``spark.sql.shuffle.partitions`` is ``cpus``: one shuffle partition,
      and so one state store per stateful operator, per core, all in one
      task wave. Every store commits a delta file per micro-batch however
      few rows changed, so partitions beyond the cores add commits and a
      second wave, not parallelism. AQE still coalesces small batch
      shuffles.
    - Checkpoint files go through Hadoop's FileSystem API. Spark's default
      FileContext-based manager, on ``file://`` without the native Hadoop
      library, starts a process for file-status lookups; with it, each
      store commit took 25-50 ms on a 4-core host. ``get_spark`` only
      makes ``local[...]`` sessions, so the setting only meets local disk;
      sessions set up through ``configure()`` keep Spark's default.

    Python workers start from this package's daemon,
    :mod:`flink_streaming_2_10_spark.worker_daemon`, named as
    ``spark.python.daemon.module``: it stops each Python task from
    re-reading ``pyspark.zip`` once per zip importer. The daemon and its
    workers import the package through ``spark.executorEnv.PYTHONPATH``,
    which holds this checkout's root, so UDF-bearing queries run from any
    working directory.

    The driver heap is :func:`default_driver_memory` of this host unless
    ``$SPARK_GRAFT_DRIVER_MEM`` names one.

    The builder also carries every :data:`RUNTIME_CONF` key.
    ``getOrCreate`` sets them on a new session and applies them to an
    existing one, so the session needs no :func:`configure` afterwards.
    """
    cpus = int(
        cpus or os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    )
    checkout = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
        .config(
            "spark.python.daemon.module", "flink_streaming_2_10_spark.worker_daemon"
        )
        .config("spark.executorEnv.PYTHONPATH", checkout)
        .config("spark.ui.enabled", "false")
        # No console progress bar: its \r-frames interleave with stdout
        # capture and have clipped the driver's tail-parse of bench.py's
        # JSON line mid-object. STATIC core conf — must be set here.
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.extraJavaOptions", "-Djava.net.preferIPv4Stack=true")
        # STATIC conf (must be set before the session exists): the default
        # 100-entry generated-class cache thrashes on a many-query workload
        # (this engine's surface is 60 queries × several codegen stages
        # each), re-paying Janino compilation of the big aggregate
        # expressions (simhash vote lanes, 64-permutation minhash) on every
        # run. Sized WELL above the distinct-stage count (r7: the 2000-entry
        # setting fell behind registry growth and bench medians tripled from
        # per-iteration recompilation — the cache must lead the registry,
        # not trail it); entries are generated-class references, so the
        # footprint is a few MB even at 10k.
        .config("spark.sql.codegen.cache.maxEntries", "10000")
    )
    # Kafka connector auto-enable: when the deployment drops connector
    # jars into $SPARK_HOME/jars or points $SPARK_GRAFT_KAFKA_JARS at
    # them, put them on the classpath so sources.kafka.kafka_json_stream
    # (and its gated live test) just work. STATIC conf — classpath is
    # fixed at JVM launch.
    from flink_streaming_2_10_spark.sources.kafka import find_kafka_jars

    kafka_jars = find_kafka_jars()
    extra = [
        j
        for j in os.environ.get("SPARK_GRAFT_EXTRA_JARS", "").split(",")
        if j.strip()
    ]
    if kafka_jars or extra:
        # MERGE user jars ($SPARK_GRAFT_EXTRA_JARS) with the kafka
        # auto-detected ones — plain assignment of either alone would make
        # them mutually exclusive. The builder is constructed fresh above
        # and never sets spark.jars itself, so these two sources are the
        # complete set (no private builder-state read needed).
        merged: list[str] = []
        for jar in [*extra, *kafka_jars]:
            jar = jar.strip()
            if jar and jar not in merged:
                merged.append(jar)
        builder = builder.config("spark.jars", ",".join(merged))
    for key, value in RUNTIME_CONF.items():
        builder = builder.config(key, value)
    return builder.getOrCreate()
