"""flink_streaming_2_10_spark — a PySpark-native analytics engine with the
query and data-processing capabilities of grozdan/flink-streaming_2.10
(a fork of Apache Flink 1.1.4's flink-examples-streaming_2.10 module).

Design stance (SURVEY.md §7.0):

* Every operator is a pure function ``DataFrame -> DataFrame`` that is
  agnostic to whether the input is a batch or streaming DataFrame —
  generalizing the testable factoring of the reference's
  ``WindowJoin.joinStreams`` (WindowJoin.scala:85-88).
* Declarative-first: logical plans are expressed with the DataFrame API and
  optimized by Catalyst (predicate pushdown, column pruning, join selection,
  AQE). No RDDs, no custom Catalyst rules.
* Python UDFs only where built-in expressions genuinely cannot express the
  semantics (the delta-trigger window A6 and ordered async I/O X1), and then
  always Arrow-vectorized (A6's batch replay on ``applyInArrow``, its
  streaming replays on ``applyInPandasWithState``, X1 on
  ``mapInPandas``).
"""

from flink_streaming_2_10_spark.session import get_spark, configure

__all__ = ["get_spark", "configure"]
__version__ = "0.1.0"
