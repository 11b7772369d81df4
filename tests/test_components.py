"""Connected components + canonical-doc resolution over dedup pairs.

Strategy: hand-built graphs with known component structure (transitivity,
isolated nodes, chains that exercise pointer jumping), plus a DuckDB
recursive-CTE cross-check of the full MinHash→components query at
sf0.001 — the same oracle the driver replays at sf0.01.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flink_streaming_2_10_spark.pipeline.components import (
    connected_components,
    dedup_canonical,
)


def _labels(spark, edges, **kw):
    df = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    out = connected_components(df, **kw)
    return {r["node"]: r["component"] for r in out.collect()}


# Both execution strategies must agree everywhere: 0 forces the
# distributed loop, the default engages the driver-side union-find.
BOTH_PATHS = pytest.mark.parametrize("dsme", [0, 1_000_000])


@BOTH_PATHS
def test_transitive_closure(spark, dsme):
    # A~B, B~C must put C in A's component even though A~C was never a pair.
    got = _labels(spark, [(1, 2), (2, 3), (10, 11)], driver_solve_max_edges=dsme)
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


@BOTH_PATHS
def test_component_is_min_id_regardless_of_edge_order(spark, dsme):
    got = _labels(spark, [(9, 5), (5, 7), (7, 2), (8, 9)], driver_solve_max_edges=dsme)
    assert set(got.values()) == {2}
    assert set(got) == {2, 5, 7, 8, 9}


def test_path_graph_converges_via_pointer_jumping(spark):
    # A 24-node path has diameter 23; pure neighbor propagation would need
    # 23 rounds. With the jump step it must finish well inside 10.
    edges = [(i, i + 1) for i in range(24)]
    got = _labels(spark, edges, max_rounds=10, driver_solve_max_edges=0)
    assert set(got.values()) == {0}
    assert len(got) == 25


def test_long_path_round_count_is_logarithmic(spark):
    """512-node path (diameter 511): pointer jumping must converge in
    ~log2(n) rounds — the claim the 25-round default bound rests on.
    Neighbor-only propagation would need 511 rounds; each (neighbor +
    jump) round roughly triples the contraction, so log2(512)=9 plus
    slack covers it. Also proves the bound itself is nowhere near the
    raise."""
    n = 512
    df = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], ["doc_a", "doc_b"]
    )
    stats: dict = {}
    got = {
        r["node"]: r["component"]
        for r in connected_components(
            df, stats=stats, driver_solve_max_edges=0
        ).collect()
    }
    assert set(got.values()) == {0} and len(got) == n + 1
    # stop_when(changed == 0) detects the fixed point IN the converged
    # round (no equality confirm round), so the bound is one tighter
    # than the round-5 pin of 11.
    assert stats["rounds"] <= 10, stats


def test_reliable_checkpoint_mode(spark, tmp_path):
    """Dir-based checkpoint() — the cluster fault-tolerance option —
    produces identical components."""
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    df = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], ["doc_a", "doc_b"]
    )
    got = {
        r["node"]: r["component"]
        for r in connected_components(
            df, checkpoint="reliable", driver_solve_max_edges=0
        ).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_unknown_checkpoint_mode_raises(spark):
    df = spark.createDataFrame([(1, 2)], ["doc_a", "doc_b"])
    with pytest.raises(ValueError, match="local|reliable"):
        connected_components(df, checkpoint="hdfs")


@BOTH_PATHS
def test_duplicate_and_reversed_edges_collapse(spark, dsme):
    got = _labels(spark, [(1, 2), (2, 1), (1, 2), (3, 2)], driver_solve_max_edges=dsme)
    assert got == {1: 1, 2: 1, 3: 1}


def test_max_rounds_guard_raises(spark):
    df = spark.createDataFrame([(i, i + 1) for i in range(24)], ["doc_a", "doc_b"])
    with pytest.raises(RuntimeError, match="still moving"):
        connected_components(df, max_rounds=1, driver_solve_max_edges=0)


@BOTH_PATHS
@pytest.mark.parametrize("seed", [7, 23, 91])
def test_random_graph_matches_union_find(spark, seed, dsme):
    """Random multigraphs vs a sequential union-find: stresses the
    frontier bookkeeping (settled nodes must still receive late offers
    through their neighbors) and the jump/frontier interplay on whatever
    chain shapes the seed produces."""
    import random

    rng = random.Random(seed)
    n = 60
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(50)]
    got = _labels(spark, edges, driver_solve_max_edges=dsme)

    parent = list(range(n))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    nodes = {v for e in edges for v in e}
    comp_min: dict[int, int] = {}
    for v in nodes:
        r = find(v)
        comp_min[r] = min(comp_min.get(r, v), v)
    assert got == {v: comp_min[find(v)] for v in nodes}


def test_dedup_canonical_survivorship(spark):
    docs = spark.createDataFrame([(i,) for i in range(1, 8)], ["doc_id"])
    pairs = spark.createDataFrame([(2, 5), (5, 6), (3, 7)], ["doc_a", "doc_b"])
    rows = {
        r["doc_id"]: (r["canonical_id"], r["cluster_size"])
        for r in dedup_canonical(docs, pairs).collect()
    }
    # cluster {2,5,6} -> canonical 2; {3,7} -> 3; 1 and 4 untouched.
    assert rows == {
        1: (1, 1),
        2: (2, 3),
        5: (2, 3),
        6: (2, 3),
        3: (3, 2),
        7: (3, 2),
        4: (4, 1),
    }
    survivors = [d for d, (c, _) in rows.items() if d == c]
    assert sorted(survivors) == [1, 2, 3, 4]


def test_dedup_components_query_matches_oracle(spark, duck):
    import __spark_entry__ as entrymod
    from tests.conftest import SF_SMALL, assert_df_matches_oracle

    got = entrymod.queries()["dedup_components"](spark, SF_SMALL)
    assert_df_matches_oracle(
        got, duck, entrymod.oracle_sql()["dedup_components"]
    )
    # Survivor semantics: summing cluster sizes over canonical rows
    # re-counts the whole corpus exactly once.
    total = (
        got.where(F.col("doc_id") == F.col("canonical_id"))
        .agg(F.sum("cluster_size").alias("s"))
        .collect()[0]["s"]
    )
    assert total == got.count()


@BOTH_PATHS
def test_empty_pairs_yield_empty_components(spark, dsme):
    """A clean corpus (zero near-dup pairs) is the HAPPY PATH: both
    strategies must return an empty frame, not crash on empty-schema
    inference (driver path) or spin max_rounds then raise (loop path)."""
    empty = spark.createDataFrame([], "doc_a long, doc_b long")
    out = connected_components(empty, driver_solve_max_edges=dsme)
    assert out.collect() == []
    assert [f.name for f in out.schema.fields] == ["node", "component"]


def test_dedup_canonical_with_no_pairs_is_identity(spark):
    docs = spark.createDataFrame([(i,) for i in (1, 2, 3)], ["doc_id"])
    empty = spark.createDataFrame([], "doc_a long, doc_b long")
    rows = {
        r["doc_id"]: (r["canonical_id"], r["cluster_size"])
        for r in dedup_canonical(docs, empty).collect()
    }
    assert rows == {1: (1, 1), 2: (2, 1), 3: (3, 1)}


@BOTH_PATHS
def test_graph_operators_read_pair_input_once(spark, dsme):
    """Symmetrizing the edges must evaluate the pair input once per row.
    A union of the edges with their own swapped projection runs every
    upstream stage twice — in dedup_components that is the whole
    MinHash-LSH pair pipeline (18 -> 31 jobs). A Python UDF on ``doc_a``
    counts how often each pair row is computed."""
    from pyspark.sql.types import LongType

    from flink_streaming_2_10_spark.pipeline.graph import shortest_path_hops

    rows = [(1, 2), (2, 3), (3, 1), (10, 11)]
    seeds = spark.createDataFrame([(1,)], ["node"])
    for run, want in (
        (lambda p: connected_components(p, driver_solve_max_edges=dsme),
         {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}),
        (lambda p: shortest_path_hops(p, seeds, driver_solve_max_edges=dsme),
         {(1, 0), (2, 1), (3, 1)}),
    ):
        evals = spark.sparkContext.accumulator(0)

        def _counted(x, evals=evals):
            evals.add(1)
            return x

        count = F.udf(_counted, LongType())
        pairs = spark.createDataFrame(rows, "doc_a long, doc_b long").select(
            count("doc_a").alias("doc_a"), "doc_b"
        )
        assert {tuple(r) for r in run(pairs).collect()} == want
        assert evals.value == len(rows)
