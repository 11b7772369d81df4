"""Degenerate-input (empty / single-row table) oracle parity — the class
the r16 fuzz campaign proved real (Spark `GROUP BY CUBE` returns zero
rows over an empty input where ANSI/DuckDB emit the () grand-total row).

The full registry x 5-variant sweep is `tools/degenerate_sweep.py`
(variants: all tables EMPTY, all tables SINGLE-ROW, EMPTYFACT — facts
empty with dimensions populated, the join-against-empty / emptied-slice
shape — HOTKEY, one value rewritten to own ~95% of each skew column's
rows, added r18 per the r17 verdict — and NULLKEY, half of each skew
column nulled, added r18: it caught 8 real divergences on its first
run)
(run + recorded in COVERAGE.md each round); this suite pins a durable
subset: the six operators the r17 sweep actually caught diverging
(driver-side collects raising where the oracle returns well-defined
rows, a VOID-typed struct crashing analysis, and power-iteration
div-by-zero semantics), plus the aggregate/grouping-set/pivot/window
shapes the r16 verdict named as highest-risk for ANSI divergence.
"""

from __future__ import annotations

import importlib.util
import os

import duckdb
import pytest

import __spark_entry__ as entrymod

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _sweep_mod():
    spec = importlib.util.spec_from_file_location(
        "degenerate_sweep", os.path.join(ROOT, "tools", "degenerate_sweep.py")
    )
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    return m


QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()

#: The r17 sweep's actual catches (fixed same round) + the verdict's
#: named high-risk shapes (grouping sets, pivot, rollup tiers, global
#: aggregates, HAVING / scalar-subquery TPC-H shapes, windows).
PINNED = [
    # caught by the r17 sweep, fixed in pca/centroids/clustering/nbaffinity
    "pca_top_component",
    "embedding_direction_scores",
    "nearest_centroid",
    "hard_negatives",
    "semantic_kmeans",
    "affinity_lang_report",
    # r16's original find (fixed r16) — keep it pinned here too
    "pricing_cube",
    # verdict-named aggregate/pivot/window shapes
    "table_profile",
    "event_type_pivot",
    "hypertable_rollup",
    "corpus_summary",
    "length_histogram",
    "retention_cohorts",
    "event_transitions",
    "tpch_q22_sales_opportunity",
    "tpch_q11_important_stock",
    "tpch_q18_large_orders",
    "embedding_covariance",
    # caught by the r18 NULLKEY sweep, fixed r18 (NULL-key join/group
    # semantics + the Spark element_at null-index runtime bug);
    # retention_cohorts / nearest_centroid / hard_negatives from that
    # catch list are already pinned above
    "window_join_grades_salaries",
    "asof_join_attribution",
    "funnel_view_click_purchase",
    "topspeed_delta_trigger",
    "embedding_outliers",
]


@pytest.fixture(scope="module")
def degen_dirs(tmp_path_factory):
    sweep = _sweep_mod()
    root = tmp_path_factory.mktemp("degen")
    dirs = {}
    for variant, rows in (("empty", 0), ("onerow", 1), ("emptyfact", 0)):
        d = str(root / variant)
        sweep.build_variant(
            sweep.SF_BASE, d, rows, facts_only=(variant == "emptyfact")
        )
        dirs[variant] = d
    d = str(root / "hotkey")
    sweep.build_hotkey_variant(sweep.SF_BASE, d)
    dirs["hotkey"] = d
    d = str(root / "nullkey")
    sweep.build_hotkey_variant(sweep.SF_BASE, d, null_keys=True)
    dirs["nullkey"] = d
    return dirs


def _duck_for(d: str):
    sweep = _sweep_mod()
    con = duckdb.connect()
    for name in sweep.TABLES:
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{d}/{name}.parquet'")
    return con


@pytest.fixture(scope="module")
def ducks(degen_dirs):
    cons = {v: _duck_for(d) for v, d in degen_dirs.items()}
    yield cons
    for con in cons.values():
        con.close()


@pytest.mark.parametrize("name", [n for n in PINNED if n in QUERIES])
@pytest.mark.parametrize(
    "variant", ["empty", "onerow", "emptyfact", "hotkey", "nullkey"]
)
def test_degenerate_matches_oracle(spark, degen_dirs, ducks, name, variant):
    sweep = _sweep_mod()
    a = QUERIES[name](spark, degen_dirs[variant]).toPandas()
    b = ducks[variant].sql(ORACLES[name]).df()
    diff = sweep.compare(a, b)
    assert diff is None, f"{name} [{variant}]: {diff}"


def test_pinned_names_still_exist():
    """A rename must update the pin list, not silently skip it."""
    missing = [n for n in PINNED if n not in QUERIES]
    assert not missing, missing


def test_partial_runs_never_default_to_canonical_path():
    """r17 verdict task 4: a --only / --variant spot-run clobbered the
    canonical 402-entry DEGEN_SWEEP.json (restored from git). Partial
    runs must default to the side path; only an unrestricted run may
    write the canonical record; explicit --out always wins."""
    sweep = _sweep_mod()
    # The defaults sit in the checkout, not in the working directory.
    full = os.path.join(ROOT, "DEGEN_SWEEP.json")
    partial = os.path.join(ROOT, "DEGEN_SWEEP.partial.json")
    assert sweep.resolve_out(None, None, None) == (full, False)
    assert sweep.resolve_out("q1,q2", None, None) == (partial, True)
    assert sweep.resolve_out(None, "hotkey", None) == (partial, True)
    assert sweep.resolve_out("q1", "empty", "X.json") == ("X.json", True)


def test_hotkey_variant_shape():
    """The hotkey builder must keep every row, keep the schema
    byte-identical, and give the hot value ~HOT_FRACTION of each skew
    column — the invariants the skew sweep's meaning rests on."""
    import collections
    import tempfile

    import pyarrow.parquet as pq

    sweep = _sweep_mod()
    d = tempfile.mkdtemp(prefix="hotkey_test_")
    sweep.build_hotkey_variant(sweep.SF_BASE, d)
    for name in sweep.TABLES:
        base = pq.read_table(f"{sweep.SF_BASE}/{name}.parquet")
        hot = pq.read_table(f"{d}/{name}.parquet")
        assert hot.schema == base.schema, name
        assert len(hot) == len(base), name
        col = sweep.HOT_COLS.get(name)
        if col and len(hot):
            values = hot.column(col).to_pylist()
            _, n_top = collections.Counter(values).most_common(1)[0]
            assert n_top >= int(len(values) * sweep.HOT_FRACTION), name


def test_nullkey_variant_shape():
    """The nullkey builder must keep every row, keep the schema
    byte-identical, and null ~NULL_FRACTION of each skew column."""
    import tempfile

    import pyarrow.parquet as pq

    sweep = _sweep_mod()
    d = tempfile.mkdtemp(prefix="nullkey_test_")
    sweep.build_hotkey_variant(sweep.SF_BASE, d, null_keys=True)
    for name in sweep.TABLES:
        base = pq.read_table(f"{sweep.SF_BASE}/{name}.parquet")
        nk = pq.read_table(f"{d}/{name}.parquet")
        assert nk.schema == base.schema, name
        assert len(nk) == len(base), name
        col = sweep.HOT_COLS.get(name)
        if col and len(nk):
            nulls = nk.column(col).null_count
            assert nulls >= int(len(nk) * sweep.NULL_FRACTION), name


def test_empty_schema_equals_onerow_schema(spark, degen_dirs):
    """The r17 fixes return hand-built empty frames on degenerate
    inputs for the six caught operators; their column names must never
    drift from the computed path's."""
    for name in (
        "pca_top_component",
        "embedding_direction_scores",
        "nearest_centroid",
        "hard_negatives",
        "semantic_kmeans",
        "affinity_lang_report",
    ):
        empty_cols = QUERIES[name](spark, degen_dirs["empty"]).columns
        onerow_cols = QUERIES[name](spark, degen_dirs["onerow"]).columns
        assert empty_cols == onerow_cols, name
