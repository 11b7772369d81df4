"""The driver contract itself: every queries() entry runs at sf0.001 and
matches its oracle_sql() — a fast local replica of the driver's sf0.01 gate."""

from __future__ import annotations

import importlib.util
import os
import sys

import pytest

import __spark_entry__ as entrymod
from tests.conftest import SF_SMALL, assert_df_matches_oracle

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert df.columns == ["word", "cnt"]


def test_every_query_has_callable():
    assert QUERIES
    for name, fn in QUERIES.items():
        assert callable(fn), name


def test_oracle_keys_subset_of_queries():
    assert set(ORACLES) <= set(QUERIES)


def test_queries_keep_the_registry_written_order():
    """queries() returns the registry dict as written: the same key list
    on every call, starting with the flagship word counts."""
    keys = list(entrymod.queries())
    assert keys[:3] == [
        "wordcount_rolling_sum",
        "pojo_wordcount_sum",
        "tpch_q1_pricing_summary",
    ]
    assert list(entrymod.queries()) == keys
    assert len(set(keys)) == 135


def test_selfcheck_rejects_an_unknown_query_before_starting_spark(monkeypatch, capsys):
    """A misspelt name must not read as a clean run of nothing."""
    from flink_streaming_2_10_spark import session

    path = os.path.join(os.path.dirname(entrymod.__file__), "tools", "selfcheck.py")
    spec = importlib.util.spec_from_file_location("selfcheck", path)
    selfcheck = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(selfcheck)

    def no_session(*args, **kwargs):
        raise AssertionError("selfcheck started a Spark session")

    monkeypatch.setattr(session, "get_spark", no_session)
    monkeypatch.setattr(sys, "path", list(sys.path))
    monkeypatch.setattr(
        sys, "argv", ["selfcheck.py", SF_SMALL, "wordcount_rolling_sum", "no_such_query"]
    )
    assert selfcheck.main() == 2
    assert "no_such_query" in capsys.readouterr().err


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, duck, name):
    df = QUERIES[name](spark, SF_SMALL)
    if name in ORACLES:
        assert_df_matches_oracle(df, duck, ORACLES[name])
    else:
        # rows-only contract for non-SQL-expressible ops
        assert df.count() >= 0


def test_pricing_cube_levels_and_oracle(spark, duck):
    import __spark_entry__ as entrymod
    from pyspark.sql import functions as F
    from tests.conftest import SF_SMALL, assert_df_matches_oracle

    got = entrymod.queries()["pricing_cube"](spark, SF_SMALL)
    assert_df_matches_oracle(got, duck, entrymod.oracle_sql()["pricing_cube"])

    rows = {
        (r["l_returnflag"], r["l_linestatus"]): r for r in got.collect()
    }
    cells = [
        r for (f, s), r in rows.items() if f != "ALL" and s != "ALL"
    ]
    grand = rows[("ALL", "ALL")]
    # subtotals must reconcile exactly: integer counts and exact-unit sums
    assert grand["cnt"] == sum(r["cnt"] for r in cells)
    assert grand["sum_qty"] == sum(r["sum_qty"] for r in cells)
    for f in {f for (f, s) in rows if f != "ALL"}:
        assert rows[(f, "ALL")]["cnt"] == sum(
            r["cnt"] for (rf, rs), r in rows.items()
            if rf == f and rs != "ALL"
        )


def test_tpch_q6_revenue_band_semantics(spark):
    """Band membership is decided on exact basis points: a discount that
    rounds to 5 belongs even if the raw double sits just under 0.05."""
    from pyspark.sql import functions as F

    from flink_streaming_2_10_spark.operators.relational import forecast_revenue

    rows = [
        # (qty, price, discount, shipdate) — in-band
        (10.0, 1000.0, 0.05, "1994-06-01"),
        (10.0, 1000.0, 0.07, "1994-06-01"),
        # out of band / date / qty
        (10.0, 1000.0, 0.04, "1994-06-01"),
        (10.0, 1000.0, 0.08, "1994-06-01"),
        (10.0, 1000.0, 0.06, "1995-06-01"),
        (30.0, 1000.0, 0.06, "1994-06-01"),
    ]
    li = spark.createDataFrame(
        rows, ["l_quantity", "l_extendedprice", "l_discount", "d"]
    ).withColumn("l_shipdate", F.col("d").cast("timestamp"))
    got = forecast_revenue(li).collect()[0]["revenue"]
    assert got == 1000.0 * 0.05 + 1000.0 * 0.07  # 120.0 exactly


def test_no_new_bare_whitespace_regex_in_oracles():
    """Cross-engine regex ratchet (ADVICE r11 / COVERAGE r12 note):
    Java's \\s includes U+000B, RE2's does not, so a DuckDB oracle that
    embeds bare '\\s' latently diverges from the Spark side on any
    corpus containing a vertical tab. The r12 fix converted the three
    advisor-named queries to the explicit class; the r13 rollout
    converted the remaining 22 (the shared BPE_PATTERN/PUNCT_PATTERN
    constants plus every literal normalizer/splitter site), so the
    legacy set is now EMPTY and must stay that way — a new oracle may
    not add bare '\\s' (use _WS_CLASS / the spelled-out class)."""
    import re

    legacy: set[str] = set()
    got = {k for k, sql in ORACLES.items() if re.search(r"\\s", sql)}
    assert got == legacy, (
        f"added bare \\s: {sorted(got - legacy)}; "
        f"remove fixed keys from the legacy list: {sorted(legacy - got)}"
    )


def test_whitespace_class_agrees_on_vertical_tab_corpus(spark, tmp_path):
    """End-to-end proof of the r13 whitespace rollout: on a corpus that
    DOES contain U+000B (vertical tab), the Spark side (Java regex,
    where \\s always included \\x0B) and the DuckDB oracles (RE2, where
    bare \\s does NOT) now agree, because every shared pattern spells
    the Java class explicitly. Pre-rollout, dedup_exact's normalizer
    md5 and the token/punct counters diverged on exactly this corpus."""
    import duckdb
    import pandas as pd

    texts = [
        "plain words only here",
        "vertical\x0btab separates\x0bthese words",
        "mixed \t tab \x0b vtab \f feed \r cr \n nl whitespace",
        "punct!! and\x0bmore?? marks",
        "plain words only here",  # exact dup of row 0 after normalize
        "vertical \x0b tab  separates these words",
    ]
    docs = pd.DataFrame(
        {
            "doc_id": pd.array(range(len(texts)), dtype="int64"),
            "text": texts,
            "lang": ["en"] * len(texts),
            "source": ["web"] * len(texts),
        }
    )
    docs["n_chars"] = docs["text"].str.len().astype("int64")
    docs.to_parquet(tmp_path / "documents.parquet", index=False)
    con = duckdb.connect()
    try:
        con.sql(
            "CREATE VIEW documents AS SELECT * FROM "
            f"'{tmp_path}/documents.parquet'"
        )
        for key in ("text_token_stats", "text_quality", "dedup_exact"):
            assert_df_matches_oracle(
                QUERIES[key](spark, str(tmp_path)), con, ORACLES[key]
            )
    finally:
        con.close()
