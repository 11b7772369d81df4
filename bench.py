"""Benchmark harness (driver contract): runs the headline queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line.

Timing excludes session startup; each query is fully executed via a noop
write (no driver-side collection cost, full pipeline executed).

Each query runs ``$SPARK_GRAFT_BENCH_N`` times (default 3) and reports the
per-query MEDIAN: this container's run-to-run jitter reaches ~1.7× on
identical code (see README), so single samples routinely mis-rank changes.
``value`` is the sum of medians. Per-iteration totals are included under
``iterations`` for variance inspection. ``$SPARK_GRAFT_BENCH_WARMUP``
(default 1) untimed full passes run first to absorb JVM JIT / python
worker spin-up, which otherwise inflates the first sample systematically.

Queries are isolated: operator-internal caches are released between
queries (release_cached), so a query's time never depends on an earlier
query having materialized an identical sub-plan.

Failures are loud: a query that raises in any pass is listed by name
under ``failed`` in the stdout line (sorted; never trimmed to fit the
stdout budget) and, with the first line of its error (plus the last
line of a Python worker's traceback), under ``errors`` in BENCH.json.
It records -1.0, counts toward neither ``value`` nor ``value_min``,
and the process exits 1 after printing the line.

Python workers import the package through ``PYTHONPATH``, which gets the
repo root before the session starts, so the bench runs the same from any
working directory.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.abspath(__file__))

# The driver retains only the last ~2000 stdout chars; headroom under it.
_STDOUT_BUDGET = 1950


def _error_summary(exc: BaseException) -> str:
    """``Type: first line`` of ``exc``'s message. A Python-worker failure
    carries its cause on the traceback's last line, so a message holding
    a ``Traceback`` also keeps its last non-empty line."""
    text = str(exc)
    lines = [line.strip() for line in text.splitlines() if line.strip()]
    summary = f"{type(exc).__name__}: {lines[0] if lines else ''}"
    if "Traceback" in text and len(lines) > 1:
        summary += f" ... {lines[-1]}"
    return summary


def run_passes(spark, queries, sf_dir: str, n_iter: int, warmup: int):
    """Run ``warmup`` untimed and ``n_iter`` timed passes over
    ``queries`` (name -> fn(spark, sf_dir) -> DataFrame), each executed
    by a noop write. Returns (samples, errors): name -> timed seconds,
    and name -> a summary of the first error it raised, if any."""
    from flink_streaming_2_10_spark.pipeline.caching import release_cached

    samples: dict[str, list[float]] = {name: [] for name in queries}
    errors: dict[str, str] = {}
    for it in range(warmup + n_iter):
        timed = it >= warmup
        for name, fn in queries.items():
            t0 = time.time()
            try:
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                if timed:
                    samples[name].append(time.time() - t0)
            except Exception as exc:  # noqa: BLE001
                print(f"bench error in {name}: {exc}", file=sys.stderr)
                errors.setdefault(name, _error_summary(exc))
            finally:
                # Operators register internal persists (postings,
                # signatures, bucketed vectors); release between queries
                # so iterations don't reuse — or accumulate — cached
                # blocks across runs.
                release_cached()
    return samples, errors


def summarize(samples, errors, sf_dir: str, n_iter: int) -> tuple[str, str]:
    """Build (stdout line, durable BENCH.json text) from run_passes'
    output. A failed query records -1.0 and counts toward no total."""
    # Canonical SORTED key order in every emitted artifact: execution
    # order rotates with driver-verification staleness (see
    # flink_streaming_2_10_spark.rotation), but artifact key order must
    # not — sorted keys keep BENCH.json/stdout diffs stable across
    # rounds and checkouts for order-sensitive consumers.
    def per_query(stat):
        return {
            name: (
                round(stat(samples[name]), 3)
                if samples[name] and name not in errors
                else -1.0
            )
            for name in sorted(samples)
        }

    timings = per_query(statistics.median)
    # Per-query MIN alongside the median: the min is the best observed
    # cold-cache execution, so a median/min gap flags host jitter or
    # codegen/JIT warmup rather than a real plan change — regression calls
    # should compare both before blaming the code.
    timings_min = per_query(min)
    total = round(sum(t for t in timings.values() if t >= 0), 3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # Stdout line: COMPACT — the driver keeps only the last ~2000 chars of
    # stdout, so the printed JSON must fit entirely inside that window or it
    # becomes unparseable (this truncated BENCH_r05's "parsed" to null).
    # 57 queries compact-serialize to ~1.6 KB; diagnostics (per-query min,
    # per-iteration totals) go only to the durable BENCH.json file.
    slim = {
        "metric": "total_query_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
        "n": n_iter,
        # Total of per-query MINS: the best observed cold-cache pass.
        # Cross-round min-vs-min at the total level lives in the driver's
        # stdout artifact (the r7 verdict's accounting gap); the PER-QUERY
        # mins are in BENCH.json, which is git-TRACKED since r8 so the
        # driver's own bench run leaves a durable, committed record (a
        # full second name→value dict can never fit the stdout window:
        # the median dict alone is ~1.8 KB at 65 queries).
        "value_min": round(sum(t for t in timings_min.values() if t >= 0), 3),
        "failed": sorted(errors),
    }
    result = json.dumps(slim, separators=(",", ":"))
    # The driver retains only the last ~2000 stdout chars; a line that
    # outgrows the window silently truncates into unparseable JSON (the
    # BENCH_r05 failure). Degrade DETERMINISTICALLY instead: drop timing
    # precision to 2 decimals, and only if the registry has grown past
    # even that, fail LOUDLY — the durable BENCH.json (written by main()
    # BEFORE the assert) still has everything, and a visible error beats
    # a silently null record.
    if len(result) > _STDOUT_BUDGET:
        slim["queries"] = {k: round(v, 2) for k, v in timings.items()}
        result = json.dumps(slim, separators=(",", ":"))
    # Step 3 (the registry outgrew even 2-decimal medians at ~70 queries):
    # drop the FASTEST queries from the stdout dict, slowest-first kept —
    # deterministic, and the total/value_min still cover everything. The
    # full per-query record is in BENCH.json, which is git-TRACKED, so
    # nothing is lost durably; "queries_omitted" makes the cut visible to
    # any consumer of the stdout line.
    if len(result) > _STDOUT_BUDGET:
        by_cost = sorted(
            slim["queries"].items(), key=lambda kv: (-kv[1], kv[0])
        )
        while len(result) > _STDOUT_BUDGET and len(by_cost) > 10:
            by_cost = by_cost[:-1]
            slim["queries"] = dict(sorted(by_cost))
            slim["queries_omitted"] = len(timings) - len(by_cost)
            # A tail-only reader summing the stdout dict would mis-total
            # (r15 verdict What's-wrong 3): state the full count and
            # where the complete per-query record lives, adjacent to the
            # omission count so the two can't be read apart.
            slim["see"] = f"BENCH.json ({len(timings)} queries)"
            result = json.dumps(slim, separators=(",", ":"))
    verbose = json.dumps(
        {
            **slim,
            # The durable record always carries the FULL per-query maps,
            # regardless of what the stdout ladder trimmed from slim.
            "queries": timings,
            "queries_min": timings_min,
            "errors": dict(sorted(errors.items())),
            "iterations": [
                round(sum(ts[i] for ts in samples.values() if len(ts) > i), 3)
                for i in range(n_iter)
            ],
        }
    )
    return result, verbose


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    n_iter = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_N", "3")))
    warmup = max(0, int(os.environ.get("SPARK_GRAFT_BENCH_WARMUP", "1")))
    sys.path.insert(0, ROOT)
    # Python workers resolve imports from their own PYTHONPATH, not the
    # driver's sys.path: without this, UDF-bearing queries fail with
    # ModuleNotFoundError when the bench runs outside the repo root.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )

    import __spark_entry__ as entrymod
    from flink_streaming_2_10_spark.session import get_spark

    spark = get_spark("bench")
    queries = entrymod.queries()

    # Warm the JVM/readers once with the cheapest query.
    try:
        entrymod.entry(spark).write.format("noop").mode("overwrite").save()
    except Exception:
        pass

    samples, errors = run_passes(spark, queries, sf_dir, n_iter, warmup)
    result, verbose = summarize(samples, errors, sf_dir, n_iter)
    # Durable copy first — BEFORE the stdout-budget assert, so a completed
    # multi-iteration run always leaves a full record on disk even if the
    # stdout line can't fit the window (and if anything clips the stdout
    # tail — progress-bar races, pipe truncation — the driver or a human
    # can read the file).
    try:
        with open(os.path.join(ROOT, "BENCH.json"), "w") as fh:
            fh.write(verbose + "\n")
    except OSError:
        pass
    assert len(result) <= _STDOUT_BUDGET, (
        f"bench stdout JSON is {len(result)} chars > {_STDOUT_BUDGET}: "
        f"the driver's stdout window would truncate it — shrink the "
        f"per-query payload (full data is in BENCH.json)"
    )
    # Stop Spark BEFORE the JSON line so no executor/JVM shutdown chatter
    # can interleave after it — the JSON is the process's final stdout.
    spark.stop()
    print(result, flush=True)
    if errors:
        sys.exit(1)


if __name__ == "__main__":
    main()
