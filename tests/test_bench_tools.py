"""Guards for the bench tooling. tools/bench_compare.py: every round's
perf adjudication runs it, so its raw-ratio gate is pinned here —
cross-series corroboration, known-noisy-band exclusion, git
min-recovery, and the exit codes of the recorded driver-artifact pairs.
bench.py: a failing query is listed, never counted as time.

Pure-function tests import the modules directly; end-to-end gate tests
shell out exactly as a round does.
"""

from __future__ import annotations

import importlib.util
import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _mod(name="bench_compare", path=("tools", "bench_compare.py")):
    spec = importlib.util.spec_from_file_location(name, os.path.join(ROOT, *path))
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    return m


def _doc(queries, calib=None):
    d = {"value": round(sum(queries.values()), 3), "queries": queries}
    if calib is not None:
        d["calib"] = calib  # retired probe: old artifacts carry it
    return d


def _run(old: dict, new: dict, tmp_path):
    po, pn = str(tmp_path / "old.json"), str(tmp_path / "new.json")
    with open(po, "w") as fh:
        json.dump(old, fh)
    with open(pn, "w") as fh:
        json.dump(new, fh)
    return subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "bench_compare.py"), po, pn],
        capture_output=True, text=True, cwd=ROOT,
    )


def test_in_band_regression_gates_exit_2(tmp_path):
    r = _run(
        _doc({"q1": 1.0, "q2": 1.0}),
        _doc({"q1": 1.0, "q2": 1.5}),
        tmp_path,
    )
    assert r.returncode == 2
    assert "q2" in r.stdout.splitlines()[-1]


def test_raw_gate_ignores_calib_fields(tmp_path):
    # Old artifacts still carry the retired calib probe; it loads but
    # never moves the gate. Flat raw under a x0.36 calib pair -> exit 0.
    r = _run(
        _doc({"q1": 1.0}, calib=0.55),
        _doc({"q1": 0.95}, calib=0.2),
        tmp_path,
    )
    assert r.returncode == 0, r.stdout
    assert "calib" not in r.stdout
    # ...and a real raw x2 regression gates whatever the probe read.
    r2 = _run(
        _doc({"q1": 1.0}, calib=0.55),
        _doc({"q1": 2.0}, calib=0.2),
        tmp_path,
    )
    assert r2.returncode == 2


def test_in_band_calib_drift_no_longer_excuses_regression(tmp_path):
    # A calib pair inside the old drift band (x1.4) used to divide raw
    # x1.5 down to x1.07 and pass; the raw ratio now gates.
    r = _run(_doc({"q": 1.0}, calib=0.2), _doc({"q": 1.5}, calib=0.28), tmp_path)
    assert r.returncode == 2, r.stdout
    assert "q (x1.50)" in r.stdout


def test_noisy_band_suppresses_async_inside_envelope(tmp_path):
    r = _run(
        _doc({"async_ordered_identity": 0.9, "q": 1.0}),
        _doc({"async_ordered_identity": 1.6, "q": 1.0}),
        tmp_path,
    )
    assert r.returncode == 0  # x1.78 but inside the documented 0.8-1.7 s band
    # outside the envelope it gates again
    r2 = _run(
        _doc({"async_ordered_identity": 0.9, "q": 1.0}),
        _doc({"async_ordered_identity": 1.9, "q": 1.0}),
        tmp_path,
    )
    assert r2.returncode == 2


def test_min_recovery_from_git_on_driver_wrapper():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        pytest.skip("no git checkout")
    m = _mod()
    path = os.path.join(ROOT, "BENCH_r13.json")
    with open(path) as fh:
        parsed = json.load(fh)["parsed"]
    rec = m.recover_min_from_git(path, parsed)
    if rec is None:
        pytest.skip("git history unavailable (shallow clone)")
    assert "queries_min" in rec
    assert abs(rec["value"] - parsed["value"]) <= 0.01
    # totals mismatch -> refuses (different run must not be silently mixed)
    assert m.recover_min_from_git(path, {**parsed, "value": 1.0}) is None


def test_median_mover_with_flat_min_not_gated_calls_out(tmp_path):
    """r18 (verdict task 3): the r17 q19 shape — a 3-sample median
    inflated x2 by iteration spread while min-vs-min is flat. With both
    sides carrying mins the display is min-of-n (raw x1.0, no flag), and
    the median movement must surface as the dedicated median-jitter
    call-out without gating."""
    old = {"value": 1.0, "queries": {"q": 1.0}, "queries_min": {"q": 0.5}}
    new = {"value": 2.0, "queries": {"q": 2.0}, "queries_min": {"q": 0.5}}
    r = _run(old, new, tmp_path)
    assert r.returncode == 0, r.stdout
    assert "median-jitter, min-corroborated flat" in r.stdout
    assert "q (median x2.00, min x1.00)" in r.stdout


def test_min_mover_with_flat_median_excused(tmp_path):
    """r18: the mirror shape (token_percentiles in the r16→r17 driver
    artifacts — min x1.22 off one lucky old-side min, median x0.99
    flat). Flagged on the displayed min series but excused by the flat
    median: cross-series call-out, exit 0."""
    old = {"value": 1.0, "queries": {"q": 1.0}, "queries_min": {"q": 0.5}}
    new = {"value": 1.0, "queries": {"q": 1.0}, "queries_min": {"q": 0.75}}
    r = _run(old, new, tmp_path)
    assert r.returncode == 0, r.stdout
    assert "cross-series-excused" in r.stdout


def test_regression_on_both_series_still_gates(tmp_path):
    """Cross-series corroboration must NOT excuse a real regression: a
    code change moves min AND median together, and that shape gates."""
    old = {"value": 1.0, "queries": {"q": 1.0}, "queries_min": {"q": 0.5}}
    new = {"value": 2.0, "queries": {"q": 2.0}, "queries_min": {"q": 1.0}}
    r = _run(old, new, tmp_path)
    assert r.returncode == 2, r.stdout


def test_min_recovery_worktree_fallback_for_uncommitted_wrapper():
    """r18: the judge compares driver artifacts BEFORE the round's
    commit exists, so git recovery finds no commit for the new wrapper —
    recovery must fall back to the working-tree BENCH.json under the
    same same-run totals check (the r17 false exit-2's root cause)."""
    m = _mod()
    with open(os.path.join(ROOT, "BENCH.json")) as fh:
        live = json.load(fh)
    if "queries_min" not in live:
        pytest.skip("working-tree BENCH.json lacks queries_min")
    # A wrapper name with no git history: falls through to the worktree.
    rec = m.recover_min_from_git(
        os.path.join(ROOT, "BENCH_r9999.json"), {"value": live["value"]}
    )
    assert rec is not None and "queries_min" in rec
    # Totals mismatch still refuses (different run must not be mixed).
    assert m.recover_min_from_git(
        os.path.join(ROOT, "BENCH_r9999.json"), {"value": live["value"] + 5}
    ) is None


def test_r16_r17_driver_artifacts_exit_zero_with_q19_callout():
    """The r17 verdict's literal done-criterion: `bench_compare
    BENCH_r16.json BENCH_r17.json` exits 0 and calls out
    tpch_q19_bracket_revenue as median-jitter (median x2.25, min x1.00
    on an untouched module)."""
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        pytest.skip("no git checkout")
    r = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "bench_compare.py"),
         os.path.join(ROOT, "BENCH_r16.json"),
         os.path.join(ROOT, "BENCH_r17.json")],
        capture_output=True, text=True, cwd=ROOT,
    )
    if "recovered from the git-tracked" not in r.stderr:
        pytest.skip("git history unavailable (shallow clone)")
    assert r.returncode == 0, r.stdout
    assert "median-jitter" in r.stdout
    assert "tpch_q19_bracket_revenue" in r.stdout.split("median-jitter")[1]


#: Exit codes of every recorded driver-artifact pair (old, new, code).
#: The same codes came out with and without the retired calib probes,
#: so removing them changed no compare decision (BENCH_COMPARE.md).
_RECORDED_PAIRS = [
    ("06", "07", 2), ("07", "08", 0), ("08", "09", 2), ("09", "11", 0),
    ("11", "12", 2), ("12", "13", 0), ("13", "14", 2), ("14", "15", 2),
    ("15", "16", 2), ("16", "17", 0), ("17", "18", 0), ("18", "19", 2),
    ("18_c8", "19_c8", 0), ("18", "18_c8", 2), ("19", "19_c8", 0),
]


def test_recorded_driver_pairs_keep_their_exit_codes(monkeypatch, capsys):
    log = subprocess.run(
        ["git", "log", "--format=%H", "-n", "1", "--", "BENCH_r19_c8.json"],
        cwd=ROOT, capture_output=True, text=True,
    )
    if log.returncode != 0 or not log.stdout.strip():
        pytest.skip("git history unavailable (min recovery needs it)")
    m = _mod()
    got = []
    for old, new, _ in _RECORDED_PAIRS:
        monkeypatch.setattr(sys, "argv", [
            "bench_compare.py",
            os.path.join(ROOT, f"BENCH_r{old}.json"),
            os.path.join(ROOT, f"BENCH_r{new}.json"),
        ])
        with pytest.raises(SystemExit) as exc:
            m.main()
        got.append((old, new, exc.value.code))
    capsys.readouterr()
    assert got == _RECORDED_PAIRS


def test_tied_rows_list_in_name_order(tmp_path, monkeypatch, capsys):
    # Equal new-side seconds list by name, not by set iteration order,
    # which follows PYTHONHASHSEED; 26 tied names make a sorted-by-chance
    # order vanishingly unlikely.
    names = [f"q_{c}" for c in "zyxwvutsrqponmlkjihgfedcba"]
    doc = json.dumps(_doc({**{n: 1.0 for n in names}, "slow": 2.0}))
    po, pn = tmp_path / "old.json", tmp_path / "new.json"
    po.write_text(doc)
    pn.write_text(doc)
    monkeypatch.setattr(sys, "argv", ["bench_compare.py", str(po), str(pn), "--md"])
    with pytest.raises(SystemExit) as exc:
        _mod().main()
    assert exc.value.code == 0
    listed = [
        line.split("|")[1].strip()
        for line in capsys.readouterr().out.splitlines()
        if line.startswith("| q_") or line.startswith("| slow")
    ]
    assert listed == ["slow", *sorted(names)]


def test_bench_lists_failed_queries_and_counts_no_time(spark):
    bench = _mod("bench", ("bench.py",))
    calls = {"flaky": 0}

    def good(spark, sf_dir):
        return spark.range(3)

    def bad(spark, sf_dir):
        raise ValueError("boom\nsecond line")

    def flaky(spark, sf_dir):  # fails only in its second pass
        calls["flaky"] += 1
        if calls["flaky"] == 2:
            raise RuntimeError("once")
        return spark.range(3)

    sf_dir = "/data/sf0.001"
    samples, errors = bench.run_passes(
        spark, {"good": good, "bad": bad, "flaky": flaky}, sf_dir,
        n_iter=2, warmup=0,
    )
    line, durable = bench.summarize(samples, errors, sf_dir, 2)
    out, rec = json.loads(line), json.loads(durable)
    assert out["failed"] == ["bad", "flaky"]
    assert out["queries"]["bad"] == out["queries"]["flaky"] == -1.0
    assert out["queries"]["good"] > 0
    assert out["value"] == out["queries"]["good"]
    assert out["value_min"] == rec["queries_min"]["good"]
    assert rec["errors"] == {
        "bad": "ValueError: boom", "flaky": "RuntimeError: once",
    }


def test_bench_error_keeps_python_worker_cause(spark):
    # A Python-worker failure says what went wrong on its traceback's
    # last line; the first line alone only says a worker raised.
    bench = _mod("bench", ("bench.py",))

    def fail(batches):
        raise ValueError("speed column missing")
        yield from batches

    def udf_query(spark, sf_dir):
        return spark.range(1).mapInPandas(fail, schema="id long")

    _, errors = bench.run_passes(
        spark, {"udf_query": udf_query}, "/data/sf0.001", n_iter=1, warmup=0
    )
    first, _, cause = errors["udf_query"].partition(" ... ")
    assert first.startswith("PythonException: ")
    assert cause == "ValueError: speed column missing"


def test_bench_failed_field_survives_stdout_budget():
    # 300 queries force the budget ladder to trim the per-query dict;
    # the failed list is never trimmed.
    bench = _mod("bench", ("bench.py",))
    samples = {f"query_{i:03d}": [1.0 + i / 1000] for i in range(300)}
    samples["zz_failed"] = []
    line, _ = bench.summarize(samples, {"zz_failed": "E: x"}, "/d/sf0.1", 1)
    out = json.loads(line)
    assert len(line) <= bench._STDOUT_BUDGET
    assert out["queries_omitted"] > 0
    assert out["failed"] == ["zz_failed"]
