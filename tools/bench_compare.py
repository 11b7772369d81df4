"""Compare two bench outputs per query on raw wall time.

Usage: python tools/bench_compare.py [OLD.json] [NEW.json] [--md]

Defaults (the r7 lesson: regression calls MUST anchor on DRIVER
artifacts, not a pre-driver local run): OLD defaults to the highest-
numbered BENCH_r{N}.json in the repo root — the last driver-recorded
bench — and NEW defaults to BENCH.json, the durable record of the most
recent local bench.py run. Pass paths explicitly to override.

Accepts either bench.py's raw one-line JSON or the driver's BENCH_r{N}.json
wrapper (which nests the line under "parsed"). For each query it prints
old/new seconds and the raw ratio. When both files carry ``queries_min``
(bench.py's durable BENCH.json does; the driver wrapper's "parsed" line
does not), the comparison is min-vs-min — the best observed cold-cache
execution on each side — otherwise median-vs-median; min-vs-median
cross-comparisons are refused because they bias every ratio upward (the
r5→r6 ambiguity this tool exists to end). Fields that older artifacts
carry beyond these (the retired ``calib`` host-speed probes) are ignored.

``--md`` emits a markdown table (for BENCH_COMPARE.md). Exit code is 2
when any query's raw ratio exceeds REGRESSION_THRESHOLD on the displayed
series and is corroborated (below).

Old-side min recovery: the driver's BENCH_r{N}.json wrapper nests only
the stdout line (medians, no ``queries_min``), but the driver's own
bench run also wrote the git-tracked BENCH.json in the SAME commit —
when the old side lacks ``queries_min``, this tool recovers it from
``git show <commit-of-BENCH_r{N}>:BENCH.json`` (verified to be the same
run by matching totals) so min-vs-min engages on driver artifacts.
When the wrapper is NOT YET COMMITTED (the judge runs the compare
before the round's artifact commit — exactly the r17 false exit-2),
recovery falls back to the WORKING-TREE BENCH.json under the same
same-run totals check.

Min corroboration (r17 verdict task 3): a 3-sample median is inflated
by any slow iteration (r17's iteration totals spread 1.9×), so when
min data exists for a query, a mover must ALSO read > x1.15 min-vs-min
(raw) to gate. Movers excused this way print a dedicated
"median-jitter" call-out — the judge's q19 adjudication (median x2.28,
min-vs-min x1.00 on an untouched module) mechanized. Additionally,
whenever the displayed series is min-of-n, queries whose MEDIAN raw
ratio exceeds the threshold while their min ratio stays ≤ x1.15 get
the same informational call-out, so the median movement is visible
without gating.

Known-noisy suppression: ``async_ordered_identity`` inside its measured
0.8–1.7 s GIL-contention band (BENCH_COMPARE.md r8 adjudication) is
excluded from the regression gate — it moves >2× raw with co-located
CPU load on unchanged code. It still prints.
"""

from __future__ import annotations

import json
import sys

REGRESSION_THRESHOLD = 1.3
#: A flagged mover must also read above this on every available raw
#: series (min and median) to gate; see series_corroborated in main().
RAW_CORROBORATION = 1.15
#: (query, low_s, high_s): new-side seconds inside the band are excluded
#: from the regression gate — measured same-code jitter envelopes.
NOISY_BANDS = {"async_ordered_identity": (0.8, 1.7)}


def load(path: str) -> dict:
    with open(path) as fh:
        doc = json.load(fh)
    if "queries" in doc:
        return doc
    parsed = doc.get("parsed")
    if not isinstance(parsed, dict):
        raise SystemExit(f"{path}: no 'queries' and no parseable 'parsed'")
    return parsed


def recover_min_from_git(wrapper_path: str, parsed: dict) -> dict | None:
    """For a driver BENCH_r{N}.json (no ``queries_min``): read the
    git-tracked BENCH.json from the commit that introduced the wrapper —
    the driver's bench run wrote both in the same commit. An UNCOMMITTED
    wrapper (no git history yet — the judge's pre-commit compare, the
    r18 fix) falls back to the working-tree BENCH.json under the same
    same-run check. Returns the full BENCH.json dict only if it is
    verifiably the SAME run (totals match to the cent); None on any
    git/shape mismatch."""
    import os
    import subprocess

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    name = os.path.basename(wrapper_path)
    doc = None
    try:
        commit = subprocess.run(
            ["git", "log", "--format=%H", "-n", "1", "--", name],
            cwd=root, capture_output=True, text=True, check=True,
        ).stdout.strip()
        if commit:
            blob = subprocess.run(
                ["git", "show", f"{commit}:BENCH.json"],
                cwd=root, capture_output=True, text=True, check=True,
            ).stdout
            doc = json.loads(blob)
    except (subprocess.CalledProcessError, json.JSONDecodeError, OSError):
        doc = None
    if doc is None:
        # Wrapper absent from git history (or git unavailable): the run
        # that wrote it also wrote the repo-root BENCH.json — try the
        # working tree, gated by the identical same-run totals check.
        try:
            with open(os.path.join(root, "BENCH.json")) as fh:
                doc = json.load(fh)
        except (OSError, json.JSONDecodeError):
            return None
    if "queries_min" not in doc:
        return None
    if abs(doc.get("value", -1) - parsed.get("value", -2)) > 0.01:
        return None  # different run — do not silently mix
    return doc


def pick_series(old: dict, new: dict) -> tuple[dict, dict, str]:
    """min-vs-min when BOTH sides have it, else median-vs-median."""
    if "queries_min" in old and "queries_min" in new:
        return old["queries_min"], new["queries_min"], "min-of-n"
    return old["queries"], new["queries"], "median-of-n"


def latest_driver_bench() -> str:
    """Highest-numbered BENCH_r{N}.json next to the repo root."""
    import glob
    import os
    import re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    cands = glob.glob(os.path.join(root, "BENCH_r*.json"))
    num = lambda p: int(re.search(r"BENCH_r(\d+)", p).group(1))
    if not cands:
        raise SystemExit("no BENCH_r*.json driver artifact found")
    return max(cands, key=num)


def main() -> None:
    import os

    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    md = "--md" in sys.argv
    if len(args) == 0:
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        args = [latest_driver_bench(), os.path.join(root, "BENCH.json")]
    elif len(args) == 1:
        args = [latest_driver_bench(), args[0]]
    print(f"old={args[0]}  new={args[1]}", file=sys.stderr)
    old, new = load(args[0]), load(args[1])
    def with_recovered_min(doc: dict, path: str, side: str) -> dict:
        if "queries_min" in doc or "BENCH_r" not in os.path.basename(path):
            return doc
        rec = recover_min_from_git(path, doc)
        if rec is None:
            return doc
        print(
            f"{side}-side queries_min recovered from the git-tracked "
            f"BENCH.json at the {os.path.basename(path)} commit "
            f"(same-run totals verified)",
            file=sys.stderr,
        )
        return rec

    old = with_recovered_min(old, args[0], "old")
    new = with_recovered_min(new, args[1], "new")
    oq, nq, series = pick_series(old, new)
    # Raw min- and median-ratio maps for corroboration (r18, verdict
    # task 3): a 3-sample median inflates under intra-run spread (r17's
    # iteration totals ranged 1.9×), so min data — native or recovered —
    # corroborates or excuses any flagged mover below.
    min_ratio: dict[str, float] = {}
    if "queries_min" in old and "queries_min" in new:
        mo, mn = old["queries_min"], new["queries_min"]
        min_ratio = {
            q: mn[q] / mo[q]
            for q in set(mo) & set(mn)
            if mo[q] > 0 and mn[q] > 0
        }
    qo_med, qn_med = old.get("queries", {}), new.get("queries", {})
    med_ratio = {
        q: qn_med[q] / qo_med[q]
        for q in set(qo_med) & set(qn_med)
        if qo_med[q] > 0 and qn_med[q] > 0
    }

    rows = []
    # Name breaks ties, so equal times list in the same order whatever
    # the process's string-hash seed makes of the set.
    for name in sorted(set(oq) | set(nq), key=lambda q: (-nq.get(q, 0.0), q)):
        o, n = oq.get(name), nq.get(name)
        raw = n / o if o and n and o > 0 and n > 0 else None
        rows.append((name, o, n, raw))

    def in_noisy_band(name: str, n: float | None) -> bool:
        band = NOISY_BANDS.get(name)
        return band is not None and n is not None and band[0] <= n <= band[1]

    # Cross-series corroboration (r18, verdict task 3): a real code
    # regression shifts the WHOLE timing distribution, so a flagged
    # mover must read > x1.15 on EVERY available raw series (min AND
    # median) to gate. One series moving while the other is flat is
    # sampling noise: the r17 q19 shape (median x2.28, min x1.00 —
    # iteration spread inflating a 3-sample median) and its mirror
    # (token_percentiles min x1.22, median x0.99 — one lucky old-side
    # min). Excused movers print in the call-outs below, never gate.
    def series_corroborated(name: str) -> bool:
        for other in (min_ratio, med_ratio):
            if name in other and other[name] <= RAW_CORROBORATION:
                return False
        return True

    flagged = [
        (name, raw)
        for name, _, n, raw in rows
        if raw is not None and raw > REGRESSION_THRESHOLD
        and not in_noisy_band(name, n)
    ]
    worst = [(name, raw) for name, raw in flagged if series_corroborated(name)]
    # Movers flagged on the DISPLAYED series but excused by the other
    # series reading flat — informational, never gated.
    cross_excused = [
        (name, raw, min_ratio.get(name), med_ratio.get(name))
        for name, raw in flagged
        if not series_corroborated(name)
    ]
    excused_names = {name for name, *_ in cross_excused}
    # Median movers with a flat min that never flagged the displayed
    # series at all (min-of-n display hides them): same call-out class.
    median_jitter = sorted(
        (name, med_ratio[name], min_ratio[name])
        for name in med_ratio
        if name in min_ratio
        and name not in excused_names
        and med_ratio[name] > REGRESSION_THRESHOLD
        and min_ratio[name] <= RAW_CORROBORATION
        and not in_noisy_band(name, nq.get(name))
    )

    head = (
        f"series={series}; total {old['value']:.2f}s -> {new['value']:.2f}s "
        f"(x{new['value'] / old['value']:.2f})"
    )
    if md:
        print(f"# bench compare\n\n{head}\n")
        print("| query | old s | new s | raw |")
        print("|---|---:|---:|---:|")
        for name, o, n, raw in rows:
            f = lambda v, p="%.2f": (p % v) if v is not None else "-"
            print(f"| {name} | {f(o, '%.3f')} | {f(n, '%.3f')} | {f(raw)} |")
        if worst:
            print(f"\n**regressions > x{REGRESSION_THRESHOLD} raw:** "
                  + ", ".join(f"{n} (x{r:.2f})" for n, r in worst))
        else:
            print(f"\nNo query exceeds x{REGRESSION_THRESHOLD} raw.")
        if cross_excused:
            print("\n**cross-series-excused, other series flat (not "
                  "gated):** "
                  + ", ".join(
                      f"{n} (raw x{r:.2f}, min x{mn:.2f}, median x{md:.2f})"
                      for n, r, mn, md in cross_excused))
        if median_jitter:
            print("\n**median-jitter, min-corroborated flat (not "
                  "gated):** "
                  + ", ".join(f"{n} (median x{md_r:.2f}, min x{mn_r:.2f})"
                              for n, md_r, mn_r in median_jitter))
    else:
        print(head)
        print(f"{'query':34s} {'old':>8s} {'new':>8s} {'raw':>6s}")
        for name, o, n, raw in rows:
            f = lambda v, w=8: (f"%{w}.3f" % v) if v is not None else " " * (w - 1) + "-"
            fr = lambda v: (f"{v:6.2f}") if v is not None else "   n/a"
            print(f"{name:34s} {f(o)} {f(n)} {fr(raw)}")
        if worst:
            print(f"regressions > x{REGRESSION_THRESHOLD}: "
                  + ", ".join(f"{n} (x{r:.2f})" for n, r in worst))
        if cross_excused:
            print("cross-series-excused, other series flat (not gated): "
                  + ", ".join(
                      f"{n} (raw x{r:.2f}, min x{mn:.2f}, median x{md:.2f})"
                      for n, r, mn, md in cross_excused))
        if median_jitter:
            print("median-jitter, min-corroborated flat (not gated): "
                  + ", ".join(f"{n} (median x{md_r:.2f}, min x{mn_r:.2f})"
                              for n, md_r, mn_r in median_jitter))
    sys.exit(2 if worst else 0)


if __name__ == "__main__":
    main()
