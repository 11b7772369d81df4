"""Print the driver's NEXT correctness window (the first 50 registry
keys after change-aware rotation) with the tier that put each key there
— the mechanical audit behind COVERAGE.md's "window arithmetic"
paragraphs, so round notes never drift from what the rotation will
actually submit.

Tiers, in sort order (``flink_streaming_2_10_spark.rotation.tier``):

* ``never``   — no driver evidence in any CORRECTNESS_r*.json;
* ``no-fp``   — evidence exists but no fingerprint was recorded for it
  (verified after QUERY_FINGERPRINTS.json was last written; cannot
  attest the green row covers current code — r13 blind-spot fix);
* ``changed`` — recorded fingerprint differs from the current source;
* ``stale rN``— unchanged since its last green row at round N
  (fills the window's remaining slots, oldest first).

Run: python tools/verify_window.py [window_size]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    window = int(sys.argv[1]) if len(sys.argv) > 1 else 50

    import __spark_entry__ as em
    from flink_streaming_2_10_spark import rotation

    here = os.path.dirname(os.path.abspath(em.__file__))
    last_seen = dict(rotation.evidence_last_seen(here))
    stored = dict(rotation.stored_fingerprints(here))
    fingerprint = rotation.fingerprinter(em._base_queries(), em.oracle_sql)

    def tier(k: str) -> str:
        return rotation.tier(k, last_seen, stored, fingerprint)

    order = list(em.queries())
    counts: dict[str, int] = {}
    for i, k in enumerate(order[:window]):
        t = tier(k)
        counts[t] = counts.get(t, 0) + 1
        print(f"{i + 1:3d}  {t:10s} {k}")
    deferred = order[window:]
    print(
        f"\nwindow {window}/{len(order)} — "
        + ", ".join(f"{t}: {n}" for t, n in sorted(counts.items()))
        + f"; deferred: {len(deferred)}"
    )
    # Invariant the rotation exists to provide: nothing outside the
    # window needs re-verification.
    leaked = [k for k in deferred if tier(k) in rotation.NEEDS_VERIFICATION]
    if leaked:
        print(f"WARNING: needs-verification keys DEFERRED: {leaked}")
        sys.exit(1)
    print("ok: every needs-verification key is inside the window")


if __name__ == "__main__":
    main()
