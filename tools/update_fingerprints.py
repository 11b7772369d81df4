"""Refresh QUERY_FINGERPRINTS.json — the change-aware half of the
query-registry rotation (``flink_streaming_2_10_spark/rotation.py``).

Contract: ``QUERY_FINGERPRINTS.json`` maps each query key to the source
fingerprint (``rotation.query_fingerprint``) of its
implementation AS OF ITS LAST DRIVER VERIFICATION. The rotation flags a
key whose current fingerprint differs and sorts it into the driver's
50-row correctness window, so modified code is re-verified the same
round it changes (the r8 verdict's rotation gap).

Run this AT ROUND START, before touching any code. At that moment the
working tree is exactly the code the previous round's driver run tested
(the driver commits all work, then runs correctness), so for every key
recorded in the newest ``CORRECTNESS_r*.json`` the current fingerprint
IS the at-verification fingerprint — those keys are refreshed; keys the
driver deferred keep their older entries, so an edited-then-deferred
key stays flagged until a driver run actually re-verifies it. No window
simulation or fixpoint is needed: verification evidence, not a
prediction, drives every update.

Usage:
    python tools/update_fingerprints.py              # round-start refresh
    python tools/update_fingerprints.py --all        # bootstrap: all keys
    python tools/update_fingerprints.py --mark-changed KEY [KEY...]
        # force-flag keys whose code is known to have drifted from the
        # recorded verification (e.g. bootstrap mid-round after edits)
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--repo", default=REPO)
    ap.add_argument("--out", default=None)
    ap.add_argument(
        "--all", action="store_true",
        help="refresh every key (bootstrap), not just driver-verified ones",
    )
    ap.add_argument("--mark-changed", nargs="*", default=[])
    args = ap.parse_args()
    repo = os.path.abspath(args.repo)
    out = args.out or os.path.join(repo, "QUERY_FINGERPRINTS.json")

    sys.path.insert(0, repo)
    import __spark_entry__ as em
    from flink_streaming_2_10_spark import rotation

    base = em._base_queries()
    keys = list(base)
    fingerprint = rotation.fingerprinter(base, em.oracle_sql)
    last_seen = dict(rotation.evidence_last_seen(repo))
    latest_round = max(last_seen.values(), default=-1)
    verified_now = {k for k, r in last_seen.items() if r == latest_round}

    stored: dict[str, str] = {}
    try:
        with open(out) as fh:
            raw = json.load(fh)
        stored = {
            k: (v["fp"] if isinstance(v, dict) else v) for k, v in raw.items()
        }
    except (OSError, ValueError):
        pass

    updated, kept, flagged = [], [], []
    for k in keys:
        if k in args.mark_changed:
            stored[k] = rotation.CHANGED_SENTINEL
            flagged.append(k)
        elif args.all or k in verified_now:
            fp = fingerprint(k)
            if fp is not None:
                stored[k] = fp
                updated.append(k)
        elif k in stored:
            kept.append(k)
    unknown = set(args.mark_changed) - set(keys)
    if unknown:
        raise SystemExit(f"--mark-changed keys not in registry: {unknown}")
    # Drop entries for keys no longer in the registry.
    stored = {k: v for k, v in stored.items() if k in keys}

    with open(out, "w") as fh:
        json.dump(stored, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(
        f"wrote {out}: {len(updated)} refreshed (driver round {latest_round}"
        f"{' / --all' if args.all else ''}), {len(kept)} kept, "
        f"{len(flagged)} force-flagged, {len(keys) - len(stored)} absent"
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
