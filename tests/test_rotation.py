"""Change-aware registry rotation (flink_streaming_2_10_spark/rotation.py):
never-driver-verified keys and implementation-changed-since-last-
driver-green keys share the FIRST tier (never-verified winning it via
last_seen = -1 — the r9 verdict's fix: zero evidence outranks stale
evidence), then least-recently-verified, then canonical order. A key's
fingerprint hashes only the definitions it uses, so the per-module
digest and the used-name walk are pinned here too."""

from __future__ import annotations

import ast
import importlib.util
import json
import subprocess
import sys

import pytest

import __spark_entry__ as em
from flink_streaming_2_10_spark import rotation

REPO = em.__file__.rsplit("/", 1)[0]


def _write_evidence(tmp_path, rounds: dict[int, list[str]]):
    for rnd, keys in rounds.items():
        (tmp_path / f"CORRECTNESS_r{rnd:02d}.json").write_text(
            json.dumps({k: {"hash_match": True} for k in keys})
        )


def _fingerprint():
    return rotation.fingerprinter(em._base_queries(), em.oracle_sql)


def test_ordering_changed_then_stalest_then_canonical(tmp_path):
    base = dict(em._base_queries())
    keys = list(base)
    a, b, c, d, e = keys[:5]
    # a,b seen r8; c,d seen r7; e never seen. d's implementation changed.
    _write_evidence(tmp_path, {7: [c, d], 8: [a, b]})
    fps = {k: _fingerprint()(k) for k in (a, b, c, d)}
    fps[d] = rotation.CHANGED_SENTINEL
    (tmp_path / "QUERY_FINGERPRINTS.json").write_text(json.dumps(fps))
    order = list(rotation.staleness_rotated(base, str(tmp_path), em.oracle_sql))
    # e (never recorded, zero driver evidence) wins the first tier over
    # d (changed-but-once-green); both precede the unchanged r7 pair;
    # a,b (r8-green, unchanged) last among these five.
    assert order[0] == e
    assert order.index(e) < order.index(d)
    assert order.index(d) < order.index(c)
    assert order.index(c) < order.index(a)
    assert order.index(c) < order.index(b)
    # Canonical tie-break within the same (changed, round) bucket:
    assert order.index(a) < order.index(b)
    assert set(order) == set(keys)


def test_missing_fingerprint_file_degrades_to_staleness(tmp_path):
    base = dict(em._base_queries())
    keys = list(base)
    a, b = keys[0], keys[1]
    _write_evidence(tmp_path, {8: [a]})  # a verified, everything else never
    order = list(rotation.staleness_rotated(base, str(tmp_path), em.oracle_sql))
    assert order[-1] == a
    assert order[0] == b


def test_fingerprints_are_stable_and_module_sensitive():
    fp = _fingerprint()
    fp1 = fp("keyword_search")
    fp2 = fp("keyword_search")
    assert fp1 == fp2 and fp1 is not None
    # Different implementing modules ⇒ different fingerprints.
    assert fp1 != fp("tpch_q1_pricing_summary")
    assert fp("not_a_query") is None


def test_fingerprints_are_distinct_across_the_registry():
    fp = _fingerprint()
    got = [fp(k) for k in em._base_queries()]
    assert None not in got
    assert len(set(got)) == len(got)


def test_closure_finds_implementing_modules():
    fn = em._base_queries()["incremental_neardup"]
    assert (
        "flink_streaming_2_10_spark.pipeline.neardup_index"
        in rotation.closure_modules(fn)
    )


def test_rotation_module_is_in_no_query_closure():
    """Editing the rotation must not re-flag any key: no query closure
    may reach it."""
    for key, fn in em._base_queries().items():
        assert rotation.__name__ not in rotation.closure_modules(fn), key


def test_update_tool_refreshes_only_driver_verified_keys(tmp_path):
    out = tmp_path / "fps.json"
    res = subprocess.run(
        [sys.executable, "tools/update_fingerprints.py", "--out", str(out)],
        capture_output=True, text=True, cwd=REPO,
    )
    assert res.returncode == 0, res.stderr
    got = json.loads(out.read_text())
    # Only keys recorded in the repo's LATEST CORRECTNESS round appear.
    last = dict(rotation.evidence_last_seen(REPO))
    latest = max(last.values())
    expect = {k for k, r in last.items() if r == latest}
    expect &= set(em._base_queries())
    assert set(got) == expect
    fp = _fingerprint()
    for k, v in got.items():
        assert v == fp(k)


def test_evidence_without_recorded_fingerprint_requeues(tmp_path):
    """r13 blind-spot fix: a key verified in the round AFTER the
    fingerprint file was last written (so it has driver evidence but NO
    recorded fingerprint) may have been edited since — nothing can
    attest the green row covers the current code, so it must compete in
    the changed tier, not ride its fresh evidence to the back."""
    base = dict.fromkeys(["a", "b", "c"], object())
    _write_evidence(tmp_path, {1: ["a", "b", "c"], 2: ["b"]})
    # fingerprint file exists (non-empty) but records only a and c:
    # b was verified at r2, after the file was written.
    (tmp_path / "QUERY_FINGERPRINTS.json").write_text(
        json.dumps({"a": "x", "c": "y"})
    )
    got = list(rotation.staleness_rotated(base, str(tmp_path), em.oracle_sql))
    # b leads despite having the FRESHEST evidence (tier 0, unattested);
    # a and c are unchanged-evidence keys ordered by staleness.
    assert got == ["b", "a", "c"]


def test_sentinel_flag_outranks_ripple_changed_but_not_never_verified(
    tmp_path,
):
    """r18 What's-wrong 2 fix: a shared-module edit can ripple many keys'
    fingerprints, and pure staleness then defers exactly the keys whose
    own operator source was edited. A force-flagged key (the
    --mark-changed sentinel) must therefore outrank ripple-flagged keys
    regardless of staleness — while never-verified keys still lead."""
    full = em._base_queries()
    a, b, c, d = list(full)[:4]
    base = {k: full[k] for k in (a, b, c, d)}
    # a: ripple-changed, stalest evidence (r1). b: sentinel, FRESHEST
    # evidence (r3). c: never verified. d: ripple-changed, r2.
    _write_evidence(tmp_path, {1: [a], 2: [d], 3: [b]})
    fp = _fingerprint()
    # a and d record a real fingerprint — each other's — so both land in
    # the changed tier with their own evidence rounds (1 and 2).
    stored = {a: fp(d), b: rotation.CHANGED_SENTINEL, d: fp(a)}
    (tmp_path / "QUERY_FINGERPRINTS.json").write_text(json.dumps(stored))
    last_seen = dict(rotation.evidence_last_seen(str(tmp_path)))
    tiers = {k: rotation.tier(k, last_seen, stored, fp) for k in base}
    assert tiers == {a: "changed", b: "changed", c: "never", d: "changed"}
    got = list(rotation.staleness_rotated(base, str(tmp_path), em.oracle_sql))
    # Without the sentinel's -0.5 rank, b (r3) would sort after a and d.
    assert got == [c, b, a, d]


def test_closure_includes_function_body_imports_and_is_deterministic():
    """r19 blind-spot fix: shard.py reaches pipeline.dedup/components
    only through imports INSIDE function bodies, which a vars(module)
    walk cannot see. The closure walk is source-level (ast over import
    statements), which also makes it independent of process import
    state, so a fresh interpreter computes the identical fingerprint."""
    c = rotation.closure_modules(em._base_queries()["curated_corpus_neardup"])
    assert any(m.endswith("pipeline.dedup") for m in c)
    assert any(m.endswith("pipeline.components") for m in c)
    code = (
        "import sys; sys.path.insert(0, %r); import __spark_entry__ as em; "
        "from flink_streaming_2_10_spark import rotation; "
        "print(rotation.fingerprinter(em._base_queries(), em.oracle_sql)"
        "('curated_corpus_neardup'))" % REPO
    )
    res = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True
    )
    assert res.returncode == 0, res.stderr
    assert res.stdout.strip() == _fingerprint()("curated_corpus_neardup")


def test_fingerprint_covers_rendered_oracle():
    """A key's fingerprint must change when ONLY its rendered oracle SQL
    changes, so oracle edits re-enter the driver window."""
    key = "stratified_sample"
    base = em._base_queries()
    rendered = dict(em.oracle_sql())
    rendered[key] += " -- tweak"
    tweaked = rotation.fingerprinter(base, lambda: rendered)
    assert tweaked(key) != _fingerprint()(key)
    assert tweaked("wordcount_rolling_sum") == _fingerprint()(
        "wordcount_rolling_sum"
    )


# --- per-module digest: residue + the definitions a key uses -----------

OLD = '''
"""doc"""
import os

LIMIT = 3


def keep(x):
    return x + LIMIT


def edited(x):
    return x * 2


def removed():
    return 1
'''

NEW_EDIT = OLD.replace("return x * 2", "return x * 3").replace(
    "def removed():\n    return 1\n", ""
) + "\n\ndef added(y):\n    return y\n"


def test_module_digest_tracks_edited_removed_added_used_defs_only():
    digest = rotation.module_digest
    # keep is byte-identical: a key using only keep is unaffected.
    assert digest(OLD, {"keep"}) == digest(NEW_EDIT, {"keep"})
    for name in ("edited", "removed", "added"):
        assert digest(OLD, {"keep", name}) != digest(NEW_EDIT, {"keep", name})


def test_module_digest_residue_change_detected():
    new = OLD.replace("LIMIT = 3", "LIMIT = 4")
    # module-level constants are hashed whatever the key uses
    assert rotation.module_digest(OLD, set()) != rotation.module_digest(
        new, set()
    )


def test_module_digest_decorator_edit_counts_as_def_change():
    src = "import functools\n\n@functools.lru_cache(maxsize=2)\ndef f():\n    return 1\n"
    new = src.replace("maxsize=2", "maxsize=9")
    assert rotation.module_digest(src, {"f"}) != rotation.module_digest(
        new, {"f"}
    )
    # the decorator belongs to the def, not to the residue
    assert rotation.module_digest(src, set()) == rotation.module_digest(
        new, set()
    )


def test_whitespace_only_module_change_keeps_digest():
    """A trailing-newline append outside any def leaves every def
    segment and the residue identical."""
    used = {"keep", "edited", "removed"}
    assert rotation.module_digest(OLD, used) == rotation.module_digest(
        OLD + "\n", used
    )


def test_names_in_sees_attributes_and_names():
    node = ast.parse("def f():\n    return pkg.helper(other(X))\n").body[0]
    names = rotation._names_in(node)
    assert {"pkg", "helper", "other", "X"} <= names


# --- fingerprints over a controlled closure -----------------------------

PROBE_A = "flink_streaming_2_10_spark.rotation_probe_a"
PROBE_B = "flink_streaming_2_10_spark.rotation_probe_b"

PROBE_A_SRC = '''
"""probe module A"""
from flink_streaming_2_10_spark.rotation_probe_b import base_value

LIMIT = 3


def helper(x):
    return _inner(x) + LIMIT


def _inner(x):
    return x + base_value()


def unrelated():
    return 0
'''

PROBE_B_SRC = "def base_value():\n    return 1\n"


def _probe_query(spark, sf_dir):
    import flink_streaming_2_10_spark.rotation_probe_a as probe

    return probe.helper(spark)


@pytest.fixture
def probe_sources(monkeypatch):
    """Module name → source for the probe modules; the rotation reads
    them instead of files. Caches that saw probe sources are cleared on
    both sides of the test."""
    caches = (
        rotation.query_fingerprint,
        rotation.closure_modules,
        rotation._module_pkg_imports,
        rotation._entry_walk,
    )
    sources = {PROBE_A: PROBE_A_SRC, PROBE_B: PROBE_B_SRC}
    monkeypatch.setattr(rotation, "_module_source", sources.get)

    def fingerprint():
        for c in caches:
            c.cache_clear()
        return rotation.query_fingerprint(_probe_query, "<oracle>")

    yield sources, fingerprint
    for c in caches:
        c.cache_clear()


def test_appending_unused_definition_keeps_fingerprint(probe_sources):
    sources, fingerprint = probe_sources
    assert rotation.closure_modules(_probe_query) == (PROBE_A, PROBE_B)
    before = fingerprint()
    sources[PROBE_A] = PROBE_A_SRC + "\n\ndef appended(y):\n    return y\n"
    assert fingerprint() == before
    sources[PROBE_A] = PROBE_A_SRC.replace("return 0", "return 1")
    assert fingerprint() == before  # unrelated is never reached
    # a definition reached only transitively (helper -> _inner) counts
    sources[PROBE_A] = PROBE_A_SRC.replace("return x + base", "return x - base")
    assert fingerprint() != before


def test_unparseable_closure_module_fails_closed(probe_sources):
    """A closure module that cannot be parsed or found hashes as an
    ``unparseable:<module>`` marker instead of silently dropping out of
    the fingerprint."""
    sources, fingerprint = probe_sources
    ok = fingerprint()
    sources[PROBE_B] = "def base_value(:\n"
    broken = fingerprint()
    assert broken != ok
    marker = f"unparseable:{PROBE_B}"
    assert rotation._module_part(PROBE_B, {"base_value"}) == marker
    assert PROBE_B in rotation.closure_modules(_probe_query)
    del sources[PROBE_B]
    assert fingerprint() == broken  # not found: the same marker
    sources[PROBE_B] = PROBE_B_SRC.replace("return 1", "return 2")
    assert fingerprint() not in (ok, broken)


def _load_entry(tmp_path, name: str, src: str):
    path = tmp_path / f"{name}.py"
    path.write_text(src)
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_entry_local_def_edit_is_a_change(tmp_path):
    """A key whose ONLY change is its entry-side q_* wrapper (or an
    entry helper it calls) must be flagged; entry residue is not part of
    any fingerprint."""
    old = (
        "X = 1\n"
        "def q_alpha(spark, sf):\n    return 1\n"
        "def _beta_helper():\n    return 2\n"
        "def q_beta(spark, sf):\n    return _beta_helper()\n"
    )
    new = old.replace("X = 1", "X = 2").replace("return 2", "return 99")
    v1 = _load_entry(tmp_path, "entry_v1", old)
    v2 = _load_entry(tmp_path, "entry_v2", new)
    fp = rotation.query_fingerprint
    assert fp(v1.q_alpha, "") == fp(v2.q_alpha, "")
    assert fp(v1.q_beta, "") != fp(v2.q_beta, "")
