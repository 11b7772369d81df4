"""Dedup pipeline tests: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Strategy (SURVEY.md §5.2): small hand-built corpora with known duplicate
structure + DuckDB cross-checks for the exact ops + recall/precision
properties for the probabilistic ops on the driver's documents table.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from flink_streaming_2_10_spark.catalog import load_table
from flink_streaming_2_10_spark.pipeline.caching import release_cached
from flink_streaming_2_10_spark.pipeline.dedup import (
    collapsed_posting_state,
    exact_dedup,
    minhash_dedup_pairs,
    minhash_lsh_candidates,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_fingerprints,
    simhash_neardup_pairs,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "The  quick brown FOX jumps over the lazy dog"),  # exact dup (normalized)
        (3, "the quick brown fox jumps over the lazy cat"),  # near dup of 1
        (4, "completely different content about spark engines"),
        (5, "completely different content about flink engines"),  # near dup of 4
        (6, "a b"),  # shorter than shingle width
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup_keeps_min_id(corpus):
    out = {r["doc_id"]: r["n_dups"] for r in exact_dedup(corpus).collect()}
    assert out[1] == 2  # docs 1 and 2 collapse, min id 1 survives
    assert 2 not in out
    assert out[3] == 1 and out[4] == 1 and out[5] == 1 and out[6] == 1


def test_ngram_jaccard_exact_vs_duckdb(corpus):
    # max_df=None: exact over ALL grams (the production default prunes
    # grams above the 20%-of-corpus document-frequency cap);
    # collapse_exact=False: the EXHAUSTIVE all-pairs form this
    # independent DuckDB query computes (the star form is covered by
    # test_ngram_star_form_matches_exhaustive_closure)
    got = ngram_jaccard_pairs(
        corpus, n=1, threshold=0.5, max_df=None, collapse_exact=False
    )
    rows = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in got.collect()}
    pdf = corpus.toPandas()
    con = duckdb.connect()
    con.register("documents", pdf)
    want = con.sql("""
        WITH t AS (
          SELECT doc_id, unnest(list_distinct(list_filter(
                 regexp_split_to_array(lower(text),'\\W+'), w -> length(w)>0))) AS tok
          FROM documents),
        s AS (SELECT doc_id, count(*) sz FROM t GROUP BY 1),
        i AS (SELECT a.doc_id da, b.doc_id db, count(*) inter
              FROM t a JOIN t b ON a.tok=b.tok AND a.doc_id<b.doc_id GROUP BY 1,2)
        SELECT da, db, inter*1.0/(sa.sz+sb.sz-inter) j
        FROM i JOIN s sa ON i.da=sa.doc_id JOIN s sb ON i.db=sb.doc_id
        WHERE inter*1.0/(sa.sz+sb.sz-inter) >= 0.5
    """).fetchall()
    assert rows == {(a, b): j for a, b, j in want}
    assert (1, 3) in rows  # the planted near-dup must surface


def test_ngram_jaccard_shingles_short_doc_ok(corpus):
    # doc 6 has < 3 words: must yield no shingles, not a descending-sequence crash
    out = ngram_jaccard_pairs(corpus, n=3, threshold=0.1).collect()
    assert all(6 not in (r["doc_a"], r["doc_b"]) for r in out)


def test_ngram_jaccard_max_df_prunes(corpus):
    # "the" appears in docs 1,2,3 — with max_df=2 it can't contribute.
    # collapse_exact=False so document frequencies count DOCS (the
    # duplicate-robust default counts distinct texts, under which "the"
    # has df 2 here and survives a cap of 2 — see the test below).
    full = ngram_jaccard_pairs(
        corpus, n=1, threshold=0.0, max_df=None, collapse_exact=False
    )
    pruned = ngram_jaccard_pairs(
        corpus, n=1, threshold=0.0, max_df=2, collapse_exact=False
    )
    f = {(r["doc_a"], r["doc_b"]): r["inter"] for r in full.collect()}
    p = {(r["doc_a"], r["doc_b"]): r["inter"] for r in pruned.collect()}
    assert p.get((1, 3), 0) < f[(1, 3)]


def test_ngram_jaccard_collapsed_df_is_duplicate_robust(corpus):
    """With the default collapse, document frequency counts DISTINCT
    texts: docs 1 and 2 are one class, so "the" has df 2 (reps 1, 3) and
    survives max_df=2 — an identical-text flood can no longer push real
    grams over the prune cap."""
    pruned = ngram_jaccard_pairs(corpus, n=1, threshold=0.0, max_df=2)
    p = {(r["doc_a"], r["doc_b"]): r["inter"] for r in pruned.collect()}
    full = ngram_jaccard_pairs(corpus, n=1, threshold=0.0, max_df=None,
                               collapse_exact=False)
    f = {(r["doc_a"], r["doc_b"]): r["inter"] for r in full.collect()}
    assert p[(1, 3)] == f[(1, 3)]  # nothing pruned at rep-level df
    assert p[(1, 2)] == f[(1, 2)]  # star edge carries the full set size


@pytest.mark.parametrize("hasher", ["xxhash64", "md5"])
def test_minhash_similar_sigs_agree_more(corpus, hasher):
    sigs = {
        r["doc_id"]: r["sig"]
        for r in minhash_signatures(
            corpus, num_hashes=32, shingle_n=1, hasher=hasher
        ).collect()
    }
    agree = lambda a, b: sum(x == y for x, y in zip(sigs[a], sigs[b]))
    assert agree(1, 2) == 32  # identical token sets → identical signatures
    assert agree(1, 3) > agree(1, 4)  # near-dup agrees more than unrelated


def test_minhash_lsh_surfaces_near_dups(corpus):
    sigs = minhash_signatures(corpus, num_hashes=32, shingle_n=1)
    cands = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_candidates(sigs, bands=16, rows=2).collect()
    }
    assert (1, 2) in cands and (1, 3) in cands


def test_minhash_end_to_end_verifies_jaccard(corpus):
    out = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in minhash_dedup_pairs(
            corpus, num_hashes=32, bands=16, rows=2, shingle_n=1, threshold=0.7
        ).collect()
    }
    assert out[(1, 2)] == 1.0
    assert (1, 3) in out and out[(1, 3)] >= 0.7
    assert all(j >= 0.7 for j in out.values())  # verify step enforces exactness


def test_minhash_recall_on_testdata(spark):
    """LSH recall vs ground truth on the driver's corpus: every planted
    3-gram near-dup pair (jaccard ≥ 0.7) must be surfaced with 32x4 bands."""
    docs = load_table(spark, SF_DIR, "documents")
    truth = {
        (r["doc_a"], r["doc_b"])
        for r in ngram_jaccard_pairs(docs, n=3, threshold=0.7).collect()
    }
    got = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_dedup_pairs(
            docs, num_hashes=128, bands=32, rows=4, shingle_n=3, threshold=0.7
        ).collect()
    }
    assert truth, "testdata should contain planted near-dups"
    recall = len(truth & got) / len(truth)
    assert recall >= 0.9
    assert got <= truth  # precision 1.0 by construction (verify step)


@pytest.mark.parametrize("hasher,bits", [("xxhash64", 64), ("md5", 60)])
def test_simhash_hamming_orders_similarity(corpus, hasher, bits):
    fps = simhash_fingerprints(corpus, bits=bits, hasher=hasher)
    vals = {r["doc_id"]: r["simhash"] for r in fps.collect()}
    ham = lambda a, b: bin((vals[a] ^ vals[b]) & ((1 << 64) - 1)).count("1")
    assert ham(1, 2) == 0  # same token multiset → same fingerprint
    assert ham(1, 3) < ham(1, 4)


def test_simhash_neardup_pairs_pigeonhole(corpus):
    fps = simhash_fingerprints(corpus)
    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_neardup_pairs(fps, max_hamming=3, chunks=4).collect()
    }
    assert pairs[(1, 2)] == 0
    # exhaustive check: every pair under the threshold is found
    vals = {r["doc_id"]: r["simhash"] for r in fps.collect()}
    ids = sorted(vals)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            h = bin((vals[a] ^ vals[b]) & ((1 << 64) - 1)).count("1")
            assert ((a, b) in pairs) == (h <= 3), (a, b, h)


def test_ngram_jaccard_fractional_max_df_engages(spark):
    # Stop-token-heavy fixture: three tokens appear in EVERY doc. The
    # fractional default (20% of corpus -> cap 2 here) must prune them via
    # the broadcast anti-join, leaving no shared grams at all.
    rows = [
        (i, f"the common filler word{i} unique{i} thing{i}") for i in range(10)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pruned = ngram_jaccard_pairs(df, n=1, threshold=0.0, max_df=0.2)
    assert pruned.count() == 0  # every shared token was a stop token
    full = ngram_jaccard_pairs(df, n=1, threshold=0.0, max_df=None)
    assert full.count() == 45  # all 10·9/2 pairs share the stop tokens


def test_minhash_banding_mismatch_fails_fast(spark, corpus):
    # Composition-level check: bands*rows must equal num_hashes.
    with pytest.raises(ValueError, match="bands\\*rows"):
        minhash_dedup_pairs(corpus, num_hashes=32, bands=16, rows=4)
    # Expression-level guard: candidates over a mismatched signature raise
    # at execution instead of silently corrupting band buckets. Under ANSI
    # the out-of-range element_at itself throws first; under non-ANSI the
    # assert_true guard catches what would otherwise be silent NULLs —
    # either way the job fails loudly.
    sigs = minhash_signatures(corpus, num_hashes=32, shingle_n=1)
    with pytest.raises(
        Exception, match="signature length|ArrayIndexOutOfBounds|INVALID_ARRAY_INDEX"
    ):
        minhash_lsh_candidates(sigs, bands=16, rows=4).collect()
    # Without ANSI an out-of-range element_at is a silent NULL, so only
    # the guard itself can fail the job.
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        with pytest.raises(Exception, match="signature length"):
            minhash_lsh_candidates(sigs, bands=16, rows=4).collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)


def test_shared_state_parameter_mismatch_raises(corpus):
    state = collapsed_posting_state(corpus, shingle_n=3, hasher="md5")
    with pytest.raises(ValueError, match="shingle_n, hasher"):
        minhash_dedup_pairs(
            corpus, num_hashes=32, bands=8, rows=4, shingle_n=2,
            hasher="md5", shared_state=state,
        )
    with pytest.raises(ValueError, match="shingle_n, hasher"):
        minhash_dedup_pairs(
            corpus, num_hashes=32, bands=8, rows=4, shingle_n=3,
            hasher="xxhash64", shared_state=state,
        )
    with pytest.raises(ValueError, match="shingle_n, hasher"):
        ngram_jaccard_pairs(corpus, n=1, hasher="md5", shared_state=state)
    # Matching parameters are accepted.
    ngram_jaccard_pairs(corpus, n=3, max_df=None, hasher="md5", shared_state=state)
    release_cached()


def test_minhash_pair_plan_builds_in_few_py4j_calls(spark, corpus, monkeypatch):
    """Building the pair plan is driver work only: no job, and one py4j
    command per SQL expression string rather than several per Column
    node. With a Column tree for each of the 32 mins and each band slot
    the build sent 4,475 commands."""
    from py4j import protocol

    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    sent: list[str] = []

    def counting(command, *args, **kwargs):
        # Memory commands free Python-side proxies as the garbage
        # collector finds them: their number is not plan work.
        if not command.startswith(protocol.MEMORY_COMMAND_NAME):
            sent.append(command)
        return send(command, *args, **kwargs)

    tracker = spark.sparkContext.statusTracker()
    spark.sparkContext.setJobGroup("pair-plan-build", "pair plan build")
    try:
        monkeypatch.setattr(client, "send_command", counting)
        minhash_dedup_pairs(
            corpus, num_hashes=32, bands=8, rows=4, shingle_n=3,
            threshold=0.7, hasher="md5",
        )
        monkeypatch.undo()
        assert tracker.getJobIdsForGroup("pair-plan-build") == []
    finally:
        spark.sparkContext.setJobGroup(None, None)
        release_cached()
    assert len(sent) < 4475 // 2, len(sent)


def test_ngram_jaccard_unpruned_refused_at_scale(spark, monkeypatch):
    """max_df=None (no stop-gram pruning) must refuse above the corpus
    ceiling instead of launching an unbounded Σdf² self-join."""
    from flink_streaming_2_10_spark.pipeline import dedup as dd

    distinct = spark.createDataFrame(
        [(i, f"distinct text number {i}") for i in range(10)],
        ["doc_id", "text"],
    )
    monkeypatch.setattr(dd, "MAX_UNPRUNED_DOCS", 5)
    with pytest.raises(ValueError, match="max_df=None"):
        dd.ngram_jaccard_pairs(distinct, n=1, threshold=0.0, max_df=None)
    # an identical-text flood does NOT trip the ceiling under the default
    # collapse: the join risk scales with DISTINCT texts, and 10 copies
    # are one representative
    same = spark.createDataFrame(
        [(i, "the same text") for i in range(10)], ["doc_id", "text"]
    )
    # 9 star edges from the single class — linear, not 45 pairs
    assert dd.ngram_jaccard_pairs(same, n=1, threshold=0.0, max_df=None).count() == 9
    # below the ceiling the exhaustive form still works (oracle replay)
    monkeypatch.setattr(dd, "MAX_UNPRUNED_DOCS", 100)
    assert dd.ngram_jaccard_pairs(
        same, n=1, threshold=0.0, max_df=None, collapse_exact=False
    ).count() == 45


# ---------------------------------------------------------------------------
# hot-bucket hardening: identical-text classes must stay LINEAR
# ---------------------------------------------------------------------------


def test_minhash_identical_class_output_is_linear(spark):
    """The 100 TB scale guard (VERDICT r6 top item): a planted cluster of
    m identical documents must produce m−1 star edges, not C(m,2) pairs —
    the band self-join runs over ONE representative per distinct text, so
    an identical-text class can never make it quadratic."""
    m = 10_000
    rows = [(i, "templated boilerplate page about nothing in particular")
            for i in range(m)]
    rows += [(m, "a genuinely different document about spark physical plans"),
             (m + 1, "a genuinely different document about flink physical plans")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = minhash_dedup_pairs(
        df, num_hashes=32, bands=16, rows=2, shingle_n=1, threshold=0.7
    ).collect()
    star = [(r["doc_a"], r["doc_b"]) for r in out if r["jaccard"] == 1.0
            and r["doc_a"] == 0]
    # exactly m−1 star edges from the min-id representative, never m²
    assert len(star) == m - 1
    assert {b for _, b in star} == set(range(1, m))
    # the near-dup rep pair between the two distinct docs still surfaces
    assert (m, m + 1) in {(r["doc_a"], r["doc_b"]) for r in out}
    # total output is linear in the class size
    assert len(out) <= (m - 1) + 5


def test_minhash_collapse_preserves_transitive_closure(corpus):
    """Star-form pairs must resolve to the SAME clusters as the
    exhaustive all-pairs output — the contract every downstream consumer
    (connected_components, dedup_canonical, curate_corpus_neardup)
    relies on."""
    from flink_streaming_2_10_spark.pipeline.components import (
        connected_components,
    )

    kw = dict(num_hashes=32, bands=16, rows=2, shingle_n=1, threshold=0.7)
    full = minhash_dedup_pairs(corpus, collapse_exact=False, **kw)
    star = minhash_dedup_pairs(corpus, collapse_exact=True, **kw)
    comp_of = lambda pairs: {
        (r["node"], r["component"])
        for r in connected_components(pairs).collect()
    }
    assert comp_of(full) == comp_of(star)


def test_minhash_hot_bucket_cap_drops_oversized_buckets(spark):
    """Deterministic whole-bucket drop: near-identical (NOT exact-equal)
    templated docs flood the band buckets; with a small cap the flood's
    pairs vanish while an unrelated well-behaved near-dup pair survives
    in its own small bucket."""
    # 40 docs sharing 12 common tokens, each with one unique token:
    # distinct normalized texts (no exact collapse), near-identical sigs.
    common = "alpha beta gamma delta epsilon zeta eta theta iota kappa mu nu"
    rows = [(i, f"{common} unique{i}") for i in range(40)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    kw = dict(num_hashes=32, bands=16, rows=2, shingle_n=1, threshold=0.5)
    uncapped = minhash_dedup_pairs(df, max_bucket_size=None, **kw).count()
    capped = minhash_dedup_pairs(df, max_bucket_size=5, **kw).count()
    assert uncapped > 0
    assert capped < uncapped


def test_simhash_identical_class_output_is_linear(spark):
    """Same guard for the SimHash pigeonhole join: m identical
    fingerprints → m−1 star edges with hamming 0, not C(m,2)."""
    m = 5_000
    rows = [(i, "templated boilerplate page about nothing in particular")
            for i in range(m)]
    rows += [(m, "an unrelated document concerning entirely other matters")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    fps = simhash_fingerprints(df, shingle_n=1)
    out = simhash_neardup_pairs(fps, max_hamming=3, chunks=4).collect()
    star = [(r["doc_a"], r["doc_b"]) for r in out if r["hamming"] == 0]
    assert len(star) == m - 1
    assert all(a == 0 for a, _ in star)


def test_simhash_collapse_matches_exhaustive_closure(corpus):
    """Star-form SimHash pairs connect exactly the node sets the
    exhaustive mode connects."""
    from flink_streaming_2_10_spark.pipeline.components import (
        connected_components,
    )

    fps = simhash_fingerprints(corpus)
    full = simhash_neardup_pairs(fps, max_hamming=3, chunks=4,
                                 collapse_identical=False)
    star = simhash_neardup_pairs(fps, max_hamming=3, chunks=4,
                                 collapse_identical=True)
    comp_of = lambda pairs: {
        (r["node"], r["component"])
        for r in connected_components(pairs).collect()
    }
    assert comp_of(full) == comp_of(star)


def test_ngram_star_form_matches_exhaustive_closure(corpus):
    """ngram star-form pairs resolve to the same clusters as the
    exhaustive all-pairs output, and rep-level pair values are identical."""
    from flink_streaming_2_10_spark.pipeline.components import (
        connected_components,
    )

    kw = dict(n=1, threshold=0.5, max_df=None)
    full = ngram_jaccard_pairs(corpus, collapse_exact=False, **kw)
    star = ngram_jaccard_pairs(corpus, collapse_exact=True, **kw)
    comp_of = lambda pairs: {
        (r["node"], r["component"])
        for r in connected_components(pairs).collect()
    }
    assert comp_of(full) == comp_of(star)
    # values on pairs common to both forms are bit-identical
    f = {(r["doc_a"], r["doc_b"]): (r["inter"], r["size_a"], r["size_b"], r["jaccard"])
         for r in full.collect()}
    s = {(r["doc_a"], r["doc_b"]): (r["inter"], r["size_a"], r["size_b"], r["jaccard"])
         for r in star.collect()}
    for k in set(f) & set(s):
        assert f[k] == s[k], k


def test_ngram_identical_class_output_is_linear(spark):
    """The posting self-join guard: m identical docs share EVERY gram —
    uncollapsed that is m² join rows per gram; collapsed it is m−1 star
    edges total."""
    m = 5_000
    rows = [(i, "templated boilerplate page about nothing in particular")
            for i in range(m)]
    rows += [(m, "some entirely different words appear in this one")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = ngram_jaccard_pairs(df, n=1, threshold=0.5, max_df=None).collect()
    assert len(out) == m - 1
    assert all(r["doc_a"] == 0 and r["jaccard"] == 1.0 for r in out)
    # star values carry the true gram-set size
    assert all(r["inter"] == r["size_a"] == r["size_b"] > 0 for r in out)


def test_ngram_containment_catches_embedded_doc(spark):
    """Containment's reason to exist: a short doc verbatim-embedded in a
    much longer one has low Jaccard but containment 1.0."""
    from flink_streaming_2_10_spark.pipeline.dedup import (
        ngram_containment_pairs,
    )

    core = "the quick brown fox jumps over the lazy dog near the river bank"
    filler = " ".join(f"filler{i} padding{i} extra{i}" for i in range(30))
    rows = [
        (1, core),
        (2, f"{filler} {core}"),  # core embedded in 10x the text
        (3, "entirely unrelated content about database query planning"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    cont = {
        (r["doc_a"], r["doc_b"]): r["containment"]
        for r in ngram_containment_pairs(
            df, n=3, threshold=0.9, max_df=None
        ).collect()
    }
    assert cont.get((1, 2)) == 1.0  # every 3-gram of doc 1 is in doc 2
    assert all(3 not in k for k in cont)
    # Jaccard at the same threshold misses it entirely
    jac = ngram_jaccard_pairs(df, n=3, threshold=0.9, max_df=None).collect()
    assert all((r["doc_a"], r["doc_b"]) != (1, 2) for r in jac)


def test_ngram_containment_star_and_oracle(spark, duck):
    """Exact-dup star rows score containment 1.0, and the registry query
    hash-matches its DuckDB oracle."""
    import __spark_entry__ as entrymod
    from tests.conftest import SF_SMALL, assert_df_matches_oracle

    got = entrymod.queries()["dedup_containment"](spark, SF_SMALL)
    assert_df_matches_oracle(
        got, duck, entrymod.oracle_sql()["dedup_containment"]
    )


def test_scoped_dedup_collapses_within_scope_only(spark):
    from flink_streaming_2_10_spark.pipeline.dedup import (
        exact_dedup_scoped,
    )

    docs = spark.createDataFrame(
        [
            (1, "Same  Page", "crawl_a"),
            (2, "same page",  "crawl_a"),   # dup of 1 within scope
            (3, "same page",  "crawl_b"),   # same text, OTHER scope
            (4, "original",   "crawl_b"),
        ],
        "doc_id long, text string, source string",
    )
    got = {
        (r["scope"], r["doc_id"]): r["n_dups"]
        for r in exact_dedup_scoped(docs, scope_col="source").collect()
    }
    # Within crawl_a the pair collapses to min-id 1 with 2 copies;
    # crawl_b's identical text survives independently.
    assert got == {
        ("crawl_a", 1): 2,
        ("crawl_b", 3): 1,
        ("crawl_b", 4): 1,
    }
