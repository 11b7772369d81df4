"""Duplicate-cluster resolution: candidate pairs → connected components →
one canonical document per cluster.

Every pair-producing dedup operator in :mod:`pipeline.dedup` (n-gram
Jaccard, MinHash+LSH, SimHash) and :mod:`pipeline.similarity`
(``cosine_neardup_pairs``) emits *edges*; an actual dedup pass must delete
all-but-one document per *transitive* duplicate cluster (A~B and B~C must
collapse A,B,C even when A~C was never emitted). That closure is connected
components over the pair graph.

Algorithm: size-adaptive. At or below ``DRIVER_SOLVE_MAX_EDGES`` edges the
components are solved by a one-pass driver-side union-find over a single
Arrow collect (near-dup pair graphs are ≪ corpus by construction, so this
is the common case; the per-round scheduling cost of a distributed loop
dwarfs a linear sweep at that size — the same cost-model reasoning behind
broadcast joins). Above the cap: distributed min-label propagation with
pointer jumping.

* State is one ``(node, label)`` row per distinct node in the edge list;
  labels start as the node's own id and only ever decrease, so the fixed
  point assigns every node the MINIMUM id in its component.
* Each round does (1) a FRONTIER neighbor step — nodes whose label
  dropped last round offer it to their neighbors (one shuffle join
  edge⋈frontier + one hash agg; settled nodes' offers are redundant, so
  the O(E) term shrinks to the frontier's adjacency) — and (2) a
  pointer-jumping step — ``label ← min(label, label(label))`` (one
  self-join on the label table, O(V)). Neighbor steps alone
  converge in O(diameter) rounds; the jump step contracts label chains
  geometrically, giving O(log n) rounds even on pathological path-shaped
  graphs (the same contraction idea as the large-star/small-star
  MapReduce algorithm of Kiveris et al., "Connected Components in
  MapReduce and Beyond", SoCC'14).
* Per round the driver runs ONE job: a lazy ``localCheckpoint`` whose
  materializing action is the convergence probe (count of the round's
  own ``changed`` flags; zero ⇒ fixed point, detected IN the converged
  round — no extra confirm round). Both label and edge tables
  carry only 8-byte ids: at 100 TB of documents the edge list is the
  near-dup pair set (≪ corpus) and the label table is 16 bytes × nodes —
  the document bodies never enter the loop. On a real cluster pass
  ``checkpoint="reliable"`` (dir-based ``checkpoint()`` after
  ``spark.sparkContext.setCheckpointDir``) for fault tolerance;
  semantics are identical to the default ``localCheckpoint``.

Duplicate-cluster graphs in practice are near-cliques (every member pairs
with most others), so typical convergence is 2–3 rounds; the jump step is
insurance against adversarial chains (A~B~C~… transitive near-dup drift).

No reference counterpart (the reference has no dedup surface); this is a
north-star extension per SURVEY.md §7.2 item 9.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from flink_streaming_2_10_spark.operators.iterate import iterate, truncate_lineage


#: Default edge cap for the driver-side union-find shortcut: below this
#: many (symmetrized) edges the component structure is solved on the
#: driver in one pass instead of launching the iterative loop. 1M edges
#: is ~16 MB over Arrow — the same order as a broadcast-join side — and
#: pure-Python union-find with path compression handles it in well under
#: a second, versus one multi-stage distributed job PER ROUND. Duplicate
#: pair graphs are tiny relative to their corpus by construction (pairs
#: are the near-dup set), so this is the common case even at large SF;
#: the distributed loop remains the unbounded-scale path.
DRIVER_SOLVE_MAX_EDGES = 1_000_000


def _driver_union_find(src, dst) -> dict[int, int]:
    """Min-id union-find over edge arrays: attach the larger root under
    the smaller, so every root IS its component's minimum id — the same
    fixed point the distributed loop converges to. Path compression
    keeps it effectively linear."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # compress
            parent[x], x = root, parent[x]
        return root

    for s, d in zip(src, dst):
        if s not in parent:
            parent[s] = s
        if d not in parent:
            parent[d] = d
        rs, rd = find(s), find(d)
        if rs != rd:
            if rs < rd:
                parent[rd] = rs
            else:
                parent[rs] = rd
    return {n: find(n) for n in parent}


def _small_result_df(session, mapping: dict[int, int], schema: str):
    """Broadcast-hinted DataFrame from a driver-solved {key: value} map.
    The EXPLICIT schema matters: an empty mapping (clean corpus, no
    pairs; no reachable nodes) must yield an empty frame, and schema
    inference on an empty pandas frame raises CANNOT_INFER_EMPTY_SCHEMA."""
    import pandas as pd

    cols = [c.split()[0] for c in schema.split(",")]
    pdf = pd.DataFrame(
        {
            cols[0]: pd.Series(list(mapping.keys()), dtype="int64"),
            cols[1]: pd.Series(list(mapping.values()), dtype="int64"),
        }
    )
    return F.broadcast(session.createDataFrame(pdf, schema=schema))


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_rounds: int = 25,
    checkpoint: str = "local",
    stats: dict | None = None,
    resume_dir: str | None = None,
    driver_solve_max_edges: int | None = None,
) -> DataFrame:
    """``(node, component)`` for every node appearing in ``pairs``;
    ``component`` is the minimum node id reachable through the pair graph.
    ``resume_dir`` makes the loop driver-loss durable (see
    ``operators.iterate.iterate``).

    ``max_rounds`` bounds the driver loop; with pointer jumping the round
    count is O(log n), so 25 covers any realistic graph (2^25 nodes on a
    pure path). Raises ``RuntimeError`` if the labels have not stabilized
    within the bound rather than returning a partial closure.

    ``checkpoint`` selects lineage truncation: ``"local"`` (executor-disk
    ``localCheckpoint`` — fastest, fine single-JVM) or ``"reliable"``
    (dir-based ``checkpoint()`` — survives executor loss; the caller must
    have called ``spark.sparkContext.setCheckpointDir`` first, which is
    the cluster-mode deployment step). ``stats``, when a dict, receives
    ``{"rounds": N}`` on return — observability for convergence tests.

    ``driver_solve_max_edges``: edge sets at or below this cap (after
    symmetrize+distinct) are solved by a single driver-side union-find
    over one Arrow collect — the iterative loop's per-round job overhead
    dwarfs a one-pass solve on small graphs, the same size-based
    operator choice Spark's planner makes for broadcast joins. The cap
    bounds driver memory (16 bytes/edge over Arrow at the default 1M).
    ``0`` disables the shortcut; it is also skipped when ``resume_dir``
    is set (durability implies the long-running distributed path).
    ``stats["rounds"]`` is 0 and ``stats["driver_solved"]`` True when it
    engages. ``None`` (the default) resolves to the module's
    ``DRIVER_SOLVE_MAX_EDGES`` at CALL time, so tooling (plan_audit)
    can force the distributed path process-wide by patching the module
    attribute.
    """
    if driver_solve_max_edges is None:
        driver_solve_max_edges = DRIVER_SOLVE_MAX_EDGES
    e = pairs.select(
        F.col(a_col).cast("long").alias("src"),
        F.col(b_col).cast("long").alias("dst"),
    )
    # Symmetrize in ONE pass over the pairs: an inline over a two-struct
    # array emits (src, dst) and (dst, src) per row. A union of `e` with
    # its own swapped projection would run every stage of the pair
    # pipeline once per branch (dedup_components' build: 31 jobs, against
    # 19 this way and 18 to collect the pairs alone). distinct() collapses
    # multi-edges from overlapping dedup detectors so every round's join
    # fans out at most degree-fold.
    # Lazy truncation: the strategy probe below (or, on the distributed
    # path, the loop's first materializing action) computes-and-caches
    # the checkpointed blocks — the eager form cost one extra job that
    # scanned the same pair pipeline.
    edges = truncate_lineage(
        e.select(
            F.inline(
                F.array(
                    F.struct("src", "dst"),
                    F.struct(F.col("dst").alias("src"), F.col("src").alias("dst")),
                )
            )
        ).distinct(),
        checkpoint,
        eager=False,
    )
    if resume_dir is None and driver_solve_max_edges > 0:
        # ONE bounded Arrow collect decides the strategy AND, when the
        # graph is small, already holds the edge set the union-find
        # needs — the former count-then-toPandas pair paid the pair
        # pipeline twice (two jobs). At most cap+1 rows (16 bytes each)
        # land on the driver either way.
        pdf = edges.limit(driver_solve_max_edges + 1).toPandas()
        if len(pdf) <= driver_solve_max_edges:
            labels = _driver_union_find(
                pdf["src"].to_numpy().tolist(), pdf["dst"].to_numpy().tolist()
            )
            if stats is not None:
                stats["rounds"] = 0
                stats["driver_solved"] = True
            # The result re-enters corpus-sized joins downstream
            # (dedup_canonical): broadcast-sized by construction here.
            return _small_result_df(
                pairs.sparkSession, labels, "node long, component long"
            )

    labels0 = (
        edges.select("src")
        .distinct()
        .select(
            F.col("src").alias("v"),
            F.col("src").alias("label"),
            F.lit(True).alias("changed"),
        )
    )

    # Convergence detection: every round already computes a per-node
    # ``changed`` flag (post-jump label < prior label), and a round with
    # ZERO changed nodes IS the fixed point — labels are min-folds, so an
    # unchanged round can never be followed by a changing one. Counting
    # the flags costs ONE aggregation job per round on the checkpointed
    # table (it doubles as the lazy checkpoint's materializing action),
    # and `stop_when == 0` stops the loop IN the converged round — no
    # extra confirm round re-testing equality, no up-front baseline job.
    def _changed_count(lbls: DataFrame):
        # `or 0`: F.sum over an EMPTY table is NULL/None, and
        # stop_when(None) would never fire — an empty label table is a
        # (trivially) converged one.
        return (
            lbls.agg(F.sum(F.col("changed").cast("long")).alias("n"))
            .collect()[0]["n"]
            or 0
        )

    def _step(labels: DataFrame, _round_no: int) -> DataFrame:
        # Neighbor step, FRONTIER-optimized: only nodes whose label
        # dropped last round offer it to their neighbors — a settled
        # node's label was already offered the round it last changed, so
        # re-joining it cannot lower anything. The O(E) edge join touches
        # the frontier's adjacency, not the whole graph; the fold
        # (union + groupBy(min), one hash exchange with map-side
        # partials) recovers each node's prior label alongside the min.
        frontier = labels.filter(F.col("changed"))
        nbr = edges.join(frontier, edges["dst"] == frontier["v"]).select(
            F.col("src").alias("v"), "label", F.lit(True).alias("is_offer")
        )
        merged = (
            labels.select("v", "label", F.lit(False).alias("is_offer"))
            .unionByName(nbr)
            .groupBy("v")
            .agg(
                F.min("label").alias("label"),
                F.min(F.when(~F.col("is_offer"), F.col("label"))).alias(
                    "__prior"
                ),
            )
        )
        # Pointer jump: label ← min(label, label(label)) — full-table by
        # design (it contracts chains created in ANY earlier round, and
        # it's O(V), not O(E)). Left join — the component-min node's
        # label is itself, and any node's label is a node id that exists
        # in the table, but the join stays `left` so a missing row
        # degrades to a no-op rather than dropping the node. `changed`
        # compares the round's FINAL label (post-jump) to the prior, so
        # jump-caused drops re-enter the frontier too.
        hop = merged.select(
            F.col("v").alias("jv"), F.col("label").alias("jlabel")
        )
        return merged.join(hop, merged["label"] == hop["jv"], "left").select(
            "v",
            F.least(
                F.col("label"), F.coalesce(F.col("jlabel"), F.col("label"))
            ).alias("label"),
            (
                F.least(
                    F.col("label"), F.coalesce(F.col("jlabel"), F.col("label"))
                )
                < F.col("__prior")
            ).alias("changed"),
        )

    labels = iterate(
        labels0,
        _step,
        max_rounds=max_rounds,
        metric=_changed_count,
        stop_when=lambda n: n == 0,
        checkpoint=checkpoint,
        stats=stats,
        resume_dir=resume_dir,
    )
    return labels.select(
        F.col("v").alias("node"), F.col("label").alias("component")
    )


def dedup_canonical(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "doc_a",
    b_col: str = "doc_b",
) -> DataFrame:
    """Resolve near-dup ``pairs`` to per-document survivorship over the
    full corpus ``df``: ``(doc_id, canonical_id, cluster_size)``.

    ``canonical_id`` is the minimum doc id of the document's duplicate
    cluster (its own id when unpaired); keep rows where ``doc_id ==
    canonical_id`` to materialize the deduplicated corpus.

    CONTRACT: ``pairs`` must reference only ids present in ``df`` and
    ``id_col`` must be unique in ``df`` (both hold whenever the pairs
    were produced from ``df`` by a dedup detector, which is every caller
    here) — cluster sizes count GRAPH NODES, so an id in ``pairs`` that
    is missing from (or duplicated in) ``df`` would over/under-count
    relative to counting corpus rows.

    Scale shape: the component table covers only PAIRED docs (≪ corpus),
    so cluster sizes are an aggregation over that small table alone —
    every unpaired doc has size 1 by construction, and a cluster's
    canonical can never collide with an unpaired doc's id (the canonical
    is a cluster member, hence paired). The corpus therefore never
    shuffles here: both probes broadcast whenever the dup set is
    broadcast-sized (the driver-solved component table carries the hint;
    otherwise AQE decides from real sizes). The former corpus-wide
    groupBy(canonical_id) + join computed the same sizes with two full
    corpus exchanges.
    """
    comp = connected_components(pairs, a_col=a_col, b_col=b_col)
    sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).alias("__csize")
    )
    canon = (
        df.select(F.col(id_col))
        .join(comp, F.col(id_col) == comp["node"], "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("component"), F.col(id_col)).alias("canonical_id"),
        )
    )
    return canon.join(
        sizes, canon["canonical_id"] == sizes["component"], "left"
    ).select(
        id_col,
        "canonical_id",
        F.coalesce(F.col("__csize"), F.lit(1).cast("long")).alias("cluster_size"),
    )
