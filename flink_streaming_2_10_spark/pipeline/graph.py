"""Graph distance over the near-duplicate pair graph: BFS hop counts
from a seed set, built on :func:`operators.iterate.iterate`.

Why this exists: the duplicate-pair graphs that
:mod:`pipeline.components` resolves into clusters also carry DISTANCE
structure — how many near-dup steps separate a document from a trusted
seed set (transitive contamination drift: A overlaps an eval document, B
near-dups A, C near-dups B...). Hop counts bound that drift, and they are
the simplest second fixed-point algorithm exercising the general
``iterate()`` loop (the reference module advertises feedback iteration —
``IterateExample``, pom.xml:157 — as a first-class capability).

Algorithm: distributed parallel BFS as min-distance propagation.

* State is ``(node, hops, changed)`` for every REACHED node — 17
  bytes/row; unreached nodes are absent, so early rounds carry only the
  frontier's closure, not the whole graph.
* Each round is FRONTIER-optimized (the textbook distributed BFS): only
  nodes whose distance improved LAST round offer ``hops + 1`` to their
  neighbors, so the edge join — the O(E) term — touches just the
  frontier's adjacency, not the whole reached set; the min-fold merge
  (one union + hash agg with map-side partials) then recomputes the
  frontier for the next round. The fold's own `changed` flags detect
  convergence: a zero-changed round empties the frontier, so the loop
  stops in that round (``stop_when``) — no confirm round.
* Rounds = eccentricity of the seed set (near-dup clusters are
  near-cliques, so 2-3 in practice). Per-round cost: one exchange of
  ids+distances — document bodies never enter the loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from flink_streaming_2_10_spark.operators.iterate import iterate, truncate_lineage
from flink_streaming_2_10_spark.pipeline.components import DRIVER_SOLVE_MAX_EDGES


def shortest_path_hops(
    pairs: DataFrame,
    seeds: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    seed_col: str | None = None,
    max_rounds: int = 30,
    checkpoint: str = "local",
    stats: dict | None = None,
    resume_dir: str | None = None,
    driver_solve_max_edges: int | None = None,
) -> DataFrame:
    """``(node, hops)`` — minimum number of edges from any ``seeds`` row
    to each reachable node of the undirected ``pairs`` graph.

    ``seeds`` contributes its first (or ``seed_col``) column; seed nodes
    report ``hops = 0`` whether or not they appear in ``pairs``.
    Unreachable nodes are absent from the result (their distance is
    infinite, and emitting the full node set would force a join against
    it every round for no information).

    ``max_rounds`` bounds the driver loop at the graph's true
    seed-eccentricity; ``RuntimeError`` if distances are still moving
    after that many rounds (a path graph of N nodes needs N-1). Same
    ``checkpoint``/``stats`` contract as ``connected_components``,
    including the ``driver_solve_max_edges`` shortcut: when BOTH the
    edge count and the distinct seed count are at or below the cap the
    BFS runs as a one-pass driver-side sweep over one Arrow
    collect instead of one distributed job per hop (near-dup pair graphs
    are ≪ corpus by construction — the same size-based strategy choice
    Spark's planner makes for broadcast joins); ``0`` disables, and a
    set ``resume_dir`` always takes the distributed path.
    """
    if driver_solve_max_edges is None:
        # Resolve at call time from the components module attribute so
        # tooling (plan_audit) can force the distributed path
        # process-wide with one patch point.
        from flink_streaming_2_10_spark.pipeline import components as _cm

        driver_solve_max_edges = _cm.DRIVER_SOLVE_MAX_EDGES
    sc = seed_col or seeds.columns[0]
    e = pairs.select(
        F.col(a_col).cast("long").alias("src"),
        F.col(b_col).cast("long").alias("dst"),
    )
    # Symmetrize in ONE pass over the pairs (an inline over a two-struct
    # array emits both directions per row); a union of `e` with its own
    # swapped projection would run the whole pair pipeline twice (in
    # components.connected_components it took dedup_components' build
    # from 18 to 31 jobs).
    # Lazy truncation: the strategy probe (or the loop's first
    # materializing action) computes-and-caches the checkpointed blocks,
    # instead of a dedicated eager-checkpoint job (same change as
    # components.connected_components).
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
    seed_nodes = seeds.select(F.col(sc).cast("long").alias("node")).distinct()

    if resume_dir is None and driver_solve_max_edges > 0:
        # BOTH collects below must be bounded before taking the driver
        # path: a tiny pair graph combined with a corpus-scale seed set
        # would otherwise pull every seed id onto the driver. Each probe
        # is ONE bounded Arrow collect that doubles as the data fetch
        # when the driver path engages (formerly a count followed by a
        # full re-collect — two jobs per side).
        cap = driver_solve_max_edges
        pdf = edges.limit(cap + 1).toPandas()
        seeds_head = (
            seed_nodes.limit(cap + 1).toPandas()
            if len(pdf) <= cap
            else None
        )
        if seeds_head is not None and len(seeds_head) <= cap:
            from collections import deque

            from flink_streaming_2_10_spark.pipeline.components import (
                _small_result_df,
            )

            adj: dict[int, list[int]] = {}
            for s, d in zip(
                pdf["src"].to_numpy().tolist(), pdf["dst"].to_numpy().tolist()
            ):
                adj.setdefault(s, []).append(d)
            hops = {
                int(n): 0 for n in seeds_head["node"].to_numpy().tolist()
            }
            queue = deque(hops)
            while queue:
                n = queue.popleft()
                for m in adj.get(n, ()):
                    if m not in hops:
                        hops[m] = hops[n] + 1
                        queue.append(m)
            if stats is not None:
                stats["rounds"] = 0
                stats["driver_solved"] = True
            return _small_result_df(
                pairs.sparkSession, hops, "node long, hops long"
            )

    dist0 = seed_nodes.select(
        "node",
        F.lit(0).cast("long").alias("hops"),
        F.lit(True).alias("changed"),
    )

    # Each round's fold already derives a per-node `changed` flag, and a
    # round with zero changed nodes IS the fixed point (the next frontier
    # is empty, so no offer can ever improve anything). Counting the
    # flags is one agg job per round (doubling as the lazy checkpoint's
    # materializing action), and `stop_when == 0` stops IN the converged
    # round — no equality confirm round, no baseline probe.
    def _changed_count(d: DataFrame):
        # `or 0`: F.sum over an EMPTY table (no seeds reached anything,
        # or an empty seed set) is None — trivially converged.
        return (
            d.agg(F.sum(F.col("changed").cast("long")).alias("n")).collect()[0][
                "n"
            ]
            or 0
        )

    def _step(dist: DataFrame, _round_no: int) -> DataFrame:
        # Only the frontier (nodes improved last round) makes offers —
        # settled nodes' neighbors already saw an <= offer, so joining
        # them again can't improve anything.
        frontier = dist.filter(F.col("changed"))
        offers = edges.join(frontier, edges["src"] == frontier["node"]).select(
            F.col("dst").alias("node"),
            (F.col("hops") + F.lit(1)).alias("hops"),
            F.lit(True).alias("is_offer"),
        )
        return (
            dist.select("node", "hops", F.lit(False).alias("is_offer"))
            .unionByName(offers)
            .groupBy("node")
            .agg(
                F.min("hops").alias("hops"),
                # prior distance (+inf for brand-new nodes): the node
                # changed iff the fold beat it.
                F.min(F.when(~F.col("is_offer"), F.col("hops"))).alias("__prior"),
            )
            .select(
                "node",
                "hops",
                (F.col("__prior").isNull() | (F.col("hops") < F.col("__prior")))
                .alias("changed"),
            )
        )

    out = iterate(
        dist0,
        _step,
        max_rounds=max_rounds,
        metric=_changed_count,
        stop_when=lambda n: n == 0,
        checkpoint=checkpoint,
        stats=stats,
        resume_dir=resume_dir,
    )
    return out.select("node", "hops")


def pagerank_fixed(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "w",
    iters: int = 5,
    damping_num: int = 85,
    damping_den: int = 100,
    r0: int = 1_000_000,
    checkpoint: str = "local",
) -> DataFrame:
    """``(node, rank)`` — weighted PageRank after EXACTLY ``iters``
    rounds (Flink's fixed-iteration shape, ``iterate(metric=None)``),
    in pure int64 arithmetic so the result is bit-reproducible by any
    engine that can floor-divide:

        rank₀(v)    = r0
        rankₜ₊₁(v) = base + Σ_{(u,v,w)} (num · rankₜ(u) · w) div (den · wdeg(u))

    with ``base = ((den − num) · r0) div den`` and ``wdeg(u) = Σ_out w``.
    Every edge contribution floors INDEPENDENTLY, so the sum is
    order-insensitive (associative integer addition) — unlike float
    PageRank, whose partial-sum order differs per engine and per run.
    The floor loses < 1 unit per in-edge per round: with ``r0 = 10⁶``
    units that is a ≤ deg·10⁻⁶ relative nick, far below any ranking
    decision, and both engines lose the IDENTICAL nick.

    Node set = sources ∪ destinations of ``edges``. Dangling nodes
    (no outgoing edges) contribute nothing (their mass evaporates —
    acceptable for the symmetric graphs this engine feeds in; a
    redistribution term would need a global scalar per round).

    Magnitude bound: the per-edge product ``num · rank · w`` must stay
    under 2⁶³ — rank is bounded by ~N·r0 in the worst case (one node
    absorbing all mass), so with r0=10⁶ the int64 budget holds to
    ~10¹⁰·w-weighted nodes; past that, scale ``r0`` down or move the
    product to DecimalType(38,0). The tested scales sit orders of
    magnitude inside the bound.

    Scale shape: ``wdeg`` is computed once and joined into the edge
    list ONCE (persisted via ``tracked_persist``); each round is one
    ids-only join (ranks ⋈ edges on src) + one hash agg on dst +
    lineage truncation — O(E) shuffle of 8-byte ids and longs per
    round, document bodies never enter the loop.
    """
    if iters < 0:
        raise ValueError("iters must be >= 0")
    if not (0 < damping_num < damping_den):
        raise ValueError("need 0 < damping_num < damping_den")
    from flink_streaming_2_10_spark.pipeline.caching import tracked_persist

    # Persist the edge list itself, not just its derivatives: `ew` and
    # `nodes` below are persisted but materialize in SEPARATE jobs, so
    # without this cache the caller's edge pipeline (for textrank: the
    # full corpus scan → bigram explode → count aggregation) executes
    # once per derivative — 2× the corpus pass. The pruned edge table is
    # vocabulary-edge-sized (tiny next to the corpus), so caching it is
    # the guide-§5 trade: reused, expensive to recompute, cheap to hold.
    e = tracked_persist(
        edges.select(
            F.col(src_col).alias("src"),
            F.col(dst_col).alias("dst"),
            F.col(weight_col).cast("long").alias("w"),
        )
    )
    wdeg = e.groupBy("src").agg(F.sum("w").alias("wd"))
    ew = tracked_persist(e.join(wdeg, "src"))
    nodes = tracked_persist(
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    base = ((damping_den - damping_num) * int(r0)) // damping_den
    ranks0 = nodes.select("node", F.lit(int(r0)).cast("long").alias("rank"))

    def _step(ranks: DataFrame, _round_no: int) -> DataFrame:
        contribs = ew.join(
            ranks, ew["src"] == ranks["node"]
        ).select(
            F.col("dst").alias("node"),
            F.expr(
                f"({damping_num}L * rank * w) div ({damping_den}L * wd)"
            ).alias("c"),
        )
        summed = contribs.groupBy("node").agg(F.sum("c").alias("__in"))
        return nodes.join(summed, "node", "left").select(
            "node",
            (F.lit(base) + F.coalesce(F.col("__in"), F.lit(0)))
            .cast("long")
            .alias("rank"),
        )

    return iterate(ranks0, _step, max_rounds=int(iters), checkpoint=checkpoint)
