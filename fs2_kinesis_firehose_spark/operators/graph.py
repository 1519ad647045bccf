"""Graph analytics over edge DataFrames: PageRank, triangle counting.

Complements the connected-components operator in ``operators/dedup.py``
(alternating star contraction): PageRank is the other canonical iterative
graph primitive a corpus-analytics engine needs — document/source authority
for curation weighting, seed selection, and link-spam triage.

Spark-first shape: one rank-vector DataFrame re-derived per iteration by
``edges ⋈ ranks`` (hash join on src) + ``groupBy(dst)`` — exactly the
message-passing step Pregel would run, expressed declaratively so Catalyst
plans each superstep.  Per-iteration ``localCheckpoint`` keeps the lineage
flat (the same discipline as the CC fixpoint loop).  Dangling mass (nodes
with no out-edges) is redistributed uniformly each iteration via a 1-row
broadcast aggregate, so ranks always sum to 1 and the operator matches the
textbook formulation (Page et al. 1999) for any edge set, not just regular
ones.

At 100 TB scale: the static edge list (and vertex table) is hash-partitioned
by its superstep join key ONCE and pinned through a lazy localCheckpoint
(``_pinned_by_key``), so each iteration's edge-side join reuses that
exchange and sort; per iteration only the |V|-row rank vector shuffles into
the join plus the one irreducible message-delivery aggregate on dst.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fs2_kinesis_firehose_spark.session import sqrt_sized_partitions

__all__ = [
    "pagerank",
    "hits",
    "triangle_counts",
    "triangle_count_estimate",
    "label_propagation",
    "k_core",
]


# Row quantum for the scale-adaptive pin sizing below, by the fixed-cost-
# vs-divisible-compute rule ``session.sqrt_sized_partitions`` that also
# sizes the streaming state stores: every superstep stage over a pinned frame
# pays a fixed per-task scheduling cost on EVERY partition of the pin
# (AQE is off for the pin by necessity — see _pinned_by_key — so nothing
# ever coalesces it), while the divisible compute shrinks with 1/n, giving
# n* ∝ sqrt(rows).  The quantum was calibrated on the measured sf0.1
# response curve (PLANS.md r15: pagerank/ppr/hits timed at 32/16/8/4
# partitions — optimum 4-8 at ~600 K edges, flat into 16): 16 Ki rows
# puts 600 K edges at n=7 and ~6 M (sf1) at n=20, and a cluster conf of
# 2000 partitions binds from ~66 G edge rows — at true scale the session
# conf is the pin size, exactly the pre-r15 behavior.
_PIN_SQRT_ROWS = 16 * 1024

# decimals ``hits`` rounds each normalized vector to; its SQL oracle
# (queries/graph_q.py) restates the same rounding
HITS_ROUND_TO = 9


def _sized_pin_partitions(df: DataFrame) -> int:
    """Scale-adaptive partition count for a superstep pin:
    ``clamp(ceil(sqrt(rows / 16Ki)), 1, session shuffle partitions)``,
    where ``rows`` is the exact count of the (lazily checkpointed) frame —
    counting it materializes blocks the first superstep action would have
    materialized anyway, so the sizing costs one cheap cached-count job.
    ``spark.fs2kf.graph.pinPartitions`` overrides the derivation for
    deployments that size the superstep width explicitly."""
    return sqrt_sized_partitions(
        df.sparkSession, "spark.fs2kf.graph.pinPartitions", _PIN_SQRT_ROWS, df.count
    )


def _pinned_by_key(df: DataFrame, key: str, partitions: int | None = None) -> DataFrame:
    """Hash-partition ``df`` by ``key``, sort within partitions, and pin
    BOTH through a lazy ``localCheckpoint`` — the one-time exchange every
    iterative superstep then REUSES: each iteration's ``join``/``groupBy``
    on ``key`` sees a side that already satisfies its required
    distribution (and sort order, so sort-merge joins skip the per-
    iteration sort too), instead of re-shuffling the static edge list
    every round.  At 100× scale the per-iteration edge shuffle is the
    dominant superstep cost (r11 verdict ask #4); this trades ONE extra
    up-front shuffle for zero edge shuffles across all iterations.

    AQE is disabled for this one plan compile: under AQE the checkpoint
    captures the still-adaptive plan's UnknownPartitioning and the pin is
    silently lost (measured in r12 — the checkpointed LogicalRDD then
    re-shuffles every iteration exactly as before).  Still so on Spark
    4.1.2: compiled with AQE on, the pin reports
    ``UnknownPartitioning(0)``; with AQE off, ``hashpartitioning(src, n)``.
    The conf flip covers only this plan compile (a plain shuffle that AQE
    could not improve anyway) and is restored before returning, so the
    supersteps themselves keep AQE.  It is the one session-conf flip in
    the package outside ``tables.ensure_session_confs`` and the streaming
    runner's ``start()``-scoped pin.

    The pin pays exactly when the superstep join is SHUFFLE-bound (rank/
    label vectors too big to broadcast — the 100-TB regime).  When the
    vector side broadcasts (local test scale), the join never shuffled
    the edges in the first place and the pin's up-front shuffle+sort is
    pure cost — measured in the r12 sf1 A/B (PLANS.md Audit C), which is
    why only pagerank and hits pin; label_propagation and k_core take the
    plain lazy checkpoint."""
    spark = df.sparkSession
    # two-step: first truncate the (possibly expensive) upstream lineage
    # with a NORMAL checkpoint so its derivation keeps AQE, THEN compile
    # just the repartition+sort with AQE off — the conf flip must cover
    # only the plain pin shuffle, never the edge-derivation joins
    base = df.localCheckpoint(eager=False)
    # r15: the pin width is sized from the pinned frame's own row count
    # (sqrt rule, session conf as the upper bound) instead of inheriting
    # the conf constant — AQE cannot coalesce the pin (it is compiled with
    # AQE off, below), so a conf tuned for the at-scale regime left every
    # tiny-graph superstep paying 32 sorted partitions per stage.  Results
    # are partitioning-invariant by the operators' rounding/integer
    # contracts (pinned in tests).
    n = partitions if partitions is not None else _sized_pin_partitions(base)
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        return (
            base.repartition(n, key)
            .sortWithinPartitions(key)
            .localCheckpoint(eager=False)
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)


def pagerank(
    edges: DataFrame,
    iterations: int = 5,
    damping: float = 0.85,
    *,
    src: str = "src",
    dst: str = "dst",
    checkpoint_every: int = 1,
    seeds: DataFrame | None = None,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list.

    Returns ``(node, rank)`` with ranks summing to 1 across the vertex set
    (vertices = union of both edge endpoints).  Fixed iteration count (not a
    convergence test) keeps the result deterministic and restates cleanly as
    unrolled SQL CTEs for the correctness oracle.

    ``seeds``: optional 1-column DataFrame of node ids → PERSONALIZED
    PageRank (Page et al. 1999 §6; the random-walk-with-restart form):
    teleport mass — the (1−d) restart AND the dangling redistribution —
    lands uniformly on the seed nodes instead of all nodes, and the walk
    starts from the seed distribution.  Ranks then measure proximity to
    the seed set: "sources related to THESE sources" for seed-based
    curation expansion, spam-neighborhood scoring, and topic-conditioned
    authority.  Seeds are intersected with the graph's vertex set
    (broadcast semi-join — seed sets are small by definition); raises if
    no seed is present in the graph.  Still sums to 1.
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    d = float(damping)

    # Parallel edges are deduplicated: this is UNWEIGHTED PageRank over the
    # simple directed graph (a multigraph edge list collapses — each distinct
    # (src, dst) contributes rank/out_deg once).  For weighted semantics,
    # pre-aggregate weights and extend the contribution expression instead.
    # The deduplicated edge list is localCheckpoint'ed: it is consumed 2+2k
    # times (degrees, vertex set, every iteration's join) and its upstream
    # lineage may be an expensive pipeline (e.g. the near-dup pair join in
    # pagerank_top_sources — 3.5× the whole query's cost when re-evaluated
    # per iteration).
    e = _pinned_by_key(
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct(),
        "src",
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    out_deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    # degree-annotated vertex table, reused every iteration (out_deg NULL ⇒ dangling)
    verts = nodes.join(out_deg, nodes["node"] == out_deg["src"], "left").select(
        "node", "out_deg"
    )
    if seeds is not None:
        sdf = (
            seeds.select(F.col(seeds.columns[0]).alias("node"))
            .distinct()
            .withColumn("_seed", F.lit(True))
        )
        verts = verts.join(F.broadcast(sdf), "node", "left")
    # pinned by node: the per-iteration left join against contribs (which
    # arrives hash-partitioned by dst from its aggregate) is then exchange-
    # free on BOTH sides
    verts = _pinned_by_key(verts, "node")
    if seeds is None:
        n = verts.count()
        ns = None
    else:
        # ONE job for both counts (count(_seed) skips NULLs = non-seeds)
        row = verts.agg(
            F.count(F.lit(1)).alias("n"), F.count("_seed").alias("ns")
        ).first()
        n, ns = row["n"], row["ns"]
    if n == 0:
        # empty edge set → empty rank vector (avoid 1/0 in the init below)
        return verts.select("node", F.lit(0.0).alias("rank"))

    # teleport distribution: uniform over all nodes (classic) or over the
    # seed set (personalized): rank = (1−d)·tele + d·(inflow + dmass·tele).
    # The classic branch keeps the ORIGINAL division-shaped literals
    # ((1−d)/n, dmass/n) bit-for-bit — the DuckDB oracle computes the same
    # divisions, and tele-as-reciprocal-product could drift an ulp.
    if seeds is None:
        tele0 = F.lit(1.0) / F.lit(float(n))
        restart = F.lit((1.0 - d) / n)
        dang = lambda dmass: dmass / F.lit(float(n))  # noqa: E731
    else:
        if ns == 0:
            raise ValueError("personalized pagerank: no seed is present in the graph")
        tele0 = F.when(F.col("_seed"), F.lit(1.0) / F.lit(float(ns))).otherwise(
            F.lit(0.0)
        )
        restart = F.when(
            F.col("_seed"), F.lit((1.0 - d) / ns)
        ).otherwise(F.lit(0.0))
        # division-shaped like the classic branch, so the SQL oracle's
        # CASE WHEN seed THEN dmass/ns ELSE 0 END matches bit-for-bit
        dang = lambda dmass: F.when(  # noqa: E731
            F.col("_seed"), dmass / F.lit(float(ns))
        ).otherwise(F.lit(0.0))

    ranks = verts.select("node", "out_deg", tele0.alias("rank"))
    for i in range(iterations):
        dangling = ranks.where(F.col("out_deg").isNull()).agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dmass")
        )
        contribs = (
            e.join(ranks, e["src"] == ranks["node"])
            .select("dst", (F.col("rank") / F.col("out_deg")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("inflow"))
        )
        ranks = (
            verts.join(contribs, verts["node"] == contribs["dst"], "left")
            .crossJoin(F.broadcast(dangling))  # 1 row → BroadcastNestedLoopJoin
            .select(
                "node",
                "out_deg",
                (
                    restart
                    + F.lit(d)
                    * (
                        F.coalesce(F.col("inflow"), F.lit(0.0))
                        + dang(F.col("dmass"))
                    )
                ).alias("rank"),
            )
        )
        if (i + 1) % checkpoint_every == 0:
            ranks = ranks.localCheckpoint(eager=False)
    return ranks.select("node", "rank")


def triangle_counts(
    edges: DataFrame, *, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-node triangle participation counts over an undirected simple
    graph: ``(node, tri_cnt)`` for every node in ≥ 1 triangle.

    Edge input is treated as UNDIRECTED: each row links its two endpoints;
    direction, duplicates, and self-loops are normalized away (canonical
    u < v form + distinct).

    Scale shape — degree-ordered orientation (the classic bound for skewed
    graphs, cf. Suri & Vassilvitskii, WWW 2011): every edge is oriented from
    its lower-(degree, id) endpoint to its higher one, which caps every
    out-degree at O(√m) no matter how extreme the hub skew.  Wedges are then
    enumerated only at each triangle's LOWEST-rank apex (one self-join on
    ``src``, Σ out_deg² ≤ m^{3/2} candidates instead of Σ deg² — the hub
    node never fans out), and each wedge is closed by ONE hash join back to
    the oriented edge list.  Because the orientation is a total order, each
    triangle is produced exactly once, so no post-hoc dedup is needed.
    The output is orientation-invariant — a plain a<b<c three-way SQL join
    restates it, which is what the correctness oracle does.

    Memory behavior (r13 adjudication of the r12b sf1 OOM): the wedge
    exchange is the one wide transient (sf1: 12 M edges → 411 M wedges,
    ~20 GB through the shuffle; max oriented out-degree 97 ≪ √(2m) ≈ 4900,
    so the bound is doing its job).  It spills gracefully at the default
    24 GiB local heap — isolated sf1 run 48.7 s — PROVIDED task pages are
    small enough to not overshoot in quarter-GiB steps; ``session.get_spark``
    pins ``spark.buffer.pageSize=32m`` for exactly this stage shape.  The
    r12b bench OOM was end-of-session heap exhaustion (dying ContextCleaner
    + accumulator spam after 950 s of prior queries) with this transient as
    tipping load, not a per-stage floor.  At 100 TB the same plan holds:
    the exchange is bounded by Σ out_deg², partition count scales with the
    cluster, and DOULION (``triangle_count_estimate``) remains the
    documented sampling default when even that is too wide.
    """
    und = _canonical_undirected(edges, src, dst)
    return (
        _oriented_triangles(und)
        .select(F.explode(F.array("apex", "bn", "cn")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("tri_cnt"))
    )


def _canonical_undirected(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Canonical undirected simple graph ``(u, v)`` with u < v: direction,
    duplicates, and self-loops normalized away."""
    u, v = F.least(F.col(src), F.col(dst)), F.greatest(F.col(src), F.col(dst))
    return (
        edges.where(F.col(src) != F.col(dst))
        .select(u.alias("u"), v.alias("v"))
        .distinct()
    )


def _degrees(und: DataFrame) -> DataFrame:
    """Node degree table of the canonical undirected edge list."""
    return (
        und.select(F.col("u").alias("node"))
        .union(und.select("v"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )


# peel only when degree-<2 fringes are a meaningful share of the node set:
# a peel round costs two edge-list semi-joins + a fresh degree aggregate,
# so trimming a handful of pendant nodes is pure overhead (measured: the
# unconditional 2-round peel regressed sf0.1 part_copurchase_triangles
# 7.5 -> 12.4 s on a graph with almost no fringe — r10 verdict).
_PEEL_MIN_FRINGE_FRAC = 0.02


def _peel_fringes(
    und: DataFrame, deg: DataFrame
) -> tuple[DataFrame, DataFrame, int]:
    """Gated degree-< 2 peel, at most two rounds: each round first folds
    the (node-sized, already-checkpointed) degree table down to
    ``(n_nodes, n_fringe, wedge_ub)`` and peels only when the fringe clears
    ``_PEEL_MIN_FRINGE_FRAC`` — so a fringe-free graph pays one driver
    fold and ZERO extra joins.  Returns the (possibly peeled) edge list,
    its matching degree table (so the caller reuses the final degree
    aggregate instead of recomputing it), AND the unoriented wedge upper
    bound Σ_v C(deg,2) of the FINAL degree table — the caller's
    partition-floor gate rides the same fold instead of paying a second
    sequential driver round-trip on the identical table (r14: the gate
    folds are driver-BLOCKING jobs that serialize before the main action,
    so each one saved is wall-clock off every triangle call)."""
    wedge_ub: int | None = None

    def fold(d: DataFrame) -> tuple[int, int, int]:
        row = d.agg(
            F.count(F.lit(1)),
            F.count_if(F.col("deg") < 2),
            F.sum(F.col("deg") * (F.col("deg") - 1) / 2),
        ).first()
        return row[0], row[1], int(row[2] or 0)

    for _ in range(2):
        n_nodes, n_fringe, wedge_ub = fold(deg)
        if n_nodes == 0 or n_fringe < _PEEL_MIN_FRINGE_FRAC * n_nodes:
            break
        keep = deg.where(F.col("deg") >= 2).select("node")
        und = (
            und.join(keep.withColumnRenamed("node", "u"), "u", "leftsemi")
            .join(keep.withColumnRenamed("node", "v"), "v", "leftsemi")
            .localCheckpoint(eager=False)  # consumed by next round / 3 legs
        )
        deg = _degrees(und).localCheckpoint(eager=False)
        wedge_ub = None  # stale: computed on the pre-peel degree table
    if wedge_ub is None:  # every allowed round peeled
        wedge_ub = fold(deg)[2]
    return und, deg, wedge_ub


def _prune_low_degree(und: DataFrame) -> DataFrame:
    """Peeled edge list alone (test/utility view of ``_peel_fringes``)."""
    und = und.localCheckpoint(eager=False)
    deg = _degrees(und).localCheckpoint(eager=False)
    return _peel_fringes(und, deg)[0]  # wedge_ub unused here


# Wedge-exchange sizing (see _oriented_triangles): ~40 B per wedge row
# through the shuffle (apex long + two (deg, id) structs, serialized),
# targeting ~128 MB per reduce partition — the fits-in-memory sort size
# that avoids the spill path at the default heap.
_WEDGE_ROW_BYTES = 40
_WEDGE_TARGET_BYTES = 128 * 1024 * 1024


def _oriented_triangles(und: DataFrame) -> DataFrame:
    """Enumerate each triangle of the canonical graph exactly once as
    ``(apex, bn, cn)`` via the degree-ordered orientation (see
    ``triangle_counts`` docstring for the O(m^{3/2}) wedge bound).

    Degree-< 2 fringes are peeled first (semantics-free: a degree-1 or
    isolated node closes no triangle), but ONLY while the fringe is a
    measurable share of the nodes (``_PEEL_MIN_FRINGE_FRAC``, same
    metadata-fold gating idiom as ``k_core``'s ``isEmpty``).  The degree
    aggregate is lazily checkpointed and SHARED between the gate and the
    orientation, so on a fringe-free graph the whole peel adds one
    driver-side 2-long-row fold to the single degree aggregate the
    orientation needs anyway — no extra joins, no extra scans."""
    und = und.localCheckpoint(eager=False)  # shared: gate fold + 3 plan legs
    deg = _degrees(und).localCheckpoint(eager=False)
    und, deg, wedge_ub = _peel_fringes(und, deg)
    # orient by (deg, id) total order; carry the dst rank for wedge ordering
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("dv"))
    with_deg = und.join(du, "u").join(dv, "v")
    fwd = F.struct("du", "u") < F.struct("dv", "v")
    oriented = with_deg.select(
        F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(fwd, F.struct(F.col("dv").alias("d"), F.col("v").alias("n")))
        .otherwise(F.struct(F.col("du").alias("d"), F.col("u").alias("n")))
        .alias("dst"),
    ).localCheckpoint(eager=False)  # consumed 3× below (e1, e2, closing join)

    e1 = oriented.select(F.col("src").alias("apex"), F.col("dst").alias("b"))
    e2 = oriented.select(F.col("src").alias("apex"), F.col("dst").alias("c"))
    wedges = e1.join(e2, "apex").where(F.col("b") < F.col("c"))
    closing = oriented.select(
        F.col("src").alias("b_n"), F.col("dst.n").alias("c_n")
    )
    # Wedge-exchange partition floor: the closing join moves EVERY wedge
    # (Σ_apex C(out_deg,2) rows — sf1: 411 M / ~20 GB) through one shuffle,
    # and AQE can only coalesce partitions, never split a non-skewed-but-
    # uniformly-huge exchange, so at the session default (32) each reduce
    # task sorts ~600 MB and spills (the r13-adjudicated 20 s trade).  The
    # operator knows its own blowup EXACTLY from an m-row aggregate on the
    # oriented out-degrees — cheap next to the join it sizes — so compute
    # the wedge count up front and repartition on the join keys with
    # enough partitions that each holds ~_WEDGE_TARGET_BYTES.  On small
    # graphs the floor stays below the session default and no explicit
    # exchange is added (the join shuffles as before).  The exact count
    # job is itself gated behind Σ_v C(deg,2) — a FREE upper bound
    # (oriented wedges ≤ unoriented wedges) that rides the peel-gate fold
    # on the degree table this function already holds (r14: the two folds
    # were sequential driver-blocking jobs over the SAME table; merged,
    # graphs that cannot trigger the floor pay zero extra jobs beyond the
    # single gate fold).
    spark = oriented.sparkSession
    session_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    floor_cutoff = session_parts * _WEDGE_TARGET_BYTES // _WEDGE_ROW_BYTES
    if wedge_ub > floor_cutoff:
        n_wedges = (
            oriented.groupBy("src")
            .agg(F.count(F.lit(1)).alias("d"))
            .agg(F.sum(F.col("d") * (F.col("d") - 1) / 2).alias("w"))
            .first()[0]
            or 0
        )
        wedge_parts = (
            int(n_wedges * _WEDGE_ROW_BYTES // _WEDGE_TARGET_BYTES) + 1
        )
        if wedge_parts > session_parts:
            wedges = wedges.repartition(
                wedge_parts, F.col("b.n"), F.col("c.n")
            )
    return wedges.join(
        closing,
        (F.col("b.n") == F.col("b_n")) & (F.col("c.n") == F.col("c_n")),
    ).select("apex", F.col("b.n").alias("bn"), F.col("c.n").alias("cn"))


def triangle_count_estimate(
    edges: DataFrame,
    p: float,
    *,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """DOULION approximate GLOBAL triangle count (Tsourakakis, Kang &
    Faloutsos, KDD 2009): sparsify-and-count — keep each undirected edge
    independently with probability ``p``, count triangles EXACTLY on the
    sparsified graph (the same degree-oriented O(m'^{3/2}) plan as
    ``triangle_counts``), and scale by ``1/p³`` (a surviving triangle needs
    all three edges to survive).  Unbiased; variance shrinks as edge count
    grows (Theorem 2 of the paper), and the expensive wedge join runs on a
    ``p²`` fraction of the wedges — the practical default at 100 TB, with
    the exact path kept for verification.

    The edge coin is the engine-portable deterministic md5 uniform
    (``hash_fraction(u || '|' || v, 'doulion')`` < p) rather than ``rand()`` —
    the same run is exactly reproducible, partitioning-independent, and a
    SQL oracle can restate the identical sample.

    Returns ONE row: ``(n_edges, n_edges_sampled, tri_sampled,
    est_triangles)`` with ``est_triangles = round(tri_sampled / p³, 2)``.
    """
    from fs2_kinesis_firehose_spark.operators.curation import hash_fraction

    if not (0.0 < p <= 1.0):
        raise ValueError(f"p must be in (0, 1], got {p}")
    und = _canonical_undirected(edges, src, dst).localCheckpoint(eager=False)
    coin = hash_fraction(
        F.concat_ws("|", F.col("u").cast("string"), F.col("v").cast("string")),
        "doulion",
    )
    sampled = und.where(coin < F.lit(p)).localCheckpoint(eager=False)
    tri = _oriented_triangles(sampled).agg(
        F.count(F.lit(1)).alias("tri_sampled")
    )
    counts = und.agg(F.count(F.lit(1)).alias("n_edges")).crossJoin(
        F.broadcast(sampled.agg(F.count(F.lit(1)).alias("n_edges_sampled")))
    )
    return counts.crossJoin(F.broadcast(tri)).select(
        "n_edges",
        "n_edges_sampled",
        "tri_sampled",
        F.round(F.col("tri_sampled") / F.lit(p**3), 2).alias("est_triangles"),
    )


def label_propagation(
    edges: DataFrame,
    iterations: int = 3,
    *,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Synchronous label propagation (Raghavan et al., 2007) for community
    detection: ``(node, label)`` after a FIXED number of synchronous rounds.

    Deterministic variant: init label(v) = v; each round every node adopts
    the most frequent label among its NEIGHBORS, ties broken by the MINIMUM
    label value.  (Classic LPA randomizes update order and tie-breaks; the
    synchronous/min-tie form trades a little convergence speed for a result
    that is reproducible and restatable as unrolled SQL CTEs — the same
    determinism contract as ``pagerank`` and ``kmeans_lloyd``.)

    Edges are treated as UNDIRECTED (symmetrized + dedup'd, self-loops
    dropped).  Complements the other graph primitives: connected components
    (reachability), PageRank (authority), triangles (local density) — LPA
    finds label-cohesive communities *within* components.

    Scale shape: per round one hash join (edges ⋈ labels on src) + one
    (node, label) count aggregate + one per-node argmax aggregate — the
    Pregel message step declared as DataFrame ops; label vector is |V| rows;
    per-round ``localCheckpoint`` keeps lineage flat.  Node ids must be
    numeric (labels are ids and the tie-break orders them).
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    fwd = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    rev = edges.select(F.col(dst).alias("src"), F.col(src).alias("dst"))
    # checkpointed (consumed by every round's join), not pinned: the label
    # side broadcasts at sf1, where a pin by src measured ~1 s slower
    # (PLANS.md Audit C)
    e = (
        fwd.union(rev)
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels = e.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    for _ in range(iterations):
        counts = (
            e.join(labels, e["src"] == labels["node"])
            .groupBy(F.col("dst").alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        # argmax(count) with min-label tie-break, as ONE aggregate:
        # max(struct(c, -label)) is lexicographic — highest count first,
        # then highest -label == lowest label (the struct-max idiom from
        # gopher most-frequent-gram).
        labels = counts.groupBy("node").agg(
            (-F.max(F.struct(F.col("c"), (-F.col("label")).alias("nl")))["nl"]).alias(
                "label"
            )
        ).localCheckpoint(eager=False)
    return labels


def k_core(
    edges: DataFrame,
    k: int,
    *,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 16,
) -> DataFrame:
    """k-core decomposition by iterative peeling (Seidman 1983; the
    distributed peeling formulation of Montresor et al. 2013): repeatedly
    delete every vertex of degree < k until none remains; what survives is
    the (unique) maximal subgraph with minimum degree >= k.  Returns
    ``(node, core_deg)`` — the surviving vertices with their WITHIN-CORE
    degree.  The classic density/quality triage primitive: spam farms and
    boilerplate clusters sit in deep cores, the long tail peels away.

    Edge input is treated as UNDIRECTED (canonicalized + dedup'd,
    self-loops dropped).  Deterministic: the k-core is unique, so the
    result is independent of peel order/partitioning.

    Scale shape: per round ONE degree aggregate + two anti-joins against
    the peeled-vertex set.  From round 2 on the peel set is the shrinking
    fringe (vertices whose degree just dropped below k) and the anti-joins
    broadcast; round 1's peel set can be MOST of the graph (every vertex
    with initial degree < k), where AQE plans the anti-join as a regular
    shuffle join — still one shuffle of the edge list, no scale hazard,
    just not broadcast-sized.  Per-round
    ``localCheckpoint`` keeps lineage flat — the Pregel peeling loop as
    DataFrame ops.  The fixpoint test is one metadata ``isEmpty`` per
    round.  Raises after ``max_rounds`` non-converged rounds (fail-loud:
    the correctness oracle unrolls the same bounded recursion, and extra
    rounds past the fixpoint are no-ops, so a converged run is restatable
    at any unroll depth >= the actual one).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    und = _canonical_undirected(edges, src, dst)
    # checkpointed, not pinned: a pin by "a" serves round 1 only (the
    # anti-join rebuild's lazy AQE checkpoint drops its partitioning) and
    # measured ~6 s slower at sf1 (PLANS.md Audit C)
    e = (
        und.select(F.col("u").alias("a"), F.col("v").alias("b"))
        .union(und.select(F.col("v").alias("a"), F.col("u").alias("b")))
        .localCheckpoint(eager=False)
    )
    # max_rounds + 1 fixpoint checks bracket exactly max_rounds PEELS, so a
    # graph converging on the very last allowed peel still returns (the
    # query oracle unrolls the same number of peel rounds — the budgets
    # must agree, not be off by one)
    for i in range(max_rounds + 1):
        # checkpoint the DEGREE table, not the fringe: every consumer —
        # the isEmpty fixpoint test, both anti-joins (via the peel
        # filter, a narrow map over the pinned rows), and the converged
        # round's RETURN — then shares one materialization.  Pinning only
        # the fringe left the final round's full edge aggregate to be
        # recomputed by the caller's first action on the result.
        deg = (
            e.groupBy("a")
            .agg(F.count(F.lit(1)).alias("core_deg"))
            .localCheckpoint(eager=False)
        )
        peel = deg.where(F.col("core_deg") < k).select("a")
        if peel.isEmpty():
            return deg.select(F.col("a").alias("node"), "core_deg")
        if i == max_rounds:
            break
        e = (
            e.join(peel, "a", "left_anti")
            .join(peel.withColumnRenamed("a", "b"), "b", "left_anti")
            .select("a", "b")
            .localCheckpoint(eager=False)
        )
    raise RuntimeError(
        f"k_core did not converge within max_rounds={max_rounds}; "
        "raise max_rounds (each extra round is one aggregate + two anti-joins)"
    )


def hits(
    edges: DataFrame,
    iterations: int = 3,
    *,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Kleinberg HITS (hubs & authorities, SIAM JACM 1999) over a directed
    edge list, fixed iterations: ``a(v) ← Σ_{(u,v)} h(u)`` then
    ``h(u) ← Σ_{(u,v)} a(v)``, each vector max-normalized and ROUNDED to
    ``HITS_ROUND_TO`` decimals per iteration — the kmeans-oracle trick that
    makes every iteration's values bit-identical across engines, so the
    whole loop restates as unrolled SQL CTEs.

    Returns ``(node, hub, authority)`` for every vertex.  Plan per
    iteration: two edge joins keyed on the endpoint + two 1-row max
    aggregates riding back as broadcast cross joins (the repo's guard
    idiom) — no driver collect anywhere; the deduplicated edge list and
    vertex set are lazily checkpointed (consumed every iteration).
    Fixed iterations (not a convergence test) keep the result
    deterministic and the oracle finite."""
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    # HITS alternates join keys (src for the authority step, dst for the
    # hub step), so ONE partitioning can't serve both — pin two copies,
    # each by its step's key; every iteration's edge-side exchange (and
    # SMJ sort) is then reused instead of recomputed.  Both pins are of
    # the SAME edge frame, so size once and share (one count job, not two).
    n_pin = _sized_pin_partitions(e)
    e_src = _pinned_by_key(e, "src", n_pin)
    e_dst = _pinned_by_key(e, "dst", n_pin)
    nodes = _pinned_by_key(
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct(),
        "node",
    )
    h = nodes.withColumn("h", F.lit(1.0))
    a = None
    for _ in range(iterations):
        # NOTE: a_raw/h_raw are deliberately NOT checkpointed even though
        # each is referenced twice per half-step (broadcast max aggregate
        # + normalize join): both references end in the SAME exchange, so
        # ReusedExchange already dedupes the superstep join+agg within
        # the plan.  A lazy checkpoint here was A/B'd (r14): identical
        # task counts, +77% stages (166 vs 94 — the materialization
        # boundaries), i.e. pure scheduling overhead.
        a_raw = (
            e_src.join(h, e_src["src"] == h["node"])
            .groupBy(e_src["dst"].alias("node"))
            .agg(F.sum("h").alias("_raw"))
        )
        a_max = a_raw.agg(F.coalesce(F.max("_raw"), F.lit(1.0)).alias("_m"))
        a = (
            nodes.join(a_raw, "node", "left")
            .crossJoin(F.broadcast(a_max))
            .select(
                "node",
                F.round(F.coalesce("_raw", F.lit(0.0)) / F.col("_m"), HITS_ROUND_TO).alias("a"),
            )
            .localCheckpoint(eager=False)
        )
        h_raw = (
            e_dst.join(a, e_dst["dst"] == a["node"])
            .groupBy(e_dst["src"].alias("node"))
            .agg(F.sum("a").alias("_raw"))
        )
        h_max = h_raw.agg(F.coalesce(F.max("_raw"), F.lit(1.0)).alias("_m"))
        h = (
            nodes.join(h_raw, "node", "left")
            .crossJoin(F.broadcast(h_max))
            .select(
                "node",
                F.round(F.coalesce("_raw", F.lit(0.0)) / F.col("_m"), HITS_ROUND_TO).alias("h"),
            )
            .localCheckpoint(eager=False)
        )
    return (
        nodes.join(h, "node")
        .join(a, "node")
        .select("node", F.col("h").alias("hub"), F.col("a").alias("authority"))
    )
