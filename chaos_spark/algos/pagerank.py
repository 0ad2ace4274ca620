"""PageRank as an iterative DataFrame job.

Semantics ([X13] §5.2 kernel, adjusted per SURVEY §2.2 decision log):
``rank'(v) = (1-d)/N + d * (sum_{u->v} rank(u)/outdeg(u) + dangling/N)``
with the dangling mass (sum of ranks of out-degree-0 vertices)
redistributed uniformly so ranks stay a probability distribution — this
matches the NetworkX oracle exactly; X-Stream's own kernel drops the
dangling term, a deliberate divergence documented here.

Spark mapping of the superstep (SURVEY §2.1):
  scatter  = edges JOIN state ON src==id (edge table statically hash-
             partitioned on src once; only the small state side shuffles)
  shuffle  = the exchange from groupBy(dst) — Spark's update routing
  gather   = sum(m) with automatic map-side partial aggregation
             (X-Stream's in-buffer pre-aggregation for free), optionally
             salted two-level for hub skew ([C15] §3.2 work-stealing
             analogue)
  apply    = shuffle_hash left join back + coalesce(contrib, 0) +
             dangling scalar (hinted: both sides are hash-partitioned on
             the key, so SHJ joins in place; un-hinted, Catalyst's size
             estimate auto-broadcasts the |V|-row contribs table — a
             per-superstep driver collect that serializes)
  barrier  = engine.materialize_stats: ONE eager localCheckpoint whose
             job also computes the L-inf delta (convergence) and the next
             dangling mass inline via observe/CollectMetrics — no second
             scan, no final-agg exchange, no per-superstep re-planned
             aggregate query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..checkpoint import CheckpointManager
from ..engine import (
    RunResult,
    choose_num_partitions,
    materialize_stats,
    run_supersteps,
    superstep_conf,
)
from ..graph import (
    DST,
    ID,
    SRC,
    dedup_edges,
    out_degrees,
    partition_edges,
    salt_edges,
    salted_agg,
    vertices_from_edges,
)
from ._route import stream_route


# Broadcast-mode hard cap. The real ceiling is memory-derived (see
# _broadcast_max_vertices): the per-superstep sender table costs ~64
# bytes/vertex inside the broadcast hash relation (LongToUnsafeRowMap +
# row overhead), built once on the driver and once per executor — a flat
# 20M-vertex ceiling OOMs default-sized (1g) executors at ~1.3 GB. The
# cap below only bounds the memory-derived value on huge-heap hosts;
# the switch is the analogue of X-Stream's in-memory vs out-of-core
# engine regimes ([X13] §4).
BROADCAST_MAX_VERTICES = 20_000_000
_BROADCAST_BYTES_PER_VERTEX = 64
_BROADCAST_HEAP_FRACTION = 0.10  # keep the hash relation under 10% of heap


def _parse_mem(s: str) -> int:
    s = s.strip().lower()
    mult = {"k": 2**10, "m": 2**20, "g": 2**30, "t": 2**40}
    if s and s[-1] in mult:
        return int(float(s[:-1]) * mult[s[-1]])
    return int(s)


def _broadcast_max_vertices(spark) -> int:
    """Memory-derived broadcast ceiling: min(heap*fraction/bytes, hard cap).

    Uses executor memory (cluster) falling back to driver memory (local
    mode, where they are the same JVM). 1g heap -> ~1.6M vertices; a 32g
    host -> the 20M hard cap.
    """
    try:
        mem = spark.conf.get("spark.executor.memory", None)
    except Exception:
        mem = None
    if not mem:
        try:
            mem = spark.conf.get("spark.driver.memory", "1g")
        except Exception:
            mem = "1g"
    heap = _parse_mem(mem)
    return min(
        BROADCAST_MAX_VERTICES,
        max(1, int(heap * _BROADCAST_HEAP_FRACTION / _BROADCAST_BYTES_PER_VERTEX)),
    )


def seed_ranks(verts, deg, n, init_ranks=None) -> DataFrame:
    """Initial ``(id, out_degree, rank)`` frame — the ONE definition of
    the warm-start contract, shared by the join regimes (here) and
    mirrored by the stream path's in-kernel NaN-fill
    (stream._SumPageRank.init_from_rows).

    ``init_ranks`` (columns ``id, rank``) warm-starts the run: prior
    ranks are taken verbatim; vertices absent from the prior start at
    1/n. No renormalization is applied — each superstep re-injects
    ``(1-d)/n`` plus the dangling share, so total mass contracts to 1
    geometrically (factor d) even when the prior's mass is off, and on
    an UNCHANGED graph the continuation is exact: warm(cold-k state) +
    j supersteps ≡ cold k+j supersteps, which is how the driver oracle
    verifies it. This is the incremental-ingest handoff (streaming.py):
    re-rank a grown import graph from the last converged ranks instead
    of uniform, paying only the marginal supersteps.
    """
    base = verts.join(deg, verts[ID] == deg[ID], "left").select(
        verts[ID],
        F.coalesce(deg["out_degree"], F.lit(0)).alias("out_degree"),
    )
    if init_ranks is None:
        return base.select(ID, "out_degree", F.lit(1.0 / n).alias("rank"))
    prior = init_ranks.select(
        F.col(ID).alias("_pid"), F.col("rank").cast("double").alias("_prank")
    )
    return base.join(prior, base[ID] == F.col("_pid"), "left").select(
        base[ID],
        base["out_degree"],
        F.coalesce(F.col("_prank"), F.lit(1.0 / n)).alias("rank"),
    )


def pagerank(
    spark: SparkSession,
    edges: DataFrame,
    damping: float = 0.85,
    tol: float = 1e-6,
    max_iters: int = 100,
    num_partitions: int | None = None,
    checkpointer: CheckpointManager | None = None,
    checkpoint_every: int = 5,
    hub_threshold: int | None = None,
    salt_buckets: int = 8,
    mode: str = "auto",
    weight_col: str | None = None,
    num_edges: int | None = None,
    init_ranks: DataFrame | None = None,
    sources: list[int] | None = None,
) -> RunResult:
    """Run PageRank to L-inf convergence < ``tol``; returns RunResult whose
    ``state`` has columns ``(id, out_degree, rank)``.

    ``sources``: PERSONALIZED PageRank (random walk with restart): the
    teleport and the dangling redistribution both follow the preference
    vector ``pref(v) = 1/|S|`` for v in ``sources`` else 0 instead of
    the uniform 1/n — ``rank' = (1-d)·pref + d·(contrib + dangling·pref)``
    with ``rank0 = pref`` (the standard power-iteration start; the
    driver oracle unrolls exactly this recurrence). Vertices unreachable
    from S converge to rank 0. pref is computed as a pure expression of
    the id column (never stored in state), so checkpoints and resume are
    unchanged; the source list is driver-literal — suited to the usual
    few-seed restart sets, not million-seed vectors.

    ``weight_col``: weighted PageRank (SURVEY §2.2 option; [X13] type-2
    edges): duplicate (src, dst) weights are summed, out-links are
    normalized by each vertex's out-STRENGTH W(u) = Σw, messages carry
    ``rank(u)/W(u) · w(e)``, dangling = W(u) = 0. The state's
    ``out_degree`` column is then the (double) out-strength. Weight
    domain: strictly positive, non-NULL — a NULL or non-positive weight
    would make a vertex neither a sender (``W > 0`` is NULL) nor
    dangling, silently leaking rank mass, so the setup pass RAISES on
    any such row. Both shuffle and broadcast regimes support weights
    (broadcast senders carry ``rank/W``; the edge side scales by ``w``).

    ``num_edges``: caller-known |E| (skips one counting scan when the
    caller already materialized the edge table — every algo entry point
    accepts this; see VERDICT r2 item 7).

    ``init_ranks``: warm-start from a prior ``(id, rank)`` frame (e.g.
    the last converged run before the streaming lane grew the graph) —
    see ``seed_ranks`` for the exact semantics and why no
    renormalization is needed.

    ``mode``:
    - ``"shuffle"`` — scatter join + exchange from groupBy(dst): the
      general path, works at any |V| (this is Chaos's update shuffle).
    - ``"broadcast"`` — edges statically partitioned on ``dst``; every
      superstep broadcasts the (tiny) sender vector and aggregates
      map-side: ZERO per-superstep shuffle. Valid while the vertex state
      fits in executor memory — X-Stream's in-memory engine regime.
    - ``"stream"`` — the fused slipstore stream path (stream.pagerank_
      stream): blob state, file-sliced update streams, one narrow
      mapInPandas stage per superstep. Same recurrence and superstep
      count; float association differs (allclose, same rounded oracle).
    - ``"auto"`` — r6 (routing in algos._route): from the 100k-edge
      cold crossover (raw edges) the call is served by the STREAM path
      — measured faster than broadcast/shuffle at every scale past the
      block-build crossover
      (sf0.1: broadcast 21.2 s iterate + 28.0 s setup vs stream 3.9 s
      iterate + build; 64M: BENCH/*_ab_64m.json). Below it: broadcast
      iff |V| <= the memory-derived ceiling (_broadcast_max_vertices:
      ~10% of executor heap at 64 B/vertex, hard-capped at 20M), else
      shuffle — unchanged small-graph behavior, so the sf0.01 driver
      oracles exercise the identical paths they always did. Stream
      routing requires ``hub_threshold=None`` (stream kernels
      pre-aggregate per-block — hub salting is a shuffle-path concept)
      and ``checkpointer=None`` (blob checkpoints are not row
      checkpoints; resumable runs keep their declared path).

    ``hub_threshold``: if set (shuffle mode), destinations with in-degree
    above it are salted into ``salt_buckets`` sub-keys (two-level
    aggregation) to absorb reducer skew on hub vertices; broadcast mode
    has no reducer at all, so skew is moot there.
    """
    from ..stream import pagerank_stream

    # No block flavor: below its crossover PageRank stays on the join
    # path even when warm blocks exist.
    stream, num_edges = stream_route(
        "pagerank", edges, mode, num_edges,
        unsupported={"hub_threshold": hub_threshold, "checkpointer": checkpointer},
        modes=("auto", "shuffle", "broadcast", "stream"),
    )
    if stream:
        return pagerank_stream(
            spark, edges, damping=damping, tol=tol, max_iters=max_iters,
            num_partitions=num_partitions, weight_col=weight_col,
            init_ranks=init_ranks, sources=sources, num_edges=num_edges,
        )
    p = num_partitions or choose_num_partitions(
        spark, num_edges if num_edges is not None else edges.count()
    )
    with superstep_conf(spark, p):
        n_verts = None
        if mode == "auto":
            n_verts = vertices_from_edges(edges.select(SRC, DST)).count()
            mode = (
                "broadcast"
                if n_verts <= _broadcast_max_vertices(spark) and hub_threshold is None
                else "shuffle"
            )
        if sources is not None and not sources:
            raise ValueError("sources must be a non-empty id list")
        if mode == "broadcast" and hub_threshold is None:
            layout, scatter = _broadcast_regime(p)
        else:
            layout, scatter = _shuffle_regime(p, hub_threshold, salt_buckets)
        return _pagerank_join(
            spark, edges, layout, scatter, damping, tol, max_iters, p,
            checkpointer, checkpoint_every, weight_col, init_ranks, sources,
            n_verts,
        )


def _pref_expr(sources, id_col=None):
    """The preference vector as a pure Catalyst expression of the id
    column — 1/|S| inside the source set, 0 outside."""
    col = id_col if id_col is not None else F.col(ID)
    return F.when(
        col.isin([int(s) for s in sources]), F.lit(1.0 / len(sources))
    ).otherwise(F.lit(0.0))


def _dangling_mass():
    """Sum of the ranks of out-degree-0 vertices, as the ``dm`` metric."""
    return F.sum(
        F.when(F.col("out_degree") == 0, F.col("rank")).otherwise(0.0)
    ).alias("dm")


def _validate_weights(edges, weight_col: str) -> None:
    """Raise on NULL/non-positive edge weights (see pagerank docstring:
    such rows make a vertex neither sender nor dangling — silent rank-mass
    leak). One-time CollectLimit action at setup; the scan short-circuits
    on the first offending row."""
    bad = (
        edges.where(F.col(weight_col).isNull() | (F.col(weight_col) <= 0))
        .select(SRC, DST, weight_col)
        .first()
    )
    if bad is not None:
        raise ValueError(
            f"weighted PageRank requires strictly positive non-NULL weights; "
            f"offending edge: {bad.asDict()}"
        )


def _prep_weighted(edges, weight_col: str):
    """Weighted edge table: duplicate (src, dst) weights summed."""
    return (
        edges.select(SRC, DST, F.col(weight_col).cast("double").alias("w"))
        .groupBy(SRC, DST)
        .agg(F.sum("w").alias("w"))
    )


def _broadcast_regime(p):
    """Zero-shuffle superstep: edges hash-partitioned on dst ONCE; the
    sender vector (id, rank/outdeg) is broadcast; groupBy(dst) reuses the
    static layout (no exchange); the apply join sees both sides hash-
    partitioned on the join key (no exchange). Every superstep is
    embarrassingly parallel over the edge partitions — Spark's image of
    X-Stream's in-memory streaming partitions. Weighted runs broadcast
    ``rank/W`` and scale by ``w`` on the (static, co-partitioned) edge
    side — the zero-shuffle property is weight-agnostic."""

    def layout(e):
        return e.repartition(p, F.col(DST))

    def scatter(e, senders, m):
        return (
            e.join(F.broadcast(senders), e[SRC] == senders[ID])
            .groupBy(DST)
            .agg(F.sum(m).alias("contrib"))
        )

    return layout, scatter


def _shuffle_regime(p, hub_threshold, salt_buckets):
    """Scatter join + exchange from groupBy(dst): edges partitioned on the
    scatter join key ONCE, only the state side shuffles; hub destinations
    optionally salted into two-level aggregation."""

    def layout(e):
        e = partition_edges(e, p, by=SRC)
        return e if hub_threshold is None else salt_edges(e, hub_threshold, salt_buckets)

    def scatter(e, senders, m):
        keys = [F.col(DST)] if hub_threshold is None else [F.col(DST), F.col("salt")]
        msgs = e.join(senders, e[SRC] == senders[ID]).select(*keys, m.alias("m"))
        if hub_threshold is not None:
            return salted_agg(msgs, "m", "sum").withColumnRenamed("m", "contrib")
        return msgs.groupBy(DST).agg(F.sum("m").alias("contrib"))

    return layout, scatter


def _pagerank_join(
    spark, edges, layout, scatter, damping, tol, max_iters, p, checkpointer,
    checkpoint_every, weight_col, init_ranks, sources, n_verts,
) -> RunResult:
    """Setup and superstep loop of both join regimes. ``layout(e)`` places
    the static edge table; ``scatter(e, senders, m)`` sums the message
    column ``m`` per destination into ``(dst, contrib)``.

    Setup runs each fact once. The edge table is persisted and filled by
    its first real job: the vertex count when the caller pinned the mode,
    else the init job, or on resume the first superstep. ``n_verts`` is
    the auto-mode count over the raw edges; dedup keeps every vertex, so
    it is |V| here too.
    """
    weighted = weight_col is not None
    if weighted:
        _validate_weights(edges, weight_col)
        e = _prep_weighted(edges, weight_col)
    else:
        e = dedup_edges(edges)
    e = layout(e).persist()
    verts = vertices_from_edges(e)
    n = n_verts if n_verts is not None else verts.count()
    if weighted:
        # Out-strength W(u) — the weighted analogue of the degree pre-pass.
        deg = e.groupBy(F.col(SRC).alias(ID)).agg(F.sum("w").alias("out_degree"))
    else:
        deg = out_degrees(e)

    # Dangling mass is a driver-side scalar, refreshed by the barrier job
    # that tests convergence and recorded in each step's stats (so in every
    # checkpoint manifest). A fresh run observes it in the init job; a
    # resume reads it from the manifest, aggregating the loaded state only
    # for a manifest written without it.
    manifest = checkpointer.latest() if checkpointer is not None else None
    if manifest is None:
        start = 0
        state = seed_ranks(verts, deg, n, init_ranks).repartition(p, F.col(ID))
        if sources is not None and init_ranks is None:
            # PPR power-iteration start: rank0 = pref (oracle recurrence).
            state = state.select(ID, "out_degree", _pref_expr(sources).alias("rank"))
        state, stats = materialize_stats(state, [_dangling_mass()])
        dm = stats["dm"]
    else:
        start = int(manifest["superstep"])
        state = checkpointer.load(spark, manifest)
        dm = manifest["metrics"].get("dm")
        if dm is None:
            dm = state.agg(_dangling_mass()).first()["dm"]
    dangling = {"mass": float(dm or 0.0)}
    m = (F.col("m0") * F.col("w")) if weighted else F.col("m0")

    def step(cur: DataFrame, superstep: int):
        dm = dangling["mass"]
        senders = cur.where(F.col("out_degree") > 0).select(
            F.col(ID), (F.col("rank") / F.col("out_degree")).alias("m0")
        )
        contribs = scatter(e, senders, m)
        if sources is None:
            teleport = F.lit((1.0 - damping) / n)
            dang_share = F.lit(dm / n)
        else:
            pref = _pref_expr(sources, cur[ID])
            teleport = F.lit(1.0 - damping) * pref
            dang_share = F.lit(dm) * pref
        new = cur.join(
            contribs.hint("shuffle_hash"), cur[ID] == contribs[DST], "left"
        ).select(
            cur[ID],
            cur["out_degree"],
            cur["rank"].alias("_prev"),
            (
                teleport
                + F.lit(damping)
                * (F.coalesce(F.col("contrib"), F.lit(0.0)) + dang_share)
            ).alias("rank"),
        )
        new, stats = materialize_stats(
            new,
            [
                F.max(F.abs(F.col("rank") - F.col("_prev"))).alias("delta"),
                _dangling_mass(),
            ],
            keep=[ID, "out_degree", "rank"],
        )
        dangling["mass"] = float(stats["dm"] or 0.0)
        delta = float(stats["delta"] or 0.0)
        return new, {"converged": delta < tol, "delta": delta, "dm": dangling["mass"]}

    result = run_supersteps(
        state, step, max_iters, checkpointer, checkpoint_every, start_superstep=start
    )
    e.unpersist()
    result.state = result.state.select(ID, "out_degree", "rank")
    return result
