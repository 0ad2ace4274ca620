"""BFS and SSSP (Bellman–Ford) — frontier-based iterative jobs.

Reference kernels: [X13] §5.2 `bfs.hpp`, `sssp.hpp`. init ``dist = inf``
(modeled as NULL), ``dist(root) = 0``; scatter from the frontier (vertices
whose dist improved last superstep) ``m = dist(u) + w``; gather ``min``;
converged when the frontier is empty. BFS is SSSP with w = 1 on the
directed edge table; pass ``symmetric=True`` for the undirected variant.

When the frontier is small Spark's AQE picks a broadcast hash join for
the scatter join automatically — the "broadcast frontier" optimization in
SURVEY §2.2 for free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..checkpoint import CheckpointManager
from ..engine import (
    RunResult,
    choose_num_partitions,
    materialize,
    resume_or_init,
    run_supersteps,
    superstep_conf,
)
from ..graph import DST, ID, SRC, dedup_edges, partition_edges, symmetrize, vertices_from_edges
from ._route import stream_route


def sssp(
    spark: SparkSession,
    edges: DataFrame,
    root: int,
    weight_col: str | None = None,
    symmetric: bool = False,
    max_iters: int = 200,
    num_partitions: int | None = None,
    checkpointer: CheckpointManager | None = None,
    checkpoint_every: int = 5,
    mode: str = "auto",
    num_edges: int | None = None,
) -> RunResult:
    """Single-source shortest paths; result state ``(id, dist)`` with NULL
    dist for unreachable vertices. ``weight_col=None`` -> BFS (w = 1).

    ``mode="auto"`` (default; routing in algos._route) serves the call
    through the fused min-plus STREAM path (stream_algos.sssp_stream —
    exact same per-superstep state, superstep count, and output, see
    _MinPlusSSSP) from the 1M-edge cold crossover, or below it on warm
    blocks of the kernel's flavor; the frontier join path serves the
    rest (BFS/SSSP run few, cheap supersteps at small scale, so a cold
    block build isn't amortized — CC's rationale). Measured at 64M
    edges local[8], 5 fixed supersteps (scripts/sssp_stream_ab.py,
    BENCH/sssp_stream_ab_64m.json): stream supersteps 0.33–0.66 s vs
    join 0.86–19.3 s, dist diff 0."""
    from ..stream_algos import _MinPlusSSSP, sssp_stream

    stream, num_edges = stream_route(
        "sssp", edges, mode, num_edges, num_partitions,
        _MinPlusSSSP(root, weight_col, symmetric).block_flavor,
    )
    if stream:
        return sssp_stream(
            spark, edges, root, weight_col=weight_col,
            symmetric=symmetric, max_iters=max_iters,
            num_partitions=num_partitions, checkpointer=checkpointer,
            checkpoint_every=checkpoint_every, num_edges=num_edges,
        )
    p = num_partitions or choose_num_partitions(
        spark,
        (num_edges if num_edges is not None else edges.count())
        * (2 if symmetric else 1)
    )
    with superstep_conf(spark, p):
        return _sssp(
            spark, edges, root, weight_col, symmetric, max_iters, p,
            checkpointer, checkpoint_every,
        )


def _sssp(
    spark, edges, root, weight_col, symmetric, max_iters, p,
    checkpointer, checkpoint_every,
) -> RunResult:
    if weight_col is None:
        e = dedup_edges(edges).withColumn("w", F.lit(1.0))
    else:
        e = edges.select(SRC, DST, F.col(weight_col).cast("double").alias("w"))
    if symmetric:
        rev = e.select(F.col(DST).alias(SRC), F.col(SRC).alias(DST), "w")
        e = e.union(rev)
    verts = vertices_from_edges(e)
    e = partition_edges(e, p, by=SRC).persist()
    e.count()

    def init() -> DataFrame:
        return materialize(
            verts.select(
                F.col(ID),
                F.when(F.col(ID) == root, F.lit(0.0)).alias("dist"),
                (F.col(ID) == root).alias("changed"),
            ).repartition(p, F.col(ID))
        )

    state, start = resume_or_init(spark, checkpointer, init)

    def step(cur: DataFrame, superstep: int):
        frontier = cur.where(F.col("changed")).select(F.col(ID), F.col("dist"))
        msgs = e.join(frontier, e[SRC] == frontier[ID]).select(
            F.col(DST), (F.col("dist") + F.col("w")).alias("nd")
        )
        relax = msgs.groupBy(DST).agg(F.min("nd").alias("nd"))
        new = cur.join(relax, cur[ID] == relax[DST], "left").select(
            cur[ID],
            F.least(
                F.coalesce(cur["dist"], F.lit(float("inf"))),
                F.coalesce(F.col("nd"), F.lit(float("inf"))),
            ).alias("_d"),
            (
                F.col("nd").isNotNull()
                & (cur["dist"].isNull() | (F.col("nd") < cur["dist"]))
            ).alias("changed"),
        )
        new = new.select(
            F.col(ID),
            F.when(F.col("_d") != float("inf"), F.col("_d")).alias("dist"),
            F.col("changed"),
        )
        new = materialize(new)
        relaxed = new.where(F.col("changed")).count()
        return new, {"converged": relaxed == 0, "changed": relaxed}

    result = run_supersteps(
        state, step, max_iters, checkpointer, checkpoint_every, start_superstep=start
    )
    e.unpersist()
    result.state = result.state.select(ID, "dist")
    return result


def bfs(
    spark: SparkSession,
    edges: DataFrame,
    root: int,
    symmetric: bool = False,
    max_iters: int = 200,
    **kw,
) -> RunResult:
    """BFS hop counts from ``root``; ``(id, dist)`` with NULL = unreachable."""
    return sssp(
        spark, edges, root, weight_col=None, symmetric=symmetric, max_iters=max_iters, **kw
    )
