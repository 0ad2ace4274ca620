"""K-core decomposition by iterative peeling ([X13] §5.2 `kcores.hpp`).

Repeatedly drop vertices whose degree in the surviving subgraph is < k;
the fixed point is the k-core. Result: the set of vertices in the k-core
(``in_core`` flag over all vertices). Runs on the undirected closure.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..engine import (
    RunResult,
    choose_num_partitions,
    materialize,
    run_supersteps,
    superstep_conf,
)
from ..graph import DST, ID, SRC, partition_edges, symmetrize, vertices_from_edges
from ._route import stream_route


def k_core(
    spark: SparkSession,
    edges: DataFrame,
    k: int,
    max_iters: int = 100,
    num_partitions: int | None = None,
    mode: str = "auto",
    num_edges: int | None = None,
) -> RunResult:
    """Vertices of the k-core; result state ``(id, in_core boolean)``.

    ``mode="auto"`` (default; routing in algos._route) serves the call
    through the fused sum-semiring STREAM path (stream_algos.kcore_stream
    — exact same per-superstep alive set and superstep count, see
    _KCorePeel) from the shared 100k-edge cold crossover (record:
    BENCH/route_sweep.json): each join-path superstep is TWO shuffle joins
    (both-endpoints-alive filter) plus a groupBy where the stream
    superstep is one blob pass. Measured at 64M edges local[8], 3 fixed
    supersteps, k=8 (scripts/kcore_stream_ab.py,
    BENCH/kcore_stream_ab_64m.json): stream supersteps 0.36–0.39 s vs
    join 16.3–81.5 s (56× wall), in_core diff 0. Below the crossover,
    warm self-loop-free undirected blocks still route stream."""
    from ..stream_algos import _KCorePeel, kcore_stream

    stream, num_edges = stream_route(
        "kcores", edges, mode, num_edges, num_partitions,
        _KCorePeel(k).block_flavor,
    )
    if stream:
        return kcore_stream(
            spark, edges, k, max_iters=max_iters,
            num_partitions=num_partitions, num_edges=num_edges,
        )
    p = num_partitions or choose_num_partitions(
        spark, (num_edges if num_edges is not None else edges.count()) * 2
    )
    with superstep_conf(spark, p):
        return _k_core(spark, edges, k, max_iters, p)


def _k_core(spark, edges, k, max_iters, p) -> RunResult:
    und = symmetrize(edges).where(F.col(SRC) != F.col(DST))
    verts = vertices_from_edges(und)
    und = partition_edges(und, p, by=SRC).persist()
    und.count()

    state = materialize(verts.select(F.col(ID), F.lit(True).alias("in_core")))

    def step(cur: DataFrame, superstep: int):
        alive = cur.where(F.col("in_core")).select(ID)
        a_src = alive.select(F.col(ID).alias(SRC))
        a_dst = alive.select(F.col(ID).alias(DST))
        deg = (
            und.join(a_src, SRC)
            .join(a_dst, DST)
            .groupBy(F.col(SRC).alias(ID))
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        survivors = deg.where(F.col("deg") >= k).select(ID)
        # ONE action per superstep: the drop count (in_core only shrinks,
        # so converged <=> nothing flipped) and the alive count come from
        # the same materializing aggregate, PageRank-style.
        new = cur.select(ID, F.col("in_core").alias("_prev")).join(
            survivors.withColumn("_s", F.lit(True)), ID, "left"
        ).select(
            F.col(ID),
            F.coalesce(F.col("_s"), F.lit(False)).alias("in_core"),
            (F.col("_prev") & ~F.coalesce(F.col("_s"), F.lit(False))).alias("_chg"),
        )
        new = materialize(new)
        row = new.agg(
            F.sum(F.col("_chg").cast("long")).alias("dropped"),
            F.sum(F.col("in_core").cast("long")).alias("alive"),
        ).first()
        dropped = int(row["dropped"] or 0)
        return new, {"converged": dropped == 0, "alive": int(row["alive"] or 0)}

    result = run_supersteps(state, step, max_iters)
    und.unpersist()
    result.state = result.state.select(ID, "in_core")
    return result
