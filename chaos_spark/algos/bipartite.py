"""Bipartiteness check — BFS-parity 2-coloring with conflict detection.

Semantics ([X13] §5.2 lists a BFS-parity bipartiteness kernel): over the
undirected, self-loop-free graph, 2-color each component by the parity of
the shortest-path distance from the component's root (we root at the
minimum vertex id per component, discovered on the fly: every vertex
starts as its own candidate root and adopts the smaller (root, dist)
lexicographically — this converges to shortest distance from the true
min-id root). An edge whose endpoints get equal colors witnesses an odd
cycle; the graph is bipartite iff no such edge exists.

Deterministic: min-fold over (root, dist) structs; exact-matchable against
a NetworkX shortest-path-parity oracle.
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
from ..graph import DST, ID, SRC, dedup_edges, partition_edges, symmetrize, vertices_from_edges
from ._route import stream_route


def bipartite_check(
    spark: SparkSession,
    edges: DataFrame,
    max_iters: int = 200,
    num_partitions: int | None = None,
    mode: str = "auto",
    num_edges: int | None = None,
) -> RunResult:
    """Result ``state``: ``(id, root, dist, color)`` — color = dist % 2 from
    the component's min-id root. ``history[-1]['odd_edges']`` counts
    conflict edges; bipartite iff it is 0 (``history[-1]['bipartite']``).

    ``mode="auto"`` (default; routing in algos._route) serves the call
    through the fused packed-lexmin STREAM path
    (stream_algos.bipartite_stream — exact same per-superstep (root,
    dist) state, superstep count, output, and odd-edge count, see
    _ParityBFS) from the 1M-edge cold crossover, or below it on warm
    plain undirected blocks (the CC/LPA/HyperANF/MIS flavor). Measured
    at 64M edges local[8], 4 fixed supersteps
    (scripts/bipartite_stream_ab.py,
    BENCH/bipartite_stream_ab_64m.json): stream supersteps 0.41–0.61 s
    vs join 1.1–13.9 s (15.6× on superstep totals), state diff 0,
    identical odd-edge counts."""
    from ..stream_algos import _ParityBFS, bipartite_stream

    stream, num_edges = stream_route(
        "bipartite", edges, mode, num_edges, num_partitions,
        _ParityBFS().block_flavor,
    )
    if stream:
        return bipartite_stream(
            spark, edges, max_iters=max_iters,
            num_partitions=num_partitions, num_edges=num_edges,
        )
    p = num_partitions or choose_num_partitions(
        spark, (num_edges if num_edges is not None else edges.count()) * 2
    )
    with superstep_conf(spark, p):
        return _bipartite(spark, edges, max_iters, p)


def _bipartite(spark, edges, max_iters, p) -> RunResult:
    # Vertex universe keeps self-loop-only vertices (isolated: color 0);
    # parity propagation and conflicts run on the loop-free closure.
    raw = dedup_edges(edges)
    und = symmetrize(raw.where(F.col(SRC) != F.col(DST)))
    verts = vertices_from_edges(raw)
    und = partition_edges(und, p, by=SRC).persist()
    und.count()

    # state: best-known (root, dist); min-fold on the struct converges to
    # (min component id, shortest dist from it) — BFS and hash-min in one.
    state = materialize(
        verts.select(
            F.col(ID), F.col(ID).alias("root"), F.lit(0).cast("long").alias("dist"),
            F.lit(True).alias("changed"),
        ).repartition(p, F.col(ID))
    )
    state.count()

    def step(cur: DataFrame, superstep: int):
        frontier = cur.where(F.col("changed")).select(ID, "root", "dist")
        msgs = und.join(frontier.withColumnRenamed(ID, SRC), SRC).select(
            F.col(DST), F.struct(F.col("root"), (F.col("dist") + 1).alias("dist")).alias("cand")
        )
        best = msgs.groupBy(DST).agg(F.min("cand").alias("cand"))
        new = cur.join(best, cur[ID] == best[DST], "left").select(
            cur[ID],
            F.when(
                F.col("cand").isNotNull()
                & (F.col("cand") < F.struct(cur["root"], cur["dist"].alias("dist"))),
                F.col("cand.root"),
            ).otherwise(cur["root"]).alias("root"),
            F.when(
                F.col("cand").isNotNull()
                & (F.col("cand") < F.struct(cur["root"], cur["dist"].alias("dist"))),
                F.col("cand.dist"),
            ).otherwise(cur["dist"]).alias("dist"),
            (
                F.col("cand").isNotNull()
                & (F.col("cand") < F.struct(cur["root"], cur["dist"].alias("dist")))
            ).alias("changed"),
        )
        new = materialize(new)
        changed = new.where(F.col("changed")).count()
        return new, {"converged": changed == 0, "changed": changed}

    result = run_supersteps(state, step, max_iters)

    colored = result.state.select(ID, "root", "dist", (F.col("dist") % 2).alias("color"))
    colored = colored.persist()
    _record_odd_edges(result, und, colored)
    und.unpersist()
    result.state = colored
    return result


def _record_odd_edges(result: RunResult, und: DataFrame, colored: DataFrame) -> None:
    """Count the conflict edges — loop-free undirected edges ``und`` whose
    endpoints ``colored`` gives one color — into the last superstep's
    history entry as ``odd_edges`` and ``bipartite``. Shared by the join
    and stream paths. A run of zero supersteps has no entry to hold it."""
    if not result.history:
        return
    odd = (
        und.where(F.col(SRC) < F.col(DST))
        .join(colored.select(F.col(ID).alias(SRC), F.col("color").alias("c1")), SRC)
        .join(colored.select(F.col(ID).alias(DST), F.col("color").alias("c2")), DST)
        .where(F.col("c1") == F.col("c2"))
        .count()
    )
    result.history[-1].update(odd_edges=odd, bipartite=odd == 0)
