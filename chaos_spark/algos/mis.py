"""Maximal independent set — Luby's algorithm with deterministic priorities.

Semantics ([X13] §5.2 `mis` kernel; Luby 1986): rounds over the undirected,
self-loop-free graph. Every still-undecided vertex draws a priority; a
vertex enters the IS iff its priority is strictly smallest among itself and
all undecided neighbors; neighbors of new IS members become OUT. Repeat
until nothing is undecided. The reference uses a per-round random priority;
we use a deterministic portable hash so (a) runs are reproducible and
(b) the DuckDB oracle can evaluate the identical function:

    priority(v, round) = (v * 2654435761 + round * 40503) mod 2147483647

(Knuth multiplicative hashing; values fit in int64 for ids < 2^32 —
harness ids are < 2*10^7, fixture ids < 2^20.) Ties are impossible within
a round for distinct ids mod 2147483647 unless ids collide mod the prime;
the strict `<` + id tie-break in the struct comparison keeps even that
case deterministic.

Spark mapping: one scatter (join on undecided frontier) + min-gather per
round, exactly the CC shape with `min(struct(priority, id))` as the fold.
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

PRI_A = 2654435761
PRI_B = 40503
PRI_P = 2147483647

UNDECIDED, IN_SET, OUT = 0, 1, 2


def priority_col(id_col, round_no: int):
    return F.pmod(id_col * F.lit(PRI_A) + F.lit(round_no * PRI_B), F.lit(PRI_P))


def maximal_independent_set(
    spark: SparkSession,
    edges: DataFrame,
    max_iters: int = 50,
    num_partitions: int | None = None,
    mode: str = "auto",
    num_edges: int | None = None,
) -> RunResult:
    """Luby MIS; result ``state`` has ``(id, in_set)`` with in_set boolean.
    Deterministic for a given edge set (seeded hash priorities).

    ``mode="auto"`` (default; routing in algos._route) serves the call
    through the fused two-phase STREAM path (stream_algos.mis_stream —
    identical per-round status vectors and final set, 2 supersteps per
    Luby round, see _LubyMIS) from the 1M-edge cold crossover: each
    join-path round is two shuffled message exchanges plus a distinct
    and two left joins, where the two stream phases are blob passes.
    Measured at 64M edges local[8], 2 fixed rounds
    (scripts/mis_stream_ab.py, BENCH/mis_stream_ab_64m.json): stream
    phases 0.55–0.60 s (3.85 s wall) vs join rounds 6.1–24.2 s (102.2 s
    wall, 26.5×), in_set diff 0. MIS runs few rounds (O(log n)
    expected), so it keeps CC's conservative 1M cold crossover; below
    it, warm plain undirected blocks route stream (the same flavor
    CC/LPA/HyperANF build — self-loops masked in-kernel, not at prep).
    ``max_iters`` counts Luby ROUNDS on every path (the stream path is
    budgeted 2x internally)."""
    from ..stream_algos import _LubyMIS, mis_stream

    stream, num_edges = stream_route(
        "mis", edges, mode, num_edges, num_partitions, _LubyMIS().block_flavor,
    )
    if stream:
        return mis_stream(
            spark, edges, max_iters=2 * max_iters,
            num_partitions=num_partitions, num_edges=num_edges,
        )
    p = num_partitions or choose_num_partitions(
        spark, (num_edges if num_edges is not None else edges.count()) * 2
    )
    with superstep_conf(spark, p):
        return _mis(spark, edges, max_iters, p)


def _mis(spark, edges, max_iters, p) -> RunResult:
    # Vertex universe from the RAW edge list (a vertex appearing only in a
    # self-loop is isolated and must still be decided -> it joins the IS);
    # adjacency from the loop-free closure.
    raw = dedup_edges(edges)
    und = symmetrize(raw.where(F.col(SRC) != F.col(DST)))
    verts = vertices_from_edges(raw)
    und = partition_edges(und, p, by=SRC).persist()
    und.count()

    state = materialize(
        verts.select(F.col(ID), F.lit(UNDECIDED).alias("status")).repartition(p, F.col(ID))
    )
    state.count()

    def step(cur: DataFrame, superstep: int):
        active = cur.where(F.col("status") == UNDECIDED).select(
            F.col(ID), priority_col(F.col(ID), superstep).alias("pri")
        )
        # Min neighbor priority among undecided neighbors.
        msgs = (
            und.join(active.withColumnRenamed(ID, SRC), SRC)
            .select(F.col(DST), F.struct("pri", F.col(SRC).alias(ID)).alias("np"))
        )
        nbr_min = msgs.groupBy(DST).agg(F.min("np").alias("np"))
        decided = (
            active.join(nbr_min, active[ID] == nbr_min[DST], "left")
            .select(
                active[ID],
                F.when(
                    F.col("np").isNull()
                    | (F.struct(active["pri"], active[ID].alias(ID)) < F.col("np")),
                    F.lit(IN_SET),
                ).alias("new_status"),
            )
            .where(F.col("new_status").isNotNull())
        )
        # Neighbors of new IS members become OUT.
        knocked = (
            und.join(decided.withColumnRenamed(ID, SRC).select(SRC), SRC)
            .select(F.col(DST).alias(ID))
            .distinct()
            .withColumn("knocked", F.lit(True))
        )
        new = (
            cur.join(decided, ID, "left")
            .join(knocked, ID, "left")
            .select(
                F.col(ID),
                F.when(F.col("status") != UNDECIDED, F.col("status"))
                .when(F.col("new_status").isNotNull(), F.lit(IN_SET))
                .when(F.col("knocked").isNotNull(), F.lit(OUT))
                .otherwise(F.lit(UNDECIDED))
                .alias("status"),
            )
        )
        new = materialize(new)
        undecided = new.where(F.col("status") == UNDECIDED).count()
        return new, {"converged": undecided == 0, "undecided": undecided}

    result = run_supersteps(state, step, max_iters)
    und.unpersist()
    result.state = result.state.select(ID, (F.col("status") == IN_SET).alias("in_set"))
    return result
