"""Label propagation for community detection (synchronous, deterministic).

Not in X-Stream's published suite; required by the north rule
(BASELINE.json). Semantics = classic LPA (Raghavan et al. 2007) made
deterministic per SURVEY §2.2: init ``label = id``; each superstep EVERY
vertex simultaneously adopts the most frequent label among its neighbors
over the undirected closure, ties broken by the SMALLEST label; isolated
vertices (no neighbors) keep their label. Runs a fixed number of
supersteps (default 10) or stops early when no label changes.

Gather is the two-level aggregate from SURVEY §2.2: count per
``(dst, label)``, then pick the (max count, min label) row per dst via
``max_by(label, struct(cnt, -label))`` — a pure hash aggregate. The
row_number window used previously forced a full sort exchange every
superstep (measured: 134 s of a 276 s bench at sf0.1); semantics are
identical (the oracle SQL's row_number pick selects the same row), only
the physical plan differs. ANSI note: ``-label`` on BIGINT can only
overflow at int64 min, which xxhash64-minted ids hit with probability
~2^-64 — accepted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..checkpoint import CheckpointManager
from ..engine import (
    RunResult,
    choose_num_partitions,
    materialize,
    materialize_stats,
    resume_or_init,
    run_supersteps,
    superstep_conf,
)
from ..graph import DST, ID, SRC, partition_edges, symmetrize, vertices_from_edges
from ._route import stream_route


def label_propagation(
    spark: SparkSession,
    edges: DataFrame,
    max_iters: int = 10,
    num_partitions: int | None = None,
    checkpointer: CheckpointManager | None = None,
    checkpoint_every: int = 5,
    num_edges: int | None = None,
    mode: str = "auto",
) -> RunResult:
    """Synchronous LPA; result ``state`` has columns ``(id, label)``.
    ``num_edges``: caller-known |E| — skips the partition-sizing count.

    ``mode`` (r6; routing in algos._route): ``"auto"`` routes to the
    fused slipstore stream kernel (stream_algos.lpa_stream — EXACT same
    fixed point, superstep count, deterministic tie-break, integer
    labels) from the many-superstep cold crossover (100k raw edges), or
    below it on warm undirected blocks. Resumable runs
    (``checkpointer``) stay on the join path."""
    from ..stream_algos import _ModeLabelLPA, lpa_stream

    stream, num_edges = stream_route(
        "lpa", edges, mode, num_edges, num_partitions,
        _ModeLabelLPA().block_flavor, {"checkpointer": checkpointer},
    )
    if stream:
        return lpa_stream(
            spark, edges, max_iters=max_iters,
            num_partitions=num_partitions, num_edges=num_edges,
        )
    p = num_partitions or choose_num_partitions(
        spark, (num_edges if num_edges is not None else edges.count()) * 2
    )
    with superstep_conf(spark, p):
        return _lpa(spark, edges, max_iters, p, checkpointer, checkpoint_every)


def _lpa(spark, edges, max_iters, p, checkpointer, checkpoint_every) -> RunResult:
    und = symmetrize(edges)
    verts = vertices_from_edges(und)
    und = partition_edges(und, p, by=SRC).persist()
    und.count()

    def init() -> DataFrame:
        return materialize(
            verts.select(F.col(ID), F.col(ID).alias("label")).repartition(p, F.col(ID))
        )

    state, start = resume_or_init(spark, checkpointer, init)

    def step(cur: DataFrame, superstep: int):
        msgs = und.join(cur, und[SRC] == cur[ID]).select(F.col(DST), F.col("label"))
        counts = msgs.groupBy(DST, "label").agg(F.count(F.lit(1)).alias("cnt"))
        best = counts.groupBy(DST).agg(
            F.max_by("label", F.struct(F.col("cnt"), -F.col("label"))).alias("_nl")
        )
        new = cur.join(
            best.hint("shuffle_hash"), cur[ID] == best[DST], "left"
        ).select(
            cur[ID],
            F.coalesce(F.col("_nl"), cur["label"]).alias("label"),
            (F.coalesce(F.col("_nl"), cur["label"]) != cur["label"]).alias("_changed"),
        )
        new, m = materialize_stats(
            new,
            [F.sum(F.col("_changed").cast("long")).alias("c")],
            keep=[ID, "label"],
        )
        changed = int(m["c"] or 0)
        return new, {"converged": changed == 0, "changed": changed}

    result = run_supersteps(
        state, step, max_iters, checkpointer, checkpoint_every, start_superstep=start
    )
    und.unpersist()
    result.state = result.state.select(ID, "label")
    return result
