"""Connected components (WCC) via hash-min label propagation.

Semantics ([X13] §5.2 `cc` kernel): init ``label = id``; every superstep
each vertex takes the min of its label and its neighbors' labels over the
undirected closure of the edge table; converged when no label changes.
With init = id the fixed point assigns every component the minimum vertex
id in it — which is exactly how the NetworkX oracle is normalized, so the
match is exact.

Delta optimization (frontier): only vertices whose label changed last
superstep re-send — correct because a min that already propagated never
needs re-sending; this is the DataFrame analogue of X-Stream's
"algorithms that stream a shrinking update set".
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


def connected_components(
    spark: SparkSession,
    edges: DataFrame,
    max_iters: int = 200,
    num_partitions: int | None = None,
    checkpointer: CheckpointManager | None = None,
    checkpoint_every: int = 5,
    num_edges: int | None = None,
    init_labels: DataFrame | None = None,
    mode: str = "auto",
) -> RunResult:
    """Hash-min WCC; result ``state`` has columns ``(id, label)`` where
    ``label`` is the minimum vertex id of the component.
    ``num_edges``: caller-known |E| — skips the partition-sizing count.

    ``mode`` (r6; routing in algos._route): ``"auto"`` routes to the
    fused slipstore stream kernel (stream_algos.cc_stream — EXACT same
    fixed point, superstep count, and integer labels) from CC's cold
    crossover (200k raw edges, measured in csr.py), or below it on warm
    undirected blocks. Warm-start (``init_labels``) and resumable
    (``checkpointer``) runs stay on the join path — the stream kernel's
    blob checkpoints and seed contract are separate.

    ``init_labels``: warm-start from a prior ``(id, label)`` frame — the
    incremental-ingest handoff for CC, and unlike PageRank's it is EXACT
    in both directions:

    - Unchanged graph: ``L_t(v) = min over u within distance t of
      L_0(u)``, so warm(cold-k state) + j supersteps ≡ cold k+j
      supersteps identically (the frontier optimization preserves this —
      an unchanged neighbor's label was already folded in).
    - Grown graph (edge/vertex ADDITIONS only — the streaming lane's
      append-only corpus; deletions can split components and invalidate
      prior labels): every prior label is the id of some vertex in the
      same (merged) component and every id ≥ its component's min, so the
      fixed point is still the exact per-component min id, reached in
      fewer supersteps because old components are pre-collapsed.

    Vertices absent from the prior start at their own id; labels are
    clamped with least(id, prior) so a malformed prior (label > id)
    cannot raise the fixed point.
    """
    from ..stream_algos import _HashMinCC, cc_stream

    stream, num_edges = stream_route(
        "cc", edges, mode, num_edges, num_partitions,
        _HashMinCC().block_flavor,
        {"init_labels": init_labels, "checkpointer": checkpointer},
    )
    if stream:
        return cc_stream(
            spark, edges, max_iters=max_iters,
            num_partitions=num_partitions, num_edges=num_edges,
        )
    p = num_partitions or choose_num_partitions(
        spark, (num_edges if num_edges is not None else edges.count()) * 2
    )
    with superstep_conf(spark, p):
        return _cc(
            spark, edges, max_iters, p, checkpointer, checkpoint_every,
            init_labels,
        )


def _cc(
    spark, edges, max_iters, p, checkpointer, checkpoint_every,
    init_labels=None,
) -> RunResult:
    und = symmetrize(edges)
    verts = vertices_from_edges(und)
    # sort=False: unlike PageRank's static full-table scatter, CC's
    # frontier SHRINKS every superstep, so the one-time within-partition
    # sort never amortizes (r3 A/B at sf0.1: no measurable difference,
    # 9.7 s sorted vs 9.4 s unsorted over 4 runs each — and at 10^12
    # edges the sort is hours of pure waste). r2's recorded 16.3 s was
    # bench run-order JVM state, not cc code (standalone: 7.8-12 s).
    und = partition_edges(und, p, by=SRC, sort=False).persist()
    try:
        und.count()

        def init() -> DataFrame:
            if init_labels is None:
                seed = verts.select(F.col(ID), F.col(ID).alias("label"))
            else:
                pri = init_labels.select(
                    F.col(ID).alias("_pid"), F.col("label").alias("_plab")
                )
                seed = verts.join(pri, verts[ID] == F.col("_pid"), "left").select(
                    verts[ID],
                    F.least(
                        verts[ID], F.coalesce(F.col("_plab"), verts[ID])
                    ).alias("label"),
                )
            # changed=True everywhere: the first warm superstep does one full
            # scatter (the price of restarting), after which the shrinking
            # frontier resumes — required for the exact warm(k)+j ≡ cold k+j
            # identity above.
            return materialize(
                seed.select(ID, "label", F.lit(True).alias("changed")).repartition(
                    p, F.col(ID)
                )
            )

        state, start = resume_or_init(spark, checkpointer, init)

        def step(cur: DataFrame, superstep: int):
            frontier = cur.where(F.col("changed")).select(F.col(ID), F.col("label"))
            msgs = und.join(frontier, und[SRC] == frontier[ID]).select(
                F.col(DST), F.col("label")
            )
            mins = msgs.groupBy(DST).agg(F.min("label").alias("_ml"))
            new = cur.join(
                mins.hint("shuffle_hash"), cur[ID] == mins[DST], "left"
            ).select(
                cur[ID],
                F.least(cur["label"], F.coalesce(F.col("_ml"), cur["label"])).alias("label"),
                (F.col("_ml").isNotNull() & (F.col("_ml") < cur["label"])).alias("changed"),
            )
            # `changed` stays in the state — it is next superstep's frontier.
            new, m = materialize_stats(
                new, [F.sum(F.col("changed").cast("long")).alias("c")]
            )
            changed = int(m["c"] or 0)
            return new, {"converged": changed == 0, "changed": changed}

        result = run_supersteps(
            state, step, max_iters, checkpointer, checkpoint_every, start_superstep=start
        )
    finally:
        und.unpersist()
    result.state = result.state.select(ID, "label")
    return result
