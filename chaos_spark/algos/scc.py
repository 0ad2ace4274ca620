"""Strongly connected components — forward-max coloring + backward sweep.

Semantics ([X13] §5.2 lists SCC in the suite; classic Orzan/FB-coloring):
repeat until every vertex is assigned:
  1. COLOR: among unassigned vertices, init ``color = id`` and propagate
     ``color' = max(color, max over in-edges (u->v) of color(u))`` to a
     fixed point. Every vertex reachable forward from the max-id vertex of
     its region shares that color; color regions never straddle SCCs'
     condensation order.
  2. SWEEP: vertices with ``color == id`` are roots. BFS *backward* (along
     reversed edges) from each root, restricted to its own color region:
     everything reached is in the root's SCC (forward-reachable by step 1,
     backward-reachable by step 2). Assign ``scc = color`` to them.
  3. Remove assigned vertices; unreached color regions iterate again.

Deterministic and exact; each outer round peels >= 1 SCC per color region,
so rounds are bounded by the longest condensation chain. Labels are then
normalized to the minimum member id so the NetworkX oracle match is exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..engine import (
    RunResult,
    choose_num_partitions,
    materialize,
    superstep_conf,
)
from ..graph import DST, ID, SRC, dedup_edges, partition_edges, vertices_from_edges
from ._route import stream_route


def strongly_connected_components(
    spark: SparkSession,
    edges: DataFrame,
    max_rounds: int = 50,
    max_iters: int = 200,
    num_partitions: int | None = None,
    mode: str = "auto",
    num_edges: int | None = None,
) -> RunResult:
    """FB-coloring SCC; result ``state`` has ``(id, label)`` where label is
    the minimum vertex id of the SCC.

    ``mode="auto"`` (default; routing in algos._route) serves the call
    through the fused two-graph STREAM path (stream_algos.scc_stream —
    identical final labels; dead vertices masked in-kernel instead of
    the per-round live-subgraph rebuild, which at scale costs two
    full-graph joins per peeling round) from the shared 100k-edge cold
    crossover (record: BENCH/route_sweep.json), or below it when
    scc_stream's forward blocks (directed, deduped) are already warm. ``max_iters`` budgets the inner
    fixpoints; the stream path's total-superstep budget is
    ``2 * max_iters``."""
    from ..stream_algos import _FBColoringSCC, scc_stream

    stream, num_edges = stream_route(
        "scc", edges, mode, num_edges, num_partitions,
        _FBColoringSCC().block_flavor,
    )
    if stream:
        return scc_stream(
            spark, edges, max_iters=2 * max_iters,
            num_partitions=num_partitions, num_edges=num_edges,
        )
    p = num_partitions or choose_num_partitions(
        spark, (num_edges if num_edges is not None else edges.count()) * 2
    )
    with superstep_conf(spark, p):
        return _scc(spark, edges, max_rounds, max_iters, p)


def _fixpoint(start, step_plan, count_changed):
    """Tiny inner driver: iterate plan until no row changes."""
    cur, iters = start, 0
    while True:
        new = materialize(step_plan(cur))
        changed = count_changed(new)
        iters += 1
        prev, cur = cur, new
        prev.unpersist()
        if changed == 0:
            return cur, iters


def _scc(spark, edges, max_rounds, max_iters, p) -> RunResult:
    e = dedup_edges(edges)
    e = partition_edges(e, p, by=SRC).persist()
    e.count()
    verts = vertices_from_edges(e)

    assigned = None  # DataFrame (id, scc)
    remaining = materialize(verts.repartition(p, F.col(ID)))
    n_remaining = remaining.count()
    history = []
    total_supersteps = 0

    for round_no in range(max_rounds):
        if n_remaining == 0:
            break
        live = remaining
        # Edges within the live subgraph only.
        live_e = (
            e.join(live.withColumnRenamed(ID, SRC), SRC)
            .join(live.withColumnRenamed(ID, DST), DST)
            .select(SRC, DST)
            .persist()
        )
        live_e.count()

        # 1. forward max-coloring to fixpoint
        def color_step(cur):
            msgs = live_e.join(
                cur.where(F.col("changed")).withColumnRenamed(ID, SRC), SRC
            ).select(F.col(DST), F.col("color"))
            mx = msgs.groupBy(DST).agg(F.max("color").alias("_mc"))
            return cur.join(mx, cur[ID] == mx[DST], "left").select(
                cur[ID],
                F.greatest(cur["color"], F.coalesce(F.col("_mc"), cur["color"])).alias("color"),
                (F.col("_mc").isNotNull() & (F.col("_mc") > cur["color"])).alias("changed"),
            )

        colors0 = materialize(
            live.select(F.col(ID), F.col(ID).alias("color"), F.lit(True).alias("changed"))
            .repartition(p, F.col(ID))
        )
        colors, it1 = _fixpoint(
            colors0, color_step, lambda df: df.where(F.col("changed")).count()
        )
        total_supersteps += it1

        # 2. backward BFS from roots within color regions
        def sweep_step(cur):
            # reversed edges: reach u from v along u->v
            msgs = live_e.join(
                cur.where(F.col("changed") & F.col("in_scc")).withColumnRenamed(ID, DST),
                DST,
            ).select(F.col(SRC).alias(ID), F.col("color").alias("mcolor"))
            # A vertex may be hit from several color regions; only a hit
            # matching its OWN color counts, and the color-equality join
            # guarantees at most one matching row per vertex.
            hit = msgs.distinct().withColumnRenamed(ID, "_hid")
            cond = (cur[ID] == F.col("_hid")) & (F.col("mcolor") == cur["color"])
            return cur.join(hit, cond, "left").select(
                cur[ID],
                cur["color"],
                (cur["in_scc"] | F.col("mcolor").isNotNull()).alias("in_scc"),
                (~cur["in_scc"] & F.col("mcolor").isNotNull()).alias("changed"),
            )

        sweep0 = materialize(
            colors.select(
                F.col(ID), F.col("color"),
                (F.col(ID) == F.col("color")).alias("in_scc"),
                (F.col(ID) == F.col("color")).alias("changed"),
            ).repartition(p, F.col(ID))
        )
        swept, it2 = _fixpoint(
            sweep0, sweep_step, lambda df: df.where(F.col("changed")).count()
        )
        total_supersteps += it2

        found = swept.where(F.col("in_scc")).select(F.col(ID), F.col("color").alias("scc"))
        assigned = found if assigned is None else assigned.union(found)
        assigned = materialize(assigned)
        remaining = materialize(
            swept.where(~F.col("in_scc")).select(ID).repartition(p, F.col(ID))
        )
        n_found = n_remaining
        n_remaining = remaining.count()
        n_found -= n_remaining
        live_e.unpersist()
        history.append(
            {"superstep": round_no + 1, "seconds": 0.0, "converged": n_remaining == 0,
             "assigned": n_found, "color_iters": it1, "sweep_iters": it2}
        )
        if n_remaining == 0:
            break

    if assigned is None:
        # Empty graph or max_rounds=0: no vertex was ever assigned.
        e.unpersist()
        empty = spark.createDataFrame([], schema=f"{ID} long, label long")
        return RunResult(
            state=empty, supersteps=total_supersteps,
            converged=n_remaining == 0, history=history,
        )
    # Normalize: label each SCC by its min member id (oracle form).
    norm = assigned.groupBy("scc").agg(F.min(ID).alias("label"))
    state = assigned.join(norm, "scc").select(ID, "label")
    e.unpersist()
    return RunResult(
        state=state, supersteps=total_supersteps,
        converged=n_remaining == 0, history=history,
    )
