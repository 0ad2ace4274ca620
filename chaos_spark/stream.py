"""Streaming-partition superstep — Chaos's slipstore loop as ONE fused
Spark stage per iteration (chainable to K iterations per Spark JOB).

A row-based superstep over the same blocks would run the exchange
through Spark row machinery: ~|distinct dst per block| x p update ROWS
(20.3M on the 64M-edge bench graph) crossing Arrow into the JVM, a
groupBy(dst).sum shuffle, and a join back into a row state table that
crosses Arrow both ways every superstep. That machinery — NOT the numpy
math (~8 ms/block) and NOT the gather bandwidth — was measured as the
dominant per-superstep cost at both parallelism levels (a drain-only
no-op mapInPandas pass over the row state costs ~85% of the full kernel
phase).

This module removes the rows. It is the 1:1 Spark image of how Chaos
actually moves updates ([C15] §4, "slipstore"; [X13] §3.2 update streams):

- Vertex state is a BLOB per streaming partition: one Spark row
  ``(part int, blob binary)`` holding the partition's float64 rank vector,
  aligned to the build-time sorted id vector (csr.py apply-{q}/ids.npy).
  Per superstep, Spark moves p rows x |V|/p x 8 bytes — raw vector bytes,
  no per-row Arrow columns, no shuffle of messages.
- Update streams are PER-TARGET-PARTITION SLICES of each block's partial
  array, written to shared storage (the same block_dir the static CSR
  blocks live in — Chaos's slipstore; tmpfs/page-cache locally, shared
  storage on a real cluster). The v5 block layout orders each block's
  distinct-dst vector by target bucket, so a block's update stream for
  partition q is ONE contiguous float slice [soff, soff+len) — the only
  bytes that change per superstep. The dst ids themselves are static and
  never retransmitted (they live in the build-time apply plan). The
  global dangling mass is itself a message: each partition publishes its
  dangling sum next to its partials (stats-{q}.npy) and every apply task
  folds the same fixed-order sum — no driver round trip carries it.
- The superstep is ONE narrow mapInPandas stage over the blob state that
  FUSES apply and scatter, plus an eager localCheckpoint barrier:
    1. apply:  contrib = bincount(apos, weights=concat of incoming
       slices) — build-time positions, zero per-superstep searches;
       rank' = (1-d)/n + d * (contrib + dangling/n)
    2. scatter: m = rank' * iod; partial = add.reduceat(m[pos], starts);
       atomically publish the block's new update stream for step t+1.
    3. emit (part, blob'); the convergence statistic max|Δrank| is
       published with the update stream (stats-{q}) and read by the
       driver from files after the barrier — no CollectMetrics node,
       no listener wait.
  The eager checkpoint action is the superstep BARRIER: step t+1's apply
  can only run after every step-t scatter has published (exactly
  X-Stream's phase barrier between scatter and gather).
- ``chain=K`` stacks K fused layers inside ONE Spark job, with a
  round-robin repartition of the p blob rows (a ~|V| x 8-byte shuffle)
  between layers: the shuffle dependency IS the superstep barrier, so the
  per-JOB driver costs (plan analysis, job scheduling, py4j) are paid
  once per K supersteps. Convergence is still recorded per layer (each
  layer's stats files); with tol > 0 the run stops at the
  first job whose layers converged — the state may then be up to K-1
  supersteps MORE converged than the join path would return, so exact
  superstep-count parity holds for chain=1 (the default) and fixed-iters
  runs (tol=0), which is what the scaling bench uses.

Correctness contract: identical supersteps and results vs the join
path — the apply formula, dangling redistribution, and convergence test
are the same expressions; per-dst partial sums are a fixed reduceat over
the build-time edge order, and the cross-block apply sum and the
dangling-mass fold run in fixed block order, so results are
deterministic run-to-run at any parallelism.
Allclose vs the join path (float association differs there),
property-tested in tests/test_stream.py.

Retry/speculation safety: update-stream files are published by atomic
rename and their content is a pure function of (blob state, static block)
— a retried or speculative task republishes identical bytes. Stream dirs
are namespaced by a per-run id so concurrent runs sharing a pinned block
layout never collide; consumed dirs are deleted as each job completes.

Checkpoint/resume: the blob state is written as-is (part, blob) through
the standard CheckpointManager (parquet + per-partition manifest +
config-sha refusal). On resume the update stream is regenerated from the
loaded blobs by one scatter-only job — update streams (and the dangling
mass riding them) are derived state and are never checkpointed.
"""

from __future__ import annotations

import os
import shutil
import time as _time
import uuid

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from .checkpoint import CheckpointManager
from .engine import (
    RunResult,
    _host_cpu_jiffies,
    materialize,
    maybe_explain,
    release_state,
    run_supersteps,
    superstep_conf,
)
from .csr import CsrGraph, _load_apply_plan, _load_disk_block
from .graph import ID

PART, BLOB = "part", "blob"
_STATE_SCHEMA = f"{PART} int, {BLOB} binary"

# Worker-level memo: dangling mass per update dir (each worker folds the
# p tiny stats files once per superstep, not once per task/row).
_DM_CACHE: dict[str, float] = {}


def _prof_write(prof_dir, superstep, q, t00, t0, t1, t2):
    """CHAOS_STREAM_PROF diagnostics: per-task phase seconds (drain = Arrow
    decode wait before the first row, apply, scatter) + absolute task
    start/end, so the in-task time can be separated from scheduling and
    barrier gaps. Dev-only, off unless the env var is set."""
    import json

    os.makedirs(prof_dir, exist_ok=True)
    with open(os.path.join(
        prof_dir, f"s{superstep}-q{q}-{os.getpid()}.json"
    ), "w") as f:
        json.dump({
            "superstep": superstep, "q": q,
            "drain": t0 - t00, "apply": t1 - t0, "scatter": t2 - t1,
            "t_start": t00, "t_end": t2, "pid": os.getpid(),
        }, f)


def _upd_dir(block_dir: str, run_id: str, superstep: int) -> str:
    return os.path.join(block_dir, f"upd-{run_id}-{superstep}")


def _apply_parts(block_dir: str) -> tuple:
    """The non-empty state partitions — exactly the partitions the v6
    build wrote an apply plan for. A driver-side listdir (p entries, zero
    Spark jobs); replaces the init-scatter job's collect."""
    out = []
    for name in os.listdir(block_dir):
        if name.startswith("apply-"):
            try:
                out.append(int(name.split("-", 1)[1]))
            except ValueError:
                pass
    return tuple(sorted(out))


def _loop_checkpoint_every(checkpointer, checkpoint_every: int, max_iters: int) -> int:
    """Blob states are single-reference and p-rows small: without a
    durable checkpointer there is nothing for the engine loop's periodic
    parquet reset to protect (no Catalyst-stats compounding — each step
    is one mapInPandas over a LogicalRDD; no resume point to write), so
    disable it rather than pay ~6 parquet round trips per 31-superstep
    bench run. With a checkpointer the cadence is the resume contract —
    kept as declared."""
    return checkpoint_every if checkpointer is not None else max_iters + 1


def _publish_arr(upd_dir: str, name: str, arr: np.ndarray) -> None:
    """Atomically publish one update-stream member. Idempotent under task
    retry/speculation: content is deterministic, and a lost rename race
    leaves the winner's identical bytes."""
    os.makedirs(upd_dir, exist_ok=True)
    tmp = os.path.join(upd_dir, f".{name}.{os.getpid()}.npy")
    with open(tmp, "wb") as f:
        np.save(f, arr)
    try:
        os.replace(tmp, os.path.join(upd_dir, f"{name}.npy"))
    except OSError:
        # On POSIX, replace over an existing file never fails for a lost
        # retry/speculation race (it atomically overwrites the winner's
        # identical bytes), so any OSError here is a genuine I/O failure
        # (ENOSPC, EIO, cross-device tmp). An unpublished member would
        # corrupt the dangling mass / convergence delta downstream —
        # fail the task loudly instead.
        try:
            os.unlink(tmp)
        except OSError:
            pass
        raise


def _scatter_publish(
    upd_dir: str, q: int, blk, rank: np.ndarray, iod: np.ndarray,
    delta: float = float("inf"),
) -> None:
    """Block-local scatter: messages m = rank/W(u), pre-aggregated per dst
    via reduceat over the build-time segment starts (a fixed, arrival-
    independent accumulation order), published as this block's update
    stream together with the partition's dangling mass."""
    if blk is not None:
        m = rank * iod
        me = m[blk["pos"]]
        if "w" in blk:  # type-2 block: message = rank(u)/W(u) * w(e)
            me = me * blk["w"]
        _publish_arr(upd_dir, f"partial-{q}", np.add.reduceat(me, blk["starts"]))
    dang = float(rank[iod == 0.0].sum())
    # stats-{q} = [dangling, max-delta]: dangling is a MESSAGE (peer apply
    # tasks fold it next superstep); delta is the convergence statistic the
    # DRIVER reads after the barrier — riding the same channel avoids a
    # CollectMetrics node + listener wait per job entirely.
    _publish_arr(upd_dir, f"stats-{q}", np.array([dang, delta]))


def _dangling_mass(upd_dir: str, qs) -> float:
    """Fixed-order fold of the per-partition dangling masses riding the
    update stream — every task computes the identical float.

    ``qs`` is the exact set of non-empty state partitions, recorded once
    by the init/scatter job: every one of them published a stats file with
    its update stream (edge-less blocks included), so a missing file is a
    publish or barrier failure — np.load's FileNotFoundError is the loud
    failure we want, never a silent zero contribution."""
    dm = _DM_CACHE.get(upd_dir)
    if dm is not None:
        return dm
    total = 0.0
    for q in qs:
        total += float(np.load(os.path.join(upd_dir, f"stats-{q}.npy"))[0])
    if len(_DM_CACHE) > 64:
        _DM_CACHE.clear()
    _DM_CACHE[upd_dir] = total
    return total


def _read_delta(upd_dir: str, qs) -> float:
    """Driver-side convergence read: max of the per-partition deltas
    published with the update stream (file reads, no CollectMetrics).
    Strict over the recorded non-empty partition set ``qs`` — a missing
    stats file raises instead of understating the convergence delta."""
    mx = 0.0
    for q in qs:
        mx = max(mx, float(np.load(os.path.join(upd_dir, f"stats-{q}.npy"))[1]))
    return mx


def _gather(plan, upd_dir: str, p: int) -> np.ndarray:
    """Apply-side gather: one bincount over the build-time positions of
    every incoming update slice (fixed block order -> deterministic
    float association)."""
    parts = []
    aoff, soff = plan["aoff"], plan["soff"]
    for b in range(p):
        ln = int(aoff[b + 1] - aoff[b])
        if ln <= 0:
            continue
        f = os.path.join(upd_dir, f"partial-{b}.npy")
        arr = np.load(f, mmap_mode="r")
        parts.append(np.asarray(arr[int(soff[b]):int(soff[b]) + ln]))
    n_state = len(plan["iod"])
    if not parts:
        return np.zeros(n_state)
    w = parts[0] if len(parts) == 1 else np.concatenate(parts)
    return np.bincount(plan["apos"], weights=w, minlength=n_state)


def pagerank_stream(
    spark: SparkSession,
    edges: DataFrame,
    damping: float = 0.85,
    tol: float = 1e-6,
    max_iters: int = 100,
    num_partitions: int | None = None,
    token: str | None = None,
    weight_col: str | None = None,
    checkpointer: CheckpointManager | None = None,
    checkpoint_every: int = 5,
    graph: CsrGraph | None = None,
    state_partitions: int | None = None,
    chain: int = 1,
    init_ranks: DataFrame | None = None,
    sources: list[int] | None = None,
    num_edges: int | None = None,
) -> RunResult:
    """PageRank over the fused streaming-partition superstep.

    ``sources``: personalized PageRank — teleport and dangling
    redistribution follow ``pref(v) = 1/|S|`` on the source set (0
    elsewhere) and ``rank0 = pref``, the exact recurrence of
    algos.pagerank(sources=...) and its unrolled oracle. The preference
    vector is derived in-kernel from the partition's id vector
    (np.isin against the closure-shipped sorted source array), so blobs,
    update streams, and checkpoints are unchanged.

    Same semantics as algos.pagerank: damping with
    dangling-mass redistribution, convergence when max |Δrank| < tol,
    superstep count identical to the join path (for chain=1; see module
    docstring for the chain>1 convergence granularity). ``graph`` lets
    callers (bench warmup → timed run) reuse a built CsrGraph.

    ``state_partitions``: physical partition count of the BLOB state —
    independent of the block count p, because every kernel routes by the
    row's ``part`` value, never by task index. Blob rows are ~|V|/p x 8
    bytes, so the per-task mapInPandas machinery (JVM task setup, Python
    worker round trip, Arrow stream open/close — measured ~0.13 s/task
    against ~0.03 s of kernel math on the 64M-edge bench graph) dominates
    when each task carries ONE row; packing several blob rows per task
    amortizes it. Default p (one row per task).

    ``chain``: supersteps per Spark job (module docstring). Default 1.

    ``init_ranks``: warm-start from a prior ``(id, rank)`` frame — same
    contract as algos.pagerank (prior taken verbatim, absent vertices
    start at 1/n, mass self-corrects; exact continuation on an unchanged
    graph). This is the scale path's incremental re-rank handoff after
    the streaming ingest lane grows the graph. A checkpoint resume, when
    present, takes precedence over ``init_ranks``.
    """
    if weight_col is not None:
        from .algos.pagerank import _validate_weights

        _validate_weights(edges, weight_col)
    g = graph or CsrGraph(
        spark, edges, num_partitions=num_partitions, token=token,
        weight_col=weight_col, num_edges=num_edges,
    )
    if chain < 1:
        raise ValueError("chain must be >= 1")
    n = g.num_vertices
    p = g.p
    token_, block_dir = g.cache_token, g.block_dir
    run_id = uuid.uuid4().hex[:8]
    damping = float(damping)
    if sources is not None and not sources:
        raise ValueError("sources must be a non-empty id list")
    src_arr = (
        None if sources is None
        else np.unique(np.asarray(sorted(int(s) for s in sources), np.int64))
    )

    def _pref(ids: np.ndarray) -> np.ndarray | float:
        """Per-partition preference vector (uniform 1/n when no sources)."""
        if src_arr is None:
            return 1.0 / n
        return np.isin(ids, src_arr).astype(np.float64) / len(src_arr)

    def range_init_kernel_for(superstep: int):
        ud = _upd_dir(block_dir, run_id, superstep)

        def range_init_kernel(batches):
            # Cold init (v6): blobs are derived straight from the apply
            # plans' sorted id vectors over a shuffle-free spark.range(p)
            # — no vertex rows cross the boundary at all (the plan IS the
            # authoritative layout; runtime alignment stays checked by
            # every apply/expand kernel). The initial scatter is FUSED in
            # (publish the starting update stream here), so cold init is
            # ONE job instead of init + scatter.
            for pdf in batches:
                for qv in pdf["id"].tolist():
                    q = int(qv)
                    plan = _load_apply_plan(token_, q, block_dir)
                    if plan is None:
                        continue
                    ids = np.asarray(plan["ids"])
                    if src_arr is not None:
                        rank = np.asarray(_pref(ids))  # PPR: rank0 = pref
                    else:
                        rank = np.full(len(ids), 1.0 / n)
                    blk = _load_disk_block(token_, q, block_dir)
                    _scatter_publish(ud, q, blk, rank, np.asarray(plan["iod"]))
                    yield pd.DataFrame({PART: [q], BLOB: [rank.tobytes()]})

        return range_init_kernel

    def init_kernel(batches):
        # Warm init (init_ranks): prior ranks ride the seed rows, aligned
        # to the apply plan's sorted id vector (strict-checked — the one
        # chance to verify the row layout before ids stop crossing the
        # boundary). A partition may arrive as several Arrow batches —
        # concat before blob-ifying.
        from pyspark import TaskContext

        pdfs = [pdf for pdf in batches if len(pdf)]
        if not pdfs:
            return
        pdf = pd.concat(pdfs) if len(pdfs) > 1 else pdfs[0]
        q = TaskContext.get().partitionId()
        plan = _load_apply_plan(token_, q, block_dir)
        if plan is None:
            raise RuntimeError(f"stream init: no apply plan for partition {q}")
        pdf = pdf.sort_values(ID)
        ids = pdf[ID].to_numpy(dtype=np.int64)
        if not np.array_equal(plan["ids"], ids):
            raise RuntimeError(
                "stream init: state partition ids do not match the "
                f"apply plan for partition {q} — partitioner mismatch"
            )
        if "_prank" in pdf.columns:
            # Warm start: prior ranks ride the seed rows (left join on
            # id); NaN = vertex absent from the prior -> 1/n (the join
            # path's seed_ranks fill, sources or not).
            rank = pdf["_prank"].to_numpy(dtype=np.float64).copy()
            rank[np.isnan(rank)] = 1.0 / n
        elif src_arr is not None:
            rank = np.asarray(_pref(ids))  # PPR start: rank0 = pref
        else:
            rank = np.full(len(ids), 1.0 / n)
        yield pd.DataFrame({PART: [q], BLOB: [rank.tobytes()]})

    def scatter_kernel_for(superstep: int):
        ud = _upd_dir(block_dir, run_id, superstep)

        def scatter_only(batches):
            for pdf in batches:
                for _, row in pdf.iterrows():
                    q = int(row[PART])
                    rank = np.frombuffer(row[BLOB], dtype=np.float64)
                    plan = _load_apply_plan(token_, q, block_dir)
                    blk = _load_disk_block(token_, q, block_dir)
                    _scatter_publish(ud, q, blk, rank, np.asarray(plan["iod"]))
                    yield pd.DataFrame({PART: [q], "n": [len(rank)]})

        return scatter_only

    def fused_kernel_for(superstep: int, qs: tuple):
        """Apply step ``superstep`` (reads upd of superstep-1), then
        scatter for step superstep+1 (writes upd of superstep). ``qs`` is
        the recorded non-empty state-partition set (strict stats fold)."""
        ud_in = _upd_dir(block_dir, run_id, superstep - 1)
        ud_out = _upd_dir(block_dir, run_id, superstep)

        def fused(batches):
            prof_dir = os.environ.get("CHAOS_STREAM_PROF")
            t00 = _time.perf_counter()
            for pdf in batches:
                for _, row in pdf.iterrows():
                    t0 = _time.perf_counter()
                    q = int(row[PART])
                    prev = np.frombuffer(row[BLOB], dtype=np.float64)
                    plan = _load_apply_plan(token_, q, block_dir)
                    if plan is None or len(plan["iod"]) != len(prev):
                        raise RuntimeError(
                            f"stream apply: blob/plan mismatch at partition {q}"
                        )
                    dm = _dangling_mass(ud_in, qs)
                    contrib = _gather(plan, ud_in, p)
                    iod = np.asarray(plan["iod"])
                    if src_arr is None:
                        rank = (1.0 - damping) / n + damping * (contrib + dm / n)
                    else:
                        pref = _pref(np.asarray(plan["ids"]))
                        rank = (1.0 - damping) * pref + damping * (
                            contrib + dm * pref
                        )
                    delta = float(np.max(np.abs(rank - prev))) if len(rank) else 0.0
                    t1 = _time.perf_counter()
                    blk = _load_disk_block(token_, q, block_dir)
                    _scatter_publish(ud_out, q, blk, rank, iod, delta)
                    t2 = _time.perf_counter()
                    if prof_dir:
                        _prof_write(prof_dir, superstep, q, t00, t0, t1, t2)
                    yield pd.DataFrame({PART: [q], BLOB: [rank.tobytes()]})

        return fused

    sp = state_partitions or p

    def realign(df: DataFrame) -> DataFrame:
        # Blob rows are self-describing (routed by their part value) —
        # round-robin just spreads them evenly over tasks again after a
        # parquet round trip; placement never affects results.
        return df.repartition(sp)

    start = 0
    state = None
    if checkpointer is not None:
        manifest = checkpointer.latest()
        if manifest is not None:
            start = int(manifest["superstep"])
            state = realign(checkpointer.load(spark, manifest))

    with superstep_conf(spark, p):
        # The exact set of non-empty state partitions: exactly the vertex
        # partitions the build wrote an apply plan for (a blob row exists
        # iff the partition has vertices). The strict stats fold
        # (_dangling_mass/_read_delta) checks precisely these files each
        # superstep, so a publish/barrier failure raises instead of
        # folding a silently-wrong dangling mass or delta.
        qs = _apply_parts(block_dir)
        if state is None and init_ranks is None:
            # ONE fused init+scatter job (see range_init_kernel_for).
            state = spark.range(0, p, 1, p).mapInPandas(
                range_init_kernel_for(start), schema=_STATE_SCHEMA
            ).localCheckpoint(eager=True)
            if sp != p:
                state = materialize(state.repartition(sp))
        else:
            if state is None:
                pri = init_ranks.select(
                    F.col(ID), F.col("rank").cast("double").alias("_prank")
                )
                seed = g.verts.join(pri, ID, "left")
                state = g.align_state(seed).mapInPandas(
                    init_kernel, schema=_STATE_SCHEMA
                ).localCheckpoint(eager=True)
            else:
                state = state.select(PART, BLOB).localCheckpoint(eager=True)
            if sp != p:
                # Lazy checkpoint: the scatter job below is the action
                # that materializes the repacked layout.
                state = materialize(state.repartition(sp))
            # Publish the update stream of the starting state (derived
            # state: regenerated rather than checkpointed — it also
            # carries the dangling mass). One tiny job, warm-init/resume
            # only — steady-state supersteps publish inside the fused
            # stage.
            rows = state.mapInPandas(
                scatter_kernel_for(start), schema=f"{PART} int, n long"
            ).collect()
            assert sum(r["n"] for r in rows) == n
            assert tuple(sorted(int(r[PART]) for r in rows)) == qs

        try:
            fk = lambda s: fused_kernel_for(s, qs)  # noqa: E731
            read_delta = lambda s: _read_delta(  # noqa: E731
                _upd_dir(block_dir, run_id, s), qs
            )
            if chain == 1:
                result = _run_unchained(
                    state, fk, max_iters, checkpointer,
                    _loop_checkpoint_every(checkpointer, checkpoint_every, max_iters),
                    start, realign, tol, read_delta,
                    lambda s: _upd_cleanup(block_dir, run_id, s),
                )
            else:
                result = _run_chained(
                    state, fk, max_iters, checkpointer,
                    checkpoint_every, start, tol, chain, sp, read_delta,
                    lambda lo, hi: _upd_cleanup_range(block_dir, run_id, lo, hi),
                )

            def expand(batches):
                for pdf in batches:
                    for _, row in pdf.iterrows():
                        q = int(row[PART])
                        plan = _load_apply_plan(token_, q, block_dir)
                        yield pd.DataFrame({
                            ID: np.asarray(plan["ids"]),
                            "rank": np.frombuffer(row[BLOB], np.float64),
                        })

            blob_state = result.state
            result.state = blob_state.mapInPandas(
                expand, schema=f"{ID} long, rank double"
            ).persist()
            result.state.count()  # blob rows may live in an ephemeral dir
        finally:
            # Update streams are derived per-run state — always reclaimed.
            import glob as _glob

            for d in _glob.glob(
                os.path.join(block_dir, f"upd-{run_id}-*")
            ):
                shutil.rmtree(d, ignore_errors=True)
    return result


def _upd_cleanup(block_dir: str, run_id: str, superstep: int) -> None:
    shutil.rmtree(_upd_dir(block_dir, run_id, superstep), ignore_errors=True)


def _upd_cleanup_range(block_dir: str, run_id: str, lo: int, hi: int) -> None:
    for s in range(lo, hi):
        _upd_cleanup(block_dir, run_id, s)


def _run_unchained(
    state, fused_kernel_for, max_iters, checkpointer, checkpoint_every,
    start, realign, tol, read_delta, cleanup,
) -> RunResult:
    """chain=1: one fused job per superstep, driven by the generic
    engine loop (checkpoint cadence, steal accounting, release_state)."""

    def step(cur: DataFrame, superstep: int):
        pre = cur.mapInPandas(fused_kernel_for(superstep + 1), schema=_STATE_SCHEMA)
        maybe_explain(pre, "superstep")
        new = pre.localCheckpoint(eager=True)
        # Convergence statistic rides the update stream (no CollectMetrics
        # node, no listener wait): the barrier just completed, so the
        # stats files of step superstep+1 are all published.
        delta = read_delta(superstep + 1)
        # Step superstep+1 published upd-(superstep+1) and consumed
        # upd-superstep; upd-(superstep-1) is now unreachable.
        if superstep >= 1:
            cleanup(superstep - 1)
        return new, {"converged": delta < tol, "delta": delta}

    return run_supersteps(
        state, step, max_iters, checkpointer, checkpoint_every,
        start_superstep=start, realign=realign,
    )


def _run_chained(
    state, fused_kernel_for, max_iters, checkpointer, checkpoint_every,
    start, tol, chain, sp, read_delta, cleanup_range,
) -> RunResult:
    """chain>1: K fused layers per Spark job. The round-robin repartition
    of the p blob rows between layers is the superstep barrier (a shuffle
    dependency: no layer-t+1 task starts before every layer-t task has
    published its update stream). Per-layer convergence rides the per-layer
    update-stream stats files (read by the driver after the job, before
    cleanup); per-layer seconds are the job wall amortized over its layers
    (the barriers are internal, so finer attribution would be fiction)."""
    history: list[dict] = []
    t = start
    converged = False
    prev = None
    while t < max_iters and not converged:
        k = min(chain, max_iters - t)
        cpu0 = _host_cpu_jiffies()
        t0 = _time.time()
        df = state
        for i in range(1, k + 1):
            df = df.mapInPandas(fused_kernel_for(t + i), schema=_STATE_SCHEMA)
            if i < k:
                df = df.repartition(sp)
        new = df.localCheckpoint(eager=True)
        wall = _time.time() - t0
        cpu1 = _host_cpu_jiffies()
        steal = None
        if cpu0 is not None and cpu1 is not None and cpu1[1] > cpu0[1]:
            steal = round((cpu1[0] - cpu0[0]) / (cpu1[1] - cpu0[1]), 4)
        deltas = [read_delta(t + i) for i in range(1, k + 1)]
        for i, dlt in enumerate(deltas):
            entry = {
                "superstep": t + i + 1,
                "seconds": round(wall / k, 4),
                "delta": dlt,
                "chained": k,
            }
            if steal is not None:
                entry["steal_frac"] = steal
            history.append(entry)
        converged = tol > 0 and any(d < tol for d in deltas)
        # Layers consumed upd[t .. t+k-1]; upd[t+k] feeds the next job.
        cleanup_range(t, t + k)
        if prev is not None:
            release_state(prev)
        prev, state = state, new
        t_before = t
        t += k
        if checkpointer and (
            converged
            or (t // checkpoint_every) > (t_before // checkpoint_every)
        ):
            checkpointer.save(state, t, metrics=history[-1])
    return RunResult(
        state=state, supersteps=t, converged=converged, history=history
    )
