"""Streaming-partition supersteps — Chaos's slipstore loop as fused Spark
stages, shared by every ``*_stream`` kernel: one stage per superstep, or,
when one task holds the whole blob state, one per checkpoint interval.

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
  ``(part int, blob binary)`` holding the partition's state vector
  (PageRank: float64 ranks), aligned to the build-time sorted id vector
  (csr.py apply-{q}/ids.npy). Per superstep, Spark moves p rows of raw
  vector bytes — no per-row Arrow columns, no shuffle of messages.
- Update streams are PER-TARGET-PARTITION SLICES of each block's partial
  array, written to shared storage (the same block_dir the static CSR
  blocks live in — Chaos's slipstore; tmpfs/page-cache locally, shared
  storage on a real cluster). The v5 block layout orders each block's
  distinct-dst vector by target bucket, so a block's update stream for
  partition q is ONE contiguous slice [soff, soff+len) — the only bytes
  that change per superstep. The dst ids themselves are static and never
  retransmitted (they live in the build-time apply plan). Next to its
  partials each partition publishes ``stats-{q} = [message, stat]``: a
  global message every apply task folds in the same fixed order
  (PageRank's dangling mass), and the convergence statistic read after
  the barrier — no CollectMetrics node, no listener wait, no driver
  round trip inside the loop.
- The superstep is ONE narrow mapInPandas stage over the blob state that
  FUSES gather/apply and scatter, plus an eager localCheckpoint barrier:
  step t+1's apply can only run after every step-t scatter has published
  (exactly X-Stream's phase barrier between scatter and gather), and the
  driver reads the statistic.
- When the blob state is ONE partition (the default on graphs at or
  below ``csr.STREAM_ONE_TASK_MAX_EDGES``), its one task holds every
  blob, so the barrier between supersteps is program order inside the
  task, as in X-Stream's in-memory engine ([X13] §4): the task runs
  superstep after superstep, reads the statistic itself, and stops at
  convergence, ``max_iters`` or the next checkpoint boundary. The Spark
  job — whose fixed cost dwarfs a small graph's kernel math — is paid
  once per checkpoint interval instead of once per superstep. Same
  plugin calls in the same order, so results are bit-identical. The
  block build in front of the loop has a one-task regime of its own:
  at or below ``csr.BUILD_ONE_TASK_MAX_EDGES`` raw edges it is one job
  of one task (``csr.CsrGraph``), so a cold call on a small graph runs
  in the one Python worker the caller's last one-task stage left,
  instead of forking one per block.

One loop, many kernels (``_stream_loop``, the Pregelix shape: a vertex
program as a UDF over one generic plan). The loop owns the graph build
or reuse, the cold / warm / resumed init, the fused superstep jobs, the
strict blob/plan alignment checks, checkpoint cadence, update-stream
cleanup, the expand to ``(id, ...)`` rows, and releasing an ephemeral
block dir it built. A kernel is a ``_StreamKernel`` plugin that supplies
only what differs (PageRank's ``_SumPageRank`` is below; the others live
in stream_algos):

- ``block_flavor(edges) -> (block edges, undirected, weight column)``:
  the one statement of the blocks the kernel runs over (default plain
  undirected blocks over the raw edges). ``prep_graph`` builds the
  CsrGraph from it, and the auto router (algos._route) keys its
  warm-block probe on it; ``release()`` frees whatever else
  ``prep_graph`` built (default nothing);
- ``bind(n, qs)``: run facts, |V| and the non-empty partitions;
- ``init_blob(ids)``, and ``init_from_rows(ids, pdf)`` for a warm start
  from ``(id, ...)`` rows;
- ``gather_apply(plan, upd_dir, p, q, prev) -> (blob, stat)``;
- ``scatter(upd_dir, q, blk, plan, blob, stat)``: publish partial-{q}
  and stats-{q};
- ``read_stat(upd_dir, qs)``, ``converged(stat)`` and ``stat_key``: the
  driver-side statistic, its test, and its history key (default: changed
  vertices summed over partitions, converged at 0). A dict statistic
  is merged into the history entry field by field;
- ``expand_pdf(plan, blob)`` with ``out_schema``, and ``blob_ok`` for
  blobs that are not one word per vertex.

Correctness contract: identical supersteps and results vs the join
paths. For PageRank the apply formula, dangling redistribution, and
convergence test are the same expressions; per-dst partial sums are a
fixed reduceat over the build-time edge order, and the cross-block apply
sum and the dangling-mass fold run in fixed block order, so results are
deterministic run-to-run at any parallelism (allclose vs the join path,
whose float association differs; tests/test_stream.py).

Retry/speculation safety: update-stream files are published by atomic
rename and their content is a pure function of (blob state, static block)
— a retried or speculative task republishes identical bytes. Stream dirs
are namespaced by a per-run id so concurrent runs sharing a pinned block
layout never collide. A task running several supersteps deletes each dir
it published once the next superstep has consumed it, but never the
job's input stream, so a retried attempt restarts from intact input; the
driver deletes the rest as each job completes.

Checkpoint/resume: the blob state is written as-is (part, blob) through
the standard CheckpointManager (parquet + per-partition manifest +
config-sha refusal). On resume the update stream is regenerated from the
loaded blobs by one scatter-only job — update streams (and the messages
riding them) are derived state and are never checkpointed.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time
import uuid

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from .checkpoint import CheckpointManager
from .engine import (
    RunResult,
    materialize,
    maybe_explain,
    release_state,
    run_supersteps,
    superstep_conf,
)
from . import csr
from .csr import CsrGraph, _load_apply_plan, _load_disk_block
from .graph import ID
from .shipping import kernel

PART, BLOB = "part", "blob"
_STATE_SCHEMA = f"{PART} int, {BLOB} binary"

# Worker-level memo: one column of the stats rows folded per update dir
# (each worker folds the p tiny stats files once per superstep, not once
# per task/row).
_FOLD_CACHE: dict[tuple[str, int], float] = {}


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
    kept as declared. It also bounds a one-task batch: without a
    checkpointer a one-task run is one superstep job."""
    return checkpoint_every if checkpointer is not None else max_iters + 1


def _publish(upd_dir: str, fname: str, write) -> None:
    """Atomically publish one update-stream member written by
    ``write(file)``. Idempotent under task retry/speculation: content is
    deterministic, and a lost rename race leaves the winner's identical
    bytes."""
    os.makedirs(upd_dir, exist_ok=True)
    tmp = os.path.join(upd_dir, f".{fname}.{os.getpid()}")
    with open(tmp, "wb") as f:
        write(f)
    try:
        os.replace(tmp, os.path.join(upd_dir, fname))
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


def _publish_arr(upd_dir: str, name: str, arr: np.ndarray) -> None:
    _publish(upd_dir, f"{name}.npy", lambda f: np.save(f, arr))


def _stats(upd_dir: str, qs) -> list[np.ndarray]:
    """The ``[message, stat]`` rows every partition in ``qs`` published
    with its update stream, in fixed partition order.

    ``qs`` is the exact set of non-empty state partitions, recorded once
    by the driver: every one of them published a stats file (edge-less
    blocks included), so a missing file is a publish or barrier failure —
    np.load's FileNotFoundError is the loud failure we want, never a
    silently understated statistic or message."""
    return [np.load(os.path.join(upd_dir, f"stats-{q}.npy")) for q in qs]


def _stats_fold(upd_dir: str, qs, col: int) -> float:
    """Fixed-order sum of column ``col`` of the stats rows: a global
    message, the identical float in every task that folds it."""
    key = (upd_dir, col)
    v = _FOLD_CACHE.get(key)
    if v is None:
        v = sum(float(s[col]) for s in _stats(upd_dir, qs))
        if len(_FOLD_CACHE) > 64:
            _FOLD_CACHE.clear()
        _FOLD_CACHE[key] = v
    return v


def _incoming(plan, upd_dir: str, p: int):
    """``(rows, slice)`` for every block b with updates for this
    partition, in ascending b: the block's slice ``[soff, soff+len)`` of
    ``partial-{b}`` and the state rows it lands on. Rows are unique
    within one slice (a block's dst vector is distinct), so a fold needs
    no ufunc.at."""
    aoff, soff = plan["aoff"], plan["soff"]
    apos = np.asarray(plan["apos"])
    for b in range(p):
        ln = int(aoff[b + 1] - aoff[b])
        if ln <= 0:
            continue
        arr = np.load(os.path.join(upd_dir, f"partial-{b}.npy"), mmap_mode="r")
        a0, s0 = int(aoff[b]), int(soff[b])
        yield apos[a0:a0 + ln], np.asarray(arr[s0:s0 + ln])


class _StreamKernel:
    """Plugin contract of ``_stream_loop`` (module docstring), with the
    defaults most kernels share: plain undirected blocks, one state word
    per vertex, and the count of changed vertices as the convergence
    statistic — summed over partitions, converged at zero."""

    stat_key = "changed"

    def block_flavor(self, edges: DataFrame) -> tuple[DataFrame, bool, str | None]:
        return edges, True, None

    def prep_graph(self, spark, edges, num_partitions, token,
                   num_edges=None) -> CsrGraph:
        e, undirected, weight_col = self.block_flavor(edges)
        return CsrGraph(
            spark, e, num_partitions=num_partitions, token=token,
            undirected=undirected, weight_col=weight_col, num_edges=num_edges,
        )

    def release(self) -> None:
        """Free what ``prep_graph`` built beside the graph it returned."""

    def bind(self, n: int, qs: tuple) -> None:
        """Run facts, known once the graph is: |V| and the non-empty
        partitions. Set before any kernel ships to the executors."""

    def blob_ok(self, n: int, blob_len: int) -> bool:
        return n == blob_len

    def read_stat(self, upd_dir: str, qs):
        return int(sum(float(s[1]) for s in _stats(upd_dir, qs)))

    def converged(self, stat) -> bool:
        return stat == 0


def _stream_loop(
    spark: SparkSession,
    edges: DataFrame,
    algo: _StreamKernel,
    max_iters: int,
    num_partitions: int | None = None,
    token: str | None = None,
    checkpointer: CheckpointManager | None = None,
    checkpoint_every: int = 5,
    graph: CsrGraph | None = None,
    state_partitions: int | None = None,
    num_edges: int | None = None,
    init_rows: DataFrame | None = None,
) -> RunResult:
    """Run ``algo`` over the fused stream superstep (module docstring).

    Init → fused mapInPandas jobs with the eager-localCheckpoint barrier
    → expand. A cold init is ONE fused init+scatter job; a warm start
    (``init_rows``: an ``(id, ...)`` frame joined onto every vertex and
    handed to ``algo.init_from_rows``) or a checkpoint resume adds one
    scatter job that regenerates the starting update stream. A checkpoint
    resume takes precedence over ``init_rows``. ``graph`` reuses a built
    CsrGraph; a graph the loop built itself is released before returning,
    and so are the run's update streams, whether the run returns or
    raises.

    ``state_partitions``: physical partition count of the BLOB state —
    independent of the block count p, because every kernel routes by the
    row's ``part`` value, never by task index. With ONE partition, one
    task holds every blob, so it runs superstep after superstep itself
    (the barrier is program order, as in X-Stream's in-memory engine) and
    a Spark job is needed only per checkpoint interval: the task reads
    each superstep's statistic, stops at convergence, and records
    ``[stat, seconds]`` per superstep in ``steps.json`` next to its last
    stats file. With more partitions each job runs one superstep and the
    driver reads the statistic. Default: 1 when the graph's deduplicated
    |E| is at or below ``csr.STREAM_ONE_TASK_MAX_EDGES``, else p. Results
    are identical either way: the same kernels run over the same bytes in
    the same order.
    """
    g = graph or algo.prep_graph(
        spark, edges, num_partitions, token, num_edges
    )
    n = g.num_vertices
    p = g.p
    token_, block_dir = g.cache_token, g.block_dir
    run_id = uuid.uuid4().hex[:8]
    # The exact set of non-empty state partitions: exactly the vertex
    # partitions the build wrote an apply plan for (a blob row exists iff
    # the partition has vertices). The strict stats folds check precisely
    # these files each superstep.
    qs = _apply_parts(block_dir)
    algo.bind(n, qs)
    sp = state_partitions or (
        1 if g.num_edges <= csr.STREAM_ONE_TASK_MAX_EDGES else p
    )
    ck_every = _loop_checkpoint_every(checkpointer, checkpoint_every, max_iters)

    def init_kernel_for(superstep: int):
        ud = _upd_dir(block_dir, run_id, superstep)

        def init_kernel(batches):
            # Cold init (v6): blobs derive straight from the apply plans'
            # sorted id vectors over a shuffle-free spark.range(p) — no
            # vertex rows cross the boundary (the plan IS the
            # authoritative layout; runtime alignment stays checked by
            # the apply/expand kernels' blob/plan length guards). The
            # initial scatter is FUSED in: cold init is ONE job.
            for pdf in batches:
                for qv in pdf["id"].tolist():
                    q = int(qv)
                    plan = _load_apply_plan(token_, q, block_dir)
                    if plan is None:
                        continue
                    blob = algo.init_blob(np.asarray(plan["ids"]))
                    blk = _load_disk_block(token_, q, block_dir)
                    algo.scatter(ud, q, blk, plan, blob, float("inf"))
                    yield pd.DataFrame({PART: [q], BLOB: [blob.tobytes()]})

        return init_kernel

    def rows_init_kernel(batches):
        # Warm init: the seed rows are aligned to the apply plan's sorted
        # id vector (strict-checked — the one chance to verify the row
        # layout before ids stop crossing the boundary). A partition may
        # arrive as several Arrow batches — concat before blob-ifying.
        from pyspark import TaskContext

        pdfs = [pdf for pdf in batches if len(pdf)]
        if not pdfs:
            return
        pdf = pd.concat(pdfs) if len(pdfs) > 1 else pdfs[0]
        q = TaskContext.get().partitionId()
        plan = _load_apply_plan(token_, q, block_dir)
        if plan is None:
            raise RuntimeError(f"{algo.name} init: no apply plan for partition {q}")
        pdf = pdf.sort_values(ID)
        ids = pdf[ID].to_numpy(dtype=np.int64)
        if not np.array_equal(plan["ids"], ids):
            raise RuntimeError(
                f"{algo.name} init: state partition ids do not match the "
                f"apply plan for partition {q} — partitioner mismatch"
            )
        blob = algo.init_from_rows(ids, pdf)
        yield pd.DataFrame({PART: [q], BLOB: [blob.tobytes()]})

    def scatter_kernel_for(superstep: int):
        ud = _upd_dir(block_dir, run_id, superstep)

        def scatter_only(batches):
            for pdf in batches:
                for _, row in pdf.iterrows():
                    q = int(row[PART])
                    blob = np.frombuffer(row[BLOB], dtype=algo.dtype)
                    plan = _load_apply_plan(token_, q, block_dir)
                    blk = _load_disk_block(token_, q, block_dir)
                    algo.scatter(ud, q, blk, plan, blob, float("inf"))
                    # Vertex count from the apply plan, not len(blob):
                    # multi-word-per-vertex blobs (HyperANF registers +
                    # nf history) have len(blob) != |V_q|.
                    yield pd.DataFrame({PART: [q], "n": [len(plan["ids"])]})

        return scatter_only

    def fused_kernel_for(first: int, last: int):
        """Supersteps ``first..last``: superstep s applies upd-(s-1) and
        scatters upd-s, partition by partition in ascending ``part``.
        More than one superstep only with one task (sp == 1), which then
        stops early at convergence and records its steps."""

        def fused(batches):
            blobs = {}
            for pdf in batches:
                for q, b in zip(pdf[PART].tolist(), pdf[BLOB].tolist()):
                    blobs[int(q)] = np.frombuffer(b, dtype=algo.dtype)
            steps = []
            for s in range(first, last + 1):
                t0 = time.perf_counter()
                ud_in = _upd_dir(block_dir, run_id, s - 1)
                ud_out = _upd_dir(block_dir, run_id, s)
                for q in sorted(blobs):
                    prev = blobs[q]
                    plan = _load_apply_plan(token_, q, block_dir)
                    if plan is None or not algo.blob_ok(len(plan["ids"]), len(prev)):
                        raise RuntimeError(
                            f"{algo.name} apply: blob/plan mismatch at partition {q}"
                        )
                    new, stat = algo.gather_apply(plan, ud_in, p, q, prev)
                    blk = _load_disk_block(token_, q, block_dir)
                    algo.scatter(ud_out, q, blk, plan, new, float(stat))
                    blobs[q] = new
                if s > first:
                    # Published by this task and now consumed. The job's
                    # input stream stays, so a retried attempt restarts
                    # from it.
                    shutil.rmtree(ud_in, ignore_errors=True)
                if sp == 1:
                    stat = algo.read_stat(ud_out, qs)
                    steps.append([stat, time.perf_counter() - t0])
                    if algo.converged(stat):
                        break
            if sp == 1:
                _publish(ud_out, "steps.json", lambda f: f.write(json.dumps(steps).encode()))
            for q in sorted(blobs):
                yield pd.DataFrame({PART: [q], BLOB: [blobs[q].tobytes()]})

        return fused

    def entry(stat) -> dict:
        return {"converged": algo.converged(stat),
                **(stat if isinstance(stat, dict) else {algo.stat_key: stat})}

    def steps_of(first: int, last: int) -> list[dict]:
        # The one task stopped at the first superstep whose dir holds its
        # record (the intermediate dirs are gone; a failed attempt never
        # writes one).
        for s in range(first, last + 1):
            path = os.path.join(_upd_dir(block_dir, run_id, s), "steps.json")
            if os.path.exists(path):
                with open(path) as f:
                    return [{**entry(stat), "seconds": secs}
                            for stat, secs in json.load(f)]
        raise RuntimeError(f"{algo.name}: no steps record for supersteps {first}-{last}")

    def realign(df: DataFrame) -> DataFrame:
        # Blob rows are self-describing (routed by their part value) —
        # round-robin just spreads them evenly over tasks again after a
        # parquet round trip; placement never affects results.
        return df.repartition(sp)

    try:
        start = 0
        state = None
        if checkpointer is not None:
            manifest = checkpointer.latest()
            if manifest is not None:
                start = int(manifest["superstep"])
                state = realign(checkpointer.load(spark, manifest))

        with superstep_conf(spark, p):
            if state is None and init_rows is None:
                # ONE fused init+scatter job (see init_kernel_for), already
                # in sp partitions.
                state = spark.range(0, p, 1, sp).mapInPandas(
                    kernel(init_kernel_for(start)), schema=_STATE_SCHEMA
                ).localCheckpoint(eager=True)
            else:
                if state is None:
                    state = g.align_state(g.verts.join(init_rows, ID, "left")).mapInPandas(
                        kernel(rows_init_kernel), schema=_STATE_SCHEMA
                    ).localCheckpoint(eager=True)
                    if sp != p:
                        # Lazy checkpoint: the scatter job below is the
                        # action that materializes the repacked layout.
                        state = materialize(state.repartition(sp))
                else:
                    state = state.select(PART, BLOB).localCheckpoint(eager=True)
                # Update stream of the starting state: derived state,
                # regenerated rather than checkpointed (one tiny job);
                # steady-state supersteps publish inside the fused stage.
                rows = state.mapInPandas(
                    kernel(scatter_kernel_for(start)), schema=f"{PART} int, n long"
                ).collect()
                assert sum(r["n"] for r in rows) == n
                assert tuple(sorted(int(r[PART]) for r in rows)) == qs

            def step(cur: DataFrame, superstep: int):
                first = superstep + 1
                last = first if sp > 1 else min(
                    max_iters, (superstep // ck_every + 1) * ck_every
                )
                pre = cur.mapInPandas(
                    kernel(fused_kernel_for(first, last)), schema=_STATE_SCHEMA
                )
                maybe_explain(pre, "superstep")
                new = pre.localCheckpoint(eager=True)
                # The barrier just completed, so every stats file of the
                # job's last superstep is published.
                if sp == 1:
                    stats = steps_of(first, last)
                else:
                    stats = [entry(algo.read_stat(_upd_dir(block_dir, run_id, first), qs))]
                # Keep the job's input and output streams; every other dir
                # of the run is unreachable now.
                keep = {superstep, superstep + len(stats)}
                for d in glob.glob(os.path.join(block_dir, f"upd-{run_id}-*")):
                    if int(d.rsplit("-", 1)[1]) not in keep:
                        shutil.rmtree(d, ignore_errors=True)
                return new, stats

            result = run_supersteps(
                state, step, max_iters, checkpointer, ck_every,
                start_superstep=start, realign=realign,
            )

            def expand(batches):
                for pdf in batches:
                    for _, row in pdf.iterrows():
                        q = int(row[PART])
                        plan = _load_apply_plan(token_, q, block_dir)
                        yield algo.expand_pdf(plan, row[BLOB])

            blob_state = result.state
            # Eager localCheckpoint (not persist): the expanded rows must
            # never be recomputed — the apply plans they read may be an
            # EPHEMERAL block dir reclaimed by g.unpersist() below.
            result.state = blob_state.mapInPandas(
                kernel(expand), schema=algo.out_schema
            ).localCheckpoint(eager=True)
            release_state(blob_state)
        return result
    finally:
        # Update streams are derived per-run state — always reclaimed, and
        # so is a block dir the loop built for this call alone.
        for d in glob.glob(os.path.join(block_dir, f"upd-{run_id}-*")):
            shutil.rmtree(d, ignore_errors=True)
        if graph is None:
            g.unpersist()
            algo.release()


class _SumPageRank(_StreamKernel):
    """PageRank over the fused stream superstep: a float64 rank blob,
    add-fold gather, and the dangling mass as a global message on
    ``stats-{q}``. Convergence: the MAX over partitions of max |Δrank|,
    compared against ``tol``.

    ``sources``: personalized PageRank — teleport and dangling
    redistribution follow ``pref(v) = 1/|S|`` on the source set (0
    elsewhere) and ``rank0 = pref``. The preference vector is derived
    in-kernel from the partition's id vector (np.isin against the sorted
    source array shipped with the plugin), so blobs, update streams, and
    checkpoints are unchanged."""

    name = "pagerank_stream"
    dtype = np.float64
    out_schema = f"{ID} long, rank double"
    stat_key = "delta"

    def __init__(self, damping: float, tol: float, sources,
                 weight_col: str | None):
        self.damping = float(damping)
        self.tol = tol
        self.src_arr = (
            None if sources is None
            else np.unique(np.asarray([int(s) for s in sources], np.int64))
        )
        self.weight_col = weight_col

    def block_flavor(self, edges: DataFrame) -> tuple[DataFrame, bool, str | None]:
        return edges, False, self.weight_col

    def bind(self, n: int, qs: tuple) -> None:
        self.n, self.qs = n, qs

    def _pref(self, ids: np.ndarray) -> np.ndarray:
        return np.isin(ids, self.src_arr).astype(np.float64) / len(self.src_arr)

    def init_blob(self, ids: np.ndarray) -> np.ndarray:
        if self.src_arr is not None:
            return self._pref(ids)  # PPR start: rank0 = pref
        return np.full(len(ids), 1.0 / self.n)

    def init_from_rows(self, ids: np.ndarray, pdf: pd.DataFrame) -> np.ndarray:
        # Prior ranks taken verbatim; NaN = vertex absent from the prior
        # -> 1/n (the join path's seed_ranks fill, sources or not).
        rank = pdf["rank"].to_numpy(dtype=np.float64).copy()
        rank[np.isnan(rank)] = 1.0 / self.n
        return rank

    def gather_apply(self, plan, upd_dir: str, p: int, q: int,
                     prev: np.ndarray) -> tuple[np.ndarray, float]:
        # Add-fold gather: one bincount over the build-time positions of
        # every incoming update slice (fixed block order -> deterministic
        # float association).
        parts = [sl for _, sl in _incoming(plan, upd_dir, p)]
        contrib = np.zeros(len(prev))
        if parts:
            w = parts[0] if len(parts) == 1 else np.concatenate(parts)
            contrib = np.bincount(plan["apos"], weights=w, minlength=len(prev))
        # The dangling mass: a global message riding the stats files.
        d, dm = self.damping, _stats_fold(upd_dir, self.qs, 0)
        if self.src_arr is None:
            rank = (1.0 - d) / self.n + d * (contrib + dm / self.n)
        else:
            pref = self._pref(np.asarray(plan["ids"]))
            rank = (1.0 - d) * pref + d * (contrib + dm * pref)
        delta = float(np.max(np.abs(rank - prev))) if len(rank) else 0.0
        return rank, delta

    def scatter(self, upd_dir: str, q: int, blk, plan, rank: np.ndarray,
                delta: float) -> None:
        # Messages m = rank/W(u), pre-aggregated per dst via reduceat over
        # the build-time segment starts (a fixed, arrival-independent
        # accumulation order), published with the partition's dangling
        # mass as stats-{q} = [dangling, delta].
        iod = np.asarray(plan["iod"])
        if blk is not None:
            me = (rank * iod)[blk["pos"]]
            if "w" in blk:  # type-2 block: message = rank(u)/W(u) * w(e)
                me = me * blk["w"]
            _publish_arr(upd_dir, f"partial-{q}", np.add.reduceat(me, blk["starts"]))
        dang = float(rank[iod == 0.0].sum())
        _publish_arr(upd_dir, f"stats-{q}", np.array([dang, delta]))

    def read_stat(self, upd_dir: str, qs) -> float:
        return max((float(s[1]) for s in _stats(upd_dir, qs)), default=0.0)

    def converged(self, delta: float) -> bool:
        return delta < self.tol

    def expand_pdf(self, plan, blob: bytes) -> pd.DataFrame:
        return pd.DataFrame({
            ID: np.asarray(plan["ids"]),
            "rank": np.frombuffer(blob, np.float64),
        })


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
    init_ranks: DataFrame | None = None,
    sources: list[int] | None = None,
    num_edges: int | None = None,
) -> RunResult:
    """PageRank over the fused streaming-partition superstep.

    Same semantics as algos.pagerank: damping with dangling-mass
    redistribution, convergence when max |Δrank| < tol, superstep count
    identical to the join path. ``sources``: personalized PageRank, the
    exact recurrence of algos.pagerank(sources=...) (see _SumPageRank).
    ``graph`` lets callers (bench warmup → timed run) reuse a built
    CsrGraph; ``state_partitions`` as in _stream_loop.

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
    if sources is not None and not sources:
        raise ValueError("sources must be a non-empty id list")
    init_rows = None
    if init_ranks is not None:
        init_rows = init_ranks.select(ID, F.col("rank").cast("double").alias("rank"))
    return _stream_loop(
        spark, edges, _SumPageRank(damping, tol, sources, weight_col),
        max_iters, num_partitions, token, checkpointer, checkpoint_every,
        graph, state_partitions, num_edges, init_rows,
    )
