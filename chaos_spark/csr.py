"""CSR block store — the v6 disk blocks the fused stream kernels
(chaos_spark.stream, chaos_spark.stream_algos) run over.

Each block is the 1:1 image of an X-Stream streaming partition ([X13]
§3.2): a vertex interval, the edge block whose ``src`` falls in the
interval, and the routing table of the update stream it emits. Edges are
hash-partitioned ONCE by Spark's own ``repartition(p, src)``, and each
physical partition's CSR arrays are written to ONE block directory of
mmap-able .npy files, named by partition index. Per superstep the kernels
MEMORY-MAP their block via the partition index — written once, faulted
from the shared page cache every iteration, no locality assumption (the
block dir is shared storage on a real cluster: Chaos's slipstore model,
[C15] §4). No edge bytes cross the JVM->Python boundary per superstep.

The src->state-row gather POSITIONS are computed at build time and stored
in the block, against the sorted per-partition vertex-id vector ``ids``
(also stored). The id set of a state partition is fully determined by the
graph + the Murmur3 pmod partitioner, so positions never depend on which
Python worker serves the task (a per-worker position cache measured a 78%
MISS rate under Spark's nondeterministic task placement). Edges are stored
sorted by (dst-bucket, dst) — dst-bucket being the Murmur3 pmod partition
of the dst's state row — so per-dst accumulation is a streaming
ufunc.reduceat over build-time segment ``starts``, and each TARGET
partition's update slice is contiguous: the block doubles as the
slipstore update-stream routing table. Blocks are MEMORY-MAPPED, not
read: all workers on a host share one physical copy of each block.

This module owns the build (one Spark job on a graph at or below
``BUILD_ONE_TASK_MAX_EDGES``, two above it; see CsrGraph), warm adoption
of marker-validated blocks (one validation job), the worker-side mmap
loaders, the cross-algorithm warm-block registry, and the two
join-vs-stream crossover constants ``algos._route`` routes by.
"""

from __future__ import annotations

import os as _os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from .engine import choose_num_partitions, is_stored, superstep_conf
from .graph import DST, ID, SRC
from .shipping import ensure_shipped, kernel

# Per-Python-worker memo of loaded block / apply-plan members.
# key: (cache_token, part) -> dict of np.memmap members. FIFO capped at a
# fixed entry count: Spark schedules tasks onto workers
# nondeterministically, so an unbounded cache costs O(workers x blocks)
# open maps. The members are memory-mapped — shared page cache, not
# worker RSS — so what an entry costs is its ~5-7 open maps, not its
# bytes.
_BLOCK_CACHE: dict[tuple[str, int], dict[str, np.ndarray]] = {}
_BLOCK_CACHE_MAX_ENTRIES = 10_000


def _cache_put(key, blk: dict[str, np.ndarray]) -> None:
    while len(_BLOCK_CACHE) >= _BLOCK_CACHE_MAX_ENTRIES:
        _BLOCK_CACHE.pop(next(iter(_BLOCK_CACHE)))  # FIFO eviction
    _BLOCK_CACHE[key] = blk


_DISK_BLOCK_BASE = _os.environ.get("CHAOS_CSR_BLOCK_DIR", "/tmp/chaos_csr_blocks")

# Join-vs-stream crossovers: the ``mode="auto"`` dispatchers in
# chaos_spark.algos route to the fused stream kernels at or above these raw
# edge counts, and to the join path below them (unless the warm-block
# registry already holds the graph's blocks). The stream path's
# per-superstep cost is 3-6x lower than the join path's even at sf0.1, so
# what decides the crossover is whether the one-time block build amortizes
# from cold (scripts/sf01_path_ab.py, BENCH/sf01_path_ab.json — cold,
# fresh block dir, local[32]):
#   pagerank conv 587k edges, 31 steps: join 11.6 s, stream COLD 5.9 s
#   lpa 10 steps, 294k edges:           join  7.3 s, stream COLD 3.0 s
#   cc  ~5 steps, 294k edges:           join  4.4 s, stream COLD 5.6 s
#                                        (stream warm-blocks 2.1 s)
# and at sf0.01 (~5k edges) the two are a wash (driver record: 2.3 s vs
# 2.4 s — fixed Spark job cost dominates either path).
#
# STREAM_AUTO_MIN_EDGES (100k) is the crossover of every dispatcher but
# CC. For BFS/SSSP, k-core, MIS, bipartiteness and SCC the stream path
# ran ahead of the join path at every size swept, cold and warm
# (scripts/stream_batch_sweep.py --leg route, BENCH/route_sweep.json:
# RMAT, to convergence, local[4], min of 3 fresh processes): stream/join
# wall 0.28-0.69 cold and 0.16-0.52 warm at 100k raw edges, 0.29-0.54
# cold and 0.21-0.53 warm at 1M, and 0.34-0.86 cold at 30k. It stays at
# 100k because perfbench's workloads derive their edge bands from it.
STREAM_AUTO_MIN_EDGES = 100_000
# CC's cold stream crossover (r6): CC runs few, cheap supersteps, so the
# one-time block build must itself beat the join path's setup+iterate for
# cold routing to pay. Re-measured after the v6 single-shuffle build
# landed: at 294k edges (sf0.1 part graph) cold stream = 1.7 s build +
# 0.4 s init/expand + 0.7 s iterate ≈ 2.8 s vs join 4.7–7.4 s, while at
# ~29k (sf0.01) the join path still wins by a few hundred ms — the
# crossover sits between, 200k keeps a safety margin on the join side
# (OPTIMIZATION_r06.md). algos.connected_components reads this.
CC_STREAM_MIN_EDGES = 200_000
# One-task crossover of the stream loop (stream._stream_loop): at or below
# this deduplicated |E| the blob state defaults to ONE partition, whose
# task runs a whole checkpoint interval of supersteps itself — one Spark
# job per interval instead of one per superstep. Above it the state keeps
# one partition per block, so the kernel math runs in parallel. Measured
# by scripts/stream_batch_sweep.py (BENCH/stream_batch_sweep.json: RMAT
# PageRank, 20 supersteps, pre-built blocks, local[4], min of 3): one task
# / per-superstep jobs = 0.15-0.30 up to 2.9M deduplicated edges, 0.60 at
# 15.4M, 0.81 at 23.4M, parity (0.99) at 31.0M and 1.26 at 46.9M. The
# per-superstep shape gains from more cores and one task does not, so the
# constant sits at half the 4-core parity point.
STREAM_ONE_TASK_MAX_EDGES = 16_000_000
# One-task crossover of the block build (CsrGraph): at or below this RAW
# edge count both build passes run in one task of one Spark job, above it
# one task per block. Measured by ``scripts/stream_batch_sweep.py --leg
# build`` (BENCH/cold_build_sweep.json: RMAT, cold build in a fresh
# Spark application, persisted edges, local[4], min of 3): one task / p
# tasks = 0.74 at 0.13M raw edges, 0.77 at 1M, 0.87 at 2M, 1.13 at 4M and
# 1.45 at 16M. One task saves the Python worker forks and the second job,
# but runs the numpy work on one core, which costs more than the forks
# from ~3M edges; the constant sits at the largest measured win. The
# build funnels the edges with coalesce(1), which also pulls an unpersisted
# source's scan into the one task; on a parquet source repartition(1)
# measured 0.86-1.09x of it (faster at 4 of 5 sizes), while on the usual
# persisted edges it would add a shuffle for nothing.
BUILD_ONE_TASK_MAX_EDGES = 2_000_000

# ---------------------------------------------------------------------------
# Warm-block registry — in-process analogue of Chaos's cross-algorithm
# partition reuse ([C15] §4: the storage subsystem's partitioned edge data
# outlives one computation). v5 disk blocks are algorithm-agnostic (CC and
# LPA share undirected blocks; PageRank's directed blocks serve any
# scatter-sum), so a graph built for one algorithm should serve the next
# WITHOUT rebuilding and without every caller hand-threading tokens.
#
# Keyed by the edges DataFrame's Catalyst SEMANTIC hash (same analyzed
# logical plan ⇒ same data, zero extra Spark jobs to probe) plus the block
# flavor (undirected/weight_col/num_partitions). Correctness never rests
# on the key: adoption only picks a token, and CsrGraph.__init__ always
# re-validates the on-disk _BUILT marker against the freshly computed
# |E| + content fingerprint — a hash collision or regenerated source data
# rebuilds instead of serving stale blocks. Registered dirs are kept for
# the process lifetime (capped: graphs above _WARM_KEEP_MAX_EDGES keep the
# ephemeral-cleanup behavior; campaign-scale graphs pin tokens anyway).
_WARM_BLOCKS: dict[tuple, tuple[str, str]] = {}
_WARM_KEEP_MAX_EDGES = 16_000_000


def _warm_key(
    edges: DataFrame,
    undirected: bool,
    weight_col: str | None,
    num_partitions: int | None,
) -> tuple | None:
    """Registry key for ``edges`` + block flavor; None when the semantic
    hash is unavailable (e.g. Spark Connect — registry silently off)."""
    try:
        h = int(edges._jdf.queryExecution().analyzed().semanticHash())
    except Exception:  # py4j absent/shape change: feature off, never fatal
        return None
    return (h, bool(undirected), weight_col, num_partitions)


def _warm_blocks_ready(key: tuple | None) -> str | None:
    """Token of already-built blocks for ``key``, or None. Drops the entry
    if the block dir vanished underneath (e.g. /tmp cleaner)."""
    ent = _WARM_BLOCKS.get(key) if key is not None else None
    if ent is None:
        return None
    token, block_dir = ent
    if _os.path.exists(_os.path.join(block_dir, "_BUILT")):
        return token
    _WARM_BLOCKS.pop(key, None)
    return None


_BLOCK_MEMBERS = ("ids", "pos", "du", "di", "starts", "boff", "w")
_BLOCK_KEYS = {"du": "dst_unique", "di": "dst_inverse"}


# ---------------------------------------------------------------------------
# Vectorized Spark-parity XXH64 (v6 build): the block build computes the
# content fingerprint INSIDE the edge-pass kernel (numpy, per partition,
# xor-folded on the driver) instead of running a separate Spark
# distinct+agg job over the deduped edges. Marker VALIDATION (warm reuse)
# still uses Spark's own ``bit_xor(xxhash64(...))`` — these helpers are
# bit-exact images of catalyst's XxHash64 (seed 42, hashLong chained per
# column; genoracle.py holds the scalar reference, tests/test_csr.py the
# Spark parity test), so the two sides agree on the same data.
# ---------------------------------------------------------------------------

_XP1 = np.uint64(0x9E3779B185EBCA87)
_XP2 = np.uint64(0xC2B2AE3D27D4EB4F)
_XP3 = np.uint64(0x165667B19E3779F9)
_XP4 = np.uint64(0x85EBCA77C2B2AE63)
_XP5 = np.uint64(0x27D4EB2F165667C5)


def _xxh64_long_np(v: np.ndarray, seed: np.ndarray | int) -> np.ndarray:
    """XXH64.hashLong(v, seed), vectorized over uint64 arrays (wrapping
    64-bit math — numpy unsigned ops wrap by construction)."""
    with np.errstate(over="ignore"):
        s = seed if isinstance(seed, np.ndarray) else np.uint64(seed)
        h = s + _XP5 + np.uint64(8)
        k1 = v * _XP2
        k1 = ((k1 << np.uint64(31)) | (k1 >> np.uint64(33))) * _XP1
        h = h ^ k1
        h = ((h << np.uint64(27)) | (h >> np.uint64(37))) * _XP1 + _XP4
        h ^= h >> np.uint64(33)
        h *= _XP2
        h ^= h >> np.uint64(29)
        h *= _XP3
        h ^= h >> np.uint64(32)
        return h


def _edge_fp_np(src: np.ndarray, dst: np.ndarray, w: np.ndarray | None) -> int:
    """xor-fold of Spark ``xxhash64(src, dst[, w])`` over edge rows,
    returned as the SIGNED int64 Spark's bit_xor aggregate yields."""
    h = _xxh64_long_np(src.astype(np.int64).view(np.uint64), 42)
    h = _xxh64_long_np(dst.astype(np.int64).view(np.uint64), h)
    if w is not None:
        # catalyst hashes a double column as hashLong(doubleToLongBits(d))
        # with -0.0 normalized to 0.0
        wb = np.where(w == 0.0, 0.0, w).view(np.uint64)
        h = _xxh64_long_np(wb, h)
    if len(h) == 0:
        return 0
    return int(np.bitwise_xor.reduce(h).view(np.int64))


def _fold_sums(w: np.ndarray, starts: np.ndarray) -> np.ndarray:
    """Each run's sum as the left fold ``((0.0 + w0) + w1) + ...`` — the
    order warm validation's ``aggregate(array_sort(collect_list(w)), 0.0,
    (a, x) -> a + x)`` sums in. ``np.add.reduceat`` does not (its runs sum
    pairwise), and float addition is not associative: 0.1 + (0.2 + 0.3)
    != (0.1 + 0.2) + 0.3. ``starts`` are the run offsets (first 0); one
    vectorized add per run position, over the runs that long."""
    lens = np.diff(np.append(starts, len(w)))
    acc = np.zeros(len(starts))
    live = np.arange(len(starts))
    k = 0
    while len(live):
        acc[live] += w[starts[live] + k]
        k += 1
        live = live[lens[live] > k]
    return acc


def _load_disk_block(token: str, pid: int, block_dir: str):
    """Worker-side block fetch: MEMORY-MAPPED .npy members from the
    block's directory. Returns None when the partition holds no edges
    (no directory written).

    v5 block members (edge-order = sorted by (dst-bucket, dst), where
    dst-bucket is the Murmur3 pmod partition of dst — the SAME routing
    Spark's repartition(p, id) gives the vertex state, so a block's
    per-dst output is contiguous per TARGET PARTITION):
      ids    — sorted vertex ids of state partition pid (alignment anchor)
      pos    — int32 build-time gather positions: edge src -> row in ids
      du     — unique dst in (bucket, dst) order; di — MONOTONE int64
               dst_inverse into du
      starts — int64 edge offsets where each du segment begins (first
               element 0): per-dst aggregation = ufunc.reduceat(msg,
               starts), streaming, identical accumulation order to the
               v4 bincount but WITHOUT re-reading the 8-byte-per-edge
               di stream every superstep
      boff   — int64 (p+1) offsets into du delimiting each dst-bucket's
               slice — the slipstore update-stream routing table
               ([C15] §4: updates are appended per target streaming
               partition; here the slice boundaries are computed once
               at build)
      w      — float64 edge weights (type-2 blocks only)

    mmap, not read: on tmpfs (and on a warm page cache anywhere) every
    worker process shares ONE physical copy of each block — r4 measured
    the v2 read-into-RAM scheme paying 90-870 ms npz loads per
    (worker, block) cold pair under Spark's nondeterministic task
    placement, and duplicating up to the full block set into EVERY
    worker's byte-capped cache. A memmap "load" is ~5 file opens; the
    kernel's reads fault straight onto the shared pages. The worker
    cache therefore caps its entry count, not the mapped bytes (see
    _cache_put)."""
    key = (token, pid)
    blk = _BLOCK_CACHE.get(key)
    if blk is not None:
        return blk
    d = _os.path.join(block_dir, f"part-{pid}")
    if not _os.path.isdir(d):
        return None
    blk = {}
    for name in _BLOCK_MEMBERS:
        p = _os.path.join(d, f"{name}.npy")
        if name == "w" and not _os.path.exists(p):
            continue
        blk[_BLOCK_KEYS.get(name, name)] = np.load(p, mmap_mode="r")
    _cache_put(key, blk)
    return blk


_APPLY_MEMBERS = ("apos", "aoff", "soff", "iod", "ids")


def _load_apply_plan(token: str, q: int, block_dir: str):
    """Worker-side fetch of vertex partition q's slipstore APPLY PLAN
    (build pass 3): mmap'd {apos, aoff, soff, iod, ids}. Same shared
    page-cache story as _load_disk_block; cached under a namespaced key
    so block and plan entries never collide."""
    key = (f"{token}#apply", q)
    plan = _BLOCK_CACHE.get(key)
    if plan is not None:
        return plan
    d = _os.path.join(block_dir, f"apply-{q}")
    if not _os.path.isdir(d):
        return None
    plan = {
        name: np.load(_os.path.join(d, f"{name}.npy"), mmap_mode="r")
        for name in _APPLY_MEMBERS
    }
    _cache_put(key, plan)
    return plan


def _npy_replace(path: str, arr: np.ndarray) -> None:
    """Atomic single-file .npy publish (same pattern as stream._publish_arr)."""
    tmp = f"{path}.{_os.getpid()}.tmp"
    with open(tmp, "wb") as f:
        np.save(f, arr)
    _os.replace(tmp, path)


def _batch_columns(batches, cols: list[str]) -> dict[str, np.ndarray] | None:
    """The named columns of a mapInPandas batch iterator, each concatenated
    into one numpy array (``w`` float64, bucket ids int32, ids int64);
    None when no rows arrived."""
    dtypes = {"w": np.float64, "dbkt": np.int32, "sbkt": np.int32}
    parts: dict[str, list[np.ndarray]] = {c: [] for c in cols}
    for pdf in batches:
        if len(pdf):
            for c in cols:
                parts[c].append(pdf[c].to_numpy(dtype=dtypes.get(c, np.int64)))
    if not parts[cols[0]]:
        return None
    return {c: np.concatenate(v) for c, v in parts.items()}


def _build_block_v6(
    bd: str, p: int, pid: int, src: np.ndarray, dst: np.ndarray,
    bkt: np.ndarray, wv: np.ndarray | None = None,
) -> tuple[int, int]:
    """v6 build pass 1 for block ``pid`` (see CsrGraph), over its raw edge
    rows: ``src``/``dst`` ids, ``bkt`` the dst's Murmur3 pmod bucket and,
    for weighted blocks, the weights ``wv``. Dedups (summing duplicate
    weights) and writes part-{pid}/ (du/di/starts/boff, per-unique-src
    out-degrees, the temporary per-edge src array). The written bytes are
    a function of the row multiset, not of arrival order, so the one-task
    and p-task builds write identical blocks. Returns (deduped edge
    count, xor-fold content fingerprint)."""
    # One sort serves dedup AND the v5 block order: (bucket, dst, src)
    # groups duplicate (src, dst) pairs adjacently inside each dst run
    # while keeping du in (bucket, dst) order. The per-dst edge order
    # becomes src-ascending — a deterministic order independent of
    # shuffle arrival. Weights are the last key, so a pair's weights sum
    # in ascending order whatever order they arrived in.
    weighted = wv is not None
    keys = (src, dst, bkt)
    if weighted:
        keys = (wv,) + keys
    o = np.lexsort(keys)
    src, dst, bkt = src[o], dst[o], bkt[o]
    keep = np.empty(len(src), dtype=bool)
    keep[0] = True
    np.logical_or(src[1:] != src[:-1], dst[1:] != dst[:-1], out=keep[1:])
    wsum = None
    if weighted:
        wsum = _fold_sums(wv[o], np.flatnonzero(keep))
    src, dst, bkt = src[keep], dst[keep], bkt[keep]
    n = len(src)
    fp = _edge_fp_np(src, dst, wsum)
    seg = np.empty(n, dtype=bool)
    seg[0] = True
    np.not_equal(dst[1:], dst[:-1], out=seg[1:])
    starts = np.flatnonzero(seg)
    du = dst[seg]
    di = (np.cumsum(seg) - 1).astype(np.int64, copy=False)
    boff = np.searchsorted(bkt[seg], np.arange(p + 1))
    # Out-degrees over the deduped edges, per unique src.
    usrc, sidx = np.unique(src, return_inverse=True)
    if weighted:
        odeg = np.bincount(sidx, weights=wsum)
    else:
        odeg = np.bincount(sidx).astype(np.int64)
    arrays = {
        "src": src,  # temporary: pass 2 turns it into pos + ids
        "du": du,
        "di": di,
        "starts": starts.astype(np.int64, copy=False),
        "boff": boff.astype(np.int64, copy=False),
        "usrc": usrc,
        "odeg": odeg,
    }
    if weighted:
        arrays["w"] = wsum
    tmp = _os.path.join(bd, f".part-{pid}.{_os.getpid()}.tmp")
    _os.makedirs(tmp, exist_ok=True)
    for name, arr in arrays.items():
        with open(_os.path.join(tmp, f"{name}.npy"), "wb") as f:
            np.save(f, arr)
    try:
        _os.rename(tmp, _os.path.join(bd, f"part-{pid}"))
    except OSError:
        import shutil

        shutil.rmtree(tmp, ignore_errors=True)  # lost the race
    return n, fp


def _build_apply_v6(bd: str, p: int, q: int, weighted: bool) -> int:
    """v6 build pass 2 for vertex partition ``q`` (see CsrGraph):
    derive q's sorted vertex-id vector from the blocks (unique srcs of
    block q ∪ every block's bucket-q du slice), write the aligned
    out-degree vector + slipstore apply plan (apply-{q}/), back-fill the
    block's gather positions (pos.npy, strict-checked) and ids.npy, and
    drop the temporary per-edge src array. Idempotent under task retry:
    every file publish is an atomic replace, the apply dir is an atomic
    rename (a lost race leaves the winner's identical bytes), and a
    retry after pos.npy landed skips the recompute. Returns q's vertex
    count."""
    pdir = _os.path.join(bd, f"part-{q}")
    has_part = _os.path.isdir(pdir)
    if has_part:
        usrc = np.load(_os.path.join(pdir, "usrc.npy"))
        odeg = np.load(_os.path.join(pdir, "odeg.npy"))
    else:
        usrc = np.empty(0, np.int64)
        odeg = np.empty(0, np.float64 if weighted else np.int64)
    slices: list[np.ndarray | None] = []
    soff = np.full(p, -1, dtype=np.int64)
    for b in range(p):
        d2 = _os.path.join(bd, f"part-{b}")
        sl = None
        if _os.path.isdir(d2):
            bdu = np.load(_os.path.join(d2, "du.npy"), mmap_mode="r")
            bo = np.load(_os.path.join(d2, "boff.npy"), mmap_mode="r")
            lo, hi = int(bo[q]), int(bo[q + 1])
            if hi > lo:
                sl = np.asarray(bdu[lo:hi])
                soff[b] = lo
        slices.append(sl)
    cat = [usrc] + [s for s in slices if s is not None]
    ids = np.unique(np.concatenate(cat)) if cat else np.empty(0, np.int64)
    if len(ids) == 0:
        return 0
    od = np.zeros(len(ids), dtype=np.float64 if weighted else np.int64)
    if len(usrc):
        pos_src = np.searchsorted(ids, usrc)
        od[pos_src] = odeg
    odf = od.astype(np.float64, copy=False)
    iod = np.where(odf > 0, 1.0 / np.where(odf > 0, odf, 1.0), 0.0)
    apos_parts = []
    aoff = np.zeros(p + 1, dtype=np.int64)
    for b in range(p):
        sl = slices[b]
        ln = 0
        if sl is not None:
            ap = np.searchsorted(ids, sl)
            ap = np.clip(ap, 0, len(ids) - 1)
            if not np.array_equal(ids[ap], sl):
                raise RuntimeError(
                    f"CSR apply build: block {b} routes dst ids to "
                    f"partition {q} that are not in its vertex partition "
                    "— partitioner mismatch"
                )
            apos_parts.append(ap.astype(np.int32))
            ln = len(ap)
        aoff[b + 1] = aoff[b] + ln
    apos = np.concatenate(apos_parts) if apos_parts else np.empty(0, np.int32)
    arrays = {"apos": apos, "aoff": aoff, "soff": soff, "iod": iod,
              "ids": ids, "od": od}
    tmp = _os.path.join(bd, f".apply-{q}.{_os.getpid()}.tmp")
    _os.makedirs(tmp, exist_ok=True)
    for name, arr in arrays.items():
        with open(_os.path.join(tmp, f"{name}.npy"), "wb") as f:
            np.save(f, arr)
    final = _os.path.join(bd, f"apply-{q}")
    try:
        _os.rename(tmp, final)
    except OSError:
        import shutil

        shutil.rmtree(tmp, ignore_errors=True)  # lost the race
    if has_part:
        posp = _os.path.join(pdir, "pos.npy")
        srcp = _os.path.join(pdir, "src.npy")
        if not _os.path.exists(posp) and _os.path.exists(srcp):
            srcv = np.load(srcp)
            pos = np.searchsorted(ids, srcv)
            pos = np.clip(pos, 0, len(ids) - 1)
            if not np.array_equal(ids[pos], srcv):
                raise RuntimeError(
                    f"CSR block build: partition {q} has edge src ids "
                    "outside its vertex partition — partitioner mismatch"
                )
            _npy_replace(_os.path.join(pdir, "ids.npy"), ids)
            _npy_replace(posp, pos.astype(np.int32))
        try:
            _os.remove(srcp)
        except OSError:
            pass
    return len(ids)


class CsrGraph:
    """Per-partition CSR edge blocks built once (see module docstring).

    Construction runs two passes:

    1. edge pass (``_build_block_v6`` per block): over the block's RAW
       edge rows, dedup (src, dst) [summing duplicate weights], sort by
       (dst-bucket, dst, src), compute du/di/starts/boff, the
       per-unique-src out-degrees, and the block's xor-fold content
       fingerprint (bit-exact Spark xxhash64, see _edge_fp_np).
    2. vertex/apply pass (``_build_apply_v6`` per vertex partition):
       partition q's vertex set is derived from the blocks themselves
       (unique srcs of block q ∪ every block's bucket-q du slice — both
       defined by the SAME Murmur3 routing ``repartition(p, col)`` uses,
       so it equals {v : hash(v) % p == q} by construction), then the
       pass writes the aligned out-degree vector, the slipstore apply
       plan (apos/aoff/soff/iod), and back-fills the block's build-time
       gather positions (pos.npy, strict-checked) + ids.npy, dropping
       the temporary per-edge src array.

    Where they run depends on the RAW edge count (duplicates and, for
    undirected blocks, both directions counted):

    - at or below ``BUILD_ONE_TASK_MAX_EDGES``, ONE Spark job of ONE
      task, as X-Stream runs a graph that fits in memory on its
      in-memory engine ([X13] §4): Spark computes both bucket columns,
      ``pmod(hash(src), p)`` and ``pmod(hash(dst), p)``, the edges are
      coalesced to one partition, and the task splits them by src
      bucket and runs pass 1 for every block, then pass 2 for every
      vertex partition. The src bucket is the partition
      ``repartition(p, src)`` would send the row to, and pass 1's output
      does not depend on row order, so the blocks, the marker and the
      fingerprint are byte-identical to the p-task build's.
    - above it, TWO jobs: ``repartition(p, src)`` (the only shuffle of
      edge rows) with one pass-1 task per block, then pass 2 over
      ``spark.range(p)``, one task per vertex partition.

    The one-task build is not faster numpy: repeated in a process whose
    Python workers already exist, it is as fast as the p-task build at
    0.13M edges and slower from 1M up (BENCH/cold_build_sweep.json,
    ``warm_min_s``). What it saves is what a fresh Spark application
    pays on its first multi-task Python stage: forking a Python worker
    per core, and the second job. Both passes and adoption's validation
    query run with AQE off (``engine.superstep_conf``): its per-stage
    re-planning split each into three jobs.

    Partition sizing uses the RAW row count (``num_edges`` skips the
    scan; duplicates only oversize the heuristic). The deduped |E|, |V|,
    and fingerprint are recorded in the _BUILT marker; a pinned token's
    warm path validates the marker with ONE Spark dedup+bit_xor(xxhash64)
    job and adopts without any build work — the ``verts`` DataFrame is
    reconstructed lazily from the apply dirs (zero shuffles) only if
    something asks for it.

    Caching: the graph persists only a copy it owns. With ``num_edges``
    given it persists nothing — the edge stream is scanned once, by the
    build's edge pass or by the adoption validation job (both only when
    a stale marker fails validation and forces a rebuild). Without
    it the stream is scanned twice (count, then build/validate), so it is
    persisted for the constructor's duration and released at its end —
    unless its plan is already cached (``storageLevel``, e.g. the caller
    persisted an exactly ``(src, dst)`` frame), in which case the
    caller's entry serves both scans and is never touched.

    Type-2 (weighted) edges ([X13] §5.1, ``weight_col``): blocks gain a
    float64 ``w`` array; duplicate (src,dst) weights are SUMMED (same
    prep as the join paths). Directed blocks only.
    """

    def __init__(
        self,
        spark: SparkSession,
        edges: DataFrame,
        num_partitions: int | None = None,
        undirected: bool = False,
        token: str | None = None,
        weight_col: str | None = None,
        num_edges: int | None = None,
    ):
        import uuid

        ensure_shipped(spark)  # kernels reference module fns on executors
        self.weighted = weight_col is not None
        if self.weighted and undirected:
            raise ValueError("weighted CSR supports directed blocks only")
        self.spark = spark
        self._verts = None
        if self.weighted:
            e = edges.select(
                SRC, DST, F.col(weight_col).cast("double").alias("w")
            )
        else:
            e = edges.select(SRC, DST)
        if undirected:
            e = e.union(e.select(F.col(DST).alias(SRC), F.col(SRC).alias(DST)))
        self.undirected = undirected
        # Persist only what this graph owns. ``e`` can be plan-equal to a
        # frame the caller cached (edges already exactly (src, dst)): then
        # persist() is a no-op and unpersist() would evict the CALLER's
        # entry. With ``num_edges`` given, ``e`` is scanned once (build
        # pass or validation job) and needs no cache at all.
        owned = num_edges is None and not is_stored(e)
        if owned:
            e = e.persist()
        try:
            raw = (
                num_edges * (2 if undirected else 1)
                if num_edges is not None
                else e.count()
            )
            self.p = num_partitions or choose_num_partitions(spark, raw)
            # Warm-block adoption: an un-tokened graph whose edges plan +
            # flavor matches a registered build reuses that token (and its
            # block dir). Always safe: the _BUILT marker is re-validated
            # against a freshly computed |E| + content fingerprint before any
            # block is trusted.
            self._warm_key = _warm_key(edges, undirected, weight_col, num_partitions)
            warm_tok = _warm_blocks_ready(self._warm_key) if token is None else None
            self.token = (
                token or warm_tok or f"g-{uuid.uuid4().hex}-{raw}-{self.p}"
            )
            self._ephemeral_blocks = token is None and warm_tok is None
            # AQE off: its per-stage re-planning ran the edge pass as
            # three jobs and the validation query as three.
            with superstep_conf(spark, self.p, adaptive=False):
                self._build_or_adopt(e, raw)
        finally:
            if owned:
                e.unpersist()
        # Worker-cache namespace: count + content fingerprint, so a pinned
        # token whose underlying data changed can never serve stale
        # in-memory blocks cached by a still-alive Python worker.
        self.cache_token = f"{self.token}#{self.num_edges}:{self.edge_fp:x}"
        if (
            self._warm_key is not None
            and self.num_edges <= _WARM_KEEP_MAX_EDGES
        ):
            _WARM_BLOCKS[self._warm_key] = (self.token, self.block_dir)
            self._ephemeral_blocks = False

    def _build_or_adopt(self, e: DataFrame, raw: int) -> None:
        """Adopt marker-validated blocks (one Spark validation job) or
        wipe and rebuild (the two v6 passes, see CsrGraph)."""
        import hashlib
        import shutil

        safe = hashlib.md5(self.token.encode()).hexdigest()[:16]
        self.block_dir = _os.path.join(_DISK_BLOCK_BASE, f"{safe}-p{self.p}")
        marker = _os.path.join(self.block_dir, "_BUILT")
        if _os.path.exists(marker):
            try:
                with open(marker) as f:
                    parts = f.read().strip().split(":")
            except OSError:
                parts = []
            # v6 marker: "v6:{|E| dedup}:{|V|}:{p}:{fp:x}". Validation =
            # ONE Spark job computing the live data's deduped count +
            # xor-fold xxhash64 fingerprint (the kernel fingerprint is
            # bit-exact with this aggregate — _edge_fp_np); any mismatch
            # (or an old-format marker) wipes and rebuilds, so stale or
            # torn blocks can never be served. ADVICE r3 contract kept:
            # same-count-different-edges regeneration is caught by fp.
            if len(parts) == 5 and parts[0] == "v6" and parts[3] == str(self.p):
                fp_cols = [F.col(SRC), F.col(DST)] + (
                    [F.col("w")] if self.weighted else []
                )
                if self.weighted:
                    # Sorted left fold: bit-exact with the build's
                    # _fold_sums whatever order the rows arrive in.
                    dd = e.groupBy(SRC, DST).agg(F.aggregate(
                        F.array_sort(F.collect_list("w")), F.lit(0.0),
                        lambda a, x: a + x,
                    ).alias("w"))
                else:
                    dd = e.distinct()
                row = dd.agg(
                    F.count(F.lit(1)).alias("n"),
                    F.bit_xor(F.xxhash64(*fp_cols)).alias("fp"),
                ).first()
                live_n, live_fp = int(row["n"]), int(row["fp"] or 0)
                if live_n == int(parts[1]) and live_fp == int(parts[4], 16):
                    self.num_edges = live_n
                    self.num_vertices = int(parts[2])
                    self.edge_fp = live_fp
                    return
            shutil.rmtree(self.block_dir, ignore_errors=True)
        else:
            # Incomplete previous build (dirs without a marker) must not
            # donate possibly-stale part dirs to this build.
            shutil.rmtree(self.block_dir, ignore_errors=True)
        _os.makedirs(self.block_dir, exist_ok=True)
        self._build_v6(e, raw)

    def _build_v6(self, e: DataFrame, raw: int) -> None:
        bd, p, weighted = self.block_dir, self.p, self.weighted
        cols = [SRC, DST, "dbkt"] + (["w"] if weighted else [])
        # dbkt via Spark's own Murmur3 hash(): EXACTLY the routing
        # repartition(p, id) gives the vertex state.
        e = e.withColumn("dbkt", F.pmod(F.hash(F.col(DST)), F.lit(p)))
        schema = "part int, n long, fp long, nv long"

        if raw <= BUILD_ONE_TASK_MAX_EDGES:

            def build(batches):
                # sbkt is repartition(p, src)'s partition id, so each
                # block gets the rows the p-task edge pass would give it.
                got = _batch_columns(batches, cols + ["sbkt"])
                rows = []
                if got is not None:
                    sbkt = got.pop("sbkt")
                    order = np.argsort(sbkt)
                    cuts = np.zeros(p + 1, dtype=np.int64)
                    np.cumsum(np.bincount(sbkt, minlength=p), out=cuts[1:])
                    del sbkt
                    for b in range(p):
                        idx = order[cuts[b]:cuts[b + 1]]
                        if len(idx):
                            n, fp = _build_block_v6(
                                bd, p, b, *(got[c][idx] for c in cols)
                            )
                            rows.append((b, n, fp, 0))
                    del got, order
                for q in range(p):
                    rows.append((q, 0, 0, _build_apply_v6(bd, p, q, weighted)))
                yield pd.DataFrame(rows, columns=["part", "n", "fp", "nv"])

            built = (
                e.withColumn("sbkt", F.pmod(F.hash(F.col(SRC)), F.lit(p)))
                .coalesce(1)
                .mapInPandas(kernel(build), schema=schema)
                .collect()  # 2p rows at most
            )
        else:

            def pass1(batches):
                from pyspark import TaskContext

                pid = TaskContext.get().partitionId()
                got = _batch_columns(batches, cols)
                n, fp = (0, 0) if got is None else _build_block_v6(
                    bd, p, pid, *got.values()
                )
                yield pd.DataFrame({"part": [pid], "n": [n], "fp": [fp], "nv": [0]})

            def pass2(batches):
                for pdf in batches:
                    for qv in pdf["id"].tolist():
                        nv = _build_apply_v6(bd, p, int(qv), weighted)
                        yield pd.DataFrame(
                            {"part": [int(qv)], "n": [0], "fp": [0], "nv": [nv]}
                        )

            built = (
                e.repartition(p, F.col(SRC))
                .mapInPandas(kernel(pass1), schema=schema)
                .collect()  # p rows — bounded by partition count, not |E|
            )
            # pass 2 reads every block, so it runs after pass 1's job.
            built += (
                self.spark.range(0, p, 1, p)
                .mapInPandas(kernel(pass2), schema=schema)
                .collect()
            )
        self.num_edges = int(sum(r["n"] for r in built))
        acc = 0
        for r in built:
            acc ^= int(r["fp"]) & 0xFFFFFFFFFFFFFFFF
        self.edge_fp = acc - (1 << 64) if acc >= 1 << 63 else acc
        self.num_vertices = int(sum(r["nv"] for r in built))
        with open(_os.path.join(self.block_dir, "_BUILT"), "w") as f:
            f.write(
                f"v6:{self.num_edges}:{self.num_vertices}:{p}:{self.edge_fp:x}"
            )

    def _apply_scan(self) -> DataFrame:
        """``(id)`` for every vertex, read straight from the apply dirs'
        sorted id vectors via a shuffle-free range(p) scan. Valid only
        while the block dir exists (before unpersist() of an ephemeral
        graph)."""
        bd, p = self.block_dir, self.p

        def read(batches):
            for pdf in batches:
                for qv in pdf["id"].tolist():
                    d = _os.path.join(bd, f"apply-{int(qv)}")
                    if _os.path.isdir(d):
                        yield pd.DataFrame({ID: np.load(_os.path.join(d, "ids.npy"))})

        return self.spark.range(0, p, 1, p).mapInPandas(
            kernel(read), schema=f"{ID} long"
        )

    @property
    def verts(self) -> DataFrame:
        if self._verts is None:
            self._verts = self._apply_scan()
        return self._verts

    def align_state(self, df: DataFrame) -> DataFrame:
        """Hash(id, p)-partition state to match the disk-block layout."""
        return df.repartition(self.p, F.col(ID))

    def unpersist(self) -> None:
        if self._ephemeral_blocks:
            import shutil

            shutil.rmtree(self.block_dir, ignore_errors=True)
