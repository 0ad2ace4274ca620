"""Fused streaming-partition supersteps for CC (hash-min), LPA (mode
label), BFS/SSSP (min-plus), HyperANF (register-max), k-core
(threshold-peel degree sums), MIS, bipartiteness and SCC — plugins of
the one fused-stream loop in chaos_spark.stream (see that module's
docstring for the design and the plugin contract). Vertex state is one
blob per streaming partition, and the convergence statistic (count of
changed vertices) rides the update stream's stats files.

Per-algorithm update streams over the SAME v5 blocks and apply plans
(csr.py — no new build pass):

- **CC (hash-min)**: block b's update stream is exactly PageRank's shape —
  one fixed-length array per superstep, ``partial-{b} =
  minimum.reduceat(labels[pos], starts)`` (per-dst min instead of per-dst
  sum; min is order-free, so per-dst results are EXACT, not allclose).
  Apply: per target slice the incoming du rows are unique, so the fold is
  plain fancy-indexed ``new[rows] = minimum(new[rows], slice)`` per block
  — no ufunc.at. new label = min(old, incoming mins).

- **SSSP / BFS (min-plus)**: same fixed-length update-stream shape as CC —
  ``partial-{b} = minimum.reduceat(dist[pos] + w, starts)`` over float64
  distance blobs (w ≡ 1 for BFS; np.inf = unreached, NULL on expand).
  Duplicate weighted edges are MIN-folded at graph prep (the weighted
  block build sums duplicates — PageRank semantics — so SSSP
  pre-aggregates). Full re-relaxation ≡ the join path's frontier
  relaxation per superstep (_MinPlusSSSP docstring) — parity is exact.

- **LPA (mode label, min-tie)**: messages aggregate to per-(dst, label)
  COUNTS, which are variable-length — block b publishes four aligned
  arrays per superstep: ``lidx-{b}`` (du index RELATIVE to the target
  bucket's du slice, so the apply side routes through apos without
  knowing b's boff), ``llab-{b}``, ``lcnt-{b}``, and ``loff-{b}`` (p+1
  entry offsets per target bucket — the per-superstep analogue of the
  build-time boff). In-block counting uses a pack-key sort (measured
  9.3x over the two-key lexsort). Apply: concat all
  incoming (row, label, cnt) triples, sum counts per (row, label) via one
  pack-key argsort + reduceat, then winner per row = (max cnt, min label)
  via one lexsort — all integer ops, deterministic at any parallelism.

- **HyperANF (register max)**: (|du_b|, 64) uint8 sketches per block —
  ``maximum.reduceat`` over HLL registers; the per-hop nf history rides
  the blob behind the registers (see _HllMaxANF).

- **K-core (threshold peel)**: per-dst SUMS of 0/1 alive flags
  (``add.reduceat``); apply ``alive' = alive AND deg >= k`` (_KCorePeel).

- **Luby MIS (two-phase)**: a SELECT superstep (per-dst min of packed
  (priority, id) bids) then a KNOCK superstep (per-dst min of
  0-if-IN_SET); the round counter and phase bit ride the blob, and
  self-loop edges are masked in-kernel so the plain undirected blocks
  stay shared (_LubyMIS).

- **Bipartiteness (lexmin)**: two int64 words ``(root, dist)`` per
  vertex; the scatter message is the per-dst lexmin of ``(root, dist +
  1)``, the gather a row-wise lexmin; self-loops are no-ops
  (_ParityBFS).

- **SCC (FB-coloring, two graphs)**: forward max-color folds over the
  directed blocks, backward min-sweeps over a reversed-edge block set;
  the phase rides the blob head (_FBColoringSCC).

Correctness contract: EXACT same fixed point and superstep count as the
join paths (cc: min-fold is order-free; lpa: integer counts and
deterministic min-tie). Convergence = zero changed labels,
identical to algos.cc/algos.lpa. Checkpoint/resume: blob state through
CheckpointManager; update streams are derived state, regenerated by one
scatter-only job on resume.
Parity-tested in tests/test_stream_algos.py.

Scale notes (100 TB / 1000-executor design review): per superstep each
task moves |V|/p x 8 bytes of blob + writes its block's update arrays to
shared storage — LPA's update volume is bounded by distinct (dst, label)
pairs per block, which SHRINKS as communities coalesce; no per-row
Python, no driver collect in the loop, and the only all-to-all is the
update-stream slice reads, which on a real cluster are sequential reads
of contiguous file ranges (exactly Chaos's slipstore claim).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from pyspark.sql import functions as F

from .algos.hyperanf import M as _ANF_M, _hll_estimate, _init_registers
from .algos.mis import (
    IN_SET as _MIS_IN_SET,
    OUT as _MIS_OUT,
    PRI_A as _MIS_PRI_A,
    PRI_B as _MIS_PRI_B,
    PRI_P as _MIS_PRI_P,
    UNDECIDED as _MIS_UNDECIDED,
)
from .checkpoint import CheckpointManager
from .csr import CsrGraph, _load_apply_plan, _load_disk_block
from .engine import RunResult, materialize
from .graph import DST, ID, SRC, dedup_edges
from .stream import (
    _StreamKernel,
    _incoming,
    _publish_arr,
    _stats,
    _stats_fold,
    _stream_loop,
)

_PACK_BITS = np.int64(31)
_PACK_MASK = np.int64(2**31 - 1)


def _min_fold_gather(plan, upd_dir: str, p: int, q: int,
                     prev: np.ndarray) -> tuple[np.ndarray, int]:
    """Per-dst MIN fold of the incoming fixed-length update-stream slices
    into the partition's state blob — shared by every min-semiring kernel
    (CC's hash-min over int64 labels; SSSP/BFS's min-plus over float64
    distances). Exact at any parallelism: min is order-free, and rows are
    unique within one block's slice (du is distinct), so fancy indexing +
    minimum needs no ufunc.at."""
    new = prev.copy()
    for rows, sl in _incoming(plan, upd_dir, p):
        new[rows] = np.minimum(new[rows], sl)
    return new, int(np.count_nonzero(new != prev))


class _Int64LabelBase(_StreamKernel):
    """Shared shape of the int64-label kernels (CC, LPA): undirected
    blocks, label = own id at init, ``(id, label)`` output rows."""

    dtype = np.int64
    out_schema = f"{ID} long, label long"

    def init_blob(self, ids: np.ndarray) -> np.ndarray:
        return ids  # label = own id

    def expand_pdf(self, plan, blob: bytes) -> pd.DataFrame:
        return pd.DataFrame({
            ID: np.asarray(plan["ids"]),
            "label": np.frombuffer(blob, np.int64),
        })


class _HashMinCC(_Int64LabelBase):
    """Hash-min connected components over the fused stream superstep."""

    name = "cc_stream"

    def scatter(self, upd_dir: str, q: int, blk, plan,
                labels: np.ndarray, changed: float) -> None:
        if blk is not None:
            lab_edge = labels[blk["pos"]]
            _publish_arr(
                upd_dir, f"partial-{q}",
                np.minimum.reduceat(lab_edge, blk["starts"]),
            )
        _publish_arr(upd_dir, f"stats-{q}", np.array([0.0, changed]))

    def gather_apply(self, plan, upd_dir: str, p: int, q: int,
                     prev: np.ndarray) -> tuple[np.ndarray, int]:
        return _min_fold_gather(plan, upd_dir, p, q, prev)


class _ModeLabelLPA(_Int64LabelBase):
    """Synchronous LPA (most-frequent neighbor label, min-label ties)
    over the fused stream superstep."""

    name = "lpa_stream"

    def scatter(self, upd_dir: str, q: int, blk, plan,
                labels: np.ndarray, changed: float) -> None:
        if blk is not None:
            lab_edge = labels[blk["pos"]]
            di = np.asarray(blk["dst_inverse"])
            # Per-(dst, label) counts: pack-key sort when the domain fits
            # (di < 2^31 slots, labels in [0, 2^31)) — measured 9.3x
            # over the two-key lexsort; identical output.
            if (
                len(blk["dst_unique"]) < 2**31
                and lab_edge.min() >= 0
                and lab_edge.max() < 2**31
            ):
                key = (di << _PACK_BITS) | lab_edge
                key.sort()  # di is monotone — near-sorted input
                d_s = key >> _PACK_BITS
                l_s = key & _PACK_MASK
            else:
                o = np.lexsort((lab_edge, di))
                d_s, l_s = di[o], lab_edge[o]
            boundary = np.empty(len(d_s), dtype=bool)
            boundary[0] = True
            boundary[1:] = (d_s[1:] != d_s[:-1]) | (l_s[1:] != l_s[:-1])
            starts = np.flatnonzero(boundary)
            cnt = np.diff(np.append(starts, len(d_s)))
            dui = d_s[starts]  # du index per entry, ascending
            boff = np.asarray(blk["boff"])  # p+1 du offsets per bucket
            # Entry offsets per target bucket (the per-superstep analogue
            # of boff) + du index RELATIVE to the bucket's slice, so the
            # apply side routes rows through apos[aoff[b]:aoff[b+1]][rel]
            # without ever needing this block's boff.
            loff = np.searchsorted(dui, boff)
            bucket = np.searchsorted(boff, dui, side="right") - 1
            rel = dui - boff[bucket]
            _publish_arr(upd_dir, f"lidx-{q}", rel.astype(np.int64))
            _publish_arr(upd_dir, f"llab-{q}", l_s[starts].astype(np.int64))
            _publish_arr(upd_dir, f"lcnt-{q}", cnt.astype(np.int64))
            _publish_arr(upd_dir, f"loff-{q}", loff.astype(np.int64))
        _publish_arr(upd_dir, f"stats-{q}", np.array([0.0, changed]))

    def gather_apply(self, plan, upd_dir: str, p: int, q: int,
                     prev: np.ndarray) -> tuple[np.ndarray, int]:
        aoff = plan["aoff"]
        apos = np.asarray(plan["apos"])
        rows_l, labs_l, cnts_l = [], [], []
        for b in range(p):
            ln = int(aoff[b + 1] - aoff[b])
            if ln <= 0:
                continue
            loff = np.load(os.path.join(upd_dir, f"loff-{b}.npy"), mmap_mode="r")
            e0, e1 = int(loff[q]), int(loff[q + 1])
            if e1 <= e0:
                continue
            rel = np.asarray(
                np.load(os.path.join(upd_dir, f"lidx-{b}.npy"), mmap_mode="r")[e0:e1]
            )
            rows_l.append(apos[int(aoff[b]):int(aoff[b]) + ln][rel])
            labs_l.append(np.asarray(
                np.load(os.path.join(upd_dir, f"llab-{b}.npy"), mmap_mode="r")[e0:e1]
            ))
            cnts_l.append(np.asarray(
                np.load(os.path.join(upd_dir, f"lcnt-{b}.npy"), mmap_mode="r")[e0:e1]
            ))
        new = prev.copy()
        if rows_l:
            rows = np.concatenate(rows_l)
            labs = np.concatenate(labs_l)
            cnts = np.concatenate(cnts_l)
            # Sum counts per (row, label): one pack-key argsort + reduceat
            # (rows < 2^31: positions within one state partition; labels
            # checked into [0, 2^31) — else the lexsort fallback).
            if len(labs) and labs.min() >= 0 and labs.max() < 2**31:
                key = (rows.astype(np.int64) << _PACK_BITS) | labs
                o = np.argsort(key, kind="stable")
                k_s, c_s = key[o], cnts[o]
                bnd = np.empty(len(k_s), dtype=bool)
                bnd[0] = True
                bnd[1:] = k_s[1:] != k_s[:-1]
                st = np.flatnonzero(bnd)
                csum = np.add.reduceat(c_s, st)
                ku = k_s[st]
                ru = ku >> _PACK_BITS
                lu = ku & _PACK_MASK
            else:
                o = np.lexsort((labs, rows))
                r_s, l_s, c_s = rows[o], labs[o], cnts[o]
                bnd = np.empty(len(r_s), dtype=bool)
                bnd[0] = True
                bnd[1:] = (r_s[1:] != r_s[:-1]) | (l_s[1:] != l_s[:-1])
                st = np.flatnonzero(bnd)
                csum = np.add.reduceat(c_s, st)
                ru, lu = r_s[st], l_s[st]
            # Winner per row: max count, ties -> SMALLEST label — the
            # exact max_by(label, struct(cnt, -label)) pick of the join
            # path, as one lexsort + first-per-run.
            o2 = np.lexsort((lu, -csum, ru))
            r2 = ru[o2]
            first = np.empty(len(r2), dtype=bool)
            first[0] = True
            first[1:] = r2[1:] != r2[:-1]
            new[r2[first]] = lu[o2][first]
        return new, int(np.count_nonzero(new != prev))


class _MinPlusSSSP(_StreamKernel):
    """Min-plus Bellman–Ford relaxation over the fused stream superstep
    ([X13] §5.2 sssp.hpp semantics; BFS = w ≡ 1). State blob = the
    partition's float64 distance vector (np.inf = unreached, expanded to
    NULL like algos.bfs). The stream path re-relaxes EVERY edge each
    superstep where the join path scatters only from the changed
    frontier — the per-superstep states are nonetheless IDENTICAL:
    distances are monotone non-increasing and a non-frontier neighbor's
    contribution was already folded into dst when that neighbor last
    changed, so the extra relaxations are no-ops under min. Fixed-k
    parity with algos.bfs is therefore EXACT (each candidate dist(u)+w
    is the same float64 expression; min is order-free), and both paths
    converge at the same superstep (changed == 0 ⇔ empty frontier)."""

    dtype = np.float64
    out_schema = f"{ID} long, dist double"

    def __init__(self, root: int, weight_col: str | None = None,
                 symmetric: bool = False):
        self.root = int(root)
        self.weight_col = weight_col
        self.symmetric = symmetric
        self.name = "bfs_stream" if weight_col is None else "sssp_stream"

    def block_flavor(self, edges: DataFrame) -> tuple[DataFrame, bool, str | None]:
        # Same edge prep as algos.bfs._sssp. Weighted: duplicate
        # (src,dst) edges fold by MIN under SSSP's gather — but the
        # weighted block build SUMS duplicates (PageRank's semantics), so
        # pre-aggregate to min here; the build's sum then sees unique
        # pairs and is the identity. Unweighted (BFS): dedup + w ≡ 1,
        # served by plain unweighted blocks (no w array needed).
        if self.weight_col is None:
            e = dedup_edges(edges)
        else:
            e = edges.select(
                SRC, DST, F.col(self.weight_col).cast("double").alias("w")
            )
        if self.symmetric:
            e = e.union(
                e.select(F.col(DST).alias(SRC), F.col(SRC).alias(DST),
                         *([] if self.weight_col is None else ["w"]))
            )
        if self.weight_col is not None:
            e = e.groupBy(SRC, DST).agg(F.min("w").alias("w"))
        return e, False, None if self.weight_col is None else "w"

    def prep_graph(self, spark, edges, num_partitions, token,
                   num_edges=None) -> CsrGraph:
        if num_edges is not None and self.symmetric:
            num_edges *= 2  # the block edges carry both directions
        return super().prep_graph(spark, edges, num_partitions, token, num_edges)

    def init_blob(self, ids: np.ndarray) -> np.ndarray:
        blob = np.full(len(ids), np.inf, dtype=np.float64)
        blob[ids == self.root] = 0.0
        return blob

    def scatter(self, upd_dir: str, q: int, blk, plan,
                dist: np.ndarray, changed: float) -> None:
        if blk is not None:
            w = blk.get("w")
            vals = dist[blk["pos"]] + (np.asarray(w) if w is not None else 1.0)
            _publish_arr(
                upd_dir, f"partial-{q}",
                np.minimum.reduceat(vals, blk["starts"]),
            )
        _publish_arr(upd_dir, f"stats-{q}", np.array([0.0, changed]))

    def gather_apply(self, plan, upd_dir: str, p: int, q: int,
                     prev: np.ndarray) -> tuple[np.ndarray, int]:
        return _min_fold_gather(plan, upd_dir, p, q, prev)

    def expand_pdf(self, plan, blob: bytes) -> pd.DataFrame:
        dist = np.frombuffer(blob, np.float64)
        # inf -> NaN; Arrow's from_pandas maps float NaN to NULL, giving
        # the join path's NULL-for-unreachable contract.
        return pd.DataFrame({
            ID: np.asarray(plan["ids"]),
            "dist": np.where(np.isinf(dist), np.nan, dist),
        })


class _HllMaxANF(_StreamKernel):
    """HyperANF over the fused stream superstep ([X13] §5.2 lists ANF;
    Boldi-Rosa-Vigna 2011) — the max-semiring member of the kernel family
    (scatter-sum PageRank / hash-min CC / min-plus SSSP / mode-label LPA /
    register-max ANF), proving the update-stream shape is semiring-generic.

    State blob per streaming partition = ``[registers: n*M uint8 |
    nf history: (h+1)*n float64]`` — the HLL registers are the live
    iteration state; the per-hop neighborhood-function estimates append
    8*n bytes per superstep (the ANF curve IS the algorithm's output, so
    it rides the blob through checkpoints and resume untouched).

    Scatter: block b publishes ``partial-{b} = maximum.reduceat(
    regs[pos], starts, axis=0)`` — one (|du_b|, M) uint8 array, the exact
    2-D analogue of CC's per-dst min. Gather: per-block row-unique fancy
    ``new[rows] = maximum(new[rows], slice)``; max is order-free and
    idempotent, so per-register results are EXACT at any parallelism and
    duplicate/symmetrized edges are no-ops — nf floats then match the
    join path (algos.hyperanf.hyper_anf) bit-for-bit, not allclose.

    Scale note: scatter materializes ``regs[pos]`` = 64 B/edge for the
    block (a 16M-edge block peaks at ~1 GB transient); chunking reduceat
    over starts boundaries bounds that if executor memory demands it —
    the published update volume itself is |du_b| x 64 B, i.e. compressed
    by in-block aggregation exactly like every other kernel here."""

    dtype = np.uint8
    out_schema = f"{ID} long, nf array<double>"
    name = "hyperanf_stream"

    def __init__(self, seed: int = 42):
        self.seed = int(seed)

    def blob_ok(self, n: int, blob_len: int) -> bool:
        body = blob_len - n * _ANF_M
        return body >= 8 * n and body % (8 * n) == 0

    def init_blob(self, ids: np.ndarray) -> np.ndarray:
        regs = _init_registers(ids, self.seed)
        est = _hll_estimate(regs).astype(np.float64)
        return np.concatenate(
            [regs.reshape(-1), np.frombuffer(est.tobytes(), np.uint8)]
        )

    def scatter(self, upd_dir: str, q: int, blk, plan,
                labels: np.ndarray, changed: float) -> None:
        if blk is not None:
            n = len(blk["ids"])
            regs = labels[: n * _ANF_M].reshape(n, _ANF_M)
            part = np.maximum.reduceat(
                regs[np.asarray(blk["pos"])],
                np.asarray(blk["starts"]), axis=0,
            )
            _publish_arr(upd_dir, f"partial-{q}", part)
        _publish_arr(upd_dir, f"stats-{q}", np.array([0.0, changed]))

    def gather_apply(self, plan, upd_dir: str, p: int, q: int,
                     prev: np.ndarray) -> tuple[np.ndarray, int]:
        n = len(plan["ids"])
        old = prev[: n * _ANF_M].reshape(n, _ANF_M)
        new = old.copy()
        for rows, sl in _incoming(plan, upd_dir, p):
            new[rows] = np.maximum(new[rows], sl)
        changed = int(np.count_nonzero((new != old).any(axis=1)))
        est = _hll_estimate(new).astype(np.float64)
        blob = np.concatenate([
            new.reshape(-1),
            prev[n * _ANF_M:],
            np.frombuffer(est.tobytes(), np.uint8),
        ])
        return blob, changed

    def expand_pdf(self, plan, blob: bytes) -> pd.DataFrame:
        n = len(plan["ids"])
        nf = np.frombuffer(blob[n * _ANF_M:], np.float64).reshape(-1, n)
        return pd.DataFrame({
            ID: np.asarray(plan["ids"]),
            "nf": nf.T.tolist(),
        })


class _ParityBFS(_StreamKernel):
    """Bipartiteness 2-coloring over the fused stream superstep ([X13]
    §5.2 lists a BFS-parity bipartiteness kernel) — the lexmin member of
    the kernel family: state = TWO int64 words per vertex, ``(root,
    dist)``, ordered lexicographically exactly like the join path's
    ``struct(root, dist)`` min, for any int64 vertex id. Scatter: per-dst
    lexmin of the sources' ``(root, dist + 1)`` — ``minimum.reduceat`` of
    the roots, then of the dists masked, through the block's
    ``dst_inverse``, to the edges that carry their segment's min root;
    one (|du_b|, 2) update array per block. Gather: row-wise lexmin of
    the incoming slices. Self-loops need no masking: a vertex's own
    ``(root, dist + 1)`` loses to its ``(root, dist)``, exactly why the
    plain undirected blocks (the CC/LPA/ANF/MIS flavor, loops kept)
    serve unchanged while the join path's loop-free adjacency produces
    the same folds. Full re-scatter ≡ frontier scatter per superstep
    (lexmin monotone — the SSSP argument), so per-superstep states,
    changed counts, and convergence match the join path exactly."""

    dtype = np.int64
    out_schema = f"{ID} long, root long, dist long, color long"
    name = "bipartite_stream"

    def blob_ok(self, n: int, blob_len: int) -> bool:
        return blob_len == 2 * n

    def init_blob(self, ids: np.ndarray) -> np.ndarray:
        # (root=id, dist=0) rows, flattened.
        return np.column_stack([ids, np.zeros_like(ids)]).astype(np.int64).ravel()

    def scatter(self, upd_dir: str, q: int, blk, plan,
                blob: np.ndarray, changed: float) -> None:
        if blk is not None:
            st = blob.reshape(-1, 2)[np.asarray(blk["pos"])]
            starts = np.asarray(blk["starts"])
            root = np.minimum.reduceat(st[:, 0], starts)
            dist = np.where(
                st[:, 0] == root[np.asarray(blk["dst_inverse"])],
                st[:, 1], np.iinfo(np.int64).max,
            )
            _publish_arr(
                upd_dir, f"partial-{q}",
                np.column_stack([root, np.minimum.reduceat(dist, starts) + 1]),
            )
        _publish_arr(upd_dir, f"stats-{q}", np.array([0.0, changed]))

    def gather_apply(self, plan, upd_dir: str, p: int, q: int,
                     prev: np.ndarray) -> tuple[np.ndarray, int]:
        old = prev.reshape(-1, 2)
        new = old.copy()
        for rows, sl in _incoming(plan, upd_dir, p):
            cur = new[rows]
            less = (sl[:, 0] < cur[:, 0]) | (
                (sl[:, 0] == cur[:, 0]) & (sl[:, 1] < cur[:, 1])
            )
            new[rows[less]] = sl[less]
        return new.ravel(), int(np.count_nonzero((new != old).any(axis=1)))

    def expand_pdf(self, plan, blob: bytes) -> pd.DataFrame:
        st = np.frombuffer(blob, np.int64).reshape(-1, 2)
        return pd.DataFrame({
            ID: np.asarray(plan["ids"]),
            "root": st[:, 0],
            "dist": st[:, 1],
            "color": st[:, 1] & np.int64(1),
        })


class _LubyMIS(_StreamKernel):
    """Luby MIS over the fused stream superstep ([X13] §5.2 lists mis;
    Luby 1986) — the kernel family's first TWO-PHASE member: each Luby
    round = a SELECT superstep (per-dst min of packed (priority, id)
    over undecided sources; an undecided vertex with no undecided
    neighbor, or strictly winning the min, joins the IS) followed by a
    KNOCK superstep (per-dst min of 0-if-IN_SET; undecided receivers go
    OUT). The round counter and phase bit RIDE THE BLOB (two int64 words
    ahead of the status vector), so the deterministic priorities
    (identical to algos.mis.priority_col) survive checkpoint/resume with
    no engine support — the engine's superstep number is never consulted.

    Exact-parity notes vs algos.mis.maximal_independent_set:
    ``pack = pri << 32 | id`` orders identically to the join path's
    ``struct(pri, id)`` strict < (ids < 2^31 asserted at init; pri <
    2^31-1 so pack < int64 max = the no-message SENTINEL). Knocking by
    ALL IS members ≡ the join path's newly-decided knock set: an
    undecided vertex adjacent to an OLD IS member cannot exist (it was
    knocked out the round that member joined). Self-loop edges are
    masked to the SENTINEL in both phases (the join path's adjacency
    drops them, but its vertex UNIVERSE keeps self-loop-only vertices —
    masking instead of prefiltering keeps both that universe and the
    blocks byte-identical to CC/LPA/ANF's undirected flavor, so the
    warm-block registry shares one build across all four). Supersteps
    run 2R-1 or 2R for the join path's R rounds (2R-1 when the last
    round's select empties the undecided set, making its knock a no-op);
    the per-round status vectors and final ``(id, in_set)`` are
    identical."""

    dtype = np.int64
    out_schema = f"{ID} long, in_set boolean"
    name = "mis_stream"

    _SENTINEL = np.iinfo(np.int64).max

    def blob_ok(self, n: int, blob_len: int) -> bool:
        return blob_len == n + 2

    def init_blob(self, ids: np.ndarray) -> np.ndarray:
        if len(ids) and int(ids.max()) >= 2**31:
            raise ValueError(
                "mis_stream requires vertex ids < 2^31 (the packed "
                "(priority, id) int64 ordering)"
            )
        blob = np.zeros(len(ids) + 2, dtype=np.int64)
        blob[2:] = _MIS_UNDECIDED
        return blob

    def _pack(self, ids: np.ndarray, rnd: int) -> np.ndarray:
        # Same Knuth-hash priority as algos.mis.priority_col, computed in
        # uint64 (exact for ids < 2^31: products < 2^63, no wrap).
        pri = (
            ids.astype(np.uint64) * np.uint64(_MIS_PRI_A)
            + np.uint64(rnd * _MIS_PRI_B)
        ) % np.uint64(_MIS_PRI_P)
        return (pri.astype(np.int64) << np.int64(32)) | ids.astype(np.int64)

    def scatter(self, upd_dir: str, q: int, blk, plan,
                blob: np.ndarray, changed: float) -> None:
        if blk is not None:
            rnd, phase = int(blob[0]), int(blob[1])
            status = blob[2:]
            ids = np.asarray(blk["ids"])
            pos = np.asarray(blk["pos"])
            if phase == 0:  # select: undecided sources bid (pri, id)
                vals_v = np.where(
                    status == _MIS_UNDECIDED,
                    self._pack(ids, rnd), self._SENTINEL,
                )
            else:  # knock: IS members emit 0
                vals_v = np.where(
                    status == _MIS_IN_SET, np.int64(0), self._SENTINEL
                )
            vals = vals_v[pos]
            du = np.asarray(blk["dst_unique"])
            di = np.asarray(blk["dst_inverse"])
            self_loop = ids[pos] == du[di]
            if self_loop.any():
                vals = np.where(self_loop, self._SENTINEL, vals)
            _publish_arr(
                upd_dir, f"partial-{q}",
                np.minimum.reduceat(vals, np.asarray(blk["starts"])),
            )
        _publish_arr(upd_dir, f"stats-{q}", np.array([0.0, changed]))

    def gather_apply(self, plan, upd_dir: str, p: int, q: int,
                     prev: np.ndarray) -> tuple[np.ndarray, int]:
        n = len(plan["ids"])
        rnd, phase = int(prev[0]), int(prev[1])
        status = prev[2:].copy()
        fold = np.full(n, self._SENTINEL, dtype=np.int64)
        for rows, sl in _incoming(plan, upd_dir, p):
            fold[rows] = np.minimum(fold[rows], sl)
        und = status == _MIS_UNDECIDED
        if phase == 0:
            mine = self._pack(np.asarray(plan["ids"]), rnd)
            status[
                und & ((fold == self._SENTINEL) | (mine < fold))
            ] = _MIS_IN_SET
            head = np.array([rnd, 1], dtype=np.int64)
        else:
            status[und & (fold == 0)] = _MIS_OUT
            head = np.array([rnd + 1, 0], dtype=np.int64)
        blob = np.concatenate([head, status])
        return blob, int(np.count_nonzero(status == _MIS_UNDECIDED))

    def expand_pdf(self, plan, blob: bytes) -> pd.DataFrame:
        status = np.frombuffer(blob, np.int64)[2:]
        return pd.DataFrame({
            ID: np.asarray(plan["ids"]),
            "in_set": status == _MIS_IN_SET,
        })


class _KCorePeel(_StreamKernel):
    """K-core peeling over the fused stream superstep ([X13] §5.2 lists
    kcores) — the sum-semiring + threshold-apply member of the kernel
    family (scatter-sum PageRank / hash-min CC / mode-label LPA /
    min-plus SSSP / register-max ANF / threshold-peel k-core).

    State blob = int64 0/1 alive flags. Scatter: block b publishes
    ``partial-{b} = add.reduceat(alive[pos], starts)`` — the per-dst
    count of ALIVE in-block sources (dead sources contribute 0, so the
    degree over the surviving subgraph needs no edge filtering). Gather:
    deg[dst] = sum of the incoming slices (rows unique per block slice,
    so plain fancy ``+=`` accumulates across blocks); apply:
    ``alive' = alive AND deg >= k`` — dead dsts stay dead, so summing
    into them is harmless. Integer counts are exact at any parallelism
    ⇒ parity with algos.kcores.k_core is superstep-for-superstep (same
    degrees, same drops, same converged-when-nothing-dropped test).

    Self-loops are dropped from the block flavor to match the join path's
    ``symmetrize(edges).where(src != dst)`` — a kept self-loop would
    wrongly count a vertex toward its own surviving degree."""

    dtype = np.int64
    out_schema = f"{ID} long, in_core boolean"
    name = "kcore_stream"

    def __init__(self, k: int):
        self.k = int(k)

    def block_flavor(self, edges: DataFrame) -> tuple[DataFrame, bool, str | None]:
        return edges.select(SRC, DST).where(F.col(SRC) != F.col(DST)), True, None

    def init_blob(self, ids: np.ndarray) -> np.ndarray:
        return np.ones(len(ids), dtype=np.int64)

    def scatter(self, upd_dir: str, q: int, blk, plan,
                alive: np.ndarray, changed: float) -> None:
        if blk is not None:
            _publish_arr(
                upd_dir, f"partial-{q}",
                np.add.reduceat(alive[blk["pos"]], np.asarray(blk["starts"])),
            )
        _publish_arr(upd_dir, f"stats-{q}", np.array([0.0, changed]))

    def gather_apply(self, plan, upd_dir: str, p: int, q: int,
                     prev: np.ndarray) -> tuple[np.ndarray, int]:
        deg = np.zeros(len(prev), dtype=np.int64)
        for rows, sl in _incoming(plan, upd_dir, p):
            deg[rows] += sl
        new = ((prev != 0) & (deg >= self.k)).astype(np.int64)
        return new, int(np.count_nonzero(prev != new))

    def expand_pdf(self, plan, blob: bytes) -> pd.DataFrame:
        return pd.DataFrame({
            ID: np.asarray(plan["ids"]),
            "in_core": np.frombuffer(blob, np.int64) != 0,
        })


def cc_stream(
    spark: SparkSession,
    edges: DataFrame,
    max_iters: int = 100,
    num_partitions: int | None = None,
    token: str | None = None,
    checkpointer: CheckpointManager | None = None,
    checkpoint_every: int = 5,
    graph: CsrGraph | None = None,
    state_partitions: int | None = None,
    num_edges: int | None = None,
) -> RunResult:
    """Hash-min connected components via the fused stream superstep —
    exact same fixed point and superstep count as algos.cc (min-fold is
    order-free). ``graph`` must be a CsrGraph built with undirected=True
    (bench warmup → timed run reuse). ``num_edges``: caller-known raw |E|
    skips the block build's counting scan."""
    return _stream_loop(
        spark, edges, _HashMinCC(), max_iters, num_partitions, token,
        checkpointer, checkpoint_every, graph, state_partitions, num_edges,
    )


def lpa_stream(
    spark: SparkSession,
    edges: DataFrame,
    max_iters: int = 10,
    num_partitions: int | None = None,
    token: str | None = None,
    checkpointer: CheckpointManager | None = None,
    checkpoint_every: int = 5,
    graph: CsrGraph | None = None,
    state_partitions: int | None = None,
    num_edges: int | None = None,
) -> RunResult:
    """Synchronous LPA (most-frequent neighbor label, min-label ties) via
    the fused stream superstep — exact same fixed point and superstep
    count as algos.lpa (integer counts, deterministic tie-break, fixed
    fold order). ``num_edges``: caller-known raw |E| skips the block
    build's counting scan."""
    return _stream_loop(
        spark, edges, _ModeLabelLPA(), max_iters, num_partitions, token,
        checkpointer, checkpoint_every, graph, state_partitions, num_edges,
    )


def sssp_stream(
    spark: SparkSession,
    edges: DataFrame,
    root: int,
    weight_col: str | None = None,
    symmetric: bool = False,
    max_iters: int = 200,
    num_partitions: int | None = None,
    token: str | None = None,
    checkpointer: CheckpointManager | None = None,
    checkpoint_every: int = 5,
    graph: CsrGraph | None = None,
    state_partitions: int | None = None,
    num_edges: int | None = None,
) -> RunResult:
    """Single-source shortest paths (Bellman–Ford) via the fused stream
    superstep — exact same per-superstep state, fixed point, superstep
    count, and ``(id, dist)`` NULL-for-unreachable output as algos.bfs.sssp
    (see _MinPlusSSSP for why full re-relaxation ≡ frontier relaxation).
    ``weight_col=None`` → BFS (w ≡ 1, unweighted blocks); a caller
    ``graph`` must match the kernel's edge prep (directed unless
    ``symmetric``; weighted blocks built from MIN-folded duplicates)."""
    return _stream_loop(
        spark, edges, _MinPlusSSSP(root, weight_col, symmetric), max_iters,
        num_partitions, token, checkpointer, checkpoint_every, graph,
        state_partitions, num_edges,
    )


def hyperanf_stream(
    spark: SparkSession,
    edges: DataFrame,
    max_iters: int = 50,
    seed: int = 42,
    num_partitions: int | None = None,
    token: str | None = None,
    checkpointer: CheckpointManager | None = None,
    checkpoint_every: int = 5,
    graph: CsrGraph | None = None,
    state_partitions: int | None = None,
    num_edges: int | None = None,
) -> RunResult:
    """HyperANF via the fused stream superstep — bit-identical ``(id, nf)``
    neighborhood-function curves, fixed point, and superstep count as
    algos.hyperanf.hyper_anf (register max is order-free and idempotent;
    the HLL estimate is the same elementwise float64 expression on
    identical registers). ``graph`` must be a CsrGraph built
    with undirected=True (same flavor CC/LPA use — the warm-block registry
    shares one build across all three)."""
    return _stream_loop(
        spark, edges, _HllMaxANF(seed), max_iters, num_partitions, token,
        checkpointer, checkpoint_every, graph, state_partitions, num_edges,
    )


def kcore_stream(
    spark: SparkSession,
    edges: DataFrame,
    k: int,
    max_iters: int = 100,
    num_partitions: int | None = None,
    token: str | None = None,
    checkpointer: CheckpointManager | None = None,
    checkpoint_every: int = 5,
    graph: CsrGraph | None = None,
    state_partitions: int | None = None,
    num_edges: int | None = None,
) -> RunResult:
    """K-core decomposition via the fused stream superstep — exact same
    per-superstep alive set, fixed point, superstep count, and
    ``(id, in_core)`` output as algos.kcores.k_core (integer degree
    counts; see _KCorePeel). A caller ``graph`` must match the kernel's
    edge prep (undirected, self-loops dropped)."""
    return _stream_loop(
        spark, edges, _KCorePeel(k), max_iters, num_partitions, token,
        checkpointer, checkpoint_every, graph, state_partitions, num_edges,
    )


def mis_stream(
    spark: SparkSession,
    edges: DataFrame,
    max_iters: int = 100,
    num_partitions: int | None = None,
    token: str | None = None,
    checkpointer: CheckpointManager | None = None,
    checkpoint_every: int = 5,
    graph: CsrGraph | None = None,
    state_partitions: int | None = None,
    num_edges: int | None = None,
) -> RunResult:
    """Deterministic Luby MIS via the fused stream superstep — exact same
    per-round status vectors, fixed point, and ``(id, in_set)`` output as
    algos.mis.maximal_independent_set (see _LubyMIS). NOTE: ``max_iters``
    counts stream SUPERSTEPS = Luby PHASES, two per round — pass
    ``2 * rounds`` to truncate at the same round as the join path's
    ``max_iters=rounds``. A caller ``graph`` must be the plain undirected
    flavor (the same blocks CC/LPA/HyperANF use; self-loops masked
    in-kernel)."""
    return _stream_loop(
        spark, edges, _LubyMIS(), max_iters, num_partitions, token,
        checkpointer, checkpoint_every, graph, state_partitions, num_edges,
    )


def bipartite_stream(
    spark: SparkSession,
    edges: DataFrame,
    max_iters: int = 200,
    num_partitions: int | None = None,
    token: str | None = None,
    checkpointer: CheckpointManager | None = None,
    checkpoint_every: int = 5,
    graph: CsrGraph | None = None,
    state_partitions: int | None = None,
    num_edges: int | None = None,
) -> RunResult:
    """Bipartiteness check via the fused stream superstep — exact same
    per-superstep (root, dist) state, superstep count, ``(id, root,
    dist, color)`` output, and last-entry ``odd_edges`` / ``bipartite``
    history fields as algos.bipartite.bipartite_check (see _ParityBFS).
    The odd-edge conflict count after convergence is the same one-time
    loop-free-edge join the join path runs."""
    from .algos.bipartite import _record_odd_edges
    from .graph import symmetrize

    res = _stream_loop(
        spark, edges, _ParityBFS(), max_iters, num_partitions, token,
        checkpointer, checkpoint_every, graph, state_partitions, num_edges,
    )
    und = symmetrize(dedup_edges(edges).where(F.col(SRC) != F.col(DST)))
    _record_odd_edges(res, und, res.state)
    return res


def bfs_stream(
    spark: SparkSession,
    edges: DataFrame,
    root: int,
    symmetric: bool = False,
    max_iters: int = 200,
    **kw,
) -> RunResult:
    """BFS hop counts from ``root`` via the fused stream superstep;
    ``(id, dist)`` with NULL = unreachable — same contract as algos.bfs.bfs."""
    return sssp_stream(
        spark, edges, root, weight_col=None, symmetric=symmetric,
        max_iters=max_iters, **kw,
    )


# ---------------------------------------------------------------------------
# SCC — forward-max coloring + backward sweep over TWO block sets
# ---------------------------------------------------------------------------

_SCC_UNASSIGNED = np.int64(-1)
_SCC_SENTINEL_MIN = np.int64(-1)          # color max-fold identity (ids >= 0)
_SCC_SENTINEL_MAX = np.iinfo(np.int64).max  # sweep min-fold identity
# Apply ops of the phase machine, by the code the blob head stores.
_SCC_OPS = ("color_fold", "sweep_init", "sweep_fold", "assign_reset")
_COLOR_FOLD, _SWEEP_INIT, _SWEEP_FOLD, _ASSIGN_RESET = range(4)


class _EmptyGraph(Exception):
    """scc_stream's forward graph has no edges: there is nothing to run."""


class _FBColoringSCC(_StreamKernel):
    """Strongly connected components (FB-coloring, algos.scc semantics)
    over the fused stream superstep — the kernel family's TWO-GRAPH
    member: forward max-coloring folds over the directed blocks of the
    deduped edges, backward sweeps over a second block set built from
    the REVERSED edges.

    Two graphs: ``prep_graph`` builds the forward graph the loop runs
    over, then the reversed one with the same p, keeping its cache token
    and block dir for the sweep's plan and block loads; ``release()``
    frees it when the loop frees the forward graph. Both share one
    vertex partitioning (``repartition(p, id)`` Murmur3 is a pure
    function of the id set and p; checked per partition at every
    backward-plan load), so a single state blob serves both apply
    plans. All update streams live under the forward block
    dir.

    The phase rides the blob, as _LubyMIS's round does: state blob per
    partition = int64 ``[op, changed_q | assigned | color | in_scc]``
    (2 + 3 x |V_q|), where ``op`` is the apply op this partition last
    ran and ``changed_q`` the vertices it changed. ``scatter`` publishes
    ``stats-{q} = [live, changed_q, op]`` from the blob alone, so the
    loop's resume regeneration reproduces them bit for bit. Superstep s
    reads the global changed count of s-1 from those stats and derives
    its op: a color fixpoint seeds the sweep, a sweep fixpoint assigns
    and resets, a reset colors again. The scatter op follows the apply
    op (color_fold / assign_reset -> color over the forward blocks,
    sweep_init / sweep_fold -> sweep over the reversed ones). The init
    blob is the state right after an assign_reset that assigned
    nothing, so superstep 1 colors. The run is done when an
    assign_reset leaves nothing live.

    Unlike algos.scc's per-round live-SUBGRAPH rebuild (two joins per
    round to restrict the edge set), the stream path keeps the immutable
    blocks and MASKS dead vertices in-kernel: a color scatter publishes
    ``where(live, color, -1)`` (-1 is the max-fold identity), a sweep
    scatter ``where(in_scc, color, int64_max)`` (the min-fold identity) —
    at 100 TB the per-round rebuild is two full-graph shuffles per
    peeling round, while masking costs a branchless where() on state
    already in cache. Sweep joins fold to the per-dst MIN of incoming
    in-SCC colors, and v joins iff that min == color(v): every incoming
    in-SCC color is >= color(v) (colors are forward-monotone), so the
    min detects a same-region message exactly. Full re-scatter ≡ the
    join path's frontier scatter per superstep for both phases (max/min
    folds are monotone and idempotent — the SSSP argument), so
    per-phase fixpoint detection lands on the same superstep."""

    name = "scc_stream"
    dtype = np.int64
    out_schema = f"{ID} long, scc long"

    def block_flavor(self, edges: DataFrame) -> tuple[DataFrame, bool, str | None]:
        return dedup_edges(edges), False, None

    def prep_graph(self, spark, edges, num_partitions, token,
                   num_edges=None) -> CsrGraph:
        g = super().prep_graph(spark, edges, num_partitions, token, num_edges)
        if g.num_edges == 0:
            g.unpersist()
            raise _EmptyGraph
        e = self.block_flavor(edges)[0]
        try:
            self.g_b = CsrGraph(
                spark, e.select(F.col(DST).alias(SRC), F.col(SRC).alias(DST)),
                num_partitions=g.p,
                token=None if token is None else f"{token}|rev",
                num_edges=g.num_edges,
            )
        except BaseException:
            g.unpersist()
            raise
        self.tok_b, self.bdir_b = self.g_b.cache_token, self.g_b.block_dir
        return g

    def release(self) -> None:
        self.g_b.unpersist()

    def __getstate__(self):
        # The backward CsrGraph holds the session; kernels never need it.
        return {k: v for k, v in self.__dict__.items() if k != "g_b"}

    def bind(self, n: int, qs: tuple) -> None:
        self.qs = qs

    def blob_ok(self, n: int, blob_len: int) -> bool:
        return blob_len == 2 + 3 * n

    @staticmethod
    def _split(blob: np.ndarray, nq: int):
        """``(assigned, color, in_scc)`` views behind the blob head."""
        return blob[2:2 + nq], blob[2 + nq:2 + 2 * nq], blob[2 + 2 * nq:]

    def init_blob(self, ids: np.ndarray) -> np.ndarray:
        return np.concatenate([
            np.array([_ASSIGN_RESET, 0], dtype=np.int64),
            np.full(len(ids), _SCC_UNASSIGNED),  # assigned scc root
            ids,                                  # color
            np.zeros(len(ids), dtype=np.int64),   # in_scc
        ])

    def gather_apply(self, plan, upd_dir: str, p: int, q: int,
                     prev: np.ndarray) -> tuple[np.ndarray, int]:
        ids = np.asarray(plan["ids"])
        assigned, color, insc = (a.copy() for a in self._split(prev, len(ids)))
        live = assigned == _SCC_UNASSIGNED
        op, changed = int(prev[0]), _stats_fold(upd_dir, self.qs, 1)
        if op == _COLOR_FOLD:
            op = _COLOR_FOLD if changed > 0 else _SWEEP_INIT
        elif op == _ASSIGN_RESET:
            op = _COLOR_FOLD
        else:
            op = _SWEEP_FOLD if changed > 0 else _ASSIGN_RESET
        if op == _COLOR_FOLD:
            fold = np.full(len(ids), _SCC_SENTINEL_MIN, dtype=np.int64)
            for rows, sl in _incoming(plan, upd_dir, p):
                fold[rows] = np.maximum(fold[rows], sl)
            upd = live & (fold > color)
            color[upd] = fold[upd]
        elif op == _SWEEP_FOLD:
            plan_b = _load_apply_plan(self.tok_b, q, self.bdir_b)
            if plan_b is None or not np.array_equal(plan_b["ids"], ids):
                raise RuntimeError(
                    "scc_stream: forward/backward apply plans disagree at "
                    f"partition {q} — partitioner mismatch"
                )
            fold = np.full(len(ids), _SCC_SENTINEL_MAX, dtype=np.int64)
            for rows, sl in _incoming(plan_b, upd_dir, p):
                fold[rows] = np.minimum(fold[rows], sl)
            upd = live & (insc == 0) & (fold == color)
            insc[upd] = 1
        elif op == _SWEEP_INIT:
            # Roots: live vertices whose color survived as their own id
            # (the region max — always a member of its own SCC).
            insc[:] = 0
            upd = live & (color == ids)
            insc[upd] = 1
        else:  # _ASSIGN_RESET
            upd = insc == 1
            assigned[upd] = color[upd]
            insc[:] = 0
            reset = assigned == _SCC_UNASSIGNED
            color[reset] = ids[reset]
        changed_q = int(np.count_nonzero(upd))
        head = np.array([op, changed_q], dtype=np.int64)
        return np.concatenate([head, assigned, color, insc]), changed_q

    def scatter(self, upd_dir: str, q: int, blk, plan, blob: np.ndarray,
                stat: float) -> None:
        op, changed_q = int(blob[0]), int(blob[1])
        assigned, color, insc = self._split(blob, len(plan["ids"]))
        live = assigned == _SCC_UNASSIGNED
        if op in (_SWEEP_INIT, _SWEEP_FOLD):  # sweep over the REVERSED blocks
            blk = _load_disk_block(self.tok_b, q, self.bdir_b)
            if blk is not None:
                vals = np.where(insc == 1, color, _SCC_SENTINEL_MAX)[blk["pos"]]
                _publish_arr(
                    upd_dir, f"partial-{q}",
                    np.minimum.reduceat(vals, np.asarray(blk["starts"])),
                )
        elif blk is not None:  # color over the forward blocks
            vals = np.where(live, color, _SCC_SENTINEL_MIN)[blk["pos"]]
            _publish_arr(
                upd_dir, f"partial-{q}",
                np.maximum.reduceat(vals, np.asarray(blk["starts"])),
            )
        _publish_arr(
            upd_dir, f"stats-{q}",
            np.array([float(np.count_nonzero(live)), float(changed_q), float(op)]),
        )

    def read_stat(self, upd_dir: str, qs) -> dict:
        stats = _stats(upd_dir, qs)
        return {
            "live": int(sum(float(s[0]) for s in stats)),
            "changed": int(sum(float(s[1]) for s in stats)),
            "apply": _SCC_OPS[int(stats[0][2])],
        }

    def converged(self, stat: dict) -> bool:
        return stat["apply"] == "assign_reset" and stat["live"] == 0

    def expand_pdf(self, plan, blob: bytes) -> pd.DataFrame:
        # Assigned vertices only; scc_stream relabels them after the loop.
        ids = np.asarray(plan["ids"])
        assigned = self._split(np.frombuffer(blob, np.int64), len(ids))[0]
        sel = assigned != _SCC_UNASSIGNED
        return pd.DataFrame({ID: ids[sel], "scc": assigned[sel]})


def scc_stream(
    spark: SparkSession,
    edges: DataFrame,
    max_iters: int = 400,
    num_partitions: int | None = None,
    token: str | None = None,
    checkpointer: CheckpointManager | None = None,
    checkpoint_every: int = 10,
    state_partitions: int | None = None,
    num_edges: int | None = None,
) -> RunResult:
    """Strongly connected components via the fused stream superstep
    (see _FBColoringSCC); ``(id, label)`` rows, label = the SCC's
    minimum member id. Each round costs two extra supersteps vs
    algos.scc's count (the sweep-init and assign-reset steps are
    driver-side there) — final labels, min-member normalization, and
    the converged flag are IDENTICAL; ``max_iters`` caps total stream
    supersteps. ``token`` pins both block sets (the reversed one as
    ``token|rev``)."""
    try:
        res = _stream_loop(
            spark, edges, _FBColoringSCC(), max_iters, num_partitions, token,
            checkpointer, checkpoint_every, None, state_partitions, num_edges,
        )
    except _EmptyGraph:
        empty = spark.createDataFrame([], schema=f"{ID} long, label long")
        return RunResult(state=empty, supersteps=0, converged=True, history=[])
    # Min-member normalization (oracle form — algos.scc): the root id is
    # the SCC's max member, relabel to its min member.
    lab = res.state
    norm = lab.groupBy("scc").agg(F.min(ID).alias("label"))
    res.state = materialize(lab.join(norm, "scc").select(ID, "label"))
    return res
