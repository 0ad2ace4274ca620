"""HyperANF — approximate neighborhood function via HyperLogLog registers.

Semantics ([X13] §5.2 lists HyperANF; Boldi-Rosa-Vigna 2011): every vertex
keeps an HLL sketch of the set of vertices within distance h. Init: sketch
of {v}. Each superstep h: union (element-wise register max) of own sketch
and all neighbors' sketches; N(v,h) = HLL estimate. Stop when no register
changed (all balls stabilized). The per-vertex neighborhood-function table
yields the effective-diameter / average-distance estimates of the paper.

Spark mapping: registers are a fixed-width ``array<tinyint>`` column
(2^B registers); the gather fold is element-wise max — commutative,
associative, idempotent, exactly X-Stream's gather contract — computed
JVM-side with ``zip_with(greatest)`` folded by ``reduce`` inside
``aggregate`` over grouped neighbor sketches... in practice the clean
vectorized route is a grouped-map pandas UDF doing ``np.maximum.reduce``
per dst over an Arrow batch, which is what we use (no per-row Python).

Deterministic: vertex hashed with xxhash64(id) (seeded), so runs and
parallelism levels give identical sketches.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..engine import (
    RunResult,
    choose_num_partitions,
    materialize,
    run_supersteps,
    superstep_conf,
)
from ..graph import DST, ID, SRC, dedup_edges, partition_edges, symmetrize, vertices_from_edges
from ..shipping import ensure_shipped, kernel
from ._route import stream_route

B_BITS = 6  # 2^6 = 64 registers, rel. std err ~ 1.04/sqrt(64) ~ 13%
M = 1 << B_BITS
_ALPHA_M = 0.709  # alpha_64 (Flajolet et al. 2007)


def _hll_estimate(regs: np.ndarray) -> np.ndarray:
    """Rows of registers -> cardinality estimates (with small-range
    linear-counting correction). regs: (n, M) uint8."""
    pow2 = np.power(2.0, -regs.astype(np.float64))
    est = _ALPHA_M * M * M / pow2.sum(axis=1)
    zeros = (regs == 0).sum(axis=1)
    small = est <= 2.5 * M
    with np.errstate(divide="ignore"):
        lin = M * np.log(np.where(zeros > 0, M / np.maximum(zeros, 1), 1.0))
    return np.where(small & (zeros > 0), lin, est)


def _init_registers(ids: np.ndarray, seed: int) -> np.ndarray:
    """Deterministic 64-bit hash per id -> one-element HLL sketch."""
    h = (ids.astype(np.uint64) * np.uint64(0x9E3779B97F4A7C15)) ^ np.uint64(seed)
    h = (h ^ (h >> np.uint64(33))) * np.uint64(0xFF51AFD7ED558CCD)
    h = h ^ (h >> np.uint64(33))
    j = (h & np.uint64(M - 1)).astype(np.int64)
    w = h >> np.uint64(B_BITS)
    # rank of first set bit of w (from LSB), 1-based; w==0 -> 64-B+1
    rank = np.zeros(len(ids), dtype=np.uint8)
    wv = w.copy()
    r = np.ones(len(ids), dtype=np.uint8)
    remaining = wv == wv  # all true
    for _ in range(64 - B_BITS + 1):
        bit = (wv & np.uint64(1)).astype(bool)
        newly = remaining & bit
        rank[newly] = r[newly]
        remaining &= ~bit
        wv >>= np.uint64(1)
        r += 1
        if not remaining.any():
            break
    rank[remaining] = 64 - B_BITS + 1
    regs = np.zeros((len(ids), M), dtype=np.uint8)
    regs[np.arange(len(ids)), j] = rank
    return regs


def hyper_anf(
    spark: SparkSession,
    edges: DataFrame,
    max_iters: int = 50,
    seed: int = 42,
    num_partitions: int | None = None,
    mode: str = "auto",
    num_edges: int | None = None,
) -> RunResult:
    """Result ``state``: ``(id, nf)`` where ``nf`` is the array of
    neighborhood-function estimates [N(v,0), N(v,1), ..., N(v,H)];
    ``history`` carries the per-hop global sum (the ANF curve).

    ``mode="auto"`` (default; routing in algos._route) serves the call
    through the fused register-max STREAM path
    (stream_algos.hyperanf_stream — bit-identical nf curves, superstep
    count, and fixed point, see _HllMaxANF) from the many-superstep
    100k-edge cold crossover: ANF ships one 64-byte sketch per
    symmetrized edge per superstep on the join path — the fattest
    payload in the suite — where the stream path publishes one sketch
    per distinct in-block dst. Measured at 64M edges local[8], 3 fixed
    supersteps (scripts/hyperanf_stream_ab.py,
    BENCH/hyperanf_stream_ab_64m.json): stream supersteps 12.8–17.2 s
    vs join 94.3–163.3 s (7.4× wall), nf_diff 0. Below the crossover,
    warm blocks that another algorithm (CC/LPA — same undirected
    flavor) already built still route stream."""
    from ..stream_algos import _HllMaxANF, hyperanf_stream

    stream, num_edges = stream_route(
        "hyperanf", edges, mode, num_edges, num_partitions,
        _HllMaxANF(seed).block_flavor,
    )
    if stream:
        return hyperanf_stream(
            spark, edges, max_iters=max_iters, seed=seed,
            num_partitions=num_partitions, num_edges=num_edges,
        )
    ensure_shipped(spark)  # UDFs reference module fns on executors
    p = num_partitions or choose_num_partitions(
        spark, (num_edges if num_edges is not None else edges.count()) * 2
    )
    with superstep_conf(spark, p):
        return _hyper_anf(spark, edges, max_iters, seed, p)


def _hyper_anf(spark, edges, max_iters, seed, p) -> RunResult:
    # Self-loop-only vertices stay in the universe (ball = {v} forever).
    raw = dedup_edges(edges)
    und = symmetrize(raw.where(F.col(SRC) != F.col(DST)))
    verts = vertices_from_edges(raw)
    und = partition_edges(und, p, by=SRC).persist()
    und.count()

    def init_udf(batches):
        for pdf in batches:
            ids = pdf[ID].to_numpy(dtype=np.int64)
            regs = _init_registers(ids, seed)
            est = _hll_estimate(regs)
            yield pd.DataFrame(
                {ID: ids, "regs": list(regs), "nf": [[float(x)] for x in est],
                 "changed": np.ones(len(ids), dtype=bool)}
            )

    state = materialize(
        verts.repartition(p, F.col(ID)).mapInPandas(
            kernel(init_udf),
            schema=f"{ID} long, regs array<tinyint>, nf array<double>, changed boolean",
        )
    )
    state.count()

    def merge_udf(key, pdf: pd.DataFrame) -> pd.DataFrame:
        # One call per PARTITION (pk), merging every destination vertex of
        # the partition in one np.maximum.at pass — not one call per vertex
        # (per-group grouped-map costs a Python round-trip per dst).
        ids = pdf[ID].to_numpy(dtype=np.int64)
        regs = np.stack(pdf["mregs"].to_numpy()).astype(np.uint8)  # (n, M)
        uniq, inv = np.unique(ids, return_inverse=True)
        out = np.zeros((len(uniq), M), dtype=np.uint8)
        np.maximum.at(out, inv, regs)
        return pd.DataFrame({ID: uniq, "mregs": list(out)})

    def step(cur: DataFrame, superstep: int):
        msgs = und.join(
            cur.select(F.col(ID).alias(SRC), F.col("regs").alias("mregs")), SRC
        ).select(
            F.col(DST).alias(ID), "mregs",
            F.pmod(F.xxhash64(F.col(DST)), F.lit(p)).cast("int").alias("pk"),
        )
        merged = msgs.groupBy("pk").applyInPandas(
            kernel(merge_udf), schema=f"{ID} long, mregs array<tinyint>"
        )

        def apply_udf(batches):
            for pdf in batches:
                own = np.stack(pdf["regs"].to_numpy()).astype(np.uint8)
                has = pdf["mregs"].notna().to_numpy()
                nbr = own.copy()
                if has.any():
                    nbr[has] = np.stack(pdf.loc[has, "mregs"].to_numpy()).astype(np.uint8)
                new = np.maximum(own, nbr)
                changed = (new != own).any(axis=1)
                est = _hll_estimate(new)
                nf = [list(old) + [float(e)] for old, e in zip(pdf["nf"], est)]
                yield pd.DataFrame(
                    {ID: pdf[ID], "regs": list(new), "nf": nf, "changed": changed}
                )

        joined = cur.join(merged.withColumnRenamed(ID, "_mid"),
                          cur[ID] == F.col("_mid"), "left").select(
            cur[ID], cur["regs"], cur["nf"], F.col("mregs")
        )
        new = materialize(
            joined.mapInPandas(
                kernel(apply_udf),
                schema=f"{ID} long, regs array<tinyint>, nf array<double>, changed boolean",
            )
        )
        row = new.agg(
            F.sum(F.col("changed").cast("long")).alias("chg"),
            F.sum(F.element_at(F.col("nf"), -1)).alias("anf"),
        ).first()
        changed = int(row["chg"] or 0)
        return new, {"converged": changed == 0, "changed": changed,
                     "anf_sum": float(row["anf"])}

    result = run_supersteps(state, step, max_iters)
    und.unpersist()
    result.state = result.state.select(ID, "nf")
    return result
