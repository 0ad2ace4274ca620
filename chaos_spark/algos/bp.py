"""Loopy belief propagation (sum-product) with binary states.

Reference: X-Stream ships `bp*` kernels ([X13] §5.2 Table 2) — per-EDGE
message state over a weighted graph, synchronous updates. Semantics here:
pairwise MRF with binary variables, node potentials φ_v and a shared
attractive pairwise potential ψ(x_u, x_v) = [[w, 1-w], [1-w, w]] per edge
weight w (w > 0.5 smooths). Message update (sum-product, normalized):

    m'_{u→v}(x) ∝ Σ_{x_u} φ_u(x_u) ψ(x_u, x) Π_{w∈N(u)\\v} m_{w→u}(x_u)

The Π over all-but-one in-message is computed as exp(Σ log − log own) —
one aggregation per vertex plus one subtraction per edge, ALL in Spark SQL
expressions (no Python): the product-excluding-self trick keeps the
per-superstep cost at one groupBy + two joins, exactly the scatter/gather
shape of every other kernel. Messages are normalized (m0 + m1 = 1) for
numeric stability; convergence = max |m' − m| < tol. Beliefs:
b_v(x) ∝ φ_v(x) Π_{w∈N(v)} m_{w→v}(x).

Deterministic: node potentials are hash-derived from the vertex id.
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
from ..graph import DST, ID, SRC, symmetrize


def _phi(id_col, which: int):
    """Deterministic node potential in (0.1, 0.9): hash-derived."""
    u = (
        F.pmod(F.xxhash64(id_col, F.lit("phi")), F.lit(1 << 53)).cast("double")
        / F.lit(float(1 << 53))
    )
    p1 = F.lit(0.1) + F.lit(0.8) * u
    return p1 if which == 1 else (F.lit(1.0) - p1)


def belief_propagation(
    spark: SparkSession,
    edges: DataFrame,
    coupling: float = 0.7,
    tol: float = 1e-6,
    max_iters: int = 50,
    num_partitions: int | None = None,
    phi_fn=None,
) -> RunResult:
    """Sum-product BP over the undirected closure of ``edges``.

    Returns state = per-vertex beliefs ``(id, b1)`` (P[x=1], so b0=1-b1);
    ``history`` has per-superstep max message delta.

    ``phi_fn(id_col, which) -> Column``: overrides the default
    xxhash64-derived node potential — an arithmetic-only potential lets a
    DuckDB oracle reproduce a fixed-k run exactly (xxhash64 is not
    portable SQL). Must return P[x=which] with phi(id,0)+phi(id,1)=1.
    """
    p = num_partitions or choose_num_partitions(spark, edges.count() * 2)
    with superstep_conf(spark, p):
        return _bp(spark, edges, coupling, tol, max_iters, p, phi_fn)


def _bp(spark, edges, coupling, tol, max_iters, p, phi_fn=None) -> RunResult:
    phi = phi_fn or _phi
    w = float(coupling)
    # directed message set: one message per direction of each undirected edge
    dedges = symmetrize(edges.select(SRC, DST)).where(F.col(SRC) != F.col(DST))
    dedges = dedges.repartition(p, F.col(SRC)).persist()
    dedges.count()

    # message state: (src, dst, m0, m1) = message src -> dst, init uniform
    state = materialize(
        dedges.select(
            SRC, DST, F.lit(0.5).alias("m0"), F.lit(0.5).alias("m1"),
            F.lit(0.0).alias("_d"),
        )
    )
    state.count()

    def step(cur: DataFrame, superstep: int):
        # per-vertex log-product of incoming messages
        tot = cur.groupBy(DST).agg(
            F.sum(F.log("m0")).alias("s0"), F.sum(F.log("m1")).alias("s1")
        ).withColumnRenamed(DST, "u")
        # for message u->v: product over N(u)\{v} of m_{w->u} =
        # exp(s(u) - log m_{v->u})
        rev = cur.select(
            F.col(DST).alias("u"), F.col(SRC).alias("v"),
            F.col("m0").alias("r0"), F.col("m1").alias("r1"),
        )
        # Log-domain with a log-sum-exp shift: exp(s - log r) underflows to
        # 0 once a hub vertex's summed log-messages drop below ~-745
        # (degree ≳1070 at m≈0.5), making g0=g1=0 and the normalized
        # message 0/0 = NaN; NaN then never converges (Spark orders NaN
        # above all doubles). Subtracting max(l0, l1) before exponentiating
        # cancels exactly in the normalization, so semantics are unchanged.
        l0 = F.col("s0") - F.log("r0") + F.log(phi(F.col("u"), 0))
        l1 = F.col("s1") - F.log("r1") + F.log(phi(F.col("u"), 1))
        mx = F.greatest(l0, l1)
        base = (
            dedges.select(F.col(SRC).alias("u"), F.col(DST).alias("v"))
            .join(tot, "u")
            .join(rev, ["u", "v"])
            .select(
                "u", "v",
                F.exp(l0 - mx).alias("g0"),
                F.exp(l1 - mx).alias("g1"),
            )
        )
        unnorm = base.select(
            F.col("u").alias(SRC), F.col("v").alias(DST),
            (F.col("g0") * F.lit(w) + F.col("g1") * F.lit(1.0 - w)).alias("n0"),
            (F.col("g0") * F.lit(1.0 - w) + F.col("g1") * F.lit(w)).alias("n1"),
        )
        nxt = unnorm.select(
            SRC, DST,
            (F.col("n0") / (F.col("n0") + F.col("n1"))).alias("m0"),
            (F.col("n1") / (F.col("n0") + F.col("n1"))).alias("m1"),
        )
        joined = nxt.alias("n").join(
            cur.select(SRC, DST, F.col("m0").alias("p0")).alias("c"), [SRC, DST]
        )
        new = materialize(
            joined.select(SRC, DST, "m0", "m1",
                          F.abs(F.col("m0") - F.col("p0")).alias("_d"))
        )
        delta = float(new.agg(F.max("_d")).first()[0])
        return new, {"converged": delta < tol, "delta": delta}

    result = run_supersteps(state, step, max_iters)

    # beliefs from converged messages
    msgs = result.state
    tot = msgs.groupBy(DST).agg(
        F.sum(F.log("m0")).alias("s0"), F.sum(F.log("m1")).alias("s1")
    )
    # Same log-sum-exp shift as the message update (hub-degree underflow).
    bl0 = F.log(phi(F.col(DST), 0)) + F.col("s0")
    bl1 = F.log(phi(F.col(DST), 1)) + F.col("s1")
    bmx = F.greatest(bl0, bl1)
    beliefs = tot.select(
        F.col(DST).alias(ID),
        (F.exp(bl1 - bmx) / (F.exp(bl0 - bmx) + F.exp(bl1 - bmx))).alias("b1"),
    )
    dedges.unpersist()
    result.state = beliefs
    return result
