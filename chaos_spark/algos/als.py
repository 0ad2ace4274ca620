"""ALS matrix factorization on a bipartite rating graph.

Reference: X-Stream ships `als*` kernels ([X13] §5.2 Table 2) — alternating
least squares over a user->item edge list with float ratings, vertex state
= a rank-k latent vector, each half-superstep recomputing one side from
the other: for every user u,
    x_u = solve( Σ_{i∈N(u)} v_i v_iᵀ + λ·|N(u)|·I ,  Σ_{i∈N(u)} r_ui v_i )
(and symmetrically for items). That per-vertex normal-equation solve is
the gather; the scatter ships the (tiny) rank-k vectors of the fixed side
along the edges.

Spark mapping: latent vectors are ``array<double>`` columns; the scatter
is a broadcast-or-shuffle join edges⋈factors; the gather is a grouped-map
pandas UDF per destination partition doing vectorized accumulation of the
k×k normal matrices (np.einsum over the Arrow batch) and a batched
np.linalg.solve — no per-row Python. Deterministic: init vectors are
hash-derived, iteration order is fixed, so runs reproduce bit-identically
at any parallelism (per-vertex solves don't depend on row order up to
float associativity in einsum — absorbed by the test tolerance).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..engine import RunResult, choose_num_partitions, materialize, superstep_conf
from ..graph import DST, SRC


def _init_vec_expr(id_col, rank: int, seed: int):
    """Deterministic init in [0, 1): component j = hash(id, j, seed)/2^53."""
    comps = [
        (
            F.pmod(F.xxhash64(id_col, F.lit(j), F.lit(seed)), F.lit(1 << 53))
            .cast("double") / F.lit(float(1 << 53))
        )
        for j in range(rank)
    ]
    return F.array(*comps)


def als(
    spark: SparkSession,
    ratings: DataFrame,
    rank: int = 8,
    reg: float = 0.1,
    num_sweeps: int = 10,
    seed: int = 42,
    num_partitions: int | None = None,
    init_fn=None,
) -> RunResult:
    """ALS over ``ratings(src, dst, weight)`` (user src -> item dst).

    Returns state ``(id, side, vec)`` with side in {'user','item'};
    ``history`` records per-sweep train RMSE. One sweep = item update
    then user update (two half-supersteps), matching the classic order.

    ``init_fn(id_col, seed) -> array<double> Column``: overrides the
    default xxhash64-derived init — an arithmetic-only init lets a DuckDB
    oracle reproduce the run exactly (xxhash64 is not portable SQL).
    """
    p = num_partitions or choose_num_partitions(spark, ratings.count() * 2)
    with superstep_conf(spark, p):
        return _als(spark, ratings, rank, reg, num_sweeps, seed, p, init_fn)


def _als(spark, ratings, rank, reg, num_sweeps, seed, p, init_fn=None) -> RunResult:
    from ..shipping import ensure_shipped, kernel

    ensure_shipped(spark)
    e = (
        ratings.select(SRC, DST, F.col("weight").cast("double").alias("r"))
        .groupBy(SRC, DST).agg(F.avg("r").alias("r"))
        .repartition(p, F.col(SRC))
        .persist()
    )
    e.count()

    users = e.select(F.col(SRC).alias("id")).distinct()
    items = e.select(F.col(DST).alias("id")).distinct()
    iv = init_fn or (lambda id_col, s: _init_vec_expr(id_col, rank, s))
    u_vec = materialize(users.select("id", iv(F.col("id"), seed).alias("vec")))
    i_vec = materialize(
        items.select("id", iv(F.col("id"), seed + 1).alias("vec"))
    )
    u_vec.count(), i_vec.count()

    def solve_side(fixed: DataFrame, fixed_key: str, out_key: str) -> DataFrame:
        """Recompute the out_key side from the fixed side's vectors.

        Grouped by a PARTITION key (pmod(xxhash64(gid), p)) — one kernel
        call per partition with all of its vertices, not one per vertex
        (per-group grouped-map was measured at ~1 Arrow batch + Python
        call per vertex). Inside, the normal equations for every vertex
        of the partition are built with segment-reduceat and solved as
        ONE batched np.linalg.solve over a (G, k, k) stack.
        """
        msgs = e.join(
            fixed.select(F.col("id").alias(fixed_key), "vec"), fixed_key
        ).select(
            F.col(out_key).alias("gid"), "vec", "r",
            F.pmod(F.xxhash64(F.col(out_key)), F.lit(p)).cast("int").alias("pk"),
        )

        def solve(_, pdf):
            gids = pdf["gid"].to_numpy(dtype=np.int64)
            V = np.stack(pdf["vec"].to_numpy()).astype(np.float64)  # (n, k)
            r = pdf["r"].to_numpy(dtype=np.float64)
            order = np.argsort(gids, kind="stable")
            gids, V, r = gids[order], V[order], r[order]
            uniq, starts, counts = np.unique(
                gids, return_index=True, return_counts=True
            )
            outer = V[:, :, None] * V[:, None, :]           # (n, k, k)
            A = np.add.reduceat(outer, starts, axis=0)      # (G, k, k)
            A += reg * counts[:, None, None] * np.eye(rank)[None, :, :]
            b = np.add.reduceat(V * r[:, None], starts, axis=0)  # (G, k)
            x = np.linalg.solve(A, b)                       # batched
            return pd.DataFrame({"id": uniq, "vec": list(x)})

        return msgs.groupBy("pk").applyInPandas(
            kernel(solve), schema="id long, vec array<double>"
        )

    history = []
    supersteps = 0
    for sweep in range(num_sweeps):
        new_i = materialize(solve_side(u_vec, SRC, DST))
        new_i.count()
        i_vec.unpersist()
        i_vec = new_i
        supersteps += 1
        new_u = materialize(solve_side(i_vec, DST, SRC))
        new_u.count()
        u_vec.unpersist()
        u_vec = new_u
        supersteps += 1

        pred = (
            e.join(u_vec.select(F.col("id").alias(SRC), F.col("vec").alias("uv")), SRC)
            .join(i_vec.select(F.col("id").alias(DST), F.col("vec").alias("iv")), DST)
            .select(
                "r",
                F.aggregate(
                    F.zip_with("uv", "iv", lambda a, b: a * b),
                    F.lit(0.0), lambda acc, x: acc + x,
                ).alias("pred"),
            )
        )
        rmse = float(
            pred.agg(F.sqrt(F.avg((F.col("r") - F.col("pred")) ** 2))).first()[0]
        )
        history.append({"superstep": supersteps, "sweep": sweep + 1,
                        "rmse": rmse, "seconds": 0.0, "converged": False})

    state = u_vec.select("id", F.lit("user").alias("side"), "vec").unionAll(
        i_vec.select("id", F.lit("item").alias("side"), "vec")
    )
    e.unpersist()
    if history:
        history[-1]["converged"] = True
    return RunResult(state=state, supersteps=supersteps, converged=True,
                     history=history)
