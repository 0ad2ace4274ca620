"""Triangle counting via degree orientation (single-pass, join-based).

Reference counts triangles with edge-centric multi-phase streaming
([X13] §5.2 `triangle_counting*`); the *semantics* are identical:
``|{ {u,v,w} : uv, vw, uw all edges }|`` on the undirected, deduplicated,
self-loop-free graph, globally and per vertex.

Spark-first physical strategy (standard degree-orientation / "compact
forward"): orient every undirected edge from the lower to the higher
endpoint in the total order (degree, id) — each triangle then appears as
EXACTLY one wedge (x->y, x->z) whose closing edge (y->z) exists in the
oriented set, so a self-join plus one semi-join counts each triangle
once. Orientation bounds the wedge count by sum(min-degree^2), the thing
that makes this survive power-law graphs at 100 TB scale; all three joins
shuffle on their keys and AQE handles residual skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..engine import is_stored
from ..graph import DST, ID, SRC


def _oriented_edges(edges: DataFrame) -> DataFrame:
    """Canonical undirected edge set oriented by the (degree, id) total
    order: returns ``(a, b)`` with (deg(a), a) < (deg(b), b)."""
    und = (
        edges.select(
            F.least(F.col(SRC), F.col(DST)).alias("u"),
            F.greatest(F.col(SRC), F.col(DST)).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    deg = (
        und.select(F.col("u").alias(ID))
        .union(und.select(F.col("v").alias(ID)))
        .groupBy(ID)
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    du = deg.select(F.col(ID).alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col(ID).alias("v"), F.col("deg").alias("dv"))
    e = und.join(du, "u").join(dv, "v")
    lower_first = F.struct(F.col("du"), F.col("u")) < F.struct(F.col("dv"), F.col("v"))
    return e.select(
        F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("b"),
    )


def _wedges(eo: DataFrame) -> DataFrame:
    """All triangles over the oriented edge set ``eo``, one row each, as
    ``(x, y, z)`` corners. Reads ``eo`` three times."""
    e1 = eo.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = eo.select(F.col("a").alias("x"), F.col("b").alias("z"))
    wedges = e1.join(e2, "x").where(F.col("y") != F.col("z"))
    closing = eo.select(F.col("a").alias("y"), F.col("b").alias("z"))
    return wedges.join(closing, ["y", "z"]).select("x", "y", "z")


def _closed_wedges(edges: DataFrame) -> DataFrame:
    """All triangles, one row each, as ``(x, y, z)`` corners, over a
    persisted oriented edge set that stays cached after the call."""
    return _wedges(_oriented_edges(edges).persist())


def triangle_count(spark: SparkSession, edges: DataFrame) -> int:
    """Global triangle count (exact). The oriented edge set is cached for
    the count and released after it, unless its plan was already cached
    (then that entry is read and left alone)."""
    eo = _oriented_edges(edges)
    owned = not is_stored(eo)
    if owned:
        eo = eo.persist()
    try:
        return _wedges(eo).count()
    finally:
        if owned:
            eo.unpersist()


def triangle_counts_per_vertex(spark: SparkSession, edges: DataFrame) -> DataFrame:
    """Per-vertex triangle counts ``(id, triangles)``, zeros included —
    matches ``networkx.triangles`` exactly.

    Lazy: no job runs here. The result reads a persisted oriented edge
    set, and that cache entry outlives the call so the result can be
    consumed repeatedly. The caller owns it: Spark matches cache entries
    by plan, so ``_oriented_edges(edges).unpersist()`` (or
    ``spark.catalog.clearCache()``) releases it."""
    tris = _closed_wedges(edges)
    corners = (
        tris.select(F.col("x").alias(ID))
        .union(tris.select(F.col("y").alias(ID)))
        .union(tris.select(F.col("z").alias(ID)))
    )
    counts = corners.groupBy(ID).agg(F.count(F.lit(1)).alias("triangles"))
    verts = (
        edges.select(F.col(SRC).alias(ID))
        .union(edges.select(F.col(DST).alias(ID)))
        .distinct()
    )
    return verts.join(counts, ID, "left").select(
        F.col(ID), F.coalesce(F.col("triangles"), F.lit(0)).alias("triangles")
    )
