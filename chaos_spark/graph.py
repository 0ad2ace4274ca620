"""Edge/vertex table builders and graph-layout primitives.

Chaos's only first-class dataset is a flat edge list streamed per superstep
([X13] §3); ours is an ``edges(src BIGINT, dst BIGINT [, weight DOUBLE])``
DataFrame. The helpers here own everything Catalyst does not: symmetrize,
degree pre-passes, deterministic vertex-id minting, explicit partitioning
of the static edge table, and salted splitting of hub vertices (our
analogue of Chaos's work stealing for reducer skew, [C15] §3.2).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

SRC, DST, ID = "src", "dst", "id"


def dedup_edges(edges: DataFrame, drop_self_loops: bool = False) -> DataFrame:
    """Distinct (src, dst) pairs; optionally drop self-loops.

    One-time shuffle; the result should be persisted/partitioned once and
    reused every superstep (static-table re-shuffle avoidance, SURVEY §4).
    """
    e = edges.select(SRC, DST).distinct()
    if drop_self_loops:
        e = e.where(F.col(SRC) != F.col(DST))
    return e


def symmetrize(edges: DataFrame) -> DataFrame:
    """Undirected closure: union of (src,dst) and (dst,src), deduplicated.

    CC / LPA / triangles run on the undirected graph (SURVEY §2.2); Chaos
    symmetrizes at ingest time for those algorithms.
    """
    fwd = edges.select(SRC, DST)
    rev = edges.select(F.col(DST).alias(SRC), F.col(SRC).alias(DST))
    return fwd.union(rev).distinct()


def out_degrees(edges: DataFrame) -> DataFrame:
    """Per-vertex out-degree: ``(id, out_degree)``. [X13] §5.2 init pre-pass."""
    return edges.groupBy(F.col(SRC).alias(ID)).agg(
        F.count(F.lit(1)).alias("out_degree")
    )


def in_degrees(edges: DataFrame) -> DataFrame:
    """Per-vertex in-degree: ``(id, in_degree)`` — feeds hub detection."""
    return edges.groupBy(F.col(DST).alias(ID)).agg(
        F.count(F.lit(1)).alias("in_degree")
    )


def vertices_from_edges(edges: DataFrame) -> DataFrame:
    """All vertex ids appearing as src or dst: ``(id)``."""
    return (
        edges.select(F.col(SRC).alias(ID))
        .union(edges.select(F.col(DST).alias(ID)))
        .distinct()
    )


def vertex_id(*cols: str) -> Column:
    """The stable 64-bit vertex id of a natural key: ``xxhash64`` of its
    columns in order. A pure function of the key, so any frame holding
    the key (a vertex table, an edge's endpoint columns) mints the same id
    with no lookup.

    ``xxhash64`` keeps minting embarrassingly parallel (no global
    zipWithIndex barrier) — the right trade at 10^12-file scale; collision
    probability reaches ~50% only near 2^32 rows (birthday bound), and
    callers at sampled tiers should assert ``assert_no_id_collisions``.
    """
    return F.xxhash64(*[F.col(c) for c in cols])


def mint_vertex_ids(df: DataFrame, *cols: str, out: str = ID) -> DataFrame:
    """``df`` plus column ``out`` = :func:`vertex_id` of ``cols``."""
    return df.withColumn(out, vertex_id(*cols))


def assert_no_id_collisions(df: DataFrame, id_col: str = ID) -> None:
    """Raise if the minted id column collides: fewer distinct ids than
    distinct keys, a key being the row's other columns as one struct (so
    a NULL field still counts). A key listed twice is no collision."""
    key = F.struct(*[c for c in df.columns if c != id_col])
    row = df.agg(
        F.countDistinct(key).alias("k"),
        F.countDistinct(F.col(id_col)).alias("d"),
    ).first()
    if row["k"] != row["d"]:
        raise ValueError(
            f"vertex-id collision: {row['k']} keys -> {row['d']} distinct ids"
        )


def partition_edges(
    edges: DataFrame, num_partitions: int, by: str = SRC, sort: bool = True
) -> DataFrame:
    """Hash-partition the static edge table on the per-superstep join key,
    sorted within partitions on that key.

    Written/cached once so every superstep's scatter join reuses the layout
    instead of re-shuffling the (huge, constant) edge side — the Spark
    analogue of X-Stream's per-partition edge files ([X13] §3.2).

    The within-partition sort matters as much as the partitioning:
    InMemoryRelation preserves the cached plan's output ordering, so the
    per-superstep sort-merge scatter join needs NO sort on either side
    (state arrives [id ASC] from localCheckpoint). Without it, Spark
    re-sorted the whole edge table every superstep — measured round 2 as
    the dominant per-superstep cost at 16M edges (~40% of superstep wall).
    """
    e = edges.repartition(num_partitions, F.col(by))
    return e.sortWithinPartitions(by) if sort else e


def salt_edges(
    edges: DataFrame,
    hub_threshold: int,
    num_salts: int,
    degrees: DataFrame | None = None,
) -> DataFrame:
    """Add a deterministic ``salt`` column splitting hub destinations.

    Chaos absorbs skew with chunk-granularity work stealing ([C15] §3.2);
    Spark's shuffle cannot steal *within* a single reducer key, so hub
    vertices (in-degree > ``hub_threshold``) get their incoming edges split
    across ``num_salts`` sub-keys: partial-aggregate on ``(dst, salt)``,
    final aggregate on ``dst``. Non-hub edges get salt 0 so the second
    aggregation is near-free for them. Salt is ``pmod(xxhash64(src), k)``
    — deterministic, so reruns are reproducible.
    """
    deg = degrees if degrees is not None else in_degrees(edges)
    hubs = deg.where(F.col("in_degree") > hub_threshold).select(
        F.col(ID).alias(DST), F.lit(True).alias("_is_hub")
    )
    return (
        edges.join(F.broadcast(hubs), DST, "left")
        .withColumn(
            "salt",
            F.when(
                F.col("_is_hub").isNotNull(),
                F.pmod(F.xxhash64(F.col(SRC)), F.lit(num_salts)).cast("int"),
            ).otherwise(F.lit(0)),
        )
        .drop("_is_hub")
    )


def salted_agg(msgs: DataFrame, agg_col: str, how: str = "sum") -> DataFrame:
    """Two-level aggregate of a salted message stream.

    ``msgs(dst, salt, <agg_col>)`` -> partial agg on (dst, salt) -> final
    agg on dst. Only commutative+associative folds are legal — the same
    contract X-Stream imposes on gather ([X13] §3.1).
    """
    fn = getattr(F, how)
    partial = msgs.groupBy(DST, "salt").agg(fn(agg_col).alias(agg_col))
    return partial.groupBy(DST).agg(fn(agg_col).alias(agg_col))
