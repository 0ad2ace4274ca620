"""Structured-Streaming ingest lane: a growing source-code corpus ->
an incrementally-maintained import graph.

Chaos/X-Stream are batch engines over a fixed edge file ([C15] §3,
[X13] §3: the graph is prepared once, then streamed every superstep).
The north rule's corpus, though, is 10^12 source files that keep
arriving (new repos, new commits). This module is the Spark-first
answer: the SAME vectorized extraction the batch lane uses
(``extract.extract_references`` — mapInPandas, compiled multiline
regexes, no per-row Python) lifted onto Structured Streaming, with the
import-graph resolution join maintained *incrementally* per micro-batch.

Why ``foreachBatch`` and not a stream-stream join
-------------------------------------------------
Resolution is a self-join of the corpus stream: an import in file A
references file B, and A may arrive an unbounded interval before OR
after B. A watermarked stream-stream join cannot express that (state
would have to be retained forever on both sides). The standard Spark
pattern for unbounded-state incremental joins is ``foreachBatch`` +
delta algebra over batch tables, which is what we do:

    R_all = union of extracted refs over all batches   (repo, src_path, dst_stem)
    I_all = union of path-index rows over all batches  (repo, stem, path)
    E     = resolve(R_all, I_all)                       (repo, src_path, dst_path)

Per micro-batch ``b`` with new refs ΔR and new index rows ΔI::

    ΔE(b) = resolve(ΔR, I_old ∪ ΔI)  ∪  resolve(R_old, ΔI)

*Completeness*: every (ref r, index i) pair is examined exactly once —
in the batch of r if r arrives with-or-after i (term 1), else in the
batch of i (term 2). A ref that is unresolvable today resolves the
moment its target arrives (term 2), with no retry loop. *No duplicates
across batches*: the two terms partition pairs by which side is the
delta, each file's content arrives in exactly one batch (append-only
corpus; (repo, path) unique — a re-commit lane would need retractions
and is out of scope here), so a given (r, i) pair exists in exactly one
ΔE(b); per-batch ``.distinct()`` inside ``resolve_against_index``
collapses duplicate import lines within a file.

Exactly-once / replay
---------------------
The file source checkpoints batch->file assignment; ``foreachBatch``
may replay a batch after a crash. Every write here is a deterministic
function of (batch content, strictly-older batches) into a
``batch_id=<b>`` partition directory written with mode="overwrite",
and state reads always filter ``batch_id < b`` — a replay simply
rewrites identical bytes. The ``batch_id`` partition column doubles as
per-batch lineage (which micro-batch contributed which edges/refs),
mirroring the per-partition lineage the checkpoint manifest records for
superstep state ([BJ] north_rule).

Scale shape (10^12 files)
-------------------------
Per-batch cost is Δ-proportional: term 1 joins the (small) ΔR against
I_all — a shuffle hash join whose index side is a column-pruned parquet
scan of 3 string columns; term 2 BROADCASTS ΔI (one row per *new* file,
small per batch no matter how large history grows) against R_old, so
the unbounded historical side is never shuffled, only scanned with
column pruning. No step ever re-reads corpus *content* — only the
3-column refs/index residues.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType, StructField, StringType

from .extract import extract_references, path_index, resolve_against_index

CORPUS_SCHEMA = StructType(
    [
        StructField("repo", StringType()),
        StructField("path", StringType()),
        StructField("commit", StringType()),
        StructField("lang", StringType()),
        StructField("content", StringType()),
    ]
)

_REFS, _INDEX, _EDGES, _CKPT = "refs", "index", "edges", "_checkpoint"


@dataclass
class IngestResult:
    """Paths of the maintained tables + how many micro-batches ran.

    ``batch_secs``: wall seconds per micro-batch, in execution order —
    the Δ-proportionality evidence (extraction cost is Δ-only; the only
    history-size-dependent term is a 3-column pruned parquet scan).
    """

    edges_dir: str
    refs_dir: str
    index_dir: str
    batches_run: int
    batch_secs: list


def _part_dir(root: str, batch_id: int) -> str:
    return os.path.join(root, f"batch_id={batch_id}")


def _has_batch_dirs(spark: SparkSession, root: str) -> bool:
    """True iff ``root`` holds at least one ``batch_id=`` partition dir.

    Goes through the Hadoop FileSystem API so the maintained tables can
    live on any shared storage (HDFS/S3/local) — the same shared-storage
    assumption the stream path's update files make. The os.listdir
    fallback applies ONLY to scheme-less local paths (no JVM gateway
    reachable, e.g. a unit-test helper call); for a remote scheme an FS
    error RE-RAISES — treating a transient listStatus failure as "no
    history" would silently drop the ΔR⋈I_old and R_old⋈ΔI terms of
    batch b, and since later batches only look at newer deltas, the
    missed pairs would never be retried: permanent silent edge loss
    instead of a loud failed batch.
    """
    try:
        jvm = spark._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(root)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        if not fs.exists(jpath):
            return False
        return any(
            st.getPath().getName().startswith("batch_id=")
            for st in fs.listStatus(jpath)
        )
    except Exception:
        if "://" in root:
            raise
        return os.path.isdir(root) and any(
            e.startswith("batch_id=") for e in os.listdir(root)
        )


def _read_history(
    spark: SparkSession, root: str, before_batch: int, schema: str
) -> DataFrame:
    """All rows from batches strictly older than ``before_batch``.

    ``basePath`` keeps the batch_id partition column visible so the
    filter prunes partitions at the file-listing level (no stale-replay
    rows and no scan of the current batch's half-written attempt).
    """
    if not _has_batch_dirs(spark, root):
        return spark.createDataFrame([], schema + ", batch_id long")
    return (
        spark.read.option("basePath", root)
        .parquet(root)
        .where(F.col("batch_id") < F.lit(before_batch))
    )


def _ingest_batch(batch_df: DataFrame, batch_id: int, work_dir: str) -> None:
    """One micro-batch of the incremental resolver (see module docstring)."""
    spark = batch_df.sparkSession
    refs_dir = os.path.join(work_dir, _REFS)
    index_dir = os.path.join(work_dir, _INDEX)
    edges_dir = os.path.join(work_dir, _EDGES)

    batch_df = batch_df.persist()
    refs_new = idx_new = None
    try:
        # distinct: duplicate import lines within a file collapse here so
        # the maintained refs table (which feeds every future term-2 join)
        # stays minimal. The index needs no distinct — path_index emits
        # exactly one row per file and (repo, path) is unique.
        refs_new = extract_references(batch_df).distinct().persist()
        idx_new = path_index(batch_df).persist()

        refs_old = _read_history(
            spark, refs_dir, batch_id, "repo string, src_path string, dst_stem string"
        ).select("repo", "src_path", "dst_stem")
        idx_old = _read_history(
            spark,
            index_dir,
            batch_id,
            "_idx_repo string, _idx_stem string, _idx_path string",
        ).select("_idx_repo", "_idx_stem", "_idx_path")

        # ΔR ⋈ (I_old ∪ ΔI): delta refs against the full index.
        e1, _ = resolve_against_index(refs_new, idx_old.unionByName(idx_new))
        # R_old ⋈ ΔI: history refs against ONLY the delta index, broadcast —
        # the unbounded side is scanned (3 columns), never shuffled.
        e2, _ = resolve_against_index(refs_old, idx_new, broadcast_index=True)
        # No distinct on the union: e1/e2 are each deduped inside
        # resolve_against_index and are disjoint by construction — e1's
        # src files live in THIS batch, e2's in strictly older ones (a
        # file's refs are extracted exactly once, in its own batch).
        edges_new = e1.unionByName(e2)

        # Deterministic per-batch partition dirs; overwrite => replay-safe.
        edges_new.write.mode("overwrite").parquet(_part_dir(edges_dir, batch_id))
        refs_new.write.mode("overwrite").parquet(_part_dir(refs_dir, batch_id))
        idx_new.write.mode("overwrite").parquet(_part_dir(index_dir, batch_id))
    finally:
        batch_df.unpersist()
        for df in (refs_new, idx_new):
            if df is not None:
                df.unpersist()


def ingest_corpus_stream(
    spark: SparkSession,
    source_dir: str,
    work_dir: str,
    max_files_per_trigger: int | None = None,
) -> IngestResult:
    """Drain everything currently in ``source_dir`` through the
    incremental resolver, then stop (``Trigger.AvailableNow``).

    Call again after more corpus files land — the checkpoint under
    ``work_dir`` makes the file source pick up only the new arrivals, and
    the delta algebra folds them into the maintained edge set. With
    ``max_files_per_trigger`` set, even a single drain is split into
    multiple micro-batches (AvailableNow respects source rate limits),
    which is how the tests and the driver query exercise cross-batch
    reference resolution deterministically.
    """
    reader = spark.readStream.schema(CORPUS_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    src = reader.parquet(source_dir)

    ran = {"n": 0, "secs": []}

    def process(bdf: DataFrame, bid: int) -> None:
        t0 = time.perf_counter()
        _ingest_batch(bdf, bid, work_dir)
        ran["n"] += 1
        ran["secs"].append(round(time.perf_counter() - t0, 3))

    q = (
        src.writeStream.foreachBatch(process)
        .option("checkpointLocation", os.path.join(work_dir, _CKPT))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return IngestResult(
        edges_dir=os.path.join(work_dir, _EDGES),
        refs_dir=os.path.join(work_dir, _REFS),
        index_dir=os.path.join(work_dir, _INDEX),
        batches_run=ran["n"],
        batch_secs=ran["secs"],
    )


def read_edges(spark: SparkSession, work_dir: str) -> DataFrame:
    """The maintained import-graph edge table (repo, src_path, dst_path).

    Per-batch lineage rides along as the ``batch_id`` partition column;
    it is dropped here because the edge SET is the product — identical
    whatever the arrival order (module docstring algebra).
    """
    return (
        spark.read.option("basePath", os.path.join(work_dir, _EDGES))
        .parquet(os.path.join(work_dir, _EDGES))
        .select("repo", "src_path", "dst_path")
    )


# ---------------------------------------------------------------------------
# Incremental triangle counting over a growing edge table
# ---------------------------------------------------------------------------

_CEDGES, _TRI = "cedges", "tri"
# Broadcast ceiling for the incremental-triangle delta: ~2M canonical
# edge pairs ≈ 32 MB framed — comfortably under the 8 GB / 512M-row hard
# cap and the driver+executor copies it costs, while every realistically
# sized micro-batch stays on the fast broadcast plan.
_TRI_BCAST_MAX_ROWS = 2_000_000


@dataclass
class TriangleResult:
    """Maintained-table paths + per-batch evidence.

    ``batch_deltas``: one dict per micro-batch in execution order —
    ``{"batch_id", "new_edges", "t1", "t2", "t3", "delta"}`` where tK is
    the count of triangles whose edge set contains exactly K edges first
    seen in that batch. Σ delta over all batches = the triangle count of
    the full edge set (algos.triangles semantics: undirected, self-loops
    and duplicates collapsed).
    """

    cedges_dir: str
    tri_dir: str
    batches_run: int
    batch_deltas: list


def _triangle_batch(batch_df: DataFrame, batch_id: int, work_dir: str) -> dict:
    """Fold one micro-batch of edges into the maintained triangle count.

    Delta algebra (the triangle analogue of the resolver's ΔE terms):
    every triangle of E_old ∪ D is counted exactly once, in the batch
    where its LAST edge arrives, split by how many of its edges are in
    that batch's delta D::

        t1 = Σ_{(a,b) ∈ D} |{w : {a,w} ∈ E_old ∧ {b,w} ∈ E_old}|
        t2 = wedges with BOTH arms in D closed by an E_old edge
        t3 = triangles wholly inside D

    Completeness/no-double-count: a triangle with exactly one delta edge
    matches t1 for that edge only (its other two edges are old); with two
    delta edges they share exactly one vertex — the wedge apex — so t2
    sees it once (arms ordered y1 < y2); with three, t3's canonical
    triple join counts it once. Cross-batch, "old" always means strictly
    older batches, so each triangle is charged to exactly one batch.

    Scale shape: D is canonicalized and DEDUPED against history (left
    anti join), then BROADCAST into every join that touches the unbounded
    side — E_old is scanned (two pruned columns) and hash-joined, never
    self-joined. A per-batch full recount would re-run the wedge
    enumeration of the ENTIRE graph (the cost center of batch triangle
    counting); the incremental terms cost O(|D| · avg-degree) join rows
    instead. Replay-safe like the resolver: both writes are deterministic
    functions of (batch content, strictly-older batches) into overwritten
    ``batch_id=`` partition dirs.
    """
    spark = batch_df.sparkSession
    cedges_dir = os.path.join(work_dir, _CEDGES)
    tri_dir = os.path.join(work_dir, _TRI)

    canon_new = (
        batch_df.where(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
    )
    cold = _read_history(
        spark, cedges_dir, batch_id, "a long, b long"
    ).select("a", "b")
    d0 = canon_new.join(cold, ["a", "b"], "left_anti").localCheckpoint(eager=True)
    # ADVICE r5 (medium): with max_files_per_trigger unset the FIRST
    # micro-batch is the whole source table, so unconditionally
    # broadcasting the delta (and the wedge set derived from it) drives
    # straight into Spark's 8 GB / 512M-row broadcast cap on exactly the
    # scale path this lane advertises. Gate the hints on the delta's
    # (cached, cheap-to-count) row count; past the gate the joins fall
    # back to ordinary shuffle joins — same results, bounded memory.
    d0_rows = d0.count()
    small_delta = d0_rows <= _TRI_BCAST_MAX_ROWS
    d = F.broadcast(d0) if small_delta else d0

    sym_old = cold.select(F.col("a").alias("x"), F.col("b").alias("y")).unionByName(
        cold.select(F.col("b").alias("x"), F.col("a").alias("y"))
    )
    # t1: delta edge (a, b) + two old arms to a common w.
    n1 = sym_old.select(F.col("x").alias("x1"), F.col("y").alias("w"))
    n2 = sym_old.select(F.col("x").alias("x2"), F.col("y").alias("w2"))
    t1 = (
        d.join(n1, d["a"] == n1["x1"])
        .join(n2, (F.col("b") == F.col("x2")) & (F.col("w") == F.col("w2")))
        .count()
    )
    # t2: wedge with both arms in D (apex x, arms y1 < y2), closed old.
    sym_d = d.select(F.col("a").alias("x"), F.col("b").alias("y")).unionByName(
        d.select(F.col("b").alias("x"), F.col("a").alias("y"))
    )
    w1 = sym_d.select(F.col("x"), F.col("y").alias("y1"))
    w2 = sym_d.select(F.col("x").alias("x2"), F.col("y").alias("y2"))
    wedges = (
        w1.join(w2, (F.col("x") == F.col("x2")) & (F.col("y1") < F.col("y2")))
        .select(F.col("y1").alias("a"), F.col("y2").alias("b"))
    )
    # The wedge set is |D|-quadratic per apex — broadcast it only for
    # small deltas (same gate as d; a hub-heavy big delta would blow the
    # wedge broadcast long before d itself did).
    if small_delta:
        wedges = F.broadcast(wedges)
    t2 = wedges.join(cold, ["a", "b"]).count()
    # t3: canonical triple join inside D.
    e1 = d.select(F.col("a").alias("u"), F.col("b").alias("v"))
    e2 = d.select(F.col("a").alias("v2"), F.col("b").alias("w"))
    e3 = d.select(F.col("a").alias("u3"), F.col("b").alias("w3"))
    t3 = (
        e1.join(e2, F.col("v") == F.col("v2"))
        .join(e3, (F.col("u") == F.col("u3")) & (F.col("w") == F.col("w3")))
        .count()
    )

    d0.write.mode("overwrite").parquet(_part_dir(cedges_dir, batch_id))
    rec = {
        "batch_id": batch_id, "new_edges": d0_rows,
        "t1": t1, "t2": t2, "t3": t3, "delta": t1 + t2 + t3,
    }
    spark.createDataFrame(
        [(rec["new_edges"], t1, t2, t3, rec["delta"])],
        "new_edges long, t1 long, t2 long, t3 long, delta long",
    ).coalesce(1).write.mode("overwrite").parquet(_part_dir(tri_dir, batch_id))
    return rec


def maintain_triangle_count(
    spark: SparkSession,
    source_dir: str,
    work_dir: str,
    max_files_per_trigger: int | None = None,
) -> TriangleResult:
    """Maintain the global triangle count of a GROWING edge table
    (``src long, dst long`` parquet files landing in ``source_dir``),
    incrementally per micro-batch — the dynamic-graph companion to
    algos.triangles (same undirected/dedup/no-self-loop semantics over
    the union of all arrivals).

    Same lane mechanics as ``ingest_corpus_stream``: AvailableNow drain,
    checkpointed batch assignment, per-batch ``batch_id=`` lineage
    partitions, replay = identical bytes. Call again after more edge
    files land; ``read_triangle_count`` gives the running total."""
    src = spark.readStream.schema("src long, dst long")
    if max_files_per_trigger is not None:
        src = src.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = src.parquet(source_dir)

    ran = {"n": 0, "deltas": []}

    def process(bdf: DataFrame, bid: int) -> None:
        ran["deltas"].append(_triangle_batch(bdf, bid, work_dir))
        ran["n"] += 1

    q = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", os.path.join(work_dir, _CKPT))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return TriangleResult(
        cedges_dir=os.path.join(work_dir, _CEDGES),
        tri_dir=os.path.join(work_dir, _TRI),
        batches_run=ran["n"],
        batch_deltas=ran["deltas"],
    )


def read_triangle_count(spark: SparkSession, work_dir: str) -> DataFrame:
    """The maintained global triangle count: one row ``(triangles)`` =
    Σ per-batch deltas (each batch's row is a pure function of the
    arrivals, so the sum is arrival-order invariant)."""
    tri_dir = os.path.join(work_dir, _TRI)
    return (
        spark.read.option("basePath", tri_dir)
        .parquet(tri_dir)
        .agg(F.sum("delta").cast("long").alias("triangles"))
    )
