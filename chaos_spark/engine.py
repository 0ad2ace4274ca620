"""The superstep runner — Chaos's scatter/shuffle/gather loop, driver-side.

Chaos executes supersteps as {scatter phase -> shuffler -> gather phase ->
barrier} over streaming partitions ([X13] §3.2, [C15] §3). In Spark the
per-superstep *logical plan* is scatter (join) -> shuffle (exchange from
groupBy) -> gather/apply (agg + join), and the *action* that materializes
the new state is the barrier. What Catalyst cannot do — iteration, lineage
truncation, convergence tests, durable checkpoints — lives here.

Each algorithm supplies a ``step_fn(state, superstep) -> (new_state,
stats)`` where ``new_state`` MUST already be materialized — preferably via
:func:`materialize_stats`, which runs the superstep as ONE eager
``localCheckpoint`` job that caches the state, truncates lineage, AND
computes the convergence statistics inline (observe/CollectMetrics);
:func:`materialize` (lazy) + a separate stats action is the legacy
two-piece form — and ``stats`` must contain ``converged: bool`` plus
anything else (delta, changed rows, message counts) for the metrics
trail. The runner durably checkpoints every ``checkpoint_every``
supersteps through a :class:`chaos_spark.checkpoint.CheckpointManager`
(resume-able) and records per-superstep wall time (supersteps/sec is the
north-star throughput metric). Old states' cached blocks are released by
Spark's ContextCleaner once the driver drops the reference.
"""

from __future__ import annotations

import math
import os as _os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import Column, DataFrame, Observation

from .checkpoint import CheckpointManager

StepFn = Callable[
    [DataFrame, int], tuple[DataFrame, dict[str, Any] | list[dict[str, Any]]]
]


def materialize(df: DataFrame) -> DataFrame:
    """Superstep barrier + lineage truncation, costing ZERO extra jobs.

    LAZY ``localCheckpoint``: the algorithm's convergence-stats action
    (always issued right after materialize) is the job that computes the
    superstep, caches the state blocks, and truncates lineage — one job
    per superstep. Measured alternatives: eager localCheckpoint adds a
    dedicated job (~2x superstep cost on small graphs); plain persist
    leaves lineage growing, costing ~0.2 s/superstep of extra
    analysis/planning by superstep 8.

    Prefer :func:`materialize_stats` inside superstep loops — it folds
    the convergence statistics into the barrier job itself.
    """
    return df.localCheckpoint(eager=False)


_EXPLAINED: set[str] = set()


def maybe_explain(df: DataFrame, kind: str) -> None:
    """Dev-only plan capture (off unless CHAOS_EXPLAIN_DIR is set): write
    ``df.explain("formatted")`` once per (CHAOS_EXPLAIN_NAME, kind, tag)
    to ``$CHAOS_EXPLAIN_DIR/<name>_<kind>_<tag>.txt`` — how the per-
    superstep plans in plans/r06/ were captured without touching the
    frozen bench."""
    d = _os.environ.get("CHAOS_EXPLAIN_DIR")
    if not d:
        return
    name = _os.environ.get("CHAOS_EXPLAIN_NAME", "query")
    tag = _os.environ.get("CHAOS_EXPLAIN_TAG", "")
    key = f"{name}_{kind}_{tag}" if tag else f"{name}_{kind}"
    if key in _EXPLAINED:
        return
    _EXPLAINED.add(key)
    try:
        txt = df.sparkSession._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        _os.makedirs(d, exist_ok=True)
        with open(_os.path.join(d, f"{key}.txt"), "w") as f:
            f.write(txt)
    except Exception:
        pass  # diagnostics only — never fail a superstep over a plan dump


def materialize_stats(
    df: DataFrame,
    stats: list[Column],
    keep: list[str] | None = None,
) -> tuple[DataFrame, dict[str, Any]]:
    """Superstep barrier + lineage truncation + convergence stats, ONE job.

    Attaches the aggregate ``stats`` expressions as an ``observe``
    (CollectMetrics) node over the pre-barrier rows, optionally projects
    down to ``keep`` (dropping helper columns like ``_prev`` so they never
    occupy cache), then triggers an EAGER ``localCheckpoint``. The
    checkpoint's internal count is the superstep's single action; the
    metrics ride its result-stage tasks and are read back via the
    Observation listener.

    This replaces the r1–r3 two-piece pattern {lazy localCheckpoint +
    separate ``agg(...).first()`` action}. Both cost one job, but the old
    pattern re-planned a fresh Aggregate query every superstep and ran a
    partial-agg operator over the cached rows plus a single-task final-agg
    stage after an extra exchange — a fixed, parallelism-independent tail
    that BENCH/SCALING_ANALYSIS.md §2 measured growing 0.4 → 1.5 s from
    local[4] to local[16] (the Amdahl term of the r3 scaling gate FAIL).

    Exactly-once: the CollectMetrics node sits in the checkpoint job's
    RESULT stage (above the message-shuffle exchange), where the scheduler
    applies accumulator updates once per successful partition — stage
    retries and speculative duplicates do not double-count, so ``delta`` /
    dangling-mass values are safe to feed back into the next superstep.

    Returns ``(checkpointed_state, metrics_dict)``. A metric over zero
    rows is None — callers coalesce (``or 0.0``) as with the old agg row.
    """
    obs = Observation()
    observed = df.observe(obs, *stats)
    if keep is not None:
        observed = observed.select(*keep)
    maybe_explain(observed, "superstep")
    out = observed.localCheckpoint(eager=True)
    return out, obs.get


def is_stored(df: DataFrame) -> bool:
    """True if ``df``'s plan is already in Spark's cache (memory or disk).

    Asks the JVM CacheManager (``storageLevel``, a plan-equality lookup);
    PySpark's ``is_cached`` is only a flag on the one Python object that
    called persist(). Code that caches a frame it derived from a caller's
    input persists only when this is False, and unpersists only what it
    persisted: persist() of a plan-equal cached frame is a no-op, and the
    matching unpersist() would evict the caller's entry."""
    lvl = df.storageLevel
    return lvl.useMemory or lvl.useDisk


def release_state(df: DataFrame) -> None:
    """Free a superseded state's cached blocks NOW, not at the next driver
    GC. ``DataFrame.unpersist`` only covers CacheManager entries; a
    localCheckpoint's blocks belong to the underlying RDD inside the
    LogicalRDD plan node and are otherwise reclaimed only after the driver
    GCs the RDD handle (ContextCleaner) — measured ~20 GB of dead state
    blocks after 14 supersteps without this. Best-effort: py4j reflection
    into the analyzed plan; any failure falls back to the periodic-GC
    cleaner (session.py pins spark.cleaner.periodicGC.interval=30s)."""
    try:
        df.unpersist()
    except Exception:
        pass
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(False)
    except Exception:
        pass


SMALL_EDGES_PER_PARTITION = 75_000
LARGE_EDGES_PER_PARTITION = 4_000_000
MAX_PARTITIONS = 1_000_000


def choose_num_partitions(spark, num_edges: int) -> int:
    """X-Stream's streaming-partition autotuner, as a formula ([X13] §4).

    Three regimes, measured on this host (32 cores):
    - overhead-bound (small graphs): ~75k edges/partition — fewer, fatter
      tasks beat per-task scheduling overhead (p=8 ran ~2x faster than
      p=32 on a 600k-edge graph); floor of 4 so nothing serializes.
    - throughput-bound: never more than 4 waves of the cluster
      (4 x defaultParallelism tasks per superstep stage).
    - memory-bound (huge graphs): the 4-wave cap is OVERRIDDEN so no
      partition exceeds ~4M edges (~100 MB shuffled) — partitions then
      queue over executors exactly like X-Stream streams partitions;
      at 10^12 edges on a 1000-executor cluster this regime binds.
    """
    par = spark.sparkContext.defaultParallelism
    p_small = math.ceil(num_edges / SMALL_EDGES_PER_PARTITION)
    p_mem = math.ceil(num_edges / LARGE_EDGES_PER_PARTITION)
    return max(4, min(p_small, par * 4), min(p_mem, MAX_PARTITIONS))


@contextmanager
def superstep_conf(spark, num_partitions: int, adaptive: bool | None = None):
    """Scoped engine tuning for an iterative run (restored on exit).

    - ``spark.sql.shuffle.partitions = num_partitions`` so the message
      shuffle (groupBy) and the static edge layout agree — exchange reuse
      instead of re-shuffling the constant edge table every superstep.
    - AQE off for small runs: per-stage re-planning costs the driver more
      than it saves when supersteps are sub-second (measured ~2x); on for
      large runs (skew-join splitting = Chaos's work stealing, [C15] §3.2).
    - env CHAOS_AQE={on,off} overrides the heuristic — the two-parallelism
      scaling protocol needs BOTH legs on the identical setting (round 2:
      the heuristic flipped AQE on at local[8] but off at local[32] for
      the same job, a protocol asymmetry).
    """
    if adaptive is None:
        env = _os.environ.get("CHAOS_AQE", "").lower()
        if env in ("on", "off"):
            adaptive = env == "on"
        else:
            adaptive = num_partitions > spark.sparkContext.defaultParallelism * 4
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    old_shuffle = spark.conf.get("spark.sql.shuffle.partitions", "200")
    spark.conf.set("spark.sql.adaptive.enabled", str(adaptive).lower())
    spark.conf.set("spark.sql.shuffle.partitions", str(num_partitions))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)
        spark.conf.set("spark.sql.shuffle.partitions", old_shuffle)


def _host_cpu_jiffies() -> tuple[int, int] | None:
    """(steal, total) jiffies from /proc/stat — per-superstep host-noise
    attribution for the metrics trail. The shared-VM hosts this engine is
    benchmarked on throttle sustained load at the hypervisor (visible as
    'steal'); recording it per superstep lets a scaling report separate
    engine seconds from stolen seconds. Returns None off-Linux."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        vals = [int(x) for x in parts[1:]]
        steal = vals[7] if len(vals) > 7 else 0
        return steal, sum(vals)
    except (OSError, ValueError, IndexError):
        return None


@dataclass
class RunResult:
    state: DataFrame
    supersteps: int
    converged: bool
    history: list[dict[str, Any]] = field(default_factory=list)

    @property
    def total_seconds(self) -> float:
        return sum(h["seconds"] for h in self.history)


class _EphemeralReset:
    """Ping-pong parquet dirs used to hard-reset lineage AND Catalyst
    statistics every few supersteps.

    Why: ``localCheckpoint`` truncates the logical plan but PROPAGATES the
    plan's estimated ``sizeInBytes`` into the LogicalRDD. An algorithm
    whose superstep references the state k >= 2 times multiplicatively
    (e.g. belief propagation: total-product join + reverse-message join +
    delta join) therefore grows the sizeInBytes BigInt by a factor of k
    PER SUPERSTEP — after ~25 supersteps Catalyst spends minutes doing
    million-digit BigInteger multiplications inside stats estimation
    (measured: BP digits 3 -> 1490 in 6 supersteps). A parquet round-trip
    resets stats to the REAL on-disk size. Two alternating dirs because
    the in-flight lazy state may still reference the previously-written
    files."""

    def __init__(self) -> None:
        import tempfile

        self.base = tempfile.mkdtemp(prefix="chaos_state_reset_")
        self.flip = 0

    def reset(self, df: DataFrame) -> DataFrame:
        import os

        path = os.path.join(self.base, f"pp{self.flip}")
        self.flip = 1 - self.flip
        df.write.mode("overwrite").parquet(path)
        return df.sparkSession.read.parquet(path)

    def cleanup(self) -> None:
        import shutil

        shutil.rmtree(self.base, ignore_errors=True)


def run_supersteps(
    state: DataFrame,
    step_fn: StepFn,
    max_iters: int,
    checkpointer: CheckpointManager | None = None,
    checkpoint_every: int = 5,
    start_superstep: int = 0,
    realign: Callable[[DataFrame], DataFrame] | None = None,
) -> RunResult:
    """Drive ``step_fn`` to convergence or ``max_iters``.

    ``state`` must already be materialized (cached/checkpointed) by the
    caller for superstep ``start_superstep``. Every ``checkpoint_every``
    supersteps the state goes through a durable write+read (the configured
    checkpointer's table, else an ephemeral temp dir) — this is both the
    resume point and the lineage/statistics barrier (see _EphemeralReset).

    ``realign``: applied to the state after any durable write+read. A
    parquet round trip destroys physical partitioning; algorithms whose
    step contract depends on it (the CSR disk-block path routes state to
    per-partition edge blocks by partition INDEX) pass e.g.
    ``lambda df: df.repartition(p, F.col("id"))`` here.

    A step may advance several supersteps: ``step_fn`` then returns a
    LIST of per-superstep stats, each optionally carrying the
    ``seconds`` it measured itself. The batch must stop at the next
    checkpoint boundary or ``max_iters`` at the latest, and only its last
    entry may read converged. ``history`` keeps one entry per superstep;
    the part of the step's wall time the entries did not measure is
    spread evenly over them, so a batch's entries sum to its wall time.
    """
    history: list[dict[str, Any]] = []
    converged = False
    superstep = start_superstep
    prev: DataFrame | None = None
    ephemeral: _EphemeralReset | None = None
    try:
        while superstep < max_iters:
            cpu0 = _host_cpu_jiffies()
            t0 = time.time()
            new_state, out = step_fn(state, superstep)
            seconds = time.time() - t0
            cpu1 = _host_cpu_jiffies()
            batch = [dict(s) for s in (out if isinstance(out, list) else [out])]
            boundary = (superstep // checkpoint_every + 1) * checkpoint_every
            if superstep + len(batch) > min(max_iters, boundary) or any(
                s.get("converged", False) for s in batch[:-1]
            ):
                raise RuntimeError(
                    f"a step from superstep {superstep} returned {len(batch)} "
                    f"supersteps: it crosses superstep {min(max_iters, boundary)} "
                    "or continues past convergence"
                )
            rest = (seconds - sum(s.get("seconds", 0.0) for s in batch)) / len(batch)
            steal = {}
            if cpu0 is not None and cpu1 is not None and cpu1[1] > cpu0[1]:
                steal["steal_frac"] = round(
                    (cpu1[0] - cpu0[0]) / (cpu1[1] - cpu0[1]), 4
                )
            for stats in batch:
                superstep += 1
                stats.update(
                    superstep=superstep,
                    seconds=round(stats.get("seconds", 0.0) + rest, 4),
                    **steal,
                )
            history.extend(batch)
            stats = batch[-1]
            converged = bool(stats.get("converged", False))
            if not converged and superstep % checkpoint_every == 0:
                written = new_state
                if checkpointer:
                    checkpointer.save(written, superstep, metrics=stats)
                    new_state = checkpointer.load(
                        written.sparkSession, checkpointer.latest()
                    )
                else:
                    if ephemeral is None:
                        ephemeral = _EphemeralReset()
                    new_state = ephemeral.reset(written)
                if realign is not None:
                    new_state = realign(new_state)
                new_state = new_state.persist()
                # The written-out state is superseded by its durable copy;
                # free its cached blocks now (it never becomes `prev`).
                release_state(written)
            elif converged and checkpointer:
                checkpointer.save(new_state, superstep, metrics=stats)
            # Release the state superseded two steps ago (the new state's
            # plan may still read the immediately-previous cache).
            if prev is not None:
                release_state(prev)
            prev, state = state, new_state
            if converged:
                break
        return RunResult(
            state=state, supersteps=superstep, converged=converged, history=history
        )
    finally:
        # NOTE: ephemeral dirs must outlive the returned state's laziness;
        # materialize the final state before cleanup.
        if ephemeral is not None:
            state.persist()
            state.count()
            ephemeral.cleanup()


def resume_or_init(
    spark,
    checkpointer: CheckpointManager | None,
    init_fn: Callable[[], DataFrame],
) -> tuple[DataFrame, int]:
    """Return (state, start_superstep): last complete checkpoint if one
    matches the config, else a fresh init at superstep 0."""
    if checkpointer is not None:
        manifest = checkpointer.latest()
        if manifest is not None:
            return checkpointer.load(spark, manifest), int(manifest["superstep"])
    return init_fn(), 0
