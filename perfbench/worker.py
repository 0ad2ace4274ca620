"""One benchmark run inside a fresh process; ``run.py`` starts it.

Sets up the session and the seeded inputs, runs the workload's call
sequence once (a second pass in the same JVM would run JIT-warm code and
measure something else), checks every answer against the numpy oracles
outside the timed windows, and with ``--trace 1`` runs the layer probes
and reads Spark's job counts and event log. Writes one JSON record to
``--out``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

import numpy as np

import host
from tracing import Tracer, read_event_log
from workloads import NO_BLOCKS, WORKLOADS

SETUP_REPEATS = 3
FLOOR_REPEATS = 5
CORES = 4


def _du(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def _identity(batches):
    yield from batches


class Context:
    """What a workload's sequence and checks need: the session, the tracer,
    the run's directories, and where call times, routes and checks go."""

    def __init__(self, spark, tracer, run_dir, run_id):
        self.spark = spark
        self.tracer = tracer
        self.run_id = run_id
        self.data_dir = os.path.join(run_dir, "data")
        self.block_dir = os.path.join(run_dir, "blocks")
        self.ckpt_dir = os.path.join(run_dir, "ckpt")
        self.times: dict[str, float] = {}
        self.steal: dict[str, float] = {}  # share of all CPU time the host took
        self.routes: dict[str, str] = {}
        self.builds = 0
        self.checks: list[dict] = []

    def _block_dirs(self) -> dict[str, int]:
        out = {}
        for name in os.listdir(self.block_dir):
            path = os.path.join(self.block_dir, name)
            if os.path.isdir(path):
                out[name] = os.stat(path).st_mtime_ns
        return out

    def call(self, name: str, layer: str, fn, expect: str):
        before = self._block_dirs()
        j0 = host.cpu_jiffies()
        out, seconds = self.tracer.timed(name, layer, fn)
        j1 = host.cpu_jiffies()
        after = self._block_dirs()
        built = [d for d in after if d not in before]
        touched = [d for d in after if d in before and after[d] != before[d]]
        route = "blocks-built" if built else "blocks-adopted" if touched else NO_BLOCKS
        self.times[name] = seconds
        self.steal[name] = (j1[0] - j0[0]) / max(1, j1[1] - j0[1])
        self.routes[name] = route
        self.builds += len(built)
        self.check(f"route.{name}", route == expect, f"{route}, expected {expect}")
        return out

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.checks.append({"name": name, "ok": bool(ok), "detail": detail})


def start_session(run_dir: str, trace: bool):
    from chaos_spark.session import get_spark

    tmp = os.path.join(run_dir, "tmp")
    conf = {
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": (
            f"-XX:+ExplicitGCInvokesConcurrent -Djava.io.tmpdir={tmp}"
        ),
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(run_dir, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        })
    spark = get_spark(
        app_name="perfbench", master=f"local[{CORES}]", shuffle_partitions=CORES,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _median_floor(tracer, name, fn) -> float:
    fn()  # warm-up, untimed
    return statistics.median(
        tracer.timed(name, "session", fn)[1] for _ in range(FLOOR_REPEATS)
    )


def _group_stages(log, spans):
    return [st for s in spans if s.group in log for st in log[s.group].values()]


def check_event_log(ctx, log) -> None:
    """Every span that ran Spark jobs must find its stages in the event log;
    otherwise the log-derived metrics would silently read 0."""
    missing = [s.name for s in ctx.tracer.spans if s.jobs and s.group not in log]
    ctx.check("trace.event_log", not missing, f"spans without logged stages: {missing}")


def layer_metrics(wl, ctx, out, log, probed, blocks) -> dict:
    """Per-layer metrics from the spans, the status tracker, the event log
    and the probe results. A layer the workload does not exercise reads 0."""
    tr = ctx.tracer
    m = dict.fromkeys(
        ["extract.refs_s", "extract.refs_rows", "extract.resolve_s", "extract.edges",
         "extract.unresolved", "csr.build_s", "csr.build_jobs", "csr.adopt_s",
         "csr.adopt_jobs", "csr.p", "csr.vertices", "checkpoint.saves",
         "stream_algos.lpa_s", "stream_algos.cc_s",
         "checkpoint.bytes", "checkpoint.load_s", "triangles.count_s",
         "triangles.shuffle_bytes", "triangles.task_skew"], 0.0)
    m.update({k: v for k, v in probed.items() if not k.startswith("_")})
    last = lambda name: tr.find(name)[-1]  # noqa: E731
    m["extract.jobs"] = len(last("extract").jobs)
    m["csr.builds"] = blocks["builds"]
    m["csr.block_bytes"] = blocks["bytes"]
    if "csr.build_s" in probed:
        m["csr.build_jobs"] = len(last("probe.csr_build").jobs)
        m["csr.adopt_jobs"] = len(last("probe.csr_adopt").jobs)
    if "checkpoint.saves" in probed:
        m["checkpoint.bytes"] = _du(ctx.ckpt_dir)

    stream = dict.fromkeys(
        ["supersteps", "superstep_p50_s", "superstep_p90_s", "iterate_s", "nonloop_s",
         "jobs", "jobs_per_superstep", "tasks"], 0.0)
    res = probed.get("_stream_result")
    if res is not None:
        steps = [h["seconds"] for h in res.history]
        span = last("probe.pagerank_stream")
        stream.update({
            "supersteps": res.supersteps,
            "superstep_p50_s": float(np.percentile(steps, 50)),
            "superstep_p90_s": float(np.percentile(steps, 90)),
            "iterate_s": res.total_seconds,
            "nonloop_s": probed["_stream_wall"] - res.total_seconds,
            "jobs": len(span.jobs),
            "jobs_per_superstep": len(span.jobs) / max(1, res.supersteps),
            "tasks": span.tasks,
        })
    m.update({f"stream.{k}": v for k, v in stream.items()})

    # The engine layer: every iterative call the join path served.
    joined = [n for n, r in ctx.routes.items()
              if r == NO_BLOCKS and hasattr(out.get(n), "history")]
    steps = [h["seconds"] for n in joined for h in out[n].history]
    spans = [last(n) for n in joined]
    m["engine.supersteps"] = len(steps)
    m["engine.superstep_p50_s"] = float(np.percentile(steps, 50)) if steps else 0.0
    m["engine.iterate_s"] = float(sum(steps))
    m["engine.jobs_per_superstep"] = sum(len(s.jobs) for s in spans) / max(1, len(steps))
    m["engine.shuffle_bytes"] = sum(
        st.shuffle_write_bytes for st in _group_stages(log, spans)
    )

    if "triangles" in ctx.times:
        stages = _group_stages(log, [last("triangles")])
        m["triangles.count_s"] = last("triangles").seconds
        m["triangles.shuffle_bytes"] = sum(st.shuffle_write_bytes for st in stages)
        m["triangles.task_skew"] = max(
            (max(st.seconds) / max(statistics.median(st.seconds), 1e-3)
             for st in stages if len(st.seconds) >= 2),
            default=1.0,
        )
    return m


def end_to_end(wl, ctx, out, distinct_edges: int) -> dict:
    """Call times less the CPU share the host stole from this machine
    during each call. On a shared host that share swings from 0 to ~17%
    between runs; removing it roughly halves the run-to-run spread."""
    t = {n: s * (1.0 - ctx.steal[n]) for n, s in ctx.times.items()}
    pagerank_s = sum(t[n] for n in wl.pagerank_calls)
    return {
        "total_s": sum(t.values()),
        "extract_s": t["extract"],
        "pagerank_s": pagerank_s,
        "pagerank_edges_per_s": distinct_edges * wl.supersteps(out) / pagerank_s,
        "pagerank_warm_s": t["pagerank_warm"],
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--spawned-at", type=float, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    trace = bool(args.trace)
    run_id = os.path.basename(args.run_dir)
    wl = WORKLOADS[args.workload]()
    tracer = Tracer(run_id, trace)

    with tracer.span("session.start", "session") as s_start:
        spark = start_session(args.run_dir, trace)
    ready = time.time() - args.spawned_at
    tracer.attach(spark.sparkContext)
    ctx = Context(spark, tracer, args.run_dir, run_id)
    for d in (ctx.data_dir, ctx.block_dir, ctx.ckpt_dir):
        os.makedirs(d, exist_ok=True)
    gen_s = []
    for _ in range(SETUP_REPEATS):
        truth, seconds = tracer.timed("setup.inputs", "setup", lambda: wl.generate(args.seed, ctx.data_dir))
        gen_s.append(seconds)

    out: dict = {}
    e2e: dict = {}
    blocks = {"builds": 0, "bytes": 0}
    try:
        out = wl.sequence(ctx)
        blocks = {"builds": ctx.builds, "bytes": _du(ctx.block_dir)}
        with tracer.span("checks", "check"):
            wl.check(ctx, out, truth)
        e2e = end_to_end(wl, ctx, out, wl.answers(out["edges"])["distinct_edges"])
    except Exception:  # a raising call or check counts as a failed check
        traceback.print_exc()
        ctx.check("raised", False, traceback.format_exc(limit=3))

    layers: dict = {}
    if trace and e2e:
        probed = wl.probe(ctx, out)
        cores = spark.sparkContext.defaultParallelism
        layers["floor.empty_job_s"] = _median_floor(
            tracer, "probe.empty_job", lambda: spark.range(0, 0, 1, 1).count()
        )
        layers["floor.noop_map_s"] = _median_floor(
            tracer, "probe.noop_map",
            lambda: spark.range(0, cores, 1, cores).mapInPandas(_identity, "id long").collect(),
        )
        time.sleep(1.0)  # let the listener bus post the last job events
        tracer.collect_counts()
    tracer.attach(None)
    with tracer.span("session.stop", "session"):
        spark.stop()
    if trace and e2e:
        log = read_event_log(os.path.join(args.run_dir, "eventlog"))
        check_event_log(ctx, log)
        layers.update(layer_metrics(wl, ctx, out, log, probed, blocks))
        layers["session.start_s"] = s_start.seconds
        layers["trace.spans"] = len(tracer.spans)

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": trace,
        "edges": out.get("ne"),
        "setup": {"ready_s": ready, "inputs_s": gen_s},
        "setup_s": ready + statistics.median(gen_s),
        "end_to_end": e2e,
        "layers": layers,
        "routes": ctx.routes,
        "wall": ctx.times,
        "steal": ctx.steal,
        "checks": ctx.checks,
        "spans": tracer.records(),
    }
    with open(args.out, "w") as f:
        json.dump(record, f, indent=1, default=float)
    return 0


if __name__ == "__main__":
    sys.exit(main())
