#!/usr/bin/env python3
"""Benchmark entry point: run one workload in a fresh worker process and
print one JSON result line.

    python3 perfbench/run.py --workload import_graph --seed 1 --seconds 20 --trace 0

Run from the repository root. Each worker gets its own empty block,
checkpoint, temp and Spark local directories under ``.perfbench_work/``,
deleted afterwards; the full record (host hygiene, routes, checks, spans)
is kept in ``.perfbench_work/records/``. With ``--trace 0`` the result
holds every end-to-end metric of ``BENCHMARK.json``, with ``--trace 1``
every per-layer metric. ``perfbench/README.md`` describes the workloads
and what each metric measures.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import signal
import statistics
import shutil
import subprocess
import sys
import time

import host

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
TIMEOUT_S = 170
SAMPLE_S = 0.25
DRIVER_MEMORY = "3g"


def _reap(pgid: int) -> None:
    """Stop every process of the worker's group and wait until none is left."""
    for sig, wait_s in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        if not host.group_pids(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.time() + wait_s
        while host.group_pids(pgid) and time.time() < deadline:
            time.sleep(0.1)


def _code_fingerprint() -> str:
    """sha256 of the benchmark and engine sources: records written by other
    code are not compared with this run's."""
    h = hashlib.sha256()
    paths = glob.glob(os.path.join(HERE, "*.py")) + glob.glob(
        os.path.join(ROOT, "chaos_spark", "**", "*.py"), recursive=True
    )
    for path in sorted(paths):
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _untraced_totals(workload: str, fingerprint: str) -> list[float]:
    totals = []
    for path in glob.glob(os.path.join(WORK, "records", f"{workload}-*-t0.json")):
        with open(path) as f:
            rec = json.load(f)
        if rec.get("fingerprint") == fingerprint and rec["end_to_end"]:
            totals.append(rec["end_to_end"]["total_s"])
    return totals


def _spawn_worker(args, run_dir: str, out: str) -> tuple[int, int]:
    """Run the worker to completion; returns (exit code, peak RSS bytes of
    its process group: the worker, the driver JVM and Python workers)."""
    env = {k: v for k, v in os.environ.items() if not k.startswith("CHAOS_")}
    tmp = os.path.join(run_dir, "tmp")
    env.update({
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, env.get("PYTHONPATH")])),
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "CHAOS_CSR_BLOCK_DIR": os.path.join(run_dir, "blocks"),
        "CHAOS_SPARK_DRIVER_MEM": DRIVER_MEMORY,
        "PYSPARK_PYTHON": sys.executable,
    })
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed), "--trace", str(args.trace),
        "--run-dir", run_dir, "--out", out, "--spawned-at", repr(time.time()),
    ]
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=sys.stderr,
                            start_new_session=True)
    peak = 0
    deadline = time.time() + TIMEOUT_S
    try:
        while proc.poll() is None and time.time() < deadline:
            peak = max(peak, host.group_rss_bytes(proc.pid))
            time.sleep(SAMPLE_S)
    finally:
        _reap(proc.pid)
        proc.wait()
    return proc.returncode, peak


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True,
                    help="unused: a run times one pass of the call sequence")
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "chaos_spark")):
        print("perfbench: no chaos_spark package next to perfbench/", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    hygiene = host.hygiene()
    fingerprint = _code_fingerprint()
    stamp = f"{args.workload}-s{args.seed}-{os.getpid()}-{int(time.time())}-t{args.trace}"
    run_dir = os.path.join(WORK, "runs", stamp)
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.makedirs(os.path.join(run_dir, "eventlog"))
    out = os.path.join(run_dir, "record.json")
    try:
        code, peak = _spawn_worker(args, run_dir, out)
        if code != 0 or not os.path.exists(out):
            print(f"perfbench: worker failed with exit code {code}", file=sys.stderr)
            return 1
        with open(out) as f:
            record = json.load(f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    record.update(host=hygiene, fingerprint=fingerprint, peak_rss_mb=peak / 2**20)

    checks = record["checks"]
    failed = sum(1 for c in checks if not c["ok"])
    for c in checks:
        if not c["ok"]:
            print(f"perfbench: check failed: {c['name']} {c['detail']}", file=sys.stderr)

    if args.trace:
        values = dict(record["layers"])
        values.update({f"host.{k}": v for k, v in hygiene.items()})
        values["peak_rss_mb"] = record["peak_rss_mb"]
        # Untraced runs of the same code in this checkout; none yet reads 0.
        baseline = _untraced_totals(args.workload, fingerprint)
        values["trace.baseline_runs"] = len(baseline)
        values["trace.overhead_s"] = (
            record["end_to_end"]["total_s"] - statistics.median(baseline)
            if baseline and record["end_to_end"] else 0.0
        )
        wanted = spec["per_layer"]
    else:
        values = dict(record["end_to_end"])
        values["setup_s"] = record["setup_s"]
        wanted = spec["end_to_end"]
    # A run whose sequence raised has no figures; it reports zeros.
    ran = bool(record["end_to_end"])
    metrics = {m["name"]: {"value": float(values[m["name"]] if ran else 0.0), "unit": m["unit"]}
               for m in wanted}
    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    with open(os.path.join(WORK, "records", f"{stamp}.json"), "w") as f:
        json.dump(dict(record, metrics=metrics), f, indent=1)
    print(json.dumps({
        "correct": failed == 0 and ran,
        "attempted": max(1, len(checks)),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
