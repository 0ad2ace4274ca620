"""Sweep: where does one task per checkpoint interval stop beating one
Spark job per superstep?

PageRank over ``generators.rmat_edges_numpy`` graphs (average degree
~16) at a fixed superstep count (``tol=0``), over blocks built once per
point outside the timed window. Each point runs in a fresh process and
times the two shapes of ``stream._stream_loop`` interleaved, ``--reps``
times each, keeping the min:

- ``one_task``: ``state_partitions=1`` — one task runs every superstep
  of the run, one Spark job;
- ``per_superstep``: ``state_partitions=g.p`` — one job per superstep,
  one task per block.

The two shapes must also return bit-identical ranks (checked per point).
The result, with the host's core count and load, is written to
``BENCH/stream_batch_sweep.json``; ``csr.STREAM_ONE_TASK_MAX_EDGES`` is
set from it.

Usage: python scripts/stream_batch_sweep.py [--edges 100000,300000,...]
       [--supersteps 20] [--reps 3] [--cpus 4]
An existing ``--out`` record is extended: its points at other sizes stay.

``--leg build`` times the cold block build instead (``CsrGraph`` on a
fresh Spark application, so its Python workers are forked inside the
timed window) in its two shapes, each forced by setting
``csr.BUILD_ONE_TASK_MAX_EDGES`` around the graph: ``one_task`` (both
passes in one task) and ``p_task`` (one edge-pass task per block, then
the apply pass), over a persisted edge frame. Two more shapes read
the parquet file unpersisted, so the build's one task also runs the
scan: ``one_task_parquet`` (the build's ``coalesce(1)``) and
``one_task_parquet_repartition`` (``repartition(1)`` in its place).
Every cold build runs in its own process, shapes interleaved, ``--reps``
rounds, min kept; the record also holds the build's Spark job count,
the peak RSS of its Python workers (sampled after the cold build), and
``warm_s``: the same build repeated in that process, its workers alive. Written to
``BENCH/cold_build_sweep.json`` (extended like the superstep record);
``csr.BUILD_ONE_TASK_MAX_EDGES`` is set from it.

``--leg route`` times each ``mode="auto"`` dispatcher's two paths
against each other: BFS (root 0), k-core (k=8), MIS, bipartiteness, SCC
and CC, each pinned to ``mode="join"`` or ``mode="stream"`` and run to
convergence in its own fresh process, over a persisted, counted edge
frame, with the result's state rows counted inside the timed window.
``cold_s`` is the process's first call; ``warm_s`` a second call on a
second, fresh graph of the same size in the same process (the JVM and
its Python workers warm, the second graph's blocks still built cold).
Every process gets a fresh block dir. Processes run interleaved, the
path order alternating per round, ``--reps`` rounds, min kept; the
record also says whether both paths returned the same state rows.
Written to ``BENCH/route_sweep.json`` (extended like the others);
``csr.STREAM_AUTO_MIN_EDGES`` routes the first five from it.

Run it on an otherwise idle host (never next to pytest or a benchmark).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

DEFAULT_EDGES = "100000,300000,1000000,3000000,8000000,16000000"
BUILD_EDGES = "130000,1000000,4000000,16000000"
BUILD_SHAPES = ("one_task", "p_task", "one_task_parquet",
                "one_task_parquet_repartition")
ROUTE_EDGES = "30000,100000,1000000"
ROUTE_ALGOS = ("bfs", "kcores", "mis", "bipartite", "scc", "cc")


def one_point(num_edges: int, supersteps: int, reps: int, cpus: int) -> dict:
    import numpy as np

    from chaos_spark.csr import CsrGraph
    from chaos_spark.session import get_spark
    from chaos_spark.stream import pagerank_stream

    tmp = tempfile.mkdtemp(prefix="stream_batch_sweep_")
    path = os.path.join(tmp, "edges.parquet")
    scale = _rmat_parquet(num_edges, path)
    spark = get_spark("stream-batch-sweep", master=f"local[{cpus}]")
    edges = spark.read.parquet(path)
    t0 = time.time()
    g = CsrGraph(spark, edges, num_edges=num_edges, token=f"sweep-{num_edges}")
    build_s = time.time() - t0
    shapes = {"one_task": 1, "per_superstep": g.p}
    walls: dict[str, list[float]] = {k: [] for k in shapes}
    ranks = {}
    try:
        # One untimed run per shape warms the Python workers' block caches.
        for shape, sp in [*shapes.items()] * (reps + 1):
            t0 = time.time()
            res = pagerank_stream(
                spark, edges, tol=0.0, max_iters=supersteps, graph=g,
                state_partitions=sp,
            )
            wall = time.time() - t0
            assert res.supersteps == supersteps
            if shape not in ranks:
                pdf = res.state.toPandas().sort_values("id")
                ranks[shape] = pdf["rank"].to_numpy()
            else:
                walls[shape].append(round(wall, 3))
    finally:
        spark.stop()
        shutil.rmtree(g.block_dir, ignore_errors=True)
        shutil.rmtree(tmp, ignore_errors=True)
    return {
        "edges_raw": num_edges,
        "edges_dedup": g.num_edges,
        "vertices": g.num_vertices,
        "scale": scale,
        "p": g.p,
        "build_s": round(build_s, 2),
        "wall_s": walls,
        "min_s": {k: min(v) for k, v in walls.items()},
        "identical": bool(np.array_equal(ranks["one_task"], ranks["per_superstep"])),
    }


def _rmat_parquet(num_edges: int, path: str, seed: int = 7) -> int:
    from chaos_spark.generators import rmat_edges_numpy

    scale = max(10, math.ceil(math.log2(num_edges / 16)))
    rmat_edges_numpy(scale, num_edges, seed=seed).to_parquet(path, index=False)
    return scale


def _python_worker_peak_rss_mb() -> float:
    """Largest peak RSS (VmHWM) among the pyspark daemon processes this
    process started: the daemon and the Python workers it forked."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            kids.setdefault(ppid, []).append(int(d))
    todo, peak = [os.getpid()], 0
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                if b"pyspark.daemon" not in f.read():
                    continue
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        peak = max(peak, int(line.split()[1]))
        except OSError:
            continue
    return round(peak / 1024, 1)


def one_build(num_edges: int, shape: str, path: str, cpus: int) -> dict:
    from pyspark.sql import DataFrame

    from chaos_spark import csr
    from chaos_spark.session import get_spark

    spark = get_spark("cold-build-sweep", master=f"local[{cpus}]")
    sc = spark.sparkContext
    edges = spark.read.parquet(path)
    if shape in ("one_task", "p_task"):
        edges = edges.persist()
        edges.count()
    csr.BUILD_ONE_TASK_MAX_EDGES = num_edges - (shape == "p_task")
    if shape == "one_task_parquet_repartition":
        # The one-task build's only coalesce(1) call becomes a shuffle.
        DataFrame.coalesce = DataFrame.repartition
    sc.setJobGroup("build", "build")
    t0 = time.time()
    g = csr.CsrGraph(spark, edges, num_edges=num_edges)
    build_s = time.time() - t0
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = len(sc.statusTracker().getJobIdsForGroup("build"))
    rss = _python_worker_peak_rss_mb()
    g.unpersist()
    # The same build again in this process: its Python workers exist.
    t0 = time.time()
    csr.CsrGraph(spark, edges, num_edges=num_edges).unpersist()
    warm_s = time.time() - t0
    spark.stop()
    return {"build_s": round(build_s, 3), "warm_s": round(warm_s, 3), "jobs": jobs,
            "python_worker_peak_rss_mb": rss, "p": g.p,
            "edges_dedup": g.num_edges, "fp": g.edge_fp}


def build_leg(args) -> None:
    load0 = os.getloadavg()[0]
    out = args.out or os.path.join(ROOT, "BENCH", "cold_build_sweep.json")
    sizes = [int(x) for x in args.edges.split(",")]
    points = []
    if os.path.exists(out):  # extend: points at other sizes stay
        with open(out) as f:
            points = [pt for pt in json.load(f)["points"] if pt["edges_raw"] not in sizes]
    for n in sizes:
        tmp = tempfile.mkdtemp(prefix="cold_build_sweep_")
        try:
            path = os.path.join(tmp, "edges.parquet")
            scale = _rmat_parquet(n, path)
            runs: dict[str, list[dict]] = {k: [] for k in BUILD_SHAPES}
            for _ in range(args.reps):
                for shape in BUILD_SHAPES:
                    env = dict(os.environ, CHAOS_CSR_BLOCK_DIR=os.path.join(tmp, "blocks"))
                    proc = subprocess.run(
                        [sys.executable, os.path.abspath(__file__), "--one-build",
                         str(n), "--shape", shape, "--parquet", path,
                         "--cpus", str(args.cpus)],
                        capture_output=True, text=True, env=env,
                    )
                    line = [ln for ln in proc.stdout.splitlines() if ln.startswith("BUILD ")]
                    if proc.returncode != 0 or not line:
                        sys.exit(f"point {n} {shape} failed:\n{proc.stderr[-3000:]}")
                    runs[shape].append(json.loads(line[-1][len("BUILD "):]))
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        fps = {r["fp"] for rs in runs.values() for r in rs}
        first = runs["one_task"][0]
        pt = {
            "edges_raw": n, "edges_dedup": first["edges_dedup"], "scale": scale,
            "p": first["p"], "same_fingerprint": len(fps) == 1,
            "build_s": {k: [r["build_s"] for r in rs] for k, rs in runs.items()},
            "min_s": {k: min(r["build_s"] for r in rs) for k, rs in runs.items()},
            "warm_min_s": {k: min(r["warm_s"] for r in rs) for k, rs in runs.items()},
            "jobs": {k: rs[0]["jobs"] for k, rs in runs.items()},
            "python_worker_peak_rss_mb": {
                k: max(r["python_worker_peak_rss_mb"] for r in rs) for k, rs in runs.items()
            },
        }
        pt["one_task_over_p_task"] = round(pt["min_s"]["one_task"] / pt["min_s"]["p_task"], 3)
        print(json.dumps(pt), flush=True)
        points.append(pt)
    points.sort(key=lambda pt: pt["edges_raw"])
    record = {
        "what": "cold CsrGraph build, each in a fresh Spark application "
                f"(Python workers forked in the timed window); min of {args.reps} "
                "interleaved rounds; one_task/p_task over a persisted edge "
                "frame, one_task_parquet* over the unpersisted parquet file",
        "cpus": args.cpus,
        "loadavg_before_last_extension": load0,
        "points": points,
    }
    with open(out, "w") as f:
        json.dump(record, f, indent=1)
        f.write("\n")
    print(f"wrote {out}")


def _route_call(algo: str):
    from chaos_spark import algos

    return {
        "bfs": lambda s, e, mode: algos.bfs(s, e, 0, mode=mode),
        "kcores": lambda s, e, mode: algos.k_core(s, e, 8, mode=mode),
        "mis": lambda s, e, mode: algos.maximal_independent_set(s, e, mode=mode),
        "bipartite": lambda s, e, mode: algos.bipartite_check(s, e, mode=mode),
        "scc": lambda s, e, mode: algos.strongly_connected_components(s, e, mode=mode),
        "cc": lambda s, e, mode: algos.connected_components(s, e, mode=mode),
    }[algo]


def one_route(algo: str, path: str, parquets: list[str], cpus: int) -> dict:
    import pandas as pd

    from chaos_spark.session import get_spark

    spark = get_spark("route-sweep", master=f"local[{cpus}]")
    call = _route_call(algo)
    walls, steps, digests = [], [], []
    for pq in parquets:
        edges = spark.read.parquet(pq).persist()
        edges.count()
        t0 = time.time()
        res = call(spark, edges, path)
        res.state.count()
        walls.append(round(time.time() - t0, 3))
        steps.append(res.supersteps)
        pdf = res.state.toPandas().sort_values("id").reset_index(drop=True)
        digests.append(str(int(pd.util.hash_pandas_object(pdf, index=False).sum())))
        edges.unpersist()
    spark.stop()
    return {"cold_s": walls[0], "warm_s": walls[1], "supersteps": steps,
            "digests": digests}


def route_leg(args) -> None:
    import pandas as pd

    load0 = os.getloadavg()[0]
    out = args.out or os.path.join(ROOT, "BENCH", "route_sweep.json")
    sizes = [int(x) for x in args.edges.split(",")]
    points = []
    if os.path.exists(out):  # extend: points at other sizes stay
        with open(out) as f:
            points = [pt for pt in json.load(f)["points"] if pt["edges_raw"] not in sizes]
    for n in sizes:
        tmp = tempfile.mkdtemp(prefix="route_sweep_")
        try:
            paths = [os.path.join(tmp, f"edges{i}.parquet") for i in range(2)]
            scale = [_rmat_parquet(n, pq, seed) for pq, seed in zip(paths, (7, 8))][0]
            dedup = len(pd.read_parquet(paths[0]).drop_duplicates())
            runs = {a: {"join": [], "stream": []} for a in ROUTE_ALGOS}
            for rep in range(args.reps):
                order = ("join", "stream") if rep % 2 == 0 else ("stream", "join")
                for algo in ROUTE_ALGOS:
                    for path in order:
                        bd = os.path.join(tmp, "blocks")
                        env = dict(os.environ, CHAOS_CSR_BLOCK_DIR=bd)
                        proc = subprocess.run(
                            [sys.executable, os.path.abspath(__file__), "--one-route",
                             algo, "--path", path, "--parquet", ",".join(paths),
                             "--cpus", str(args.cpus)],
                            capture_output=True, text=True, env=env,
                        )
                        shutil.rmtree(bd, ignore_errors=True)
                        line = [ln for ln in proc.stdout.splitlines()
                                if ln.startswith("ROUTE ")]
                        if proc.returncode != 0 or not line:
                            sys.exit(f"point {n} {algo} {path} failed:\n"
                                     f"{proc.stderr[-3000:]}")
                        r = json.loads(line[-1][len("ROUTE "):])
                        print(n, rep, algo, path, r["cold_s"], r["warm_s"], flush=True)
                        runs[algo][path].append(r)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        pt = {"edges_raw": n, "edges_dedup": dedup, "scale": scale, "algos": {}}
        for algo, by_path in runs.items():
            a = {}
            for when in ("cold_s", "warm_s"):
                a[when] = {k: [r[when] for r in rs] for k, rs in by_path.items()}
                a[f"min_{when}"] = {k: min(v) for k, v in a[when].items()}
            a["stream_over_join"] = {
                w: round(a[f"min_{w}_s"]["stream"] / a[f"min_{w}_s"]["join"], 3)
                for w in ("cold", "warm")
            }
            a["supersteps"] = {k: rs[0]["supersteps"] for k, rs in by_path.items()}
            a["same_result"] = len({tuple(r["digests"]) for rs in by_path.values()
                                    for r in rs}) == 1
            pt["algos"][algo] = a
        print(json.dumps(pt), flush=True)
        points.append(pt)
        points.sort(key=lambda pt: pt["edges_raw"])
        record = {
            "what": "each mode=auto dispatcher pinned to mode='join' or "
                    "mode='stream', run to convergence in a fresh process over "
                    "a persisted RMAT edge frame; cold_s = the process's first "
                    "call, warm_s = a second fresh graph of the same size in the "
                    f"same process; min of {args.reps} interleaved rounds",
            "calls": {"bfs": "root 0", "kcores": "k=8", "mis": "defaults",
                      "bipartite": "defaults", "scc": "defaults", "cc": "defaults"},
            "cpus": args.cpus,
            "loadavg_before_last_extension": load0,
            "points": points,
        }
        with open(out, "w") as f:
            json.dump(record, f, indent=1)
            f.write("\n")
    print(f"wrote {out}")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--leg", choices=("supersteps", "build", "route"),
                    default="supersteps")
    ap.add_argument("--edges")
    ap.add_argument("--supersteps", type=int, default=20)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--cpus", type=int, default=os.cpu_count())
    ap.add_argument("--one", type=int, help="run one point in this process")
    ap.add_argument("--one-build", type=int, help="run one build in this process")
    ap.add_argument("--shape", choices=BUILD_SHAPES)
    ap.add_argument("--one-route", choices=ROUTE_ALGOS,
                    help="time one dispatcher in this process")
    ap.add_argument("--path", choices=("join", "stream"))
    ap.add_argument("--parquet")
    ap.add_argument("--out")
    args = ap.parse_args()

    if args.one_build:
        out = one_build(args.one_build, args.shape, args.parquet, args.cpus)
        print("BUILD " + json.dumps(out))
        return
    if args.one_route:
        out = one_route(args.one_route, args.path, args.parquet.split(","), args.cpus)
        print("ROUTE " + json.dumps(out))
        return
    if args.leg == "route":
        args.edges = args.edges or ROUTE_EDGES
        route_leg(args)
        return
    if args.leg == "build":
        args.edges = args.edges or BUILD_EDGES
        build_leg(args)
        return
    args.edges = args.edges or DEFAULT_EDGES
    args.out = args.out or os.path.join(ROOT, "BENCH", "stream_batch_sweep.json")
    if args.one:
        print("POINT " + json.dumps(one_point(args.one, args.supersteps, args.reps, args.cpus)))
        return

    load0 = os.getloadavg()[0]
    # Extending an existing record keeps its points at other sizes: each
    # point is a self-contained interleaved A/B.
    points = []
    if os.path.exists(args.out):
        with open(args.out) as f:
            points = json.load(f)["points"]
    sizes = [int(x) for x in args.edges.split(",")]
    points = [pt for pt in points if pt["edges_raw"] not in sizes]
    for n in sizes:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--one", str(n),
             "--supersteps", str(args.supersteps), "--reps", str(args.reps),
             "--cpus", str(args.cpus)],
            capture_output=True, text=True,
        )
        line = [ln for ln in proc.stdout.splitlines() if ln.startswith("POINT ")]
        if proc.returncode != 0 or not line:
            sys.exit(f"point {n} failed:\n{proc.stderr[-3000:]}")
        pt = json.loads(line[-1][len("POINT "):])
        pt["one_task_over_per_superstep"] = round(
            pt["min_s"]["one_task"] / pt["min_s"]["per_superstep"], 3
        )
        print(json.dumps(pt), flush=True)
        points.append(pt)
    points.sort(key=lambda pt: pt["edges_raw"])
    wins = [pt["edges_dedup"] for pt in points if pt["one_task_over_per_superstep"] < 1]
    losses = [pt["edges_dedup"] for pt in points if pt["one_task_over_per_superstep"] >= 1]
    record = {
        "what": "PageRank, fixed supersteps (tol=0), pre-built blocks; min of "
                f"{args.reps} interleaved runs per shape, a fresh process per point",
        "supersteps": args.supersteps,
        "cpus": args.cpus,
        "loadavg_before_last_extension": load0,
        "points": points,
        "largest_one_task_win_edges": max(wins, default=None),
        "smallest_per_superstep_win_edges": min(losses, default=None),
    }
    with open(args.out, "w") as f:
        json.dump(record, f, indent=1)
        f.write("\n")
    print(f"wrote {args.out}")


if __name__ == "__main__":
    main()
