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


def one_point(num_edges: int, supersteps: int, reps: int, cpus: int) -> dict:
    import numpy as np

    from chaos_spark.csr import CsrGraph
    from chaos_spark.generators import rmat_edges_numpy
    from chaos_spark.session import get_spark
    from chaos_spark.stream import pagerank_stream

    scale = max(10, math.ceil(math.log2(num_edges / 16)))
    tmp = tempfile.mkdtemp(prefix="stream_batch_sweep_")
    path = os.path.join(tmp, "edges.parquet")
    rmat_edges_numpy(scale, num_edges, seed=7).to_parquet(path, index=False)
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


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--edges", default=DEFAULT_EDGES)
    ap.add_argument("--supersteps", type=int, default=20)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--cpus", type=int, default=os.cpu_count())
    ap.add_argument("--one", type=int, help="run one point in this process")
    ap.add_argument("--out", default=os.path.join(ROOT, "BENCH", "stream_batch_sweep.json"))
    args = ap.parse_args()

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
