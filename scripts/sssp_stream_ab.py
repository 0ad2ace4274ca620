"""A/B: BFS and weighted SSSP through the frontier join path (algos.bfs)
vs the fused min-plus stream path (stream_algos.sssp_stream), on the
persisted RMAT bench graph.

Protocol (shared with the other scripts/*_stream_ab.py): fixed
supersteps, a pinned directed block layout shared by the warm and timed
stream legs (64M-edge graphs exceed the warm-registry cap, so the token
is pinned explicitly), a 2-superstep warm leg per path excluded from the
timed window, and an exact value check (dist IS DISTINCT FROM dist —
NULLs included) between the two paths after the same fixed k.

Usage: python scripts/sssp_stream_ab.py [--scale 22] [--edges 64000000]
       [--cpus 8] [--iters 5] [--algo bfs|sssp|both]
Writes one JSON line; run it on an idle host (never during a campaign).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import _ensure_bench_graph, _session  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scale", type=int, default=22)
    ap.add_argument("--edges", type=int, default=64_000_000)
    ap.add_argument("--cpus", type=int, default=8)
    ap.add_argument("--iters", type=int, default=5)
    ap.add_argument("--shuffle", type=int, default=32)
    ap.add_argument("--algo", choices=["bfs", "sssp", "both"], default="both")
    args = ap.parse_args()

    os.environ.setdefault("CHAOS_AQE", "off")
    os.environ.setdefault("CHAOS_PERIODIC_GC", "10min")
    path = _ensure_bench_graph(args.scale, args.edges)
    spark = _session(args.cpus, shuffle=args.shuffle)
    from pyspark.sql import functions as F

    edges = spark.read.parquet(path)
    root = 0  # RMAT quadrant bias: vertex 0 is the densest hub

    from chaos_spark.algos.bfs import sssp as sssp_join
    from chaos_spark.stream_algos import sssp_stream

    out = {
        "graph": {"scale": args.scale, "edges": args.edges},
        "cpus": args.cpus, "iters": args.iters, "root": root, "runs": {},
    }

    def timed(name, fn):
        t0 = time.time()
        res = fn()
        wall = time.time() - t0
        out["runs"][name] = {
            "wall_sec": round(wall, 2),
            "supersteps": res.supersteps,
            "per_superstep_sec": [h["seconds"] for h in res.history],
        }
        return res

    def diff_count(a, b):
        return (
            a.state.withColumnRenamed("dist", "da")
            .join(b.state.withColumnRenamed("dist", "db"), "id", "full")
            .where("da IS DISTINCT FROM db").count()
        )

    from chaos_spark.stream_algos import _MinPlusSSSP

    no_ckpt = args.iters + 1
    if args.algo in ("bfs", "both"):
        # One pinned block layout shared by the warm and timed legs,
        # built OUTSIDE every timed window (static preprocessed input,
        # same protocol as bench.py --one).
        g = _MinPlusSSSP(root).prep_graph(
            spark, edges, args.shuffle, f"ab-bfs-{path}-{args.shuffle}")
        timed("bfs_stream_warm", lambda: sssp_stream(
            spark, edges, root, max_iters=2, checkpoint_every=no_ckpt,
            graph=g))
        b = timed("bfs_stream", lambda: sssp_stream(
            spark, edges, root, max_iters=args.iters,
            checkpoint_every=no_ckpt, graph=g))
        timed("bfs_join_warm", lambda: sssp_join(
            spark, edges, root, max_iters=2, checkpoint_every=no_ckpt,
            num_partitions=args.shuffle))
        a = timed("bfs_join", lambda: sssp_join(
            spark, edges, root, max_iters=args.iters,
            checkpoint_every=no_ckpt, num_partitions=args.shuffle))
        out["runs"]["bfs_dist_diff"] = diff_count(a, b)
    if args.algo in ("sssp", "both"):
        we = edges.withColumn(
            "weight",
            (F.lit(1) + F.pmod(F.col("src") + F.col("dst"), F.lit(5)))
            .cast("double"),
        )
        gw = _MinPlusSSSP(root, "weight").prep_graph(
            spark, we, args.shuffle, f"ab-sssp-{path}-{args.shuffle}")
        timed("sssp_stream_warm", lambda: sssp_stream(
            spark, we, root, weight_col="weight", max_iters=2,
            checkpoint_every=no_ckpt, graph=gw))
        b = timed("sssp_stream", lambda: sssp_stream(
            spark, we, root, weight_col="weight", max_iters=args.iters,
            checkpoint_every=no_ckpt, graph=gw))
        timed("sssp_join_warm", lambda: sssp_join(
            spark, we, root, weight_col="weight", max_iters=2,
            checkpoint_every=no_ckpt, num_partitions=args.shuffle))
        a = timed("sssp_join", lambda: sssp_join(
            spark, we, root, weight_col="weight", max_iters=args.iters,
            checkpoint_every=no_ckpt, num_partitions=args.shuffle))
        out["runs"]["sssp_dist_diff"] = diff_count(a, b)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
