"""A/B: k-core peeling through the two-join path (algos.kcores,
mode="join") vs the fused threshold-peel stream path
(stream_algos.kcore_stream), on the persisted RMAT bench graph.

Same protocol as scripts/hyperanf_stream_ab.py: fixed supersteps, a
pinned undirected self-loop-free block layout built OUTSIDE the timed
window for the stream legs, a warm leg per path excluded from the timed
window, and an exact value check (`in_core IS DISTINCT FROM in_core`
full-join count must be 0 — integer degree counts, no tolerance).

Each join-path superstep is TWO shuffle joins (both-endpoints-alive
filter) plus a groupBy over the 128M-row symmetrized edge table; the
stream superstep is one blob pass publishing per-dst alive-degree
counts — this A/B measures that gap.

Usage: python scripts/kcore_stream_ab.py [--scale 22] [--edges 64000000]
       [--cpus 8] [--iters 3] [--k 8]
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
    ap.add_argument("--iters", type=int, default=3)
    ap.add_argument("--k", type=int, default=8)
    ap.add_argument("--shuffle", type=int, default=32)
    args = ap.parse_args()

    os.environ.setdefault("CHAOS_AQE", "off")
    os.environ.setdefault("CHAOS_PERIODIC_GC", "10min")
    path = _ensure_bench_graph(args.scale, args.edges)
    spark = _session(args.cpus, shuffle=args.shuffle)

    edges = spark.read.parquet(path)

    from chaos_spark.algos.kcores import k_core
    from chaos_spark.stream_algos import _KCorePeel, kcore_stream

    out = {
        "graph": {"scale": args.scale, "edges": args.edges},
        "cpus": args.cpus, "iters": args.iters, "k": args.k, "runs": {},
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

    no_ckpt = args.iters + 1
    g = _KCorePeel(args.k).prep_graph(
        spark, edges, args.shuffle, f"ab-kcore-{path}-{args.shuffle}")
    timed("kcore_stream_warm", lambda: kcore_stream(
        spark, edges, args.k, max_iters=1, checkpoint_every=no_ckpt,
        graph=g))
    b = timed("kcore_stream", lambda: kcore_stream(
        spark, edges, args.k, max_iters=args.iters,
        checkpoint_every=no_ckpt, graph=g))
    timed("kcore_join_warm", lambda: k_core(
        spark, edges, args.k, max_iters=1, num_partitions=args.shuffle,
        mode="join"))
    a = timed("kcore_join", lambda: k_core(
        spark, edges, args.k, max_iters=args.iters,
        num_partitions=args.shuffle, mode="join"))
    out["runs"]["in_core_diff"] = (
        a.state.withColumnRenamed("in_core", "ca")
        .join(b.state.withColumnRenamed("in_core", "cb"), "id", "full")
        .where("ca IS DISTINCT FROM cb").count()
    )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
