"""A/B: BFS-parity bipartiteness through the join path (algos.bipartite,
mode="join") vs the fused lexmin stream path
(stream_algos.bipartite_stream), on the persisted RMAT bench graph.

Same protocol as scripts/kcore_stream_ab.py: fixed supersteps, a pinned
plain-undirected block layout built OUTSIDE the timed window (the
CC/LPA/HyperANF/MIS flavor — self-loops are min-noops for this kernel),
a warm leg per path excluded from the timed window, and an exact value
check over the full (root, dist, color) triple plus the odd-edge count
(two-word lexmin ≡ struct lexmin — no tolerance).

Usage: python scripts/bipartite_stream_ab.py [--scale 22]
       [--edges 64000000] [--cpus 8] [--iters 4]
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
    ap.add_argument("--iters", type=int, default=4)
    ap.add_argument("--shuffle", type=int, default=32)
    args = ap.parse_args()

    os.environ.setdefault("CHAOS_AQE", "off")
    os.environ.setdefault("CHAOS_PERIODIC_GC", "10min")
    path = _ensure_bench_graph(args.scale, args.edges)
    spark = _session(args.cpus, shuffle=args.shuffle)

    edges = spark.read.parquet(path)

    from chaos_spark.algos.bipartite import bipartite_check
    from chaos_spark.stream_algos import _ParityBFS, bipartite_stream

    out = {
        "graph": {"scale": args.scale, "edges": args.edges},
        "cpus": args.cpus, "iters": args.iters, "runs": {},
    }

    def timed(name, fn):
        t0 = time.time()
        res = fn()
        wall = time.time() - t0
        out["runs"][name] = {
            "wall_sec": round(wall, 2),
            "supersteps": res.supersteps,
            "per_superstep_sec": [h["seconds"] for h in res.history],
            "odd_edges": res.history[-1]["odd_edges"],
        }
        return res

    no_ckpt = args.iters + 1
    g = _ParityBFS().prep_graph(
        spark, edges, args.shuffle, f"ab-bip-{path}-{args.shuffle}")
    timed("bipartite_stream_warm", lambda: bipartite_stream(
        spark, edges, max_iters=1, checkpoint_every=no_ckpt, graph=g))
    b = timed("bipartite_stream", lambda: bipartite_stream(
        spark, edges, max_iters=args.iters, checkpoint_every=no_ckpt,
        graph=g))
    timed("bipartite_join_warm", lambda: bipartite_check(
        spark, edges, max_iters=1, num_partitions=args.shuffle,
        mode="join"))
    a = timed("bipartite_join", lambda: bipartite_check(
        spark, edges, max_iters=args.iters, num_partitions=args.shuffle,
        mode="join"))
    out["runs"]["state_diff"] = (
        a.state.selectExpr("id", "root ra", "dist da", "color ca")
        .join(
            b.state.selectExpr("id", "root rb", "dist db", "color cb"),
            "id", "full",
        )
        .where(
            "ra IS DISTINCT FROM rb OR da IS DISTINCT FROM db "
            "OR ca IS DISTINCT FROM cb"
        ).count()
    )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
