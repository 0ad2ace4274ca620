"""A/B: deterministic Luby MIS through the join path (algos.mis,
mode="join") vs the fused two-phase stream path
(stream_algos.mis_stream), on the persisted RMAT bench graph.

Same protocol as scripts/kcore_stream_ab.py: fixed ROUNDS (the stream
path runs 2 supersteps per round — budgets are matched, walls compared
round-for-round), a pinned plain-undirected block layout built OUTSIDE
the timed window (the same flavor CC/LPA/HyperANF share; self-loops
masked in-kernel), a warm leg per path excluded from the timed window,
and an exact value check (`in_set IS DISTINCT FROM in_set` full-join
count must be 0 — identical deterministic hash priorities on both
paths).

Usage: python scripts/mis_stream_ab.py [--scale 22] [--edges 64000000]
       [--cpus 8] [--rounds 2]
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
    ap.add_argument("--rounds", type=int, default=2)
    ap.add_argument("--shuffle", type=int, default=32)
    args = ap.parse_args()

    os.environ.setdefault("CHAOS_AQE", "off")
    os.environ.setdefault("CHAOS_PERIODIC_GC", "10min")
    path = _ensure_bench_graph(args.scale, args.edges)
    spark = _session(args.cpus, shuffle=args.shuffle)

    edges = spark.read.parquet(path)

    from chaos_spark.algos.mis import maximal_independent_set
    from chaos_spark.stream_algos import _LubyMIS, mis_stream

    out = {
        "graph": {"scale": args.scale, "edges": args.edges},
        "cpus": args.cpus, "rounds": args.rounds, "runs": {},
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

    g = _LubyMIS().prep_graph(
        spark, edges, args.shuffle, f"ab-mis-{path}-{args.shuffle}")
    no_ckpt = 2 * args.rounds + 1
    timed("mis_stream_warm", lambda: mis_stream(
        spark, edges, max_iters=2, checkpoint_every=no_ckpt, graph=g))
    b = timed("mis_stream", lambda: mis_stream(
        spark, edges, max_iters=2 * args.rounds, checkpoint_every=no_ckpt,
        graph=g))
    timed("mis_join_warm", lambda: maximal_independent_set(
        spark, edges, max_iters=1, num_partitions=args.shuffle,
        mode="join"))
    a = timed("mis_join", lambda: maximal_independent_set(
        spark, edges, max_iters=args.rounds, num_partitions=args.shuffle,
        mode="join"))
    out["runs"]["in_set_diff"] = (
        a.state.withColumnRenamed("in_set", "sa")
        .join(b.state.withColumnRenamed("in_set", "sb"), "id", "full")
        .where("sa IS DISTINCT FROM sb").count()
    )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
