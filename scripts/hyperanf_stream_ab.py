"""A/B: HyperANF through the grouped-map join path (algos.hyperanf,
mode="join") vs the fused register-max stream path
(stream_algos.hyperanf_stream), on the persisted RMAT bench graph.

Same protocol as scripts/sssp_stream_ab.py: fixed supersteps, a pinned
undirected block layout built OUTSIDE the timed window for the stream
legs, a warm leg per path excluded from the timed window, and an exact
value check between the two paths after the same fixed k — the nf
curves must be bit-identical (register max is order-free and idempotent;
`nf IS DISTINCT FROM nf` over a full join must count 0).

HyperANF is the fattest per-superstep payload in the suite: the join
path shuffles one 64-byte sketch per (symmetrized) edge per superstep
(~8 GB at 64M edges), where the stream path's in-block
`maximum.reduceat` publishes one sketch per DISTINCT in-block dst —
this A/B measures exactly that compression.

Usage: python scripts/hyperanf_stream_ab.py [--scale 22]
       [--edges 64000000] [--cpus 8] [--iters 3]
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
    ap.add_argument("--shuffle", type=int, default=32)
    args = ap.parse_args()

    os.environ.setdefault("CHAOS_AQE", "off")
    os.environ.setdefault("CHAOS_PERIODIC_GC", "10min")
    path = _ensure_bench_graph(args.scale, args.edges)
    spark = _session(args.cpus, shuffle=args.shuffle)

    edges = spark.read.parquet(path)

    from chaos_spark.algos.hyperanf import hyper_anf
    from chaos_spark.stream_algos import _HllMaxANF, hyperanf_stream

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
        }
        return res

    no_ckpt = args.iters + 1
    g = _HllMaxANF().prep_graph(
        spark, edges, args.shuffle, f"ab-anf-{path}-{args.shuffle}")
    timed("anf_stream_warm", lambda: hyperanf_stream(
        spark, edges, max_iters=1, checkpoint_every=no_ckpt, graph=g))
    b = timed("anf_stream", lambda: hyperanf_stream(
        spark, edges, max_iters=args.iters, checkpoint_every=no_ckpt,
        graph=g))
    timed("anf_join_warm", lambda: hyper_anf(
        spark, edges, max_iters=1, num_partitions=args.shuffle,
        mode="join"))
    a = timed("anf_join", lambda: hyper_anf(
        spark, edges, max_iters=args.iters, num_partitions=args.shuffle,
        mode="join"))
    out["runs"]["nf_diff"] = (
        a.state.withColumnRenamed("nf", "na")
        .join(b.state.withColumnRenamed("nf", "nb"), "id", "full")
        .where("na IS DISTINCT FROM nb").count()
    )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
