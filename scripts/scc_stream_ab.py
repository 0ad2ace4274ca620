"""A/B: FB-coloring SCC through the join path (algos.scc, mode="join")
vs the fused two-graph stream path (stream_algos.scc_stream), on the
persisted RMAT bench graph.

Same protocol as scripts/mis_stream_ab.py: both paths run to FULL
convergence (SCC has no meaningful fixed-round truncation — per-round
work is data-dependent), pinned block layouts built OUTSIDE the timed
window (the stream path needs TWO sets: directed forward blocks — the
same flavor PageRank builds — plus reversed-edge backward blocks), a
warm leg per path excluded from the timed window, and an exact value
check (`label IS DISTINCT FROM label` full-join count must be 0).

The join path's cost center at scale is the per-round live-subgraph
rebuild (two full-graph joins per peeling round) plus one shuffled
message exchange per color/sweep iteration; the stream path masks dead
vertices in-kernel over immutable blocks. ``--join-edges`` lets the
slow join leg run at a smaller edge count when the full-size run is
impractical (both legs are then reported with their own sizes and the
value check is skipped unless sizes match).

Usage: python scripts/scc_stream_ab.py [--scale 22] [--edges 64000000]
       [--cpus 8] [--paths both|stream|join] [--join-edges N]
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
    ap.add_argument("--shuffle", type=int, default=32)
    ap.add_argument("--paths", choices=["both", "stream", "join"],
                    default="both")
    ap.add_argument("--join-edges", type=int, default=None,
                    help="run the join leg on a smaller graph")
    ap.add_argument("--join-scale", type=int, default=None)
    args = ap.parse_args()

    os.environ.setdefault("CHAOS_AQE", "off")
    os.environ.setdefault("CHAOS_PERIODIC_GC", "10min")
    path = _ensure_bench_graph(args.scale, args.edges)
    spark = _session(args.cpus, shuffle=args.shuffle)
    edges = spark.read.parquet(path)

    from chaos_spark.algos.scc import strongly_connected_components
    from chaos_spark.stream_algos import scc_stream

    out = {
        "graph": {"scale": args.scale, "edges": args.edges},
        "cpus": args.cpus, "runs": {},
    }

    def timed(name, fn):
        t0 = time.time()
        res = fn()
        wall = time.time() - t0
        rec = {
            "wall_sec": round(wall, 2),
            "supersteps": res.supersteps,
            "converged": res.converged,
        }
        secs = [h.get("seconds") for h in res.history if "seconds" in h]
        if secs:
            rec["per_superstep_sec"] = [round(s, 3) for s in secs]
        out["runs"][name] = rec
        return res

    a = b = None
    if args.paths in ("both", "stream"):
        tok = f"ab-scc-{path}-{args.shuffle}"
        no_ckpt = 100_000
        # Warm leg: builds BOTH pinned block sets (fwd + reversed) and
        # runs 2 color supersteps; excluded from the timed window.
        timed("scc_stream_warm", lambda: scc_stream(
            spark, edges, max_iters=2, num_partitions=args.shuffle,
            token=tok, checkpoint_every=no_ckpt))
        b = timed("scc_stream", lambda: scc_stream(
            spark, edges, num_partitions=args.shuffle, token=tok,
            checkpoint_every=no_ckpt))

    if args.paths in ("both", "join"):
        jedges = edges
        if args.join_edges is not None:
            jpath = _ensure_bench_graph(
                args.join_scale or args.scale, args.join_edges)
            jedges = spark.read.parquet(jpath)
            out["join_graph"] = {
                "scale": args.join_scale or args.scale,
                "edges": args.join_edges,
            }
        timed("scc_join_warm", lambda: strongly_connected_components(
            spark, jedges, max_rounds=1, num_partitions=args.shuffle,
            mode="join"))
        a = timed("scc_join", lambda: strongly_connected_components(
            spark, jedges, num_partitions=args.shuffle, mode="join"))

    if a is not None and b is not None and args.join_edges is None:
        out["runs"]["label_diff"] = (
            a.state.withColumnRenamed("label", "la")
            .join(b.state.withColumnRenamed("label", "lb"), "id", "full")
            .where("la IS DISTINCT FROM lb").count()
        )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
