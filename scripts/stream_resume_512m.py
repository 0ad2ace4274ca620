"""Campaign-scale resume check (r4 verdict item 6): interrupt a 512M-edge
fused-stream PageRank at the superstep-5 checkpoint, resume in the same
pattern a fresh driver would, and compare against the uninterrupted run.

The mechanism is pytest-green at small scale (tests/test_stream.py); this
records the one at-scale datapoint the north rule's resumability claim
deserves. The stream path's folds are fixed-order, so resume must be
BIT-identical (update streams are derived state, regenerated from the
checkpointed blobs by one scatter-only job).

Usage: python scripts/stream_resume_512m.py [--scale 24] [--edges 512000000]
       [--cpus 8] — idle host; writes one JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import _ensure_bench_graph, _session  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scale", type=int, default=24)
    ap.add_argument("--edges", type=int, default=512_000_000)
    ap.add_argument("--cpus", type=int, default=8)
    ap.add_argument("--shuffle", type=int, default=32)
    args = ap.parse_args()

    os.environ.setdefault("CHAOS_AQE", "off")
    os.environ.setdefault("CHAOS_PERIODIC_GC", "10min")
    path = _ensure_bench_graph(args.scale, args.edges)
    spark = _session(args.cpus, shuffle=args.shuffle)
    edges = spark.read.parquet(path)

    from pyspark.sql import functions as F

    from chaos_spark.checkpoint import CheckpointManager
    from chaos_spark.csr import CsrGraph
    from chaos_spark.stream import pagerank_stream

    g = CsrGraph(spark, edges, num_partitions=args.shuffle,
                 token=f"bench-{path}-{args.shuffle}")
    config = {"algo": "pagerank_stream", "graph": f"rmat{args.scale}", "k": 10}
    cp_dir = tempfile.mkdtemp(prefix="chaos_resume512_")
    out = {"graph": {"scale": args.scale, "edges": args.edges},
           "cpus": args.cpus}

    t0 = time.time()
    full = pagerank_stream(spark, edges, tol=0.0, max_iters=10,
                           checkpoint_every=99, graph=g)
    out["full_wall_sec"] = round(time.time() - t0, 2)

    cp1 = CheckpointManager(os.path.join(cp_dir, "cp"), "pagerank_stream", config)
    t0 = time.time()
    part = pagerank_stream(spark, edges, tol=0.0, max_iters=5,
                           checkpointer=cp1, checkpoint_every=5, graph=g)
    out["interrupted_wall_sec"] = round(time.time() - t0, 2)
    assert part.supersteps == 5 and cp1.latest()["superstep"] == 5

    cp2 = CheckpointManager(os.path.join(cp_dir, "cp"), "pagerank_stream", config)
    t0 = time.time()
    res = pagerank_stream(spark, edges, tol=0.0, max_iters=10,
                          checkpointer=cp2, checkpoint_every=5, graph=g)
    out["resumed_wall_sec"] = round(time.time() - t0, 2)
    out["resumed_from"] = 5
    out["resumed_supersteps"] = res.supersteps

    a = full.state.withColumnRenamed("rank", "ra")
    b = res.state.withColumnRenamed("rank", "rb")
    row = a.join(b, "id").agg(
        F.max(F.abs(F.col("ra") - F.col("rb"))).alias("max_abs_diff"),
        F.count(F.lit(1)).alias("n"),
    ).first()
    out["compared_vertices"] = int(row["n"])
    out["max_abs_diff"] = float(row["max_abs_diff"])
    out["bit_identical"] = out["max_abs_diff"] == 0.0
    print(json.dumps(out))


if __name__ == "__main__":
    main()
