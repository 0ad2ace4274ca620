#!/usr/bin/env python
"""Round-6 optimization measurement harness (bench.py is FROZEN; extra
measurements live here — guide §1.4/§1.5: noop-sink isolation, labeled
jobs, .explain("formatted") capture into plans/r06/).

Modes:
    python bench_extra.py plans --tag before      # capture query plans
    python bench_extra.py build-prof              # CsrGraph build phases
    python bench_extra.py stream-iter             # warm-block iterate cost
    python bench_extra.py micro                   # small bench queries, noop

All modes run at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] (default 32), same session config as bench.py.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from chaos_spark import harness  # noqa: E402
from chaos_spark.session import get_spark  # noqa: E402

PLANS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "plans", "r06")


def _session(cpus: int):
    local_dir = "/dev/shm/chaos-spark-local"
    os.makedirs(local_dir, exist_ok=True)
    return get_spark(
        f"chaos-extra-{cpus}",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.driver.memory": os.environ.get("CHAOS_SPARK_DRIVER_MEM", "32g"),
            "spark.local.dir": local_dir,
        },
    )


def cap(name: str, tag: str, df) -> None:
    """Write df.explain('formatted') to plans/r06/{name}_{tag}.txt."""
    os.makedirs(PLANS, exist_ok=True)
    txt = df.sparkSession._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    with open(os.path.join(PLANS, f"{name}_{tag}.txt"), "w") as f:
        f.write(txt)


def noop(spark, name, df) -> float:
    spark.sparkContext.setJobDescription(name)
    t0 = time.time()
    df.write.format("noop").mode("overwrite").save()
    sec = round(time.time() - t0, 3)
    spark.sparkContext.setJobDescription(None)
    return sec


def run_plans(spark, sf_dir: str, tag: str) -> None:
    """Capture .explain("formatted") for the non-iterative bench/harness
    queries (the iterative ones' superstep plans are captured via the
    CHAOS_EXPLAIN_DIR hook inside the engine, see `iterplans`)."""
    qs = {
        "degree": lambda: harness.q_out_degree(spark, sf_dir),
        "spmv": lambda: harness.q_spmv_acctbal(spark, sf_dir),
        "dedup_exact": lambda: harness.q_dedup_exact(spark, sf_dir),
        "ann_topk": lambda: harness.q_ann_topk(spark, sf_dir),
        "extract_2k": lambda: harness.q_import_graph_edges(spark, sf_dir),
        "triangle_wedges": lambda: _tri_wedges(spark, sf_dir),
        "token_stats": lambda: harness.q_token_stats(spark, sf_dir),
        "cust_supp_edges": lambda: harness.cust_supp_edges(spark, sf_dir),
        "part_edges": lambda: harness.part_edges(spark, sf_dir),
    }
    for name, fn in qs.items():
        df = fn()
        cap(name, tag, df)
        print(f"{name}: plan -> plans/r06/{name}_{tag}.txt")


def _tri_wedges(spark, sf_dir):
    from chaos_spark.algos.triangles import _closed_wedges

    return _closed_wedges(harness.part_edges(spark, sf_dir))


def run_iterplans(spark, sf_dir: str, tag: str) -> None:
    """One-superstep plan capture for the iterative bench legs, via the
    engine's CHAOS_EXPLAIN_DIR hook (writes <desc>_<tag>.txt once per
    distinct job description)."""
    os.environ["CHAOS_EXPLAIN_DIR"] = PLANS
    os.environ["CHAOS_EXPLAIN_TAG"] = tag
    try:
        from chaos_spark.algos import (
            connected_components,
            label_propagation,
            pagerank,
        )

        e_cs = harness.cust_supp_edges(spark, sf_dir).persist()
        n_cs = e_cs.count()
        os.environ["CHAOS_EXPLAIN_NAME"] = "pagerank_conv"
        pagerank(spark, e_cs, tol=0.0, max_iters=2, num_edges=n_cs)
        e_part = harness.part_edges(spark, sf_dir).persist()
        n_part = e_part.count()
        os.environ["CHAOS_EXPLAIN_NAME"] = "cc_conv"
        connected_components(spark, e_part, max_iters=2, num_edges=n_part)
        os.environ["CHAOS_EXPLAIN_NAME"] = "lpa_10"
        label_propagation(spark, e_part, max_iters=2, num_edges=n_part)
    finally:
        os.environ.pop("CHAOS_EXPLAIN_DIR", None)
        os.environ.pop("CHAOS_EXPLAIN_NAME", None)


def run_build_prof(spark, sf_dir: str) -> None:
    """CsrGraph disk-block build, phase-attributed (needs the
    build_profile instrumentation in csr.py; prints totals otherwise)."""
    from chaos_spark.csr import CsrGraph

    out = {}
    for name, edges_fn, und in (
        ("cust_supp_directed", harness.cust_supp_edges, False),
        ("part_undirected", harness.part_edges, True),
    ):
        e = edges_fn(spark, sf_dir).persist()
        ne = e.count()
        spark.sparkContext.setJobDescription(f"build:{name}")
        t0 = time.time()
        g = CsrGraph(spark, e, undirected=und)
        wall = round(time.time() - t0, 3)
        prof = getattr(g, "build_profile", None)
        out[name] = {"edges_raw": ne, "edges_dedup": g.num_edges,
                     "verts": g.num_vertices, "p": g.p,
                     "build_wall_sec": wall, "phases": prof}
        g.unpersist()
        e.unpersist()
        spark.sparkContext.setJobDescription(None)
    print(json.dumps(out, indent=1))


def run_stream_iter(spark, sf_dir: str) -> None:
    """Warm-block stream iterate timings for the three headline algos."""
    from chaos_spark.csr import CsrGraph
    from chaos_spark.stream import pagerank_stream
    from chaos_spark.stream_algos import cc_stream, lpa_stream

    out = {}
    e_cs = harness.cust_supp_edges(spark, sf_dir).persist()
    e_cs.count()
    t0 = time.time()
    g = CsrGraph(spark, e_cs, token="r6-extra-cs")
    out["build_cs_sec"] = round(time.time() - t0, 3)
    t0 = time.time()
    r = pagerank_stream(spark, e_cs, tol=1e-6, max_iters=100, graph=g)
    out["pagerank_stream_wall"] = round(time.time() - t0, 3)
    out["pagerank_stream_iter"] = round(r.total_seconds, 3)
    out["pagerank_supersteps"] = r.supersteps

    e_part = harness.part_edges(spark, sf_dir).persist()
    e_part.count()
    from chaos_spark.stream_algos import _HashMinCC

    t0 = time.time()
    g2 = _HashMinCC().prep_graph(spark, e_part, None, "r6-extra-part")
    out["build_part_und_sec"] = round(time.time() - t0, 3)
    t0 = time.time()
    r = cc_stream(spark, e_part, max_iters=100, graph=g2)
    out["cc_stream_wall"] = round(time.time() - t0, 3)
    out["cc_stream_iter"] = round(r.total_seconds, 3)
    t0 = time.time()
    r = lpa_stream(spark, e_part, max_iters=10, graph=g2)
    out["lpa_stream_wall"] = round(time.time() - t0, 3)
    out["lpa_stream_iter"] = round(r.total_seconds, 3)
    print(json.dumps(out, indent=1))


def run_micro(spark, sf_dir: str) -> None:
    """Non-iterative bench queries, noop-sink isolated (guide §1.4)."""
    out = {}
    for name, fn in (
        ("degree", harness.q_out_degree),
        ("spmv", harness.q_spmv_acctbal),
        ("extract_2k", harness.q_import_graph_edges),
        ("dedup_exact", harness.q_dedup_exact),
        ("ann_topk", harness.q_ann_topk),
    ):
        df = fn(spark, sf_dir)
        out[name] = [noop(spark, name, df) for _ in range(3)]
    from chaos_spark.algos import triangle_count

    e_part = harness.part_edges(spark, sf_dir).persist()
    e_part.count()
    out["triangles"] = []
    for _ in range(3):
        t0 = time.time()
        triangle_count(spark, e_part)
        out["triangles"].append(round(time.time() - t0, 3))
    print(json.dumps(out, indent=1))


def run_scale(cpus: int = 8, edges: int = 64_000_000, scale: int = 22) -> None:
    """64M-edge validation of the v6 build + stream kernels (the
    'optimizations must hold at both sizes' record): time the v6 block
    build cold, run fixed-superstep stream PageRank + CC + LPA, and
    value-check CC stream labels against the join path (diff must be 0).
    Same engine pinning as the scaling protocol (AQE off, tmpfs
    local dirs, generous worker block cache)."""
    os.environ.setdefault("CHAOS_AQE", "off")
    os.environ.setdefault("CHAOS_CSR_BLOCK_DIR", "/dev/shm/chaos_csr_blocks")
    from bench import _ensure_bench_graph, _host_busy_check

    path = _ensure_bench_graph(scale, edges)
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    spark = _session(cpus)
    out = {"cpus": cpus, "edges": edges, "host": _host_busy_check()}
    e = spark.read.parquet(path)
    from chaos_spark.csr import CsrGraph
    from chaos_spark.stream import pagerank_stream
    from chaos_spark.stream_algos import _HashMinCC, cc_stream, lpa_stream

    shuffle = cpus * 4
    spark.sparkContext.setJobDescription("scale: v6 directed build")
    t0 = time.time()
    g = CsrGraph(spark, e, num_partitions=shuffle, token="r6-scale-dir",
                 num_edges=edges)
    out["build_directed_sec"] = round(time.time() - t0, 3)
    out["num_edges_dedup"] = g.num_edges
    out["num_vertices"] = g.num_vertices
    spark.sparkContext.setJobDescription("scale: pagerank_stream 10 steps")
    t0 = time.time()
    r = pagerank_stream(spark, e, tol=0.0, max_iters=10, graph=g)
    out["pagerank_stream_wall"] = round(time.time() - t0, 3)
    out["pagerank_per_superstep"] = [h["seconds"] for h in r.history]
    spark.sparkContext.setJobDescription("scale: v6 undirected build")
    t0 = time.time()
    g2 = _HashMinCC().prep_graph(spark, e, shuffle, "r6-scale-und")
    out["build_undirected_sec"] = round(time.time() - t0, 3)
    spark.sparkContext.setJobDescription("scale: cc_stream")
    t0 = time.time()
    rc = cc_stream(spark, e, max_iters=100, graph=g2)
    out["cc_stream_wall"] = round(time.time() - t0, 3)
    out["cc_per_superstep"] = [h["seconds"] for h in rc.history]
    spark.sparkContext.setJobDescription("scale: lpa_stream 5")
    t0 = time.time()
    rl = lpa_stream(spark, e, max_iters=5, graph=g2)
    out["lpa_stream_wall"] = round(time.time() - t0, 3)
    out["lpa_per_superstep"] = [h["seconds"] for h in rl.history]
    # Value check at scale: CC join-path labels vs the stream labels
    # over v6 blocks — exact integer fixed point, diff must be 0.
    from chaos_spark.algos import connected_components

    spark.sparkContext.setJobDescription("scale: cc join reference")
    t0 = time.time()
    rj = connected_components(spark, e, max_iters=100, num_edges=edges,
                              mode="join")
    out["cc_join_wall"] = round(time.time() - t0, 3)
    a = rc.state.selectExpr("id", "label AS l1")
    b = rj.state.selectExpr("id AS id2", "label AS l2")
    diff = (
        a.join(b, a["id"] == b["id2"], "full")
        .where("l1 IS DISTINCT FROM l2").count()
    )
    out["cc_label_diff"] = diff
    print(json.dumps(out, indent=1))
    p = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     "BENCH", "r6_scale_64m.json")
    with open(p, "w") as f:
        json.dump(out, f, indent=1)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("mode", choices=[
        "plans", "iterplans", "build-prof", "stream-iter", "micro", "scale"])
    ap.add_argument("--tag", default="before")
    ap.add_argument("--sf-dir",
                    default=os.environ.get("SPARK_GRAFT_SF_DIR",
                                           "/root/testdata/sf0.1"))
    ap.add_argument("--cpus", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS", 32)))
    args = ap.parse_args()
    spark = _session(args.cpus)
    if args.mode == "plans":
        run_plans(spark, args.sf_dir, args.tag)
    elif args.mode == "iterplans":
        run_iterplans(spark, args.sf_dir, args.tag)
    elif args.mode == "build-prof":
        run_build_prof(spark, args.sf_dir)
    elif args.mode == "stream-iter":
        run_stream_iter(spark, args.sf_dir)
    elif args.mode == "micro":
        run_micro(spark, args.sf_dir)
    elif args.mode == "scale":
        run_scale(cpus=8)


if __name__ == "__main__":
    main()
