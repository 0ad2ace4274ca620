"""Scale probe for the Structured-Streaming ingest lane + warm re-rank.

The incremental-crawl story, measured end to end:

1. Drain a 100k-file corpus through the streaming resolver in ~10
   micro-batches — per-batch wall times show the Δ-proportional cost
   shape (extraction is Δ-only; the only history-dependent term is a
   3-column pruned scan).
2. Converge PageRank cold on the resulting import graph (auto-routed).
3. A crawl delta lands: 5k NEW files in the SAME repos, importing
   EXISTING files (their stems resolve against the maintained index
   from step 1 — the ΔR ⋈ I_all term at its intended scale).
4. Drain just the delta and compare against the cost of a full batch
   rebuild over the 105k-file corpus.
5. Re-rank warm (init_ranks = step-2 converged ranks) vs cold on the
   grown graph: supersteps + wall seconds.

Writes BENCH/streaming_ingest_probe.json. Run on an idle host.
"""

import json
import os
import shutil
import sys
import time

sys.path.insert(0, "/root/repo")


from pyspark.sql import functions as F  # noqa: E402

from chaos_spark.session import get_spark  # noqa: E402
from chaos_spark.fixtures import gen_source_files  # noqa: E402
from chaos_spark.extract import extract_references, resolve_references  # noqa: E402
from chaos_spark.streaming import ingest_corpus_stream, read_edges  # noqa: E402
from chaos_spark.algos import pagerank  # noqa: E402

BASE = "/tmp/chaos_stream_probe"
N_BASE, N_DELTA, N_REPOS = 100_000, 5_000, 200
PAD_LINES = 40  # realistic file bodies: extraction cost scales with bytes
OUT = "/root/repo/BENCH/streaming_ingest_probe.json"

_PAD = "\n".join(
    f"x{i} = compute_{i}(x{i - 1}) if x{i - 1} else None  # body line {i}"
    for i in range(1, PAD_LINES + 1)
)


def pad_content(files):
    """Append a deterministic non-import body to every file. The fixture
    corpus is header-only (~3 lines); real source files are ~KB, and the
    regex extraction cost is proportional to scanned bytes — padding makes
    the incremental-vs-rebuild comparison reflect that."""
    out = files.copy()
    out["content"] = out["content"] + "\n" + _PAD + "\n"
    return out


def host_evidence():
    with open("/proc/loadavg") as f:
        la = [float(x) for x in f.read().split()[:3]]
    return {"loadavg": la}


def id_edges(path_edges):
    """Mint vertex-id edges from resolved path edges (xxhash64, same
    scheme as extract.mint_vertex_ids)."""
    return path_edges.select(
        F.xxhash64("repo", "src_path").alias("src"),
        F.xxhash64("repo", "dst_path").alias("dst"),
    )


def wait_for_idle(max_sec=240, ceiling=0.5):
    """Same hygiene as bench._wait_for_idle: don't start a record while
    load residue from a prior run is still decaying."""
    deadline = time.time() + max_sec
    while time.time() < deadline:
        la1 = host_evidence()["loadavg"][0]
        if la1 <= ceiling:
            return
        print(f"probe: waiting for idle (1-min loadavg {la1:.2f})...")
        time.sleep(15)


def main():
    wait_for_idle()
    shutil.rmtree(BASE, ignore_errors=True)
    os.makedirs(BASE, exist_ok=True)
    src_dir, work_dir = f"{BASE}/src", f"{BASE}/work"
    report = {"host": host_evidence()}

    spark = get_spark(
        "stream-ingest-probe", master="local[16]", shuffle_partitions=32,
        extra_conf={"spark.driver.memory": "24g"},
    )

    # -- 1. base corpus, drained in ~10 micro-batches -------------------
    t0 = time.perf_counter()
    base = gen_source_files(n_rows=N_BASE, seed=42, n_repos=N_REPOS)
    gen_base_sec = time.perf_counter() - t0
    spark.createDataFrame(pad_content(base.files)).repartition(20).write.parquet(
        src_dir
    )

    t0 = time.perf_counter()
    res = ingest_corpus_stream(spark, src_dir, work_dir, max_files_per_trigger=2)
    drain_base_sec = time.perf_counter() - t0
    edges = read_edges(spark, work_dir)
    n_edges0 = edges.count()
    assert n_edges0 == len(base.truth_edges), (n_edges0, len(base.truth_edges))
    report["base"] = {
        "files": N_BASE,
        "edges": n_edges0,
        "gen_sec": round(gen_base_sec, 2),
        "drain_sec": round(drain_base_sec, 2),
        "batches": res.batches_run,
        "batch_secs": res.batch_secs,
        "files_per_sec": round(N_BASE / drain_base_sec, 1),
    }
    print("base:", json.dumps(report["base"]))

    # -- 2. cold converge on the base graph -----------------------------
    e0 = id_edges(edges).localCheckpoint(eager=True)
    t0 = time.perf_counter()
    cold0 = pagerank(spark, e0, tol=1e-6, max_iters=100)
    cold0_sec = time.perf_counter() - t0
    prior = cold0.state.select("id", "rank").localCheckpoint(eager=True)
    report["cold_base"] = {
        "supersteps": cold0.supersteps,
        "sec": round(cold0_sec, 2),
        "converged": bool(cold0.converged),
    }
    print("cold_base:", json.dumps(report["cold_base"]))

    # -- 3. crawl delta: new files in the SAME repos importing EXISTING
    #       stems (v2/ path prefix keeps (repo, path) unique; the stems
    #       their imports target exist only in the base corpus).
    delta = gen_source_files(n_rows=N_DELTA, seed=99, n_repos=N_REPOS)
    dfiles = pad_content(delta.files)
    dfiles["path"] = "v2/" + dfiles["path"]
    spark.createDataFrame(dfiles).repartition(1).write.mode("append").parquet(src_dir)

    t0 = time.perf_counter()
    res2 = ingest_corpus_stream(spark, src_dir, work_dir)
    drain_delta_sec = time.perf_counter() - t0
    edges2 = read_edges(spark, work_dir)
    n_edges1 = edges2.count()
    assert n_edges1 > n_edges0

    # full batch rebuild over the grown corpus, for comparison
    t0 = time.perf_counter()
    corpus_all = spark.read.parquet(src_dir)
    rebuilt, _ = resolve_references(extract_references(corpus_all), corpus_all)
    n_rebuilt = rebuilt.count()
    rebuild_sec = time.perf_counter() - t0
    assert n_rebuilt == n_edges1, (n_rebuilt, n_edges1)
    report["delta"] = {
        "files": N_DELTA,
        "new_edges": n_edges1 - n_edges0,
        "incremental_drain_sec": round(drain_delta_sec, 2),
        "full_rebuild_sec": round(rebuild_sec, 2),
        "speedup": round(rebuild_sec / drain_delta_sec, 2),
    }
    print("delta:", json.dumps(report["delta"]))

    # -- 5. warm vs cold re-rank on the grown graph. A 1-superstep
    #       throwaway run populates the warm-block registry first so
    #       NEITHER timed run pays the block build — the comparison
    #       isolates the superstep savings.
    e1 = id_edges(edges2).localCheckpoint(eager=True)
    pagerank(spark, e1, tol=0.0, max_iters=1)
    t0 = time.perf_counter()
    cold1 = pagerank(spark, e1, tol=1e-6, max_iters=100)
    cold1_sec = time.perf_counter() - t0
    t0 = time.perf_counter()
    warm = pagerank(spark, e1, tol=1e-6, max_iters=100, init_ranks=prior)
    warm_sec = time.perf_counter() - t0
    # same fixed point
    j = warm.state.select("id", F.col("rank").alias("wr")).join(
        cold1.state.select("id", F.col("rank").alias("cr")), "id"
    )
    mx = j.agg(F.max(F.abs(F.col("wr") - F.col("cr"))).alias("m")).first()["m"]
    report["rerank"] = {
        "warm_supersteps": warm.supersteps,
        "cold_supersteps": cold1.supersteps,
        "warm_sec": round(warm_sec, 2),
        "cold_sec": round(cold1_sec, 2),
        "superstep_ratio": round(cold1.supersteps / max(warm.supersteps, 1), 2),
        "max_abs_rank_diff_vs_cold": float(mx),
        "both_converged": bool(warm.converged and cold1.converged),
    }
    print("rerank:", json.dumps(report["rerank"]))

    with open(OUT, "w") as f:
        json.dump(report, f, indent=2)
    print("wrote", OUT)
    spark.stop()


if __name__ == "__main__":
    main()
