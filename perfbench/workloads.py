"""The benchmark's workloads: seeded inputs, the call sequence each one
times, the path each call must take, and the checks on its answers.

Routing guard: ``Context.call`` (worker.py) classifies every call by what
it did to the run's own block directory — created a block dir
(``blocks-built``), touched an existing one (``blocks-adopted``: a stream
run publishes its update streams there), or left it alone (``no-blocks``:
the join/broadcast path or a plain SQL job). Each call must take the
path listed here, and each workload's edge count must stay at least
``MARGIN`` away from the crossovers that pick those paths, so no seed can
move a call from one path to the other.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

import oracles
from chaos_spark import algos, fixtures, harness
from chaos_spark.checkpoint import CheckpointManager
from chaos_spark.csr import CC_STREAM_MIN_EDGES, STREAM_AUTO_MIN_EDGES, CsrGraph
from chaos_spark.extract import corpus_to_graph, extract_references, resolve_references
from chaos_spark.stream import pagerank_stream

BUILT, ADOPTED, NO_BLOCKS = "blocks-built", "blocks-adopted", "no-blocks"
MARGIN = 0.25
TOL = 1e-6
LPA_ITERS = 10


def _edge_arrays(edges) -> tuple[np.ndarray, np.ndarray]:
    pdf = edges.select("src", "dst").toPandas()
    return pdf["src"].to_numpy(np.int64), pdf["dst"].to_numpy(np.int64)


def _sorted_state(df, col: str) -> tuple[np.ndarray, np.ndarray]:
    pdf = df.select("id", col).toPandas().sort_values("id")
    return pdf["id"].to_numpy(np.int64), pdf[col].to_numpy()


class Workload:
    """Shared checks; subclasses define inputs and the call sequence."""

    name = ""
    band: tuple[float, float] = (0.0, float("inf"))
    pagerank_calls: tuple[str, ...] = ("pagerank",)

    def __init__(self) -> None:
        self._answers: dict | None = None

    def answers(self, edges) -> dict:
        """Oracle answers for this run's graph, computed once per run."""
        if self._answers is None:
            src, dst = _edge_arrays(edges)
            self._answers = {
                "src": src,
                "dst": dst,
                "distinct_edges": oracles.distinct_edges(src, dst),
                "pagerank": oracles.pagerank(src, dst, tol=TOL),
            }
        return self._answers

    def check_pagerank(self, ctx, name, res, ans, supersteps=None) -> None:
        want = ans.supersteps if supersteps is None else supersteps
        ctx.check(f"{name}.supersteps", res.supersteps == want,
                  f"{res.supersteps} vs oracle {want}")
        if supersteps is None:
            ids, rank = _sorted_state(res.state, "rank")
            ctx.check(
                f"{name}.ranks",
                np.array_equal(ids, ans.ids)
                and np.allclose(rank.astype(np.float64), ans.rank, rtol=1e-6, atol=0.0),
            )

    def check_labels(self, ctx, name, res, want) -> None:
        """``want``: (ids, labels) from the CC or LPA oracle."""
        ids, label = _sorted_state(res.state, "label")
        ctx.check(
            f"{name}.labels",
            np.array_equal(ids, want[0]) and np.array_equal(label.astype(np.int64), want[1]),
        )

    def check_edge_band(self, ctx, ne: int) -> None:
        lo, hi = self.band
        ctx.check("route.edge_margin", lo <= ne <= hi, f"{ne} edges, band [{lo:.0f}, {hi:.0f}]")


class ImportGraph(Workload):
    """Source corpus -> import graph -> PageRank cold, then warm.

    About 54k files in repos of at most 990 files give ~133k import edges
    with Zipf hub skew: PageRank takes the stream path (>= 100k edges), and
    its ~50 cheap supersteps make it floor-bound. The warm call adopts the
    cold call's blocks and runs a fixed 10 supersteps, so it weighs
    adoption rather than repeating the cold call's iteration. LPA and CC
    (which adopts LPA's undirected blocks) run only as traced probes: timed
    with the rest they would push a run past the time the benchmark has.
    """

    name = "import_graph"
    N_FILES = 54_000
    REPO_MAX_FILES = 990
    MAX_IMPORTS = 12
    WARM_ITERS = 10
    band = (STREAM_AUTO_MIN_EDGES * (1 + MARGIN), CC_STREAM_MIN_EDGES * (1 - MARGIN))

    def generate(self, seed: int, data_dir: str):
        n_repos = -(-self.N_FILES // self.REPO_MAX_FILES)
        corpus = fixtures.gen_source_files(
            n_rows=self.N_FILES, seed=seed, n_repos=n_repos, max_imports=self.MAX_IMPORTS
        )
        corpus.files.to_parquet(os.path.join(data_dir, "corpus.parquet"), index=False)
        return corpus

    def sequence(self, ctx) -> dict:
        spark = ctx.spark
        corpus = spark.read.parquet(os.path.join(ctx.data_dir, "corpus.parquet"))

        def extract():
            vertices, edges, _ = corpus_to_graph(corpus)
            edges = edges.persist()
            return vertices, edges, edges.count()

        out = {"corpus": corpus}
        out["vertices"], out["edges"], ne = ctx.call("extract", "extract", extract, NO_BLOCKS)
        out["ne"] = ne
        edges = out["edges"]
        out["pagerank"] = ctx.call(
            "pagerank", "stream",
            lambda: algos.pagerank(spark, edges, tol=TOL, num_edges=ne), BUILT,
        )
        out["pagerank_warm"] = ctx.call(
            "pagerank_warm", "stream",
            lambda: algos.pagerank(
                spark, edges, tol=TOL, max_iters=self.WARM_ITERS, num_edges=ne
            ),
            ADOPTED,
        )
        return out

    def check(self, ctx, out: dict, corpus) -> None:
        self.check_edge_band(ctx, out["ne"])
        ctx.check(
            "input.repo_max_files",
            int(corpus.files.groupby("repo").size().max()) <= self.REPO_MAX_FILES,
        )
        ans = self.answers(out["edges"])
        v = out["vertices"].select("repo", "path", "id").toPandas()
        e = pd.DataFrame({"src": ans["src"], "dst": ans["dst"]})
        got = e.merge(
            v.rename(columns={"id": "src", "path": "src_path"}), on="src"
        ).merge(
            v.rename(columns={"id": "dst", "path": "dst_path", "repo": "dst_repo"}), on="dst"
        )
        same_repo = bool((got["repo"] == got["dst_repo"]).all())
        got = got[["repo", "src_path", "dst_path"]].drop_duplicates()
        truth = corpus.truth_edges
        ctx.check(
            "extract.edges_equal_truth",
            same_repo and len(got) == len(e) == len(truth)
            and len(got.merge(truth, on=["repo", "src_path", "dst_path"])) == len(truth),
            f"{len(e)} extracted vs {len(truth)} true",
        )
        sha = out["corpus"].select(
            "repo", "path", F.sha2(F.col("content"), 256).alias("got")
        ).toPandas().merge(corpus.truth_sha, on=["repo", "path"])
        ctx.check(
            "extract.content_sha256",
            len(sha) == len(corpus.truth_sha) and bool((sha["got"] == sha["sha256"]).all()),
        )
        self.check_pagerank(ctx, "pagerank", out["pagerank"], ans["pagerank"])
        warm = oracles.pagerank(ans["src"], ans["dst"], tol=TOL, max_iters=self.WARM_ITERS)
        self.check_pagerank(ctx, "pagerank_warm", out["pagerank_warm"], warm)

    def supersteps(self, out: dict) -> int:
        return out["pagerank"].supersteps

    def probe(self, ctx, out: dict) -> dict:
        """Layer probes after the timed sequence: extraction split into its
        two public steps, a cold CSR build and its adoption under a pinned
        token, a stream PageRank over the pre-built graph, and the stream
        LPA and CC, checked against their oracles."""
        spark, tracer = ctx.spark, ctx.tracer
        corpus, edges, ne = out["corpus"], out["edges"], out["ne"]
        refs = extract_references(corpus).persist()
        refs_rows, refs_s = tracer.timed("probe.extract_refs", "extract", refs.count)

        def resolve():
            path_edges, unresolved = resolve_references(refs, corpus, broadcast_index=True)
            return path_edges.count(), unresolved.count()

        (n_edges, n_unres), resolve_s = tracer.timed("probe.resolve", "extract", resolve)
        refs.unpersist()
        token = f"perfbench-{ctx.run_id}"
        g, build_s = tracer.timed(
            "probe.csr_build", "csr", lambda: CsrGraph(spark, edges, num_edges=ne, token=token)
        )
        g, adopt_s = tracer.timed(
            "probe.csr_adopt", "csr", lambda: CsrGraph(spark, edges, num_edges=ne, token=token)
        )
        res, wall = tracer.timed(
            "probe.pagerank_stream", "stream",
            lambda: pagerank_stream(spark, edges, tol=TOL, graph=g),
        )
        # CC is below its cold crossover; it takes the stream path because
        # LPA's undirected blocks are already there to adopt.
        lpa = ctx.call(
            "probe.lpa", "stream_algos",
            lambda: algos.label_propagation(spark, edges, max_iters=LPA_ITERS, num_edges=ne),
            BUILT,
        )
        cc = ctx.call(
            "probe.cc", "stream_algos",
            lambda: algos.connected_components(spark, edges, num_edges=ne), ADOPTED,
        )
        ans = self.answers(edges)
        self.check_labels(
            ctx, "lpa", lpa, oracles.label_propagation(ans["src"], ans["dst"], LPA_ITERS)
        )
        self.check_labels(ctx, "cc", cc, oracles.connected_components(ans["src"], ans["dst"]))
        return {
            "extract.refs_s": refs_s,
            "extract.refs_rows": refs_rows,
            "extract.resolve_s": resolve_s,
            "extract.edges": n_edges,
            "extract.unresolved": n_unres,
            "csr.build_s": build_s,
            "csr.adopt_s": adopt_s,
            "csr.p": g.p,
            "csr.vertices": g.num_vertices,
            "stream_algos.lpa_s": ctx.times["probe.lpa"],
            "stream_algos.cc_s": ctx.times["probe.cc"],
            "_stream_result": res,
            "_stream_wall": wall,
        }


class TpchJoin(Workload):
    """TPC-H-shaped tables at sf0.01 cardinalities -> part and customer-
    supplier edge views -> checkpointed PageRank stopped at superstep 5
    and resumed to convergence -> CC -> triangles.

    ~60k edges sit below every stream crossover, so ``stream`` and ``csr``
    do no work: this is the predict-no-change workload for stream and
    block-build changes, and it measures the join/broadcast path, the
    engine loop floor, and durable checkpoint writes and reads. The tables
    are generated from the seed (uniform keys, 1-7 lines per order, as
    dbgen draws them) rather than read from a TPC-H directory, so the
    benchmark needs nothing outside its checkout. PageRank converges in
    about 9 supersteps on these tables, so the first call stops at the
    first checkpoint rather than at 20. The join-path LPA (~12 s) is left
    out to keep a run within the time the benchmark has.
    """

    name = "tpch_join"
    N_ORDERS = 10_000
    N_CUSTOMERS = 1_000
    N_PARTS = 2_000
    N_SUPPLIERS = 100
    MAX_LINES = 7
    CHECKPOINT_EVERY = 5
    STOP_AT = 5
    PART_OFFSET = 20_000_000  # part ids apart from customer ids
    band = (0.0, STREAM_AUTO_MIN_EDGES * (1 - MARGIN))
    pagerank_calls = ("pagerank", "pagerank_warm")

    def generate(self, seed: int, data_dir: str):
        rng = np.random.default_rng(seed)
        # As in TPC-H, customers whose key is a multiple of 3 place no orders.
        buyers = np.array([c for c in range(1, self.N_CUSTOMERS + 1) if c % 3])
        orderkey = np.arange(1, self.N_ORDERS + 1, dtype=np.int64)
        lines = rng.integers(1, self.MAX_LINES + 1, self.N_ORDERS)
        n_li = int(lines.sum())
        tpch = os.path.join(data_dir, "tpch")
        os.makedirs(tpch, exist_ok=True)
        pd.DataFrame({
            "o_orderkey": orderkey,
            "o_custkey": rng.choice(buyers, self.N_ORDERS),
        }).to_parquet(os.path.join(tpch, "orders.parquet"), index=False)
        pd.DataFrame({
            "l_orderkey": np.repeat(orderkey, lines),
            "l_linenumber": np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1,
            "l_partkey": rng.integers(1, self.N_PARTS + 1, n_li),
            "l_suppkey": rng.integers(1, self.N_SUPPLIERS + 1, n_li),
        }).to_parquet(os.path.join(tpch, "lineitem.parquet"), index=False)
        return None

    def sequence(self, ctx) -> dict:
        spark = ctx.spark
        tpch = os.path.join(ctx.data_dir, "tpch")

        def extract():
            part = harness.part_edges(spark, tpch).select(
                (F.col("src") + self.PART_OFFSET).alias("src"),
                (F.col("dst") + self.PART_OFFSET).alias("dst"),
            )
            edges = part.union(harness.cust_supp_edges(spark, tpch)).persist()
            return edges, edges.count()

        out: dict = {}
        out["edges"], ne = ctx.call("extract", "harness", extract, NO_BLOCKS)
        out["ne"] = ne
        edges = out["edges"]
        ck = CheckpointManager(ctx.ckpt_dir, "pagerank", {"tol": TOL, "workload": self.name})
        out["checkpointer"] = ck

        def pagerank(max_iters):
            return algos.pagerank(
                spark, edges, tol=TOL, max_iters=max_iters, checkpointer=ck,
                checkpoint_every=self.CHECKPOINT_EVERY, num_edges=ne,
            )

        out["pagerank"] = ctx.call("pagerank", "engine", lambda: pagerank(self.STOP_AT), NO_BLOCKS)
        stopped = ck.latest()
        out["stopped_at"] = stopped["superstep"] if stopped else None
        out["pagerank_warm"] = ctx.call("pagerank_warm", "engine", lambda: pagerank(100), NO_BLOCKS)
        out["cc"] = ctx.call(
            "cc", "algos", lambda: algos.connected_components(spark, edges, num_edges=ne),
            NO_BLOCKS,
        )
        out["triangles"] = ctx.call(
            "triangles", "algos.triangles", lambda: algos.triangle_count(spark, edges), NO_BLOCKS
        )
        return out

    def check(self, ctx, out: dict, _truth) -> None:
        self.check_edge_band(ctx, out["ne"])
        ans = self.answers(out["edges"])
        pr = ans["pagerank"]
        ctx.check(
            "pagerank.resume_exercised",
            pr.supersteps > self.STOP_AT and not out["pagerank"].converged,
            f"oracle converges in {pr.supersteps} supersteps",
        )
        # The second call must start from the checkpoint the first one left
        # at STOP_AT; a from-scratch rerun reports the same superstep count
        # and ranks, so only its history length tells the two apart.
        resumed = len(out["pagerank_warm"].history)
        ctx.check(
            "pagerank.resumed_from_checkpoint",
            out["stopped_at"] == self.STOP_AT and resumed == pr.supersteps - self.STOP_AT,
            f"checkpoint at {out['stopped_at']}, {resumed} supersteps after it",
        )
        self.check_pagerank(ctx, "pagerank", out["pagerank"], pr, self.STOP_AT)
        self.check_pagerank(ctx, "pagerank_warm", out["pagerank_warm"], pr)
        self.check_labels(ctx, "cc", out["cc"], oracles.connected_components(ans["src"], ans["dst"]))
        want = oracles.triangle_count(ans["src"], ans["dst"])
        ctx.check("triangles.count", out["triangles"] == want, f"{out['triangles']} vs {want}")

    def supersteps(self, out: dict) -> int:
        return out["pagerank_warm"].supersteps

    def probe(self, ctx, out: dict) -> dict:
        """Read the latest durable checkpoint back, as a resume does."""
        ck = out["checkpointer"]

        def load():
            return ck.load(ctx.spark, ck.latest()).count()

        _, load_s = ctx.tracer.timed("probe.checkpoint_load", "checkpoint", load)
        return {"checkpoint.load_s": load_s, "checkpoint.saves": len(ck.manifests())}


WORKLOADS = {w.name: w for w in (ImportGraph, TpchJoin)}
