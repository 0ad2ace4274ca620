"""CSR block store: build, marker-validated adoption, the warm-block
registry, the build's Spark-parity content fingerprint — and the scale
path over the blocks as callers reach it.

The ``*_csr_*`` tests drive the ``algos.*`` dispatchers pinned to (or
auto-routed onto) the fused stream kernels over the CSR blocks, and must
reach the join path's fixed point on every fixture graph: exact for CC
and LPA (min / counts + min-label ties are order-free), allclose for
PageRank (float sums reorder), and the same superstep count. The direct
kernel calls are checked in tests/test_stream.py and
tests/test_stream_algos.py.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from chaos_spark.algos import connected_components, label_propagation, pagerank
from chaos_spark.fixtures import g1_chain, g2_star, g3_cliques, g4_powerlaw
from chaos_spark.stream import pagerank_stream

from tests.oracles import pagerank_oracle

GRAPHS = {
    "chain": g1_chain,
    "star_hub": g2_star,
    "two_cliques_bridge": g3_cliques,
    "powerlaw": lambda: g4_powerlaw(scale=10, num_edges=5000),
}


def _ranks(res):
    return {r["id"]: r["rank"] for r in res.state.select("id", "rank").collect()}


def _labels(res):
    return dict(res.state.select("id", "label").collect())


@pytest.mark.parametrize("name", sorted(GRAPHS))
def test_pagerank_csr_equals_join_path(spark, name):
    edges = spark.createDataFrame(GRAPHS[name]())
    r_join = pagerank(spark, edges, tol=1e-6, max_iters=60, mode="shuffle")
    r_csr = pagerank(spark, edges, tol=1e-6, max_iters=60, mode="stream")
    a, b = _ranks(r_join), _ranks(r_csr)
    assert set(a) == set(b)
    ks = sorted(a)
    assert np.allclose([a[k] for k in ks], [b[k] for k in ks], rtol=0, atol=1e-9)
    assert r_csr.supersteps == r_join.supersteps


@pytest.mark.parametrize("name", sorted(GRAPHS))
def test_pagerank_csr_matches_oracle(spark, name):
    pdf = GRAPHS[name]()
    edges = spark.createDataFrame(pdf)
    res = pagerank(spark, edges, tol=1e-9, max_iters=500, mode="stream")
    assert res.converged
    got = _ranks(res)
    want = pagerank_oracle(pdf)
    assert set(got) == set(want)
    assert max(abs(got[v] - want[v]) for v in want) < 1e-6
    assert abs(sum(got.values()) - 1.0) < 1e-9


@pytest.mark.parametrize("name", sorted(GRAPHS))
def test_cc_csr_equals_join_path(spark, name):
    edges = spark.createDataFrame(GRAPHS[name]())
    a = _labels(connected_components(spark, edges, max_iters=100, mode="join"))
    b = _labels(connected_components(spark, edges, max_iters=100, mode="stream"))
    assert a == b


def test_lpa_csr_equals_join_path(spark):
    """LPA over the CSR blocks reaches the identical labeling as the
    DataFrame join path — exact (counts + deterministic min-label ties)."""
    for name in ("two_cliques_bridge", "powerlaw"):
        edges = spark.createDataFrame(GRAPHS[name]())
        a = _labels(label_propagation(spark, edges, max_iters=7, mode="join"))
        b = _labels(label_propagation(spark, edges, max_iters=7, mode="stream"))
        assert a == b


def test_pagerank_weighted_csr_equals_join_path(spark):
    """Type-2 (weighted) blocks: the rank/W * w messages reach the same
    fixed point as the join path's weighted regime."""
    from pyspark.sql import functions as F

    pdf = g4_powerlaw(scale=9, num_edges=3000)
    edges = spark.createDataFrame(pdf).withColumn(
        "weight",
        (F.lit(1) + F.pmod(F.col("src") + F.col("dst"), F.lit(5))).cast("double"),
    )
    a = _ranks(pagerank(spark, edges, tol=0.0, max_iters=6, weight_col="weight",
                        mode="shuffle"))
    b = _ranks(pagerank(spark, edges, tol=0.0, max_iters=6, weight_col="weight",
                        mode="stream"))
    assert set(a) == set(b)
    ks = sorted(a)
    assert np.allclose([a[k] for k in ks], [b[k] for k in ks], rtol=0, atol=1e-12)


def test_auto_route_serves_stream_above_crossover(spark, monkeypatch):
    """End-to-end: with the crossovers lowered beneath the fixture size,
    mode="auto" serves pagerank/cc/lpa through the fused stream path and
    still matches the join-path fixed point."""
    from chaos_spark import csr as csr_mod
    from chaos_spark import stream as st_mod
    from chaos_spark import stream_algos as sa_mod

    for name in ("CSR_AUTO_MIN_EDGES", "STREAM_AUTO_MIN_EDGES", "CC_STREAM_MIN_EDGES"):
        monkeypatch.setattr(csr_mod, name, 1)
    calls = []
    for mod, fn in ((st_mod, "pagerank_stream"), (sa_mod, "cc_stream"),
                    (sa_mod, "lpa_stream")):
        real = getattr(mod, fn)
        monkeypatch.setattr(
            mod, fn,
            lambda *a, _f=fn, _r=real, **k: calls.append(_f) or _r(*a, **k),
        )
    edges = spark.createDataFrame(GRAPHS["two_cliques_bridge"]())
    a = _ranks(pagerank(spark, edges, tol=1e-6, max_iters=60))
    b = _ranks(pagerank(spark, edges, tol=1e-6, max_iters=60, mode="shuffle"))
    ks = sorted(a)
    assert a.keys() == b.keys()
    assert np.allclose([a[k] for k in ks], [b[k] for k in ks], rtol=0, atol=1e-9)
    assert _labels(connected_components(spark, edges)) == _labels(
        connected_components(spark, edges, mode="join")
    )
    assert _labels(label_propagation(spark, edges, max_iters=3)) == _labels(
        label_propagation(spark, edges, max_iters=3, mode="join")
    )
    assert calls == ["pagerank_stream", "cc_stream", "lpa_stream"]


def test_csr_partition_invariance(spark):
    """Result must not depend on the block count (the autotuned P is a
    physical choice, never semantic)."""
    edges = spark.createDataFrame(GRAPHS["powerlaw"]())
    r4 = _ranks(pagerank_stream(spark, edges, tol=0.0, max_iters=5, num_partitions=4))
    r11 = _ranks(pagerank_stream(spark, edges, tol=0.0, max_iters=5, num_partitions=11))
    ks = sorted(r4)
    assert r4.keys() == r11.keys()
    assert np.allclose([r4[k] for k in ks], [r11[k] for k in ks], rtol=0, atol=1e-12)


def test_disk_blocks_rebuilt_on_changed_edges(spark, tmp_path, monkeypatch):
    """ADVICE r2+r3: a caller-pinned token whose underlying edge data
    changed must trigger a block rebuild, never silently reuse stale CSR
    blocks. The _BUILT marker records "{num_edges}:{p}:{content_fp}" and
    is validated on reuse — the xor-fold content fingerprint catches the
    same-count-DIFFERENT-edges regeneration the count alone missed."""
    import os

    import chaos_spark.csr as csr_mod

    monkeypatch.setattr(csr_mod, "_DISK_BLOCK_BASE", str(tmp_path))

    e1 = spark.createDataFrame(g1_chain())
    g_old = csr_mod.CsrGraph(spark, e1, num_partitions=4, token="pinned")
    marker = os.path.join(g_old.block_dir, "_BUILT")

    def marker_text(g):
        return f"v6:{g.num_edges}:{g.num_vertices}:4:{g.edge_fp:x}"

    with open(marker) as f:
        assert f.read() == marker_text(g_old)

    # Same |E|, different edges (reversed chain): count-only markers pass
    # this; the content fingerprint must not.
    e_rev = spark.createDataFrame(
        g1_chain().rename(columns={"src": "dst", "dst": "src"})
    )
    g_rev = csr_mod.CsrGraph(spark, e_rev, num_partitions=4, token="pinned")
    assert g_rev.num_edges == g_old.num_edges
    assert g_rev.edge_fp != g_old.edge_fp
    with open(marker) as f:
        assert f.read() == marker_text(g_rev)

    # "Regenerated" data at the same token: a superset graph whose old src
    # ids are a subset of the new vertex set (the silent-wrong-graph case).
    e2 = spark.createDataFrame(g3_cliques())
    g_new = csr_mod.CsrGraph(spark, e2, num_partitions=4, token="pinned")
    assert g_new.num_edges != g_old.num_edges
    with open(marker) as f:
        assert f.read() == marker_text(g_new)
    # and the rebuilt blocks drive a correct run on the NEW graph
    from chaos_spark.stream_algos import cc_stream

    res = cc_stream(spark, e2, num_partitions=4, token="pinned")
    labels = {r["id"]: r["label"] for r in res.state.collect()}
    from tests.oracles import cc_oracle

    assert labels == cc_oracle(g3_cliques())


def test_warm_block_registry_reuse_and_reroute(spark, monkeypatch):
    """Cross-algorithm block reuse ([C15] §4 partition reuse): a stream
    LPA run registers its undirected blocks; a subsequent AUTO-mode
    connected_components below the cold crossover then routes STREAM
    (warm blocks void the cold-build argument), adopts the same block dir
    without rebuilding, and still matches the join fixed point."""
    import os
    import shutil

    from chaos_spark import csr as csr_mod
    from chaos_spark import stream_algos as sa_mod

    monkeypatch.setattr(csr_mod, "_WARM_BLOCKS", {})
    edges = spark.createDataFrame(GRAPHS["two_cliques_bridge"]())
    assert edges.count() < csr_mod.CC_STREAM_MIN_EDGES

    # Directed / weighted flavors are distinct keys — no false sharing.
    k_und = csr_mod._warm_key(edges, True, None, None)
    k_dir = csr_mod._warm_key(edges, False, None, None)
    assert k_und is not None and k_dir is not None and k_und != k_dir

    sa_mod.lpa_stream(spark, edges, max_iters=3)
    assert csr_mod._warm_blocks_ready(k_und) is not None
    assert csr_mod._warm_blocks_ready(k_dir) is None
    token, block_dir = csr_mod._WARM_BLOCKS[k_und]
    marker = os.path.join(block_dir, "_BUILT")
    built_at = os.path.getmtime(marker)

    calls = []
    real_cc_stream = sa_mod.cc_stream
    monkeypatch.setattr(
        sa_mod, "cc_stream",
        lambda *a, **k: calls.append(1) or real_cc_stream(*a, **k),
    )
    cc_a = _labels(connected_components(spark, edges))
    assert calls == [1]
    cc_b = _labels(connected_components(spark, edges, mode="join"))
    assert cc_a == cc_b
    # Same registered dir, no rebuild (marker untouched), entry intact.
    assert csr_mod._WARM_BLOCKS[k_und] == (token, block_dir)
    assert os.path.getmtime(marker) == built_at

    # Registry self-heals when the dir vanishes: probe drops the entry
    # and auto routing falls back to the join path.
    shutil.rmtree(block_dir)
    assert csr_mod._warm_blocks_ready(k_und) is None
    assert k_und not in csr_mod._WARM_BLOCKS
    assert _labels(connected_components(spark, edges)) == cc_b
    assert calls == [1]


# Negative ids, ids past 2^32, duplicate (src, dst) pairs — (1, 2) and
# (-3, 1) twice each — and a unique edge weighted -0.0: catalyst hashes
# a double as doubleToLongBits with -0.0 normalized to 0.0, while the
# build's numpy dedup keeps the sign bit of a lone -0.0.
_FP_EDGES = pd.DataFrame({
    "src": np.array([1, 2, -3, 2**40, 1, -3, 4, -9], dtype=np.int64),
    "dst": np.array([2, 3, 1, -7, 2, 1, 5, -(2**35)], dtype=np.int64),
    "w": np.array([0.5, 1.25, 3.0, 3.0, 2.0, 0.25, -0.0, 7.5]),
})


def _spark_fp(spark, pdf: pd.DataFrame, weighted: bool) -> tuple[int, int]:
    """The warm-adoption validator's (|E| dedup, fingerprint): Spark's own
    dedup (weights summed) + bit_xor(xxhash64(src, dst[, w]))."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(pdf)
    if weighted:
        dd = df.groupBy("src", "dst").agg(F.sum("w").alias("w"))
        cols = ["src", "dst", "w"]
    else:
        dd = df.select("src", "dst").distinct()
        cols = ["src", "dst"]
    row = dd.agg(
        F.count(F.lit(1)).alias("n"), F.bit_xor(F.xxhash64(*cols)).alias("fp")
    ).first()
    return int(row["n"]), int(row["fp"])


@pytest.mark.parametrize("weighted", [False, True], ids=["unweighted", "weighted"])
def test_edge_fp_np_matches_spark_xxhash64(spark, weighted):
    """The block build fingerprints edges in numpy (_edge_fp_np) while
    warm adoption validates the marker with Spark's bit_xor(xxhash64); any
    disagreement would silently rebuild on every warm call. Checked both
    on the raw rows (the hash itself, -0.0 included) and end to end
    through CsrGraph (the build's in-kernel dedup + weight sum)."""
    from chaos_spark.csr import CsrGraph, _edge_fp_np

    raw = _FP_EDGES.drop_duplicates(["src", "dst"])
    if not weighted:
        raw = raw[["src", "dst"]]
    w = raw["w"].to_numpy() if weighted else None
    assert _edge_fp_np(raw["src"].to_numpy(), raw["dst"].to_numpy(), w) == (
        _spark_fp(spark, raw, weighted)[1]
    )

    pdf = _FP_EDGES if weighted else _FP_EDGES[["src", "dst"]]
    g = CsrGraph(
        spark, spark.createDataFrame(pdf), num_partitions=3,
        weight_col="w" if weighted else None,
    )
    assert (g.num_edges, g.edge_fp) == _spark_fp(spark, pdf, weighted)


def test_weighted_warm_adoption_ignores_row_order(spark, tmp_path, monkeypatch):
    """Duplicate (src, dst) weights 0.1, 0.2 and 0.3 sum to different
    doubles in different orders: (0.1 + 0.2) + 0.3 != 0.1 + (0.2 + 0.3).
    The build and the warm validation both sum a pair's weights in sorted
    order, so the same weighted graph fed in another row order adopts the
    blocks instead of rebuilding them."""
    import itertools
    import os

    import chaos_spark.csr as csr_mod

    monkeypatch.setattr(csr_mod, "_DISK_BLOCK_BASE", str(tmp_path))
    perms = list(itertools.permutations((0.1, 0.2, 0.3)))
    pairs = [(0, 1), (1, 2), (2, 0), (0, 2), (3, 1), (2, 3)]

    def edges(shift):
        rows = [
            (s, d, w) for i, (s, d) in enumerate(pairs)
            for w in perms[(i + shift) % len(perms)]
        ]
        return spark.createDataFrame(pd.DataFrame(rows, columns=["src", "dst", "w"]))

    g = csr_mod.CsrGraph(spark, edges(0), num_partitions=2, token="pinned", weight_col="w")
    marker = os.path.join(g.block_dir, "_BUILT")
    built_at = os.path.getmtime(marker)
    with open(marker) as f:
        text = f.read()
    g2 = csr_mod.CsrGraph(spark, edges(3), num_partitions=2, token="pinned", weight_col="w")
    assert (g2.num_edges, g2.edge_fp) == (g.num_edges, g.edge_fp)
    assert os.path.getmtime(marker) == built_at  # adopted, not rebuilt
    with open(marker) as f:
        assert f.read() == text
