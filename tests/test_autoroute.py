"""Auto-routing of the nine stream-capable dispatchers (pagerank, cc, lpa,
bfs/sssp, kcores, mis, bipartite, hyperanf, scc) through algos._route:
mode="auto" calls take the fused stream kernels from the measured
crossover (CC's own, one shared by the other eight) and, for every
dispatcher but PageRank, below it when the warm-block registry already
holds the blocks the kernel would build — with results identical to the
pinned join path. Also covers the mode check and the mode="stream"
refusals."""

import numpy as np
import pytest

import chaos_spark.csr as csr_mod
import chaos_spark.stream_algos as sa_mod
from chaos_spark.algos import connected_components, label_propagation, pagerank
from chaos_spark.fixtures import g3_cliques, g4_powerlaw


def _ranks(res):
    return {r["id"]: r["rank"] for r in res.state.select("id", "rank").collect()}


def _labels(res):
    return dict(res.state.select("id", "label").collect())


def test_pagerank_auto_routes_stream_above_crossover(spark, monkeypatch):
    monkeypatch.setattr(csr_mod, "STREAM_AUTO_MIN_EDGES", 1)
    edges = spark.createDataFrame(g4_powerlaw(scale=9, num_edges=2000))
    a = _ranks(pagerank(spark, edges, tol=0.0, max_iters=5))
    b = _ranks(pagerank(spark, edges, tol=0.0, max_iters=5, mode="shuffle"))
    assert a.keys() == b.keys()
    ks = sorted(a)
    assert np.allclose([a[k] for k in ks], [b[k] for k in ks], rtol=0, atol=1e-9)


def test_pagerank_stream_mode_rejects_shuffle_only_knobs(spark):
    edges = spark.createDataFrame(g3_cliques())
    with pytest.raises(ValueError):
        pagerank(spark, edges, max_iters=2, mode="stream", hub_threshold=5)


def test_cc_lpa_auto_route_stream_above_crossover(spark, monkeypatch):
    monkeypatch.setattr(csr_mod, "CC_STREAM_MIN_EDGES", 1)
    monkeypatch.setattr(csr_mod, "STREAM_AUTO_MIN_EDGES", 1)
    pdf = g4_powerlaw(scale=9, num_edges=2000)
    edges = spark.createDataFrame(pdf)
    assert _labels(connected_components(spark, edges)) == _labels(
        connected_components(spark, edges, mode="join")
    )
    assert _labels(label_propagation(spark, edges, max_iters=5)) == _labels(
        label_propagation(spark, edges, max_iters=5, mode="join")
    )


def test_cc_auto_upgrades_to_stream_on_warm_blocks(spark, monkeypatch):
    """Below the crossover, a warm-block registry hit routes CC to the
    stream kernel (the cold-build argument for the join path is void);
    results are the exact same integer labels."""
    monkeypatch.setattr(csr_mod, "_WARM_BLOCKS", {})
    pdf = g3_cliques()
    edges = spark.createDataFrame(pdf)
    # Cold small graph: no warm entry -> join path (cc_stream not called).
    calls = []
    real_cc_stream = sa_mod.cc_stream
    monkeypatch.setattr(
        sa_mod, "cc_stream",
        lambda *a, **k: calls.append(1) or real_cc_stream(*a, **k),
    )
    want = _labels(connected_components(spark, edges))
    assert calls == []
    # Build the undirected blocks (registers the warm key), then re-run
    # auto: must route stream and agree label-for-label.
    sa_mod.lpa_stream(spark, edges, max_iters=2)
    got = _labels(connected_components(spark, edges))
    assert calls == [1]
    assert got == want


def _dispatch_cases():
    from chaos_spark import algos

    return {
        "pagerank": lambda s, e, **k: algos.pagerank(s, e, tol=0.0, max_iters=2, **k),
        "cc": lambda s, e, **k: algos.connected_components(s, e, max_iters=2, **k),
        "lpa": lambda s, e, **k: algos.label_propagation(s, e, max_iters=2, **k),
        "bfs": lambda s, e, **k: algos.bfs(s, e, 1, max_iters=2, **k),
        "kcore": lambda s, e, **k: algos.k_core(s, e, 2, max_iters=2, **k),
        "mis": lambda s, e, **k: algos.maximal_independent_set(s, e, max_iters=1, **k),
        "bipartite": lambda s, e, **k: algos.bipartite_check(s, e, max_iters=2, **k),
        "hyperanf": lambda s, e, **k: algos.hyper_anf(s, e, max_iters=2, **k),
        "scc": lambda s, e, **k: algos.strongly_connected_components(
            s, e, max_iters=2, **k
        ),
    }


@pytest.mark.parametrize("algo", sorted(_dispatch_cases()))
def test_auto_dispatch_threads_edge_count_into_block_build(spark, monkeypatch, algo):
    """Each auto dispatcher counts |E| to route; the stream route must hand
    that count to the block build instead of paying a second count job."""
    import chaos_spark.stream as st_mod

    for name in ("STREAM_AUTO_MIN_EDGES", "CC_STREAM_MIN_EDGES"):
        monkeypatch.setattr(csr_mod, name, 1)
    seen = []

    class SpyGraph(csr_mod.CsrGraph):
        def __init__(self, *a, **k):
            seen.append(k.get("num_edges"))
            super().__init__(*a, **k)

    monkeypatch.setattr(sa_mod, "CsrGraph", SpyGraph)
    monkeypatch.setattr(st_mod, "CsrGraph", SpyGraph)
    pdf = g3_cliques()
    _dispatch_cases()[algo](spark, spark.createDataFrame(pdf))
    assert seen and None not in seen
    assert seen[0] == len(pdf)


# dispatcher -> (stream_algos function the auto call must reach, a call
# of the matching kernel that builds and registers the warm blocks).
_WARM_CASES = {
    "cc": ("cc_stream", lambda s, e: sa_mod.cc_stream(s, e, max_iters=2)),
    "lpa": ("lpa_stream", lambda s, e: sa_mod.lpa_stream(s, e, max_iters=2)),
    "bfs": ("sssp_stream", lambda s, e: sa_mod.bfs_stream(s, e, 1, max_iters=2)),
    "kcore": ("kcore_stream", lambda s, e: sa_mod.kcore_stream(s, e, 2, max_iters=2)),
    "mis": ("mis_stream", lambda s, e: sa_mod.mis_stream(s, e, max_iters=2)),
    "bipartite": (
        "bipartite_stream", lambda s, e: sa_mod.bipartite_stream(s, e, max_iters=2)
    ),
    "hyperanf": (
        "hyperanf_stream", lambda s, e: sa_mod.hyperanf_stream(s, e, max_iters=2)
    ),
    "scc": ("scc_stream", lambda s, e: sa_mod.scc_stream(s, e, max_iters=20)),
}


def _markers():
    import os

    return {
        key: os.path.getmtime(os.path.join(block_dir, "_BUILT"))
        for key, (_, block_dir) in csr_mod._WARM_BLOCKS.items()
    }


@pytest.mark.parametrize("algo", sorted(_WARM_CASES))
def test_auto_dispatch_adopts_its_kernels_warm_blocks(spark, monkeypatch, algo):
    """Below every crossover, blocks built by the dispatcher's own stream
    kernel route the auto call to that kernel, which adopts them with no
    rebuild (registry unchanged, every _BUILT marker untouched)."""
    monkeypatch.setattr(csr_mod, "_WARM_BLOCKS", {})
    edges = spark.createDataFrame(g3_cliques())
    target, build = _WARM_CASES[algo]
    build(spark, edges)
    registered, built_at = dict(csr_mod._WARM_BLOCKS), _markers()
    assert registered

    calls = []
    real = getattr(sa_mod, target)
    monkeypatch.setattr(
        sa_mod, target, lambda *a, **k: calls.append(1) or real(*a, **k)
    )
    _dispatch_cases()[algo](spark, edges).state.count()
    assert calls == [1]
    assert csr_mod._WARM_BLOCKS == registered
    assert _markers() == built_at


class _Routed(Exception):
    """Raised by a stubbed stream kernel: the call routed stream."""


@pytest.mark.parametrize("algo", sorted(_dispatch_cases()))
def test_auto_routes_by_the_one_crossover(spark, monkeypatch, algo):
    """Cold (registry empty), auto mode routes stream from the crossover —
    CC_STREAM_MIN_EDGES for CC, STREAM_AUTO_MIN_EDGES for every other
    dispatcher — and join one raw edge below it."""
    import chaos_spark.stream as st_mod

    pdf = g3_cliques()
    edges = spark.createDataFrame(pdf)
    monkeypatch.setattr(csr_mod, "_WARM_BLOCKS", {})
    mod, target = (
        (st_mod, "pagerank_stream") if algo == "pagerank"
        else (sa_mod, _WARM_CASES[algo][0])
    )

    def routed(*a, **k):
        raise _Routed

    monkeypatch.setattr(mod, target, routed)
    for name in ("STREAM_AUTO_MIN_EDGES", "CC_STREAM_MIN_EDGES"):
        monkeypatch.setattr(csr_mod, name, len(pdf))
    with pytest.raises(_Routed):
        _dispatch_cases()[algo](spark, edges)
    for name in ("STREAM_AUTO_MIN_EDGES", "CC_STREAM_MIN_EDGES"):
        monkeypatch.setattr(csr_mod, name, len(pdf) + 1)
    _dispatch_cases()[algo](spark, edges).state.count()


def test_auto_scc_ignores_pagerank_blocks(spark, monkeypatch):
    """PageRank's raw directed blocks are not scc_stream's deduped forward
    blocks, so they must not pull an auto SCC call off the join path."""
    from chaos_spark import algos
    from chaos_spark.stream import pagerank_stream

    monkeypatch.setattr(csr_mod, "_WARM_BLOCKS", {})
    edges = spark.createDataFrame(g3_cliques())
    pagerank_stream(spark, edges, max_iters=2)
    calls = []
    real = sa_mod.scc_stream
    monkeypatch.setattr(
        sa_mod, "scc_stream", lambda *a, **k: calls.append(1) or real(*a, **k)
    )
    algos.strongly_connected_components(spark, edges)
    assert calls == []


@pytest.mark.parametrize("algo", sorted(_dispatch_cases()))
def test_unknown_mode_names_the_accepted_modes(spark, algo):
    edges = spark.createDataFrame(g3_cliques())
    accepted = (
        ("auto", "shuffle", "broadcast", "stream") if algo == "pagerank"
        else ("auto", "join", "stream")
    )
    with pytest.raises(ValueError, match="unknown mode 'bogus'") as err:
        _dispatch_cases()[algo](spark, edges, mode="bogus")
    assert all(repr(m) in str(err.value) for m in accepted)


@pytest.mark.parametrize("algo,arg", [
    ("pagerank", "checkpointer"),
    ("cc", "init_labels"),
    ("cc", "checkpointer"),
    ("lpa", "checkpointer"),
])
def test_stream_mode_refuses_join_only_arguments(spark, tmp_path, algo, arg):
    from chaos_spark.checkpoint import CheckpointManager

    edges = spark.createDataFrame(g3_cliques())
    value = (
        CheckpointManager(str(tmp_path), algo, {}) if arg == "checkpointer"
        else spark.createDataFrame([(0, 0)], "id long, label long")
    )
    with pytest.raises(ValueError, match=f"mode='stream' does not support {arg}"):
        _dispatch_cases()[algo](spark, edges, mode="stream", **{arg: value})
