"""Fused stream CC/LPA ≡ join and classic-CSR paths (SURVEY §3.2 property).

cc_stream / lpa_stream must reach the EXACT same fixed point, in the same
number of supersteps, as the DataFrame join paths (min-fold and integer
mode counts are order-free — no float tolerance anywhere). Plus the
stream-specific invariants from tests/test_stream.py: resume from a
mid-run checkpoint equals the uninterrupted run, and physical blob
placement (state_partitions) never affects results.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from chaos_spark.algos.bfs import bfs, sssp
from chaos_spark.algos.cc import connected_components
from chaos_spark.algos.lpa import label_propagation
from chaos_spark.checkpoint import CheckpointManager
from chaos_spark.fixtures import g1_chain, g2_star, g3_cliques, g4_powerlaw
from chaos_spark.stream_algos import bfs_stream, cc_stream, lpa_stream, sssp_stream

from tests.oracles import cc_oracle, lpa_oracle

GRAPHS = {
    "chain": g1_chain,
    "star_hub": g2_star,
    "two_cliques_bridge": g3_cliques,
    "powerlaw": lambda: g4_powerlaw(scale=10, num_edges=5000),
}


def _labels(res):
    return {r["id"]: r["label"] for r in res.state.select("id", "label").collect()}


@pytest.mark.parametrize("name", sorted(GRAPHS))
def test_cc_stream_equals_join_path(spark, name):
    edges = spark.createDataFrame(GRAPHS[name]())
    r_join = connected_components(spark, edges, max_iters=100, mode="join")
    r_str = cc_stream(spark, edges, max_iters=100)
    assert _labels(r_join) == _labels(r_str)
    assert r_str.supersteps == r_join.supersteps
    assert r_str.converged


def test_cc_stream_matches_oracle(spark):
    pdf = GRAPHS["powerlaw"]()
    edges = spark.createDataFrame(pdf)
    res = cc_stream(spark, edges, max_iters=100)
    assert res.converged
    assert _labels(res) == cc_oracle(pdf)


@pytest.mark.parametrize("name", ["two_cliques_bridge", "powerlaw"])
def test_lpa_stream_equals_join_path(spark, name):
    edges = spark.createDataFrame(GRAPHS[name]())
    r_join = label_propagation(spark, edges, max_iters=7, mode="join")
    r_str = lpa_stream(spark, edges, max_iters=7)
    assert _labels(r_join) == _labels(r_str)
    assert r_str.supersteps == r_join.supersteps


def test_lpa_stream_matches_oracle(spark):
    pdf = GRAPHS["two_cliques_bridge"]()
    edges = spark.createDataFrame(pdf)
    res = lpa_stream(spark, edges, max_iters=10)
    assert _labels(res) == lpa_oracle(pdf, max_iters=10)


def test_cc_stream_state_partitions_invariance(spark):
    # Kernels route by the row's part value, never the task index.
    pdf = g4_powerlaw(scale=9, num_edges=3000)
    edges = spark.createDataFrame(pdf)
    a = cc_stream(spark, edges, max_iters=100)
    b = cc_stream(spark, edges, max_iters=100, state_partitions=2)
    assert _labels(a) == _labels(b)
    assert a.supersteps == b.supersteps


def test_cc_stream_resume_equals_uninterrupted(spark, tmp_path):
    pdf = g4_powerlaw(scale=9, num_edges=3000)
    edges = spark.createDataFrame(pdf)
    config = {"algo": "cc_stream", "graph": "g4s9"}

    full = cc_stream(spark, edges, max_iters=100)

    cp1 = CheckpointManager(str(tmp_path / "cp"), "cc_stream", config)
    part = cc_stream(
        spark, edges, max_iters=2, checkpointer=cp1, checkpoint_every=2,
    )
    assert part.supersteps == 2
    assert cp1.latest() is not None and cp1.latest()["superstep"] == 2

    cp2 = CheckpointManager(str(tmp_path / "cp"), "cc_stream", config)
    res = cc_stream(
        spark, edges, max_iters=100, checkpointer=cp2, checkpoint_every=2,
    )
    assert _labels(full) == _labels(res)
    assert res.supersteps == full.supersteps


def test_lpa_stream_resume_equals_uninterrupted(spark, tmp_path):
    pdf = g4_powerlaw(scale=9, num_edges=3000)
    edges = spark.createDataFrame(pdf)
    config = {"algo": "lpa_stream", "graph": "g4s9"}

    full = lpa_stream(spark, edges, max_iters=8)

    cp1 = CheckpointManager(str(tmp_path / "cp"), "lpa_stream", config)
    lpa_stream(spark, edges, max_iters=3, checkpointer=cp1, checkpoint_every=3)
    assert cp1.latest() is not None and cp1.latest()["superstep"] == 3

    cp2 = CheckpointManager(str(tmp_path / "cp"), "lpa_stream", config)
    res = lpa_stream(
        spark, edges, max_iters=8, checkpointer=cp2, checkpoint_every=3,
    )
    assert _labels(full) == _labels(res)
    assert res.supersteps == full.supersteps


# ---------------------------------------------------------------------------
# SSSP / BFS min-plus stream kernel — exact parity with algos.bfs
# (full re-relaxation ≡ frontier relaxation per superstep; min of the
# same float64 candidates is order-free, so equality is EXACT incl. the
# NULL-for-unreachable contract — no tolerance anywhere).
# ---------------------------------------------------------------------------

def _dists(res):
    return {r["id"]: r["dist"] for r in res.state.select("id", "dist").collect()}


def _weighted(pdf):
    pdf = pdf.copy()
    pdf["weight"] = (1 + (pdf["src"] + pdf["dst"]) % 5).astype("float64")
    return pdf


@pytest.mark.parametrize("name", sorted(GRAPHS))
def test_bfs_stream_equals_join_path(spark, name):
    pdf = GRAPHS[name]()
    edges = spark.createDataFrame(pdf)
    root = int(pdf["src"].min())
    r_join = bfs(spark, edges, root, max_iters=100)
    r_str = bfs_stream(spark, edges, root, max_iters=100)
    assert _dists(r_join) == _dists(r_str)  # exact, incl. None
    assert r_str.supersteps == r_join.supersteps
    assert r_str.converged


def test_sssp_stream_weighted_equals_join_path(spark):
    pdf = _weighted(g4_powerlaw(scale=10, num_edges=5000))
    edges = spark.createDataFrame(pdf)
    root = int(pdf["src"].min())
    r_join = sssp(spark, edges, root, weight_col="weight", max_iters=100)
    r_str = sssp_stream(spark, edges, root, weight_col="weight", max_iters=100)
    assert _dists(r_join) == _dists(r_str)
    assert r_str.supersteps == r_join.supersteps
    assert r_str.converged


def test_sssp_stream_duplicate_weighted_edges_min_fold(spark):
    # The weighted block build SUMS duplicate (src,dst) weights (PageRank
    # semantics); SSSP must MIN-fold them. prep_graph pre-aggregates —
    # duplicates with different weights must match the join path, which
    # keeps both rows and min-folds at gather.
    import pandas as pd

    pdf = pd.DataFrame({
        "src":    [0, 0, 0, 1, 1, 2],
        "dst":    [1, 1, 2, 3, 3, 3],
        "weight": [5.0, 2.0, 1.0, 9.0, 1.0, 10.0],
    })
    edges = spark.createDataFrame(pdf)
    r_join = sssp(spark, edges, 0, weight_col="weight", max_iters=20)
    r_str = sssp_stream(spark, edges, 0, weight_col="weight", max_iters=20)
    d = _dists(r_str)
    assert d == _dists(r_join)
    assert d[1] == 2.0 and d[3] == 2.0 + 1.0  # min dup weight, not sum


def test_sssp_stream_symmetric_and_unreachable(spark):
    # chain 0->1->...->k with root mid-chain: directed leaves the prefix
    # unreachable (NULL dist in BOTH paths); symmetric reaches everything.
    pdf = _weighted(g1_chain())
    edges = spark.createDataFrame(pdf)
    ids = sorted(set(pdf["src"]) | set(pdf["dst"]))
    root = ids[len(ids) // 2]
    r_join = sssp(spark, edges, root, weight_col="weight", max_iters=100)
    r_str = sssp_stream(spark, edges, root, weight_col="weight", max_iters=100)
    d = _dists(r_str)
    assert d == _dists(r_join)
    assert any(v is None for v in d.values())  # prefix unreachable
    s_join = sssp(
        spark, edges, root, weight_col="weight", symmetric=True, max_iters=100
    )
    s_str = sssp_stream(
        spark, edges, root, weight_col="weight", symmetric=True, max_iters=100
    )
    sd = _dists(s_str)
    assert sd == _dists(s_join)
    assert all(v is not None for v in sd.values())


def test_sssp_auto_routes_stream_at_scale(spark, monkeypatch):
    # With the crossover lowered beneath the fixture size, algos.bfs.sssp
    # mode="auto" serves the call through the fused stream path (observed
    # via a spy) and still matches the pinned join path exactly.
    import chaos_spark.csr as csr_mod
    import chaos_spark.stream_algos as sa

    monkeypatch.setattr(csr_mod, "STREAM_AUTO_MIN_EDGES", 1)
    called = {}
    orig = sa.sssp_stream

    def spy(*a, **k):
        called["stream"] = True
        return orig(*a, **k)

    monkeypatch.setattr(sa, "sssp_stream", spy)
    pdf = _weighted(g4_powerlaw(scale=9, num_edges=3000))
    edges = spark.createDataFrame(pdf)
    root = int(pdf["src"].min())
    a = sssp(spark, edges, root, weight_col="weight", max_iters=100)
    assert called.get("stream")
    b = sssp(
        spark, edges, root, weight_col="weight", max_iters=100, mode="join"
    )
    assert _dists(a) == _dists(b)
    assert a.supersteps == b.supersteps


def test_sssp_auto_routes_stream_when_blocks_warm(spark, monkeypatch):
    # Below the crossover auto serves join — unless an earlier stream run
    # registered this exact prepped plan's blocks in the warm registry
    # (keys are of the PREPPED plan, built independently per call, so this
    # also proves semantic-hash stability across separately built plans).
    import chaos_spark.csr as csr_mod
    import chaos_spark.stream_algos as sa

    monkeypatch.setattr(csr_mod, "_WARM_BLOCKS", {})
    pdf = _weighted(g4_powerlaw(scale=9, num_edges=3000))
    edges = spark.createDataFrame(pdf)
    root = int(pdf["src"].min())

    cold = sssp(spark, edges, root, weight_col="weight", max_iters=100)
    assert not csr_mod._WARM_BLOCKS  # join path: no blocks built

    warmup = sssp_stream(
        spark, edges, root, weight_col="weight", max_iters=100
    )
    assert len(csr_mod._WARM_BLOCKS) == 1  # prepped plan registered

    called = {}
    orig = sa.sssp_stream

    def spy(*a, **k):
        called["stream"] = True
        return orig(*a, **k)

    monkeypatch.setattr(sa, "sssp_stream", spy)
    warm = sssp(spark, edges, root, weight_col="weight", max_iters=100)
    assert called.get("stream")
    assert _dists(warm) == _dists(cold) == _dists(warmup)


def test_sssp_stream_resume_equals_uninterrupted(spark, tmp_path):
    pdf = _weighted(g4_powerlaw(scale=9, num_edges=3000))
    edges = spark.createDataFrame(pdf)
    root = int(pdf["src"].min())
    config = {"algo": "sssp_stream", "graph": "g4s9", "root": root}

    full = sssp_stream(spark, edges, root, weight_col="weight", max_iters=100)

    cp1 = CheckpointManager(str(tmp_path / "cp"), "sssp_stream", config)
    part = sssp_stream(
        spark, edges, root, weight_col="weight", max_iters=2,
        checkpointer=cp1, checkpoint_every=2,
    )
    assert part.supersteps == 2
    assert cp1.latest() is not None and cp1.latest()["superstep"] == 2

    cp2 = CheckpointManager(str(tmp_path / "cp"), "sssp_stream", config)
    res = sssp_stream(
        spark, edges, root, weight_col="weight", max_iters=100,
        checkpointer=cp2, checkpoint_every=2,
    )
    assert _dists(full) == _dists(res)
    assert res.supersteps == full.supersteps


# ---------------------------------------------------------------------------
# HyperANF register-max stream kernel — BIT-identical parity with
# algos.hyperanf.hyper_anf (register max is order-free and idempotent;
# the HLL estimate is the same elementwise float64 expression on the
# same registers, so the nf curves compare with == — no tolerance).
# ---------------------------------------------------------------------------

def _nfs(res):
    return {r["id"]: tuple(r["nf"]) for r in res.state.select("id", "nf").collect()}


@pytest.mark.parametrize("name", sorted(GRAPHS))
def test_hyperanf_stream_equals_join_path(spark, name):
    from chaos_spark.algos.hyperanf import hyper_anf
    from chaos_spark.stream_algos import hyperanf_stream

    edges = spark.createDataFrame(GRAPHS[name]())
    r_join = hyper_anf(spark, edges, max_iters=25)
    r_str = hyperanf_stream(spark, edges, max_iters=25)
    assert _nfs(r_join) == _nfs(r_str)
    assert r_str.supersteps == r_join.supersteps
    assert r_str.converged == r_join.converged


def test_hyperanf_stream_fixed_k_and_state_partitions(spark):
    from chaos_spark.algos.hyperanf import hyper_anf
    from chaos_spark.stream_algos import hyperanf_stream

    pdf = g4_powerlaw(scale=9, num_edges=3000)
    edges = spark.createDataFrame(pdf)
    r_join = hyper_anf(spark, edges, max_iters=3)
    a = hyperanf_stream(spark, edges, max_iters=3)
    b = hyperanf_stream(spark, edges, max_iters=3, state_partitions=2)
    assert _nfs(r_join) == _nfs(a) == _nfs(b)
    assert a.supersteps == r_join.supersteps


def test_hyperanf_stream_resume_equals_uninterrupted(spark, tmp_path):
    # The nf history rides the blob through the checkpoint: the resumed
    # run's curves must carry the pre-checkpoint hops too.
    from chaos_spark.stream_algos import hyperanf_stream

    pdf = g4_powerlaw(scale=9, num_edges=3000)
    edges = spark.createDataFrame(pdf)
    config = {"algo": "hyperanf_stream", "graph": "g4s9"}

    full = hyperanf_stream(spark, edges, max_iters=25)

    cp1 = CheckpointManager(str(tmp_path / "cp"), "hyperanf_stream", config)
    part = hyperanf_stream(
        spark, edges, max_iters=2, checkpointer=cp1, checkpoint_every=2,
    )
    assert part.supersteps == 2
    assert cp1.latest() is not None and cp1.latest()["superstep"] == 2

    cp2 = CheckpointManager(str(tmp_path / "cp"), "hyperanf_stream", config)
    res = hyperanf_stream(
        spark, edges, max_iters=25, checkpointer=cp2, checkpoint_every=2,
    )
    assert _nfs(full) == _nfs(res)
    assert res.supersteps == full.supersteps


def test_hyperanf_auto_routes_stream_at_scale(spark, monkeypatch):
    # With the many-superstep crossover lowered beneath the fixture size,
    # algos.hyperanf.hyper_anf mode="auto" serves the call through the
    # fused register-max stream path (observed via a spy) and still
    # matches the pinned join path bit-for-bit.
    import chaos_spark.csr as csr_mod
    import chaos_spark.stream_algos as sa
    from chaos_spark.algos.hyperanf import hyper_anf

    monkeypatch.setattr(csr_mod, "STREAM_AUTO_MIN_EDGES", 1)
    called = {}
    orig = sa.hyperanf_stream

    def spy(*a, **k):
        called["stream"] = True
        return orig(*a, **k)

    monkeypatch.setattr(sa, "hyperanf_stream", spy)
    pdf = g4_powerlaw(scale=9, num_edges=3000)
    edges = spark.createDataFrame(pdf)
    a = hyper_anf(spark, edges, max_iters=25)
    assert called.get("stream")
    b = hyper_anf(spark, edges, max_iters=25, mode="join")
    assert _nfs(a) == _nfs(b)
    assert a.supersteps == b.supersteps


# ---------------------------------------------------------------------------
# K-core threshold-peel stream kernel — exact parity with
# algos.kcores.k_core (integer degree counts over the surviving
# subgraph; alive' = alive AND deg >= k; converged when nothing drops).
# ---------------------------------------------------------------------------

def _cores(res):
    return {
        r["id"]: r["in_core"]
        for r in res.state.select("id", "in_core").collect()
    }


@pytest.mark.parametrize("name", sorted(GRAPHS))
@pytest.mark.parametrize("k", [2, 3])
def test_kcore_stream_equals_join_path(spark, name, k):
    from chaos_spark.algos.kcores import k_core
    from chaos_spark.stream_algos import kcore_stream

    edges = spark.createDataFrame(GRAPHS[name]())
    r_join = k_core(spark, edges, k=k, max_iters=100, mode="join")
    r_str = kcore_stream(spark, edges, k=k, max_iters=100)
    assert _cores(r_join) == _cores(r_str)
    assert r_str.supersteps == r_join.supersteps
    assert r_str.converged == r_join.converged


def test_kcore_stream_fixed_k_and_state_partitions(spark):
    from chaos_spark.algos.kcores import k_core
    from chaos_spark.stream_algos import kcore_stream

    pdf = g4_powerlaw(scale=9, num_edges=3000)
    edges = spark.createDataFrame(pdf)
    r_join = k_core(spark, edges, k=3, max_iters=3, mode="join")
    a = kcore_stream(spark, edges, k=3, max_iters=3)
    b = kcore_stream(spark, edges, k=3, max_iters=3, state_partitions=2)
    assert _cores(r_join) == _cores(a) == _cores(b)
    assert a.supersteps == r_join.supersteps


def test_kcore_stream_resume_equals_uninterrupted(spark, tmp_path):
    from chaos_spark.stream_algos import kcore_stream

    pdf = g4_powerlaw(scale=9, num_edges=3000)
    edges = spark.createDataFrame(pdf)
    config = {"algo": "kcore_stream", "k": 4, "graph": "g4s9"}

    full = kcore_stream(spark, edges, k=4, max_iters=100)

    cp1 = CheckpointManager(str(tmp_path / "cp"), "kcore_stream", config)
    part = kcore_stream(
        spark, edges, k=4, max_iters=2, checkpointer=cp1, checkpoint_every=2,
    )
    assert part.supersteps == 2
    assert cp1.latest() is not None and cp1.latest()["superstep"] == 2

    cp2 = CheckpointManager(str(tmp_path / "cp"), "kcore_stream", config)
    res = kcore_stream(
        spark, edges, k=4, max_iters=100, checkpointer=cp2, checkpoint_every=2,
    )
    assert _cores(full) == _cores(res)
    assert res.supersteps == full.supersteps


def test_kcore_auto_routes_stream_at_scale(spark, monkeypatch):
    # With the crossover lowered beneath the fixture size, k_core
    # mode="auto" serves the call through the fused threshold-peel stream
    # path (observed via a spy) and still matches the pinned join path.
    import chaos_spark.csr as csr_mod
    import chaos_spark.stream_algos as sa
    from chaos_spark.algos.kcores import k_core

    monkeypatch.setattr(csr_mod, "STREAM_AUTO_MIN_EDGES", 1)
    called = {}
    orig = sa.kcore_stream

    def spy(*a, **k):
        called["stream"] = True
        return orig(*a, **k)

    monkeypatch.setattr(sa, "kcore_stream", spy)
    pdf = g4_powerlaw(scale=9, num_edges=3000)
    edges = spark.createDataFrame(pdf)
    a = k_core(spark, edges, k=3, max_iters=100)
    assert called.get("stream")
    b = k_core(spark, edges, k=3, max_iters=100, mode="join")
    assert _cores(a) == _cores(b)
    assert a.supersteps == b.supersteps


# ---------------------------------------------------------------------------
# Luby MIS two-phase stream kernel — final-set parity with algos.mis
# (identical deterministic priorities; 2 stream supersteps per Luby
# round, so superstep counts relate as 2R-1 or 2R, never compare equal).
# ---------------------------------------------------------------------------

def _sets(res):
    return {
        r["id"]: r["in_set"]
        for r in res.state.select("id", "in_set").collect()
    }


@pytest.mark.parametrize("name", sorted(GRAPHS))
def test_mis_stream_equals_join_path(spark, name):
    from chaos_spark.algos.mis import maximal_independent_set
    from chaos_spark.stream_algos import mis_stream

    edges = spark.createDataFrame(GRAPHS[name]())
    r_join = maximal_independent_set(spark, edges, max_iters=50, mode="join")
    r_str = mis_stream(spark, edges, max_iters=100)
    assert _sets(r_join) == _sets(r_str)
    assert r_str.converged == r_join.converged
    assert r_str.supersteps in (
        2 * r_join.supersteps - 1, 2 * r_join.supersteps
    )


def test_mis_stream_self_loops_and_isolated_vertex(spark):
    # The join path keeps self-loop-only vertices in the UNIVERSE (they
    # join the IS) while dropping self-loops from the ADJACENCY; the
    # stream kernel must reproduce both via in-kernel masking over blocks
    # that keep the loops.
    import pandas as pd

    pdf = pd.DataFrame({
        "src": [0, 1, 2, 2, 7, 3, 4],
        "dst": [1, 2, 3, 2, 7, 4, 0],
    })
    edges = spark.createDataFrame(pdf)
    from chaos_spark.algos.mis import maximal_independent_set
    from chaos_spark.stream_algos import mis_stream

    r_join = maximal_independent_set(spark, edges, max_iters=50, mode="join")
    r_str = mis_stream(spark, edges, max_iters=100)
    s = _sets(r_str)
    assert s == _sets(r_join)
    assert s[7] is True  # self-loop-only vertex: isolated, joins the IS


def test_mis_stream_truncated_rounds_and_state_partitions(spark):
    from chaos_spark.algos.mis import maximal_independent_set
    from chaos_spark.stream_algos import mis_stream

    pdf = g4_powerlaw(scale=9, num_edges=3000)
    edges = spark.createDataFrame(pdf)
    r_join = maximal_independent_set(spark, edges, max_iters=2, mode="join")
    a = mis_stream(spark, edges, max_iters=4)
    b = mis_stream(spark, edges, max_iters=4, state_partitions=2)
    assert _sets(r_join) == _sets(a) == _sets(b)


def test_mis_stream_resume_equals_uninterrupted(spark, tmp_path):
    # checkpoint_every=3 lands a resume point MID-ROUND (phase 1): the
    # round/phase words riding the blob must restore the exact state
    # machine position.
    from chaos_spark.stream_algos import mis_stream

    pdf = g4_powerlaw(scale=9, num_edges=3000)
    edges = spark.createDataFrame(pdf)
    config = {"algo": "mis_stream", "graph": "g4s9"}

    full = mis_stream(spark, edges, max_iters=100)

    cp1 = CheckpointManager(str(tmp_path / "cp"), "mis_stream", config)
    part = mis_stream(
        spark, edges, max_iters=3, checkpointer=cp1, checkpoint_every=3,
    )
    assert part.supersteps == 3
    assert cp1.latest() is not None and cp1.latest()["superstep"] == 3

    cp2 = CheckpointManager(str(tmp_path / "cp"), "mis_stream", config)
    res = mis_stream(
        spark, edges, max_iters=100, checkpointer=cp2, checkpoint_every=3,
    )
    assert _sets(full) == _sets(res)
    assert res.supersteps == full.supersteps


def test_mis_auto_routes_stream_at_scale(spark, monkeypatch):
    import chaos_spark.csr as csr_mod
    import chaos_spark.stream_algos as sa
    from chaos_spark.algos.mis import maximal_independent_set

    monkeypatch.setattr(csr_mod, "STREAM_AUTO_MIN_EDGES", 1)
    called = {}
    orig = sa.mis_stream

    def spy(*a, **k):
        called["stream"] = True
        return orig(*a, **k)

    monkeypatch.setattr(sa, "mis_stream", spy)
    pdf = g4_powerlaw(scale=9, num_edges=3000)
    edges = spark.createDataFrame(pdf)
    a = maximal_independent_set(spark, edges, max_iters=50)
    assert called.get("stream")
    b = maximal_independent_set(spark, edges, max_iters=50, mode="join")
    assert _sets(a) == _sets(b)


# ---------------------------------------------------------------------------
# Bipartiteness lexmin stream kernel — exact parity with algos.bipartite
# (two-word (root, dist) lexmin ≡ struct(root, dist) min; message =
# (root, dist + 1); same odd-edge conflict count).
# ---------------------------------------------------------------------------

def _colorings(res):
    return {
        r["id"]: (r["root"], r["dist"], r["color"])
        for r in res.state.select("id", "root", "dist", "color").collect()
    }


@pytest.mark.parametrize("name", sorted(GRAPHS))
def test_bipartite_stream_equals_join_path(spark, name):
    from chaos_spark.algos.bipartite import bipartite_check
    from chaos_spark.stream_algos import bipartite_stream

    edges = spark.createDataFrame(GRAPHS[name]())
    r_join = bipartite_check(spark, edges, max_iters=200, mode="join")
    r_str = bipartite_stream(spark, edges, max_iters=200)
    assert _colorings(r_join) == _colorings(r_str)
    assert r_str.supersteps == r_join.supersteps
    assert r_str.history[-1]["odd_edges"] == r_join.history[-1]["odd_edges"]
    assert r_str.history[-1]["bipartite"] == r_join.history[-1]["bipartite"]


def test_bipartite_stream_equals_join_path_on_high_ids(spark):
    """Ids from 2^31 up to near 2^63 (as xxhash64 mints them): the
    two-word state keeps exact parity where a packed one cannot."""
    from chaos_spark.algos.bipartite import bipartite_check
    from chaos_spark.stream_algos import bipartite_stream

    pdf = g4_powerlaw(scale=9, num_edges=3000)
    ids = np.unique(np.concatenate([pdf["src"], pdf["dst"]]))
    hashed = dict(zip(ids, np.random.default_rng(3).integers(
        2**31, 2**63 - 1, size=len(ids), dtype=np.int64)))
    edges = spark.createDataFrame(pd.DataFrame({
        "src": pdf["src"].map(hashed), "dst": pdf["dst"].map(hashed),
    }))
    r_join = bipartite_check(spark, edges, max_iters=200, mode="join")
    r_str = bipartite_stream(spark, edges, max_iters=200)
    assert _colorings(r_join) == _colorings(r_str)
    assert min(_colorings(r_str)) >= 2**31
    assert r_str.supersteps == r_join.supersteps
    assert r_str.history[-1]["odd_edges"] == r_join.history[-1]["odd_edges"]


def test_bipartite_stream_verdicts(spark):
    # chain = bipartite (0 odd edges); two triangles bridged = odd cycles.
    from chaos_spark.stream_algos import bipartite_stream

    chain = bipartite_stream(
        spark, spark.createDataFrame(g1_chain()), max_iters=200
    )
    assert chain.history[-1]["bipartite"] is True
    cliq = bipartite_stream(
        spark, spark.createDataFrame(g3_cliques()), max_iters=200
    )
    assert cliq.history[-1]["odd_edges"] > 0


def test_bipartite_stream_fixed_k_and_state_partitions(spark):
    from chaos_spark.algos.bipartite import bipartite_check
    from chaos_spark.stream_algos import bipartite_stream

    pdf = g4_powerlaw(scale=9, num_edges=3000)
    edges = spark.createDataFrame(pdf)
    r_join = bipartite_check(spark, edges, max_iters=6, mode="join")
    a = bipartite_stream(spark, edges, max_iters=6)
    b = bipartite_stream(spark, edges, max_iters=6, state_partitions=2)
    assert _colorings(r_join) == _colorings(a) == _colorings(b)
    assert a.supersteps == r_join.supersteps


def test_bipartite_stream_resume_equals_uninterrupted(spark, tmp_path):
    from chaos_spark.stream_algos import bipartite_stream

    pdf = g4_powerlaw(scale=9, num_edges=3000)
    edges = spark.createDataFrame(pdf)
    config = {"algo": "bipartite_stream", "graph": "g4s9"}

    full = bipartite_stream(spark, edges, max_iters=200)

    cp1 = CheckpointManager(str(tmp_path / "cp"), "bipartite_stream", config)
    part = bipartite_stream(
        spark, edges, max_iters=2, checkpointer=cp1, checkpoint_every=2,
    )
    assert part.supersteps == 2
    assert cp1.latest() is not None and cp1.latest()["superstep"] == 2

    cp2 = CheckpointManager(str(tmp_path / "cp"), "bipartite_stream", config)
    res = bipartite_stream(
        spark, edges, max_iters=200, checkpointer=cp2, checkpoint_every=2,
    )
    assert _colorings(full) == _colorings(res)
    assert res.supersteps == full.supersteps
    assert res.history[-1]["odd_edges"] == full.history[-1]["odd_edges"]


def test_bipartite_auto_routes_stream_at_scale(spark, monkeypatch):
    import chaos_spark.csr as csr_mod
    import chaos_spark.stream_algos as sa
    from chaos_spark.algos.bipartite import bipartite_check

    monkeypatch.setattr(csr_mod, "STREAM_AUTO_MIN_EDGES", 1)
    called = {}
    orig = sa.bipartite_stream

    def spy(*a, **k):
        called["stream"] = True
        return orig(*a, **k)

    monkeypatch.setattr(sa, "bipartite_stream", spy)
    pdf = g4_powerlaw(scale=9, num_edges=3000)
    edges = spark.createDataFrame(pdf)
    a = bipartite_check(spark, edges, max_iters=200)
    assert called.get("stream")
    b = bipartite_check(spark, edges, max_iters=200, mode="join")
    assert _colorings(a) == _colorings(b)
    assert a.supersteps == b.supersteps


# ---------------------------------------------------------------------------
# SCC two-graph stream kernel — exact parity with algos.scc (forward
# max-color folds over the directed blocks, backward min-sweeps over the
# reversed blocks, dead vertices masked in-kernel; the phase rides the
# blob).
# ---------------------------------------------------------------------------

def _scc_stream_cases():
    import pandas as pd

    return {
        "two_cycles_bridged": pd.DataFrame(
            {"src": [1, 2, 3, 4, 5, 6, 3], "dst": [2, 3, 1, 5, 6, 4, 4]}
        ),
        "dag_all_singletons": pd.DataFrame(
            {"src": [1, 1, 2, 3], "dst": [2, 3, 4, 4]}
        ),
        "chain": g1_chain(),
        "powerlaw": g4_powerlaw(scale=8, num_edges=1500),
    }


@pytest.mark.parametrize("name", sorted(_scc_stream_cases()))
def test_scc_stream_equals_join_path(spark, name):
    from chaos_spark.algos.scc import strongly_connected_components
    from chaos_spark.stream_algos import scc_stream

    pdf = _scc_stream_cases()[name]
    edges = spark.createDataFrame(pdf)
    r_join = strongly_connected_components(spark, edges, mode="join")
    r_str = scc_stream(spark, edges)
    assert r_str.converged
    assert _labels(r_join) == _labels(r_str)


def test_scc_stream_matches_networkx(spark):
    import networkx as nx

    from chaos_spark.stream_algos import scc_stream

    pdf = g4_powerlaw(scale=8, num_edges=1500)
    g = nx.DiGraph()
    g.add_edges_from(
        pdf[["src", "dst"]].drop_duplicates().itertuples(index=False)
    )
    exp = {}
    for comp in nx.strongly_connected_components(g):
        m = min(comp)
        for v in comp:
            exp[v] = m
    res = scc_stream(spark, spark.createDataFrame(pdf))
    assert res.converged
    assert _labels(res) == exp


def test_scc_stream_state_partitions_invariance(spark):
    from chaos_spark.stream_algos import scc_stream

    pdf = g4_powerlaw(scale=8, num_edges=1500)
    edges = spark.createDataFrame(pdf)
    a = scc_stream(spark, edges)
    b = scc_stream(spark, edges, state_partitions=2)
    assert _labels(a) == _labels(b)
    assert a.supersteps == b.supersteps


def test_scc_stream_resume_equals_uninterrupted(spark, tmp_path):
    # The phase rides the blob: a resume needs no phase in the manifest.
    # Interrupt mid-phase, strip the manifest's metrics, and resume.
    import json

    from chaos_spark.stream_algos import scc_stream

    pdf = g4_powerlaw(scale=8, num_edges=1500)
    edges = spark.createDataFrame(pdf)
    config = {"algo": "scc_stream", "graph": "g4s8"}

    full = scc_stream(spark, edges)
    assert full.converged and full.supersteps > 3
    assert full.history[2]["apply"] == full.history[3]["apply"]  # mid-phase

    cp1 = CheckpointManager(str(tmp_path / "cp"), "scc_stream", config)
    part = scc_stream(
        spark, edges, max_iters=3, checkpointer=cp1, checkpoint_every=3,
    )
    assert part.supersteps == 3
    m = cp1.latest()
    assert m is not None and m["superstep"] == 3
    m["metrics"] = {}
    with open(cp1._manifest_path(3), "w") as f:
        json.dump(m, f)

    cp2 = CheckpointManager(str(tmp_path / "cp"), "scc_stream", config)
    res = scc_stream(
        spark, edges, checkpointer=cp2, checkpoint_every=3,
    )
    assert _labels(full) == _labels(res)
    assert res.supersteps == full.supersteps
    for a, b in zip(res.history, full.history[3:], strict=True):
        assert (a["live"], a["changed"], a["apply"]) == (b["live"], b["changed"], b["apply"])


def test_scc_auto_routes_stream_at_scale(spark, monkeypatch):
    import chaos_spark.csr as csr_mod
    import chaos_spark.stream_algos as sa
    from chaos_spark.algos.scc import strongly_connected_components

    monkeypatch.setattr(csr_mod, "STREAM_AUTO_MIN_EDGES", 1)
    called = {}
    orig = sa.scc_stream

    def spy(*a, **k):
        called["stream"] = True
        return orig(*a, **k)

    monkeypatch.setattr(sa, "scc_stream", spy)
    pdf = g4_powerlaw(scale=8, num_edges=1500)
    edges = spark.createDataFrame(pdf)
    a = strongly_connected_components(spark, edges)
    assert called.get("stream")
    b = strongly_connected_components(spark, edges, mode="join")
    assert _labels(a) == _labels(b)
