"""Cache ownership: library code releases only the cache entries it made.

Spark matches cache entries by plan. When a caller has persisted an edge
frame whose columns are exactly ``(src, dst)``, the block build's
``edges.select(src, dst)`` is plan-equal to it: ``persist()`` of that
projection is a no-op, and an ``unpersist()`` of it removes the CALLER's
entry, so every later action re-runs the caller's whole lineage. These
tests read ``storageLevel`` (the JVM CacheManager), never ``is_cached``,
which is only a flag on the Python object that called persist().
"""

from __future__ import annotations

import os

import pytest
from pyspark import StorageLevel

from chaos_spark import csr as csr_mod
from chaos_spark.algos import pagerank, triangle_count
from chaos_spark.extract import corpus_to_graph
from chaos_spark.fixtures import g3_cliques, g4_powerlaw, gen_source_files
from chaos_spark.stream import pagerank_stream
from chaos_spark.stream_algos import cc_stream, lpa_stream, scc_stream


@pytest.fixture
def blocks(tmp_path, monkeypatch):
    """A private block dir and an empty warm registry per test."""
    monkeypatch.setattr(csr_mod, "_DISK_BLOCK_BASE", str(tmp_path))
    monkeypatch.setattr(csr_mod, "_WARM_BLOCKS", {})


def _cached_edges(spark, weighted=False):
    """A materialized, caller-persisted edge frame; exactly (src, dst)
    unless weighted, so the build's projection is plan-equal to it."""
    pdf = g3_cliques()
    if weighted:
        pdf = pdf.assign(weight=1.0 + (pdf["src"] % 3))
    edges = spark.createDataFrame(pdf).persist()
    edges.count()
    assert edges.storageLevel != StorageLevel.NONE
    return edges


def _build_then_adopt(spark, edges):
    g = csr_mod.CsrGraph(spark, edges, num_partitions=4, token="pinned")
    assert edges.storageLevel != StorageLevel.NONE
    marker = os.path.join(g.block_dir, "_BUILT")
    built_at = os.path.getmtime(marker)
    csr_mod.CsrGraph(spark, edges, num_partitions=4, token="pinned")
    assert os.path.getmtime(marker) == built_at  # adopted, not rebuilt


CALLS = {
    "csr_build_adopt": (False, _build_then_adopt),
    "pagerank_stream": (False, lambda s, e: pagerank_stream(s, e, max_iters=5)),
    "pagerank_stream_weighted": (
        True,
        lambda s, e: pagerank_stream(s, e, max_iters=5, weight_col="weight"),
    ),
    "algos_pagerank_stream": (
        False, lambda s, e: pagerank(s, e, max_iters=5, mode="stream"),
    ),
    "cc_stream": (False, lambda s, e: cc_stream(s, e)),
    "lpa_stream": (False, lambda s, e: lpa_stream(s, e, max_iters=3)),
    "scc_stream": (False, lambda s, e: scc_stream(s, e)),
}


@pytest.mark.parametrize("name", sorted(CALLS))
def test_caller_cache_survives(spark, blocks, name):
    weighted, call = CALLS[name]
    edges = _cached_edges(spark, weighted)
    level = edges.storageLevel
    try:
        call(spark, edges)
        assert edges.storageLevel == level
    finally:
        edges.unpersist()


@pytest.mark.parametrize(
    "name", [
        "pagerank_stream", "pagerank_stream_weighted", "cc_stream", "lpa_stream",
        "scc_stream",
    ]
)
def test_stream_call_removes_its_blocks(spark, blocks, tmp_path, monkeypatch, name):
    """A stream call that built an ephemeral block dir (no token, no warm
    registration) removes it before returning."""
    monkeypatch.setattr(csr_mod, "_WARM_KEEP_MAX_EDGES", 0)
    weighted, call = CALLS[name]
    edges = _cached_edges(spark, weighted)
    try:
        call(spark, edges)
    finally:
        edges.unpersist()
    assert os.listdir(tmp_path) == []


def _persistent_rdd_ids(spark) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


@pytest.fixture
def persist_calls(monkeypatch):
    """Records every DataFrame.persist() made while the test runs."""
    from pyspark.sql.classic.dataframe import DataFrame

    calls = []
    real = DataFrame.persist
    monkeypatch.setattr(
        DataFrame, "persist", lambda df, *a, **k: calls.append(df) or real(df, *a, **k)
    )
    return calls


def test_csr_graph_releases_its_own_copy(spark, blocks, persist_calls):
    """Uncached input, no ``num_edges``: the build scans the edges twice
    (count, then the edge pass), so it persists its projection — and
    releases it before returning."""
    edges = spark.createDataFrame(g4_powerlaw(scale=8, num_edges=1500))
    before = _persistent_rdd_ids(spark)
    g = csr_mod.CsrGraph(spark, edges, num_partitions=4)
    assert len(persist_calls) == 1
    assert _persistent_rdd_ids(spark) - before == set()
    assert persist_calls[0].storageLevel == StorageLevel.NONE
    g.unpersist()


def test_csr_graph_with_edge_count_persists_nothing(spark, blocks, persist_calls):
    """With ``num_edges`` given, the edge stream is scanned once (build
    pass or validation job) and no cache is made at all."""
    edges = spark.createDataFrame(g3_cliques())
    ne = edges.count()
    before = _persistent_rdd_ids(spark)
    csr_mod.CsrGraph(spark, edges, num_partitions=4, token="pinned", num_edges=ne)
    csr_mod.CsrGraph(spark, edges, num_partitions=4, token="pinned", num_edges=ne)
    assert persist_calls == []
    assert _persistent_rdd_ids(spark) - before == set()


def test_triangle_count_leaves_no_cache(spark):
    edges = spark.createDataFrame(g3_cliques())
    before = _persistent_rdd_ids(spark)
    assert triangle_count(spark, edges) == 20
    assert _persistent_rdd_ids(spark) - before == set()


def test_corpus_to_graph_leaves_no_cache(spark):
    """Extraction persists nothing: the caller's corpus keeps its storage
    level and no persistent RDD outlives counting the edges."""
    # a corpus no other test builds, so no plan-equal cache entry exists
    corpus = spark.createDataFrame(gen_source_files(n_rows=400, seed=44).files)
    level = corpus.storageLevel
    before = _persistent_rdd_ids(spark)
    _, edges, _ = corpus_to_graph(corpus)
    edges.count()
    assert corpus.storageLevel == level
    assert _persistent_rdd_ids(spark) - before == set()
