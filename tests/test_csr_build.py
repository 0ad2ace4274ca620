"""CSR block build: the one-task build (raw |E| at or below
``csr.BUILD_ONE_TASK_MAX_EDGES``) writes the same bytes as the p-task
build, and each build or adoption runs its pinned number of Spark jobs.

The p-task build is forced by lowering the threshold below the graph.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pytest

import chaos_spark.csr as csr_mod
from chaos_spark.csr import CsrGraph
from chaos_spark.fixtures import g4_powerlaw


def _edges_pdf(flavor: str) -> pd.DataFrame:
    pdf = g4_powerlaw(scale=9, num_edges=3000)
    if flavor == "weighted":
        rng = np.random.default_rng(5)
        # Every pair of the first 600 rows appears again with another
        # weight, so the build sums duplicate weights.
        pdf = pd.concat([pdf, pdf.iloc[:600]], ignore_index=True)
        pdf["w"] = rng.choice([0.1, 0.2, 0.3, 1.5, -0.0], size=len(pdf))
    return pdf


def _build(spark, pdf, flavor, p, token):
    return CsrGraph(
        spark, spark.createDataFrame(pdf), num_partitions=p, token=token,
        undirected=flavor == "undirected",
        weight_col="w" if flavor == "weighted" else None,
    )


def _dir_bytes(block_dir: str) -> dict[str, bytes]:
    out = {}
    for root, _, files in os.walk(block_dir):
        for name in files:
            path = os.path.join(root, name)
            with open(path, "rb") as f:
                out[os.path.relpath(path, block_dir)] = f.read()
    return out


@pytest.mark.parametrize("p", [4, 11])
@pytest.mark.parametrize("flavor", ["directed", "weighted", "undirected"])
def test_one_task_build_matches_p_task_build(spark, tmp_path, monkeypatch, flavor, p):
    monkeypatch.setattr(csr_mod, "_DISK_BLOCK_BASE", str(tmp_path))
    monkeypatch.setattr(csr_mod, "_WARM_BLOCKS", {})
    pdf = _edges_pdf(flavor)
    one = _build(spark, pdf, flavor, p, "one-task")
    monkeypatch.setattr(csr_mod, "BUILD_ONE_TASK_MAX_EDGES", 0)
    many = _build(spark, pdf, flavor, p, "p-task")
    got, want = _dir_bytes(one.block_dir), _dir_bytes(many.block_dir)
    assert "_BUILT" in got and any(k.startswith("apply-") for k in got)
    assert sorted(got) == sorted(want)
    assert [k for k in got if got[k] != want[k]] == []
    assert (one.num_edges, one.num_vertices, one.edge_fp) == (
        many.num_edges, many.num_vertices, many.edge_fp,
    )


@pytest.fixture
def edges(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(csr_mod, "_DISK_BLOCK_BASE", str(tmp_path))
    monkeypatch.setattr(csr_mod, "_WARM_BLOCKS", {})
    df = spark.createDataFrame(g4_powerlaw(scale=9, num_edges=3000)).persist()
    ne = df.count()
    yield df, ne
    df.unpersist()


def test_cold_build_jobs(spark, edges, count_jobs):
    df, ne = edges
    with count_jobs() as jobs:
        CsrGraph(spark, df, num_partitions=4, num_edges=ne, token="t")
    assert len(jobs) == 1, jobs  # both passes, every block, in one task


def test_p_task_build_jobs(spark, edges, count_jobs, monkeypatch):
    df, ne = edges
    monkeypatch.setattr(csr_mod, "BUILD_ONE_TASK_MAX_EDGES", ne - 1)
    with count_jobs() as jobs:
        CsrGraph(spark, df, num_partitions=4, num_edges=ne, token="t")
    assert len(jobs) == (
        1  # edge pass: repartition(p, src), one task per block
        + 1  # apply pass over range(p)
    ), jobs


def test_warm_adoption_jobs(spark, edges, count_jobs):
    df, ne = edges
    g = CsrGraph(spark, df, num_partitions=4, num_edges=ne, token="t")
    marker = os.path.join(g.block_dir, "_BUILT")
    built_at = os.path.getmtime(marker)
    with count_jobs() as jobs:
        CsrGraph(spark, df, num_partitions=4, num_edges=ne, token="t")
    assert os.path.getmtime(marker) == built_at  # adopted, not rebuilt
    assert len(jobs) == 1, jobs  # the marker's dedup + fingerprint query
