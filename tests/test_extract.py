import hashlib

import pandas as pd
from pyspark.sql import functions as F

from chaos_spark.extract import corpus_to_graph, extract_references, resolve_references
from chaos_spark.fixtures import gen_source_files
from chaos_spark.graph import assert_no_id_collisions


def _corpus_df(spark, corpus):
    return spark.createDataFrame(corpus.files)


def test_generator_deterministic():
    a = gen_source_files(n_rows=500, seed=42)
    b = gen_source_files(n_rows=500, seed=42)
    assert a.files.equals(b.files)
    assert a.truth_edges.equals(b.truth_edges)
    assert a.n_unresolvable == b.n_unresolvable


def test_content_sha256_invariant(spark):
    """BASELINE.json per-row invariant: content sha256 equality after the
    rows round-trip through the Spark pipeline."""
    corpus = gen_source_files(n_rows=400, seed=42)
    df = _corpus_df(spark, corpus)
    got = {
        (r["repo"], r["path"]): r["sha"]
        for r in df.select("repo", "path", F.sha2("content", 256).alias("sha")).collect()
    }
    for row in corpus.truth_sha.itertuples(index=False):
        assert got[(row.repo, row.path)] == row.sha256
    # and the local hash function agrees with Spark's sha2
    sample = corpus.files.iloc[0]
    assert (
        hashlib.sha256(sample.content.encode()).hexdigest()
        == got[(sample.repo, sample.path)]
    )


def test_extraction_matches_ground_truth(spark):
    corpus = gen_source_files(n_rows=800, seed=42)
    df = _corpus_df(spark, corpus)
    refs = extract_references(df)
    edges, unresolved = resolve_references(refs, df)
    got = {
        (r["repo"], r["src_path"], r["dst_path"])
        for r in edges.collect()
    }
    want = {
        (r.repo, r.src_path, r.dst_path) for r in corpus.truth_edges.itertuples(index=False)
    }
    assert got == want
    # unresolvable imports are dropped and counted, never a crash
    assert unresolved.count() == corpus.n_unresolvable


def _truth_ids(spark, truth):
    """{(xxhash64(repo, src_path), xxhash64(repo, dst_path))} of the
    true path edges, computed by Spark independently of the library."""
    rows = spark.createDataFrame(truth).select(
        F.xxhash64("repo", "src_path").alias("src"),
        F.xxhash64("repo", "dst_path").alias("dst"),
    ).collect()
    return {(r["src"], r["dst"]) for r in rows}


def _edge_rows(edges):
    return [(r["src"], r["dst"]) for r in edges.collect()]


def test_corpus_to_graph_ids(spark):
    corpus = gen_source_files(n_rows=400, seed=42)
    df = _corpus_df(spark, corpus)
    vertices, edges, _ = corpus_to_graph(df)
    assert_no_id_collisions(vertices)
    got = _edge_rows(edges)
    assert len(got) == len(corpus.truth_edges)
    # each edge is xxhash64(repo, path) of its true endpoints ...
    assert set(got) == _truth_ids(spark, corpus.truth_edges)
    # ... and those are the ids the vertex table mints
    vid = {(r["repo"], r["path"]): r["id"] for r in vertices.collect()}
    assert set(got) == {
        (vid[(t.repo, t.src_path)], vid[(t.repo, t.dst_path)])
        for t in corpus.truth_edges.itertuples(index=False)
    }


def test_corpus_to_graph_duplicate_file_row_ids(spark):
    """A file listed twice is one key, not an id collision."""
    corpus = gen_source_files(n_rows=100, seed=1)
    files = pd.concat([corpus.files, corpus.files.iloc[:1]], ignore_index=True)
    vertices, _, _ = corpus_to_graph(spark.createDataFrame(files))
    assert vertices.count() == 101
    assert_no_id_collisions(vertices)


def test_corpus_to_graph_null_path_has_no_edges(spark):
    """A file with a NULL path has no vertex: its imports resolve, but it
    contributes no edge (and no id hashed from its repo alone)."""
    corpus = gen_source_files(n_rows=400, seed=42)
    src = corpus.truth_edges["src_path"].iloc[0]
    row = corpus.files[corpus.files["path"] == src].assign(path=None)
    df = spark.createDataFrame(pd.concat([corpus.files, row], ignore_index=True))
    _, edges, _ = corpus_to_graph(df)
    got = _edge_rows(edges)
    assert len(got) == len(corpus.truth_edges)
    assert set(got) == _truth_ids(spark, corpus.truth_edges)


def test_corpus_to_graph_duplicate_file_row(spark):
    """A (repo, path) listed twice yields each of its edges once."""
    corpus = gen_source_files(n_rows=400, seed=42)
    t = corpus.truth_edges.iloc[0]
    dup = corpus.files[
        (corpus.files["repo"] == t.repo)
        & corpus.files["path"].isin([t.src_path, t.dst_path])
    ]
    assert len(dup) == 2
    df = spark.createDataFrame(pd.concat([corpus.files, dup], ignore_index=True))
    _, edges, _ = corpus_to_graph(df)
    got = _edge_rows(edges)
    assert len(got) == len(set(got)) == len(corpus.truth_edges)
    assert set(got) == _truth_ids(spark, corpus.truth_edges)


def test_corpus_to_graph_jobs(spark, count_jobs):
    """Building the graph runs no job and counting its edges runs one
    plan: AQE splits it into the index broadcast, two shuffle-map stages
    (the edge distinct, the count) and the result stage. No size probe,
    no vertex-table join."""
    df = _corpus_df(spark, gen_source_files(n_rows=400, seed=43))
    with count_jobs() as jobs:
        _, edges, _ = corpus_to_graph(df)
        edges.count()
    assert len(jobs) == 4
