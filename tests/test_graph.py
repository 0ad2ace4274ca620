import pandas as pd
from pyspark.sql import functions as F

from chaos_spark import graph as G


def _edges(spark, pairs):
    return spark.createDataFrame(pd.DataFrame(pairs, columns=["src", "dst"]))


def test_dedup_and_self_loops(spark):
    e = _edges(spark, [(1, 2), (1, 2), (2, 2), (2, 3)])
    assert G.dedup_edges(e).count() == 3
    assert G.dedup_edges(e, drop_self_loops=True).count() == 2


def test_symmetrize(spark):
    e = _edges(spark, [(1, 2), (2, 1), (2, 3)])
    got = {(r["src"], r["dst"]) for r in G.symmetrize(e).collect()}
    assert got == {(1, 2), (2, 1), (2, 3), (3, 2)}


def test_degrees(spark):
    e = _edges(spark, [(1, 2), (1, 3), (3, 1)])
    out = {r["id"]: r["out_degree"] for r in G.out_degrees(e).collect()}
    assert out == {1: 2, 3: 1}
    ind = {r["id"]: r["in_degree"] for r in G.in_degrees(e).collect()}
    assert ind == {2: 1, 3: 1, 1: 1}


def test_vertices_from_edges(spark):
    e = _edges(spark, [(1, 2), (3, 1)])
    assert {r["id"] for r in G.vertices_from_edges(e).collect()} == {1, 2, 3}


def test_salting_splits_hubs_only(spark):
    # hub vertex 9 receives 30 edges; vertex 1 receives 2
    pairs = [(i, 9) for i in range(30)] + [(100, 1), (101, 1)]
    e = _edges(spark, pairs)
    salted = G.salt_edges(e, hub_threshold=10, num_salts=4)
    pdf = salted.toPandas()
    assert set(pdf.loc[pdf["dst"] == 1, "salt"]) == {0}
    assert len(set(pdf.loc[pdf["dst"] == 9, "salt"])) > 1  # actually split
    # salted two-level agg == plain agg
    msgs = salted.withColumn("m", F.lit(1.0))
    two_level = {
        r["dst"]: r["m"] for r in G.salted_agg(msgs, "m", "sum").collect()
    }
    plain = {
        r["dst"]: r["s"]
        for r in e.withColumn("m", F.lit(1.0)).groupBy("dst").agg(F.sum("m").alias("s")).collect()
    }
    assert two_level == plain


def test_mint_ids_stable(spark):
    df = spark.createDataFrame(pd.DataFrame({"repo": ["a", "a", "b"], "path": ["x", "y", "x"]}))
    ids1 = {(r["repo"], r["path"]): r["id"] for r in G.mint_vertex_ids(df, "repo", "path").collect()}
    ids2 = {(r["repo"], r["path"]): r["id"] for r in G.mint_vertex_ids(df, "repo", "path").collect()}
    assert ids1 == ids2
    assert len(set(ids1.values())) == 3
    G.assert_no_id_collisions(G.mint_vertex_ids(df, "repo", "path"))


def test_id_collision_check_counts_keys(spark):
    """Two distinct keys on one id raise, a NULL key field included; one
    key listed twice does not."""
    import pytest

    def frame(rows):
        return spark.createDataFrame(rows, "repo string, path string, id long")

    G.assert_no_id_collisions(frame([("a", "x", 1), ("a", "x", 1)]))
    with pytest.raises(ValueError, match="vertex-id collision: 2 keys -> 1 distinct ids"):
        G.assert_no_id_collisions(frame([("a", "x", 1), ("a", "x", 1), ("b", None, 1)]))
