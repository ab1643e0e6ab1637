import pytest
from pyspark.sql import functions as F

from knowledge_graph_aware_recommender_systems_with_dbpedia_spark.operators import walks as W
from knowledge_graph_aware_recommender_systems_with_dbpedia_spark.operators.node2vec import Node2VecRecommender


@pytest.fixture(scope="module")
def edges(spark):
    # path graph a-b-c-d plus a hub e connected to all
    rows = [("a", "b"), ("b", "c"), ("c", "d"),
            ("e", "a"), ("e", "b"), ("e", "c"), ("e", "d")]
    return spark.createDataFrame(rows, "src string, dst string").cache()


def test_adjacency_sorted_undirected(edges):
    adj = {r.node: r.nbrs for r in W.adjacency(edges).collect()}
    assert adj["a"] == ["b", "e"]
    assert adj["e"] == ["a", "b", "c", "d"]


def test_walk_shape_and_validity(edges):
    wk = W.random_walks(edges, n_walks=3, walk_len=5, seed=7)
    rows = wk.collect()
    assert len(rows) == 5 * 3  # every node starts n_walks walks
    adj = {r.node: set(r.nbrs) for r in W.adjacency(edges).collect()}
    for r in rows:
        assert len(r.walk) == 5
        for a, b in zip(r.walk, r.walk[1:]):
            assert b in adj[a], f"invalid step {a}->{b}"


def test_walks_deterministic_across_partitionings(spark, edges):
    a = W.random_walks(edges.repartition(5), n_walks=2, walk_len=4, seed=1)
    b = W.random_walks(edges.coalesce(1), n_walks=2, walk_len=4, seed=1)
    da = {r.walk_id: r.walk for r in a.collect()}
    db = {r.walk_id: r.walk for r in b.collect()}
    assert da == db


def test_walks_change_with_seed(edges):
    a = {r.walk_id.rsplit("#", 1)[0]: r.walk
         for r in W.random_walks(edges, n_walks=1, walk_len=6, seed=1).collect()}
    b = {r.walk_id.rsplit("#", 1)[0]: r.walk
         for r in W.random_walks(edges, n_walks=1, walk_len=6, seed=2).collect()}
    assert a != b


def test_biased_walk_valid_and_deterministic(edges):
    a = W.random_walks(edges, n_walks=2, walk_len=5, p=0.5, q=2.0, seed=3)
    b = W.random_walks(edges, n_walks=2, walk_len=5, p=0.5, q=2.0, seed=3)
    da = {r.walk_id: r.walk for r in a.collect()}
    db = {r.walk_id: r.walk for r in b.collect()}
    assert da == db
    adj = {r.node: set(r.nbrs) for r in W.adjacency(edges).collect()}
    for wid, walk in da.items():
        for x, y in zip(walk, walk[1:]):
            assert y in adj[x]


def test_return_bias_extremes(spark):
    # triangle graph, tiny p -> walker should bounce back to prev often
    tri = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], "src string, dst string"
    )
    wk = W.random_walks(tri, n_walks=20, walk_len=6, p=1e-6, q=1e6, seed=5)
    backtracks = total = 0
    for r in wk.collect():
        w = r.walk
        for i in range(2, len(w)):
            total += 1
            backtracks += w[i] == w[i - 2]
    assert backtracks / total > 0.9


def test_node2vec_end_to_end(spark):
    rows = [
        (u, i)
        for u in range(8)
        for i in range(10)
        if (u + i) % 3 != 0  # leave holes so there's something to recommend
    ]
    train = spark.createDataFrame(rows, "user_id int, item_id int")
    rec = Node2VecRecommender(
        k=3, n_walks=3, walk_len=5, vector_size=8, epochs=1, seed=42
    ).train(train)
    recs = rec.get_recommendations(3)
    assert recs.columns == ["user_id", "item_id", "rank"]
    per_user = recs.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"), F.max("rank").alias("mx")
    )
    for r in per_user.collect():
        assert r.n == r.mx  # contiguous ranks 1..n
        assert r.n <= 3
    # no train pair may be recommended
    overlap = recs.join(
        train.select(F.col("user_id").cast("string").alias("user_id"),
                     F.col("item_id").cast("string").alias("item_id")),
        ["user_id", "item_id"],
    ).count()
    assert overlap == 0


def test_node2vec_releases_what_it_persists(spark):
    """train() unpersists its train frame and keeps the vectors on the
    driver, and scoring persists nothing."""
    from pyspark import StorageLevel

    rows = [(u, i) for u in range(10) for i in range(12) if (u + i) % 4 != 1]
    train = spark.createDataFrame(rows, "user_id int, item_id int")
    rec = Node2VecRecommender(
        k=3, n_walks=2, walk_len=4, vector_size=4, seed=5, corpus_partitions=2
    ).train(train)
    assert train.select("user_id", "item_id").storageLevel == StorageLevel(False, False, False, False)
    jsc = spark.sparkContext._jsc
    cached = jsc.getPersistentRDDs().size()
    assert len(rec.get_recommendations(3).toPandas()) == 10 * 3
    assert jsc.getPersistentRDDs().size() == cached
