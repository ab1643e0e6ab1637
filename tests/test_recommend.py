import pytest
from pyspark.sql import functions as F

from knowledge_graph_aware_recommender_systems_with_dbpedia_spark.operators import recommend as RC


@pytest.fixture(scope="module")
def train(spark):
    # popularity: i1 (3 raters) > i2 (2) > i3 (1); u1 rated i1, i2
    rows = [
        ("u1", "i1"), ("u1", "i2"),
        ("u2", "i1"), ("u2", "i3"),
        ("u3", "i1"), ("u3", "i2"),
    ]
    return spark.createDataFrame(rows, "user_id string, item_id string").cache()


def test_popularity_excludes_rated(train):
    recs = RC.PopularityRecommender(k=2).train(train).get_recommendations(2)
    by_user = {}
    for r in recs.collect():
        by_user.setdefault(r.user_id, []).append((r.rank, r.item_id))
    # u1 rated i1, i2 -> only i3 remains
    assert [i for _, i in sorted(by_user["u1"])] == ["i3"]
    # u2 rated i1, i3 -> i2 is the top unrated
    assert [i for _, i in sorted(by_user["u2"])] == ["i2"]


def test_ranks_contiguous(train):
    recs = RC.PopularityRecommender(k=2).train(train).get_recommendations(2)
    for r in recs.groupBy("user_id").agg(F.min("rank").alias("mn")).collect():
        assert r.mn == 1


def test_topk_by_cosine_excludes_train(spark, train):
    uv = spark.createDataFrame(
        [("u1", [1.0, 0.0]), ("u2", [0.0, 1.0]), ("u3", [1.0, 1.0])],
        "user_id string, vec array<double>",
    )
    iv = spark.createDataFrame(
        [("i1", [1.0, 0.0]), ("i2", [0.0, 1.0]), ("i3", [0.7, 0.7])],
        "item_id string, vec array<double>",
    )
    recs = RC.topk_by_cosine(uv, iv, k=1, train=train)
    got = {r.user_id: r.item_id for r in recs.collect()}
    assert got["u1"] == "i3"  # i1 (best) excluded as rated
    assert got["u2"] == "i2"  # u2 rated i1 and i3 -> only i2 remains
    assert got["u3"] == "i3"


def test_max_user_degree(train):
    assert RC.max_user_degree(train) == 2


def test_get_user_recommendation_is_per_user_slice(train):
    """Reference recommender.py:22-28 contract: the single-user call
    returns exactly the per-user rows of get_recommendations."""
    rec = RC.PopularityRecommender(k=2).train(train)
    full = {
        (r.user_id, r.rank): r.item_id
        for r in rec.get_recommendations(2).collect()
    }
    one = rec.get_user_recommendation("u2", 2).collect()
    assert {(r.user_id, r.rank): r.item_id for r in one} == {
        kv: i for kv, i in full.items() if kv[0] == "u2"
    }


def test_all_recs_disables_truncation(train):
    """Reference deep_walk_based/model.py:71-78: all_recs=True ranks
    EVERY unseen item, ignoring k."""
    rec = RC.PopularityRecommender(k=1, all_recs=True).train(train)
    recs = rec.get_recommendations(1)
    by_user = {}
    for r in recs.collect():
        by_user.setdefault(r.user_id, []).append((r.rank, r.item_id))
    # every user rated 2 of 3 items -> exactly 1 unseen each, ranked,
    # and a k=1 run with all_recs must still return ALL unseen (here 1)
    assert all(len(v) == 1 for v in by_user.values())
    # u1's unseen item is i3 even though k=1 would already include it;
    # the stronger check: a user with 1 rating sees all 2 remaining
    more = train.union(train.sparkSession.createDataFrame(
        [("u4", "i1")], "user_id string, item_id string"))
    rec2 = RC.PopularityRecommender(k=1, all_recs=True).train(more)
    u4 = rec2.get_user_recommendation("u4").collect()
    assert sorted((r.rank, r.item_id) for r in u4) == [(1, "i2"), (2, "i3")]


def test_all_recs_cosine_path(spark, train):
    uv = spark.createDataFrame(
        [("u1", [1.0, 0.0])], "user_id string, vec array<double>"
    )
    iv = spark.createDataFrame(
        [("i1", [1.0, 0.0]), ("i2", [0.0, 1.0]), ("i3", [0.7, 0.7])],
        "item_id string, vec array<double>",
    )
    recs = RC.topk_by_cosine(uv, iv, k=1, train=train, all_recs=True)
    # u1 rated i1, i2 -> all_recs keeps every unseen item (just i3)
    # ranked, and k=1 is ignored for truncation purposes
    assert [(r.item_id, r.rank) for r in recs.collect()] == [("i3", 1)]


def test_all_recs_rejected_on_lsh_scoring():
    from knowledge_graph_aware_recommender_systems_with_dbpedia_spark.operators.kge import KGERecommender
    from knowledge_graph_aware_recommender_systems_with_dbpedia_spark.operators.node2vec import Node2VecRecommender

    with pytest.raises(ValueError, match="all_recs"):
        KGERecommender(scoring="lsh", all_recs=True)
    with pytest.raises(ValueError, match="all_recs"):
        Node2VecRecommender(scoring="lsh", all_recs=True)


@pytest.mark.parametrize("kwargs,allowed", [
    ({"scoring": "broadcast"}, "'exact' or 'lsh'"),
    ({"trainer": "local"}, "'driver' or 'sharded'"),
    ({"trainer": "partitioned"}, "'driver' or 'sharded'"),
])
def test_bad_scoring_or_trainer_rejected(kwargs, allowed):
    """Config values are checked with a ValueError naming the allowed
    values, not an assert that ``python -O`` strips."""
    from knowledge_graph_aware_recommender_systems_with_dbpedia_spark.operators.kge import KGERecommender
    from knowledge_graph_aware_recommender_systems_with_dbpedia_spark.operators.node2vec import Node2VecRecommender

    with pytest.raises(ValueError, match=allowed):
        KGERecommender(**kwargs)
    if "scoring" in kwargs:
        with pytest.raises(ValueError, match=allowed):
            Node2VecRecommender(**kwargs)


def test_topk_by_cosine_ranks_nan_scores_last(spark):
    """A NaN score ranks after every number, in the over-fetch window
    and in the final ranking, as the driver scorer ranks it; an inf
    component normalizes to NaN."""
    uv = spark.createDataFrame([("u", [1.0, 0.0])], "user_id string, vec array<double>")
    iv = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("b", [float("nan"), 0.0]), ("c", [0.0, 1.0]),
         ("d", [float("inf"), 1.0])],
        "item_id string, vec array<double>",
    )
    train = spark.createDataFrame([("u", "a")], "user_id string, item_id string")

    def items(df):
        return [r.item_id for r in df.orderBy("rank").collect()]

    # over-fetch 1 + 2 = 3 of 4 items: a, c, b (NaN first would keep b, d, a)
    assert items(RC.topk_by_cosine(uv, iv, k=2, train=train)) == ["c", "b"]
    assert items(RC.topk_by_cosine(uv, iv, k=1, train=train, all_recs=True)) == ["c", "b", "d"]
    assert items(RC.topk_by_cosine(uv, iv, k=4)) == ["a", "c", "b", "d"]


def test_salted_join_equals_plain_join(spark):
    from knowledge_graph_aware_recommender_systems_with_dbpedia_spark.operators.recommend import salted_join

    # pathological skew: 90% of rows share one key
    big = spark.range(2000).select(
        F.when(F.col("id") % 10 < 9, F.lit(1)).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("payload"),
    )
    small = spark.range(50).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    got = salted_join(big, small, "k", n_salts=4).select("k", "payload", "v")
    want = big.join(small, "k").select("k", "payload", "v")
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_aqe_splits_skewed_sort_merge_join(spark):
    """The session's AQE skew-join posture actually fires: a join with
    one pathological key gets its skewed partition split at runtime
    (skew=true in the finalized adaptive plan). Complements
    salted_join, which covers the cases AQE can't re-plan (e.g.
    pre-shuffle bucket joins)."""
    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "65536",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16384",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        big = spark.range(60000).select(
            F.when(F.col("id") < 55000, F.lit(7)).otherwise(F.col("id") % 50).alias("k"),
            F.concat(F.lit("x" * 64), F.col("id").cast("string")).alias("pad"),
        )
        small = spark.range(50).select(F.col("id").alias("k"), F.lit("v").alias("val"))
        j = big.join(small, "k")
        assert len(j.collect()) == 60000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert plan.count("skew=true") >= 1
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_recommender_name_contract():
    from knowledge_graph_aware_recommender_systems_with_dbpedia_spark.operators.recommend import (
        PopularityRecommender,
    )
    from knowledge_graph_aware_recommender_systems_with_dbpedia_spark.plans.registries import MODELS

    r = PopularityRecommender()
    assert r.name() == "PopularityRecommender"  # class-name fallback
    m = MODELS["popularity"]({}, 42)
    m._registry_name = "popularity"
    assert m.name() == "popularity"  # registry spelling wins
