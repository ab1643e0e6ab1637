"""Unit tests for the item-item neighborhood recommenders
(operators/itemknn.py): exact-integer similarity math against
hand-computed values, scoring vs a brute-force replay, the Recommender
contract, and the MODELS registry wiring."""

import math

import pytest
from pyspark.sql import functions as F

from knowledge_graph_aware_recommender_systems_with_dbpedia_spark.operators import itemknn as IK
from knowledge_graph_aware_recommender_systems_with_dbpedia_spark.plans.registries import MODELS

RATINGS = [
    # user, item, rating
    (1, 10, 4), (1, 20, 2), (1, 30, 5),
    (2, 10, 3), (2, 20, 1),
    (3, 10, 5), (3, 30, 2),
    (4, 20, 4), (4, 30, 4),
]


@pytest.fixture()
def ratings(spark):
    return spark.createDataFrame(RATINGS, "user_id bigint, item_id bigint, rating bigint")


def _expected_sims():
    """Hand-replay of co-rating cosine over RATINGS."""
    by_item = {}
    for u, i, r in RATINGS:
        by_item.setdefault(i, {})[u] = r
    items = sorted(by_item)
    out = {}
    for a in items:
        for b in items:
            if a >= b:
                continue
            common = set(by_item[a]) & set(by_item[b])
            if not common:
                continue
            dot = sum(by_item[a][u] * by_item[b][u] for u in common)
            n2a = sum(v * v for v in by_item[a].values())
            n2b = sum(v * v for v in by_item[b].values())
            out[(a, b)] = (len(common), dot / math.sqrt(n2a * n2b))
    return out

def test_item_cosine_similarity_exact(spark, ratings):
    got = {
        (r.item_a, r.item_b): (r.n_common, r.sim)
        for r in IK.item_cosine_similarity(ratings).collect()
        if r.item_a < r.item_b
    }
    want = _expected_sims()
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == want[k][0]
        assert got[k][1] == pytest.approx(want[k][1], rel=1e-12)
    # mirrored direction present and identical
    sym = {
        (r.item_a, r.item_b): r.sim
        for r in IK.item_cosine_similarity(ratings).collect()
    }
    for (a, b), (_, s) in want.items():
        assert sym[(b, a)] == sym[(a, b)]


def test_min_support_prunes(spark, ratings):
    got = IK.item_cosine_similarity(ratings, min_support=2).collect()
    for r in got:
        assert r.n_common >= 2


def test_max_user_degree_drops_power_users(spark, ratings):
    # user 1 rated 3 items; cap at 2 removes them from pair generation
    capped = {
        (r.item_a, r.item_b): r.n_common
        for r in IK.item_cosine_similarity(ratings, max_user_degree=2).collect()
        if r.item_a < r.item_b
    }
    # (10,20): users {1,2} -> only 2 left; (20,30): users {1,4} -> only 4
    assert capped[(10, 20)] == 1
    assert capped[(20, 30)] == 1


def test_kg_item_similarity_jaccard(spark):
    edges = [
        (10, "e1"), (10, "e2"), (10, "e3"),
        (20, "e2"), (20, "e3"),
        (30, "e4"),
    ]
    e = spark.createDataFrame(edges, "item_id bigint, entity string")
    got = {
        (r.item_a, r.item_b): (r.n_shared, r.sim)
        for r in IK.kg_item_similarity(e).collect()
    }
    assert got[(10, 20)] == (2, 2 / 3)  # |A u B| = 3
    assert got[(20, 10)] == (2, 2 / 3)
    assert (10, 30) not in got


def test_kg_max_entity_df_prunes_hot_entities(spark):
    edges = [(i, "hot") for i in range(10, 60, 10)] + [(10, "rare"), (20, "rare")]
    e = spark.createDataFrame(edges, "item_id bigint, entity string")
    got = {
        (r.item_a, r.item_b): (r.n_shared, r.sim)
        for r in IK.kg_item_similarity(e, max_entity_df=3).collect()
    }
    # "hot" (df=5) pruned everywhere: only the rare pair remains, and
    # set sizes are computed over the PRUNED universe (|A|=|B|=1)
    assert got == {(10, 20): (1, 1.0), (20, 10): (1, 1.0)}


def test_kg_max_items_per_entity_bounds_hot_fanout(spark):
    # one hot entity (df=40) + one cold (df=3, below the cap -> exact)
    edges = [(i, "hot") for i in range(40)] + [(100, "cold"), (101, "cold"), (102, "cold")]
    e = spark.createDataFrame(edges, "item_id bigint, entity string")
    capped = IK.kg_item_similarity(e, max_items_per_entity=8)
    pairs = capped.filter(F.col("item_a") < F.col("item_b")).count()
    # hot fan-out bounded near C(cap, 2) instead of C(40, 2) = 780;
    # the det-hash subsample keeps ~cap edges (binomial, loose bound)
    assert pairs < 200
    # cold entity untouched: all 3 of its pairs survive exactly
    cold = {
        (r.item_a, r.item_b)
        for r in capped.filter(F.col("item_a") >= 100).collect()
    }
    assert {(100, 101), (100, 102), (101, 102)} <= cold
    # deterministic: same input -> same pair set
    again = IK.kg_item_similarity(e, max_items_per_entity=8)
    assert sorted(map(tuple, capped.collect())) == sorted(map(tuple, again.collect()))


def test_score_by_neighbors_matches_bruteforce(spark, ratings):
    neighbors = IK.topm_neighbors(IK.item_cosine_similarity(ratings), m=10)
    got = {
        (r.user_id, r.item_id): r.rank
        for r in IK.score_by_neighbors(ratings, neighbors, k=5).collect()
    }
    # brute force: score(u, c) = sum sim(ri, c) * r_u(ri) over rated ri
    sims = {}
    for (a, b), (_, s) in _expected_sims().items():
        sims[(a, b)] = s
        sims[(b, a)] = s
    rated = {}
    for u, i, r in RATINGS:
        rated.setdefault(u, {})[i] = r
    want = {}
    for u, ur in rated.items():
        scores = {}
        for (ri, cand), s in [((ri, c), sims.get((ri, c))) for ri in ur for c in {10, 20, 30}]:
            if s is None or cand in ur:
                continue
            scores[cand] = scores.get(cand, 0.0) + s * ur[ri]
        for rank, (cand, _) in enumerate(
            sorted(scores.items(), key=lambda kv: (-kv[1], kv[0])), 1
        ):
            want[(u, cand)] = rank
    assert got == want


def test_recommender_contract(spark, ratings):
    rec = IK.ItemKNNRecommender(k=2).train(ratings)
    recs = rec.get_recommendations()
    assert recs.columns == ["user_id", "item_id", "rank"]
    per_user = recs.groupBy("user_id").count().collect()
    assert all(r["count"] <= 2 for r in per_user)
    # rated items never recommended
    overlap = recs.join(ratings, ["user_id", "item_id"], "inner").count()
    assert overlap == 0
    # single-user slice == filter of the full plan
    u1_full = {(r.item_id, r.rank) for r in recs.filter(F.col("user_id") == 1).collect()}
    u1 = {(r.item_id, r.rank) for r in rec.get_user_recommendation(1).collect()}
    assert u1 == u1_full


def test_kgsim_recommender_cold_start(spark, ratings):
    # item 40 has NO ratings but is KG-linked to 30 -> recommendable
    edges = [(10, "d1"), (20, "d1"), (30, "g1"), (40, "g1")]
    e = spark.createDataFrame(edges, "item_id bigint, entity string")
    rec = IK.KGSimRecommender(k=3).train(ratings, e)
    got = rec.get_recommendations()
    assert got.filter(F.col("item_id") == 40).count() > 0


def test_models_registry_wiring(spark, ratings):
    maker = MODELS["itemKNN"]
    rec = maker({"k": 2, "n_neighbors": 5, "min_support": 1}, seed=42)
    out = rec.train(ratings).get_recommendations()
    assert out.count() > 0
    assert out.columns == ["user_id", "item_id", "rank"]


def test_default_guard_bounds_power_user_pairs(spark):
    """The DEFAULT constructor must enforce the sum(deg^2) guard: one
    synthetic power user above DEFAULT_MAX_USER_DEGREE contributes ZERO
    co-rating pairs, while normal users' pairs survive. (Before the
    default, a 10^7-rating user would alone emit ~10^14 pairs.)"""
    deg = IK.DEFAULT_MAX_USER_DEGREE + 50
    rows = [(999, i, 10.0) for i in range(deg)]  # the power user
    # user 1 co-rates (1,2); user 2 rated only item 1 -> item 2 is
    # recommendable to user 2 through the surviving neighbor pair
    rows += [(1, 1, 50.0), (1, 2, 50.0), (2, 1, 40.0)]
    df = spark.createDataFrame(rows, "user_id long, item_id long, rating double")

    rec = IK.ItemKNNRecommender(k=2, m=5)  # all defaults
    assert rec.max_user_degree == IK.DEFAULT_MAX_USER_DEGREE
    rec.train(df)
    pairs = rec._neighbors.collect()
    # only the (1,2) co-rating pair from the two normal users remains;
    # the power user's deg^2/2 ~ 5e7 pairs were never generated
    assert {(r.item_a, r.item_b) for r in pairs} == {(1, 2), (2, 1)}
    recs = rec.get_recommendations(2)
    assert recs.count() > 0


def test_guard_disabled_explicitly(spark):
    rows = [(1, 1, 50.0), (1, 2, 50.0), (2, 1, 40.0), (2, 2, 30.0)]
    df = spark.createDataFrame(rows, "user_id long, item_id long, rating double")
    got = IK.item_cosine_similarity(df, max_user_degree=None).collect()
    assert {(r.item_a, r.item_b) for r in got} == {(1, 2), (2, 1)}


@pytest.mark.slow
def test_itemknn_skew_stress_guard_and_aqe_at_sf01(spark):
    """VERDICT r10 item 7: adversarial skew stress for the one
    legitimate big-big sort-merge join in the registry (the co-rating
    self-join on user_id) at sf0.1 with a synthetic power-law user.

    (a) With the guard, the hub is excluded ENTIRELY: similarities
        over hub-polluted ratings hash-equal the hub-free twin, and
        the guarded join input's max key multiplicity <= cap — the
        join key is user_id, so per-task pair work is bounded by
        C(cap, 2) whatever the input distribution (the task-time
        spread claim the docstring argues, now measured).
    (b) With the guard explicitly disabled, the session's AQE
        skew-join posture is the remaining backstop: the finalized
        adaptive plan splits the hub's shuffle partition
        (skew=true) and the inflated job still completes.
    """
    from knowledge_graph_aware_recommender_systems_with_dbpedia_spark.plans.driver_queries import _ratings

    ratings = _ratings(spark, "/root/testdata/sf0.1").select(
        "user_id", "item_id", "rating"
    )
    hub_deg, cap = 3000, 64
    hub = spark.range(hub_deg).select(
        F.lit(-1).cast("long").alias("user_id"),
        (F.col("id") + 1_000_000).alias("item_id"),
        F.lit(1.0).alias("rating"),
    )
    rts = ratings.unionByName(hub)

    def fingerprint(df):
        row = df.select(
            F.count(F.lit(1)).alias("n"),
            F.sum(  # pmod-bounded: summing raw 64-bit hashes overflows ANSI
                F.pmod(
                    F.xxhash64("item_a", "item_b", "n_common", F.round("sim", 9)),
                    F.lit(2**31),
                )
            ).alias("h"),
        ).first()
        return (row.n, row.h)

    with_hub = IK.item_cosine_similarity(rts, min_support=2, max_user_degree=cap)
    hub_free = IK.item_cosine_similarity(
        ratings, min_support=2, max_user_degree=cap
    )
    assert fingerprint(with_hub) == fingerprint(hub_free)
    assert fingerprint(with_hub)[0] > 0
    # the guard's join-input bound: max user multiplicity <= cap, so no
    # join task can see more than C(cap,2) pairs for one key
    deg = rts.groupBy("user_id").agg(F.count(F.lit(1)).alias("d"))
    over = deg.filter(F.col("d") > cap)
    capped = rts.join(over.select("user_id"), "user_id", "left_anti")
    max_deg = capped.groupBy("user_id").count().agg(F.max("count")).first()[0]
    assert max_deg <= cap
    assert {r.user_id for r in over.collect()} >= {-1}  # hub is over-cap
    plan = with_hub._jdf.queryExecution().executedPlan().toString()
    # (the hub branch's constant user_id=-1 lets Catalyst rewrite ITS
    # anti-join as a LocalLimit-1 existence probe via a nested-loop
    # node — a <=1-row build, not a pair blow-up — so only a true
    # cartesian on the data-sized sides is a failure here)
    assert "CartesianProduct" not in plan

    # (b) guard off: AQE's skew split is the backstop for the hub key
    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8192",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4096",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        unguarded = IK.item_cosine_similarity(
            rts, min_support=1, max_user_degree=None
        )
        # hub pairs all have n_common=1 -> present at min_support=1:
        # the join genuinely processed the C(hub_deg,2) blow-up
        counted = unguarded.filter(
            (F.col("item_a") >= 1_000_000) & (F.col("item_b") >= 1_000_000)
        ).agg(F.count(F.lit(1)).alias("n"))
        # .collect() (not .first(), which wraps a new limit query)
        # executes THIS frame's QueryExecution, finalizing its plan
        assert counted.collect()[0].n == hub_deg * (hub_deg - 1)  # both dirs
        # read the finalized adaptive plan from the query that RAN
        plan = counted._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert plan.count("skew=true") >= 1
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
