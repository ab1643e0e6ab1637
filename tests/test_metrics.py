import math

import pytest

from knowledge_graph_aware_recommender_systems_with_dbpedia_spark.operators import metrics


@pytest.fixture(scope="module")
def fixture(spark):
    # user 1: relevant={10 (r5), 11 (r3)}; recs [10, 99, 11, 98, 97]
    # user 2: relevant={20 (r4)};          recs [21, 22, 23, 24, 20]
    # user 3: all ratings below threshold -> excluded from the mean
    # user 4: relevant but NO recs        -> scores 0
    test = spark.createDataFrame(
        [
            (1, 10, 5.0), (1, 11, 3.0), (1, 12, 0.5),
            (2, 20, 4.0),
            (3, 30, 0.2),
            (4, 40, 5.0),
        ],
        "user_id int, item_id int, rating double",
    )
    recs = spark.createDataFrame(
        [
            (1, 10, 1), (1, 99, 2), (1, 11, 3), (1, 98, 4), (1, 97, 5),
            (2, 21, 1), (2, 22, 2), (2, 23, 3), (2, 24, 4), (2, 20, 5),
        ],
        "user_id int, item_id int, rank int",
    )
    return test, recs


def test_map_at_5_reference_formula(fixture):
    test, recs = fixture
    got = metrics.map_at_k(test, recs, 5, relevance_threshold=1.0).collect()[0]["value"]
    ap1 = (1 / 1 + 2 / 3) / min(2, 5)
    ap2 = (1 / 5) / min(1, 5)
    ap4 = 0.0  # relevant items, no recs
    want = (ap1 + ap2 + ap4) / 3
    assert abs(got - want) < 1e-9


def test_ndcg_at_5_graded(fixture):
    test, recs = fixture
    got = metrics.ndcg_at_k(test, recs, 5, relevance_threshold=1.0).collect()[0]["value"]
    dcg1 = 5 / math.log2(2) + 3 / math.log2(4)
    idcg1 = 5 / math.log2(2) + 3 / math.log2(3)
    dcg2 = 4 / math.log2(6)
    idcg2 = 4.0
    want = (dcg1 / idcg1 + dcg2 / idcg2 + 0.0) / 3
    assert abs(got - want) < 1e-9


def test_user_below_threshold_excluded(spark):
    test = spark.createDataFrame([(1, 10, 0.1)], "user_id int, item_id int, rating double")
    recs = spark.createDataFrame([(1, 10, 1)], "user_id int, item_id int, rank int")
    out = metrics.map_at_k(test, recs, 5, relevance_threshold=1.0).collect()[0]["value"]
    assert out is None  # avg over zero users


def test_duplicate_rec_counts_once(spark):
    # reference map.py:30 — a repeated item in the rec list is not a 2nd hit
    test = spark.createDataFrame([(1, 10, 5.0)], "user_id int, item_id int, rating double")
    recs = spark.createDataFrame(
        [(1, 10, 1), (1, 10, 2), (1, 99, 3)], "user_id int, item_id int, rank int"
    )
    got = metrics.map_at_k(test, recs, 5, relevance_threshold=1.0).collect()[0]["value"]
    assert abs(got - 1.0) < 1e-9  # only rank-1 hit counts; denominator min(1,5)


def test_evaluate_suite(fixture):
    test, recs = fixture
    out = metrics.evaluate(test, recs).collect()
    names = {r.metric for r in out}
    assert names == {"MAP@5", "nDCG@5"}


def test_mrr_and_hitrate(spark):
    from knowledge_graph_aware_recommender_systems_with_dbpedia_spark.operators import metrics as ME

    test = spark.createDataFrame(
        [
            (1, 10, 5.0), (1, 11, 5.0),   # user 1: relevant 10, 11
            (2, 20, 5.0),                  # user 2: relevant 20
            (3, 30, 1.0),                  # user 3: below threshold -> excluded
        ],
        "user_id int, item_id int, rating double",
    )
    recs = spark.createDataFrame(
        [
            (1, 99, 1), (1, 10, 2), (1, 11, 3),   # user 1: first hit rank 2
            (2, 21, 1), (2, 22, 2),               # user 2: no hit in top-k
            (3, 30, 1),                            # user 3 excluded anyway
        ],
        "user_id int, item_id int, rank int",
    )
    mrr = ME.mrr_at_k(test, recs, 3, relevance_threshold=2.0).collect()[0].value
    assert mrr == pytest.approx((0.5 + 0.0) / 2)
    hr = ME.hit_rate_at_k(test, recs, 3, relevance_threshold=2.0).collect()[0].value
    assert hr == pytest.approx(0.5)
    # k cutoff: with k=1 user 1's hit at rank 2 no longer counts
    mrr1 = ME.mrr_at_k(test, recs, 1, relevance_threshold=2.0).collect()[0].value
    assert mrr1 == 0.0


def test_auc_at_k_hand_computed(spark):
    from knowledge_graph_aware_recommender_systems_with_dbpedia_spark.operators.metrics import auc_at_k

    # user 1: slate [pos, neg, pos, neg] -> pairs won: r1 beats both
    # negs (2) + r3 beats the rank-4 neg (1) = 3 of 4 -> 0.75
    # user 2: slate [neg, pos] -> 0 of 1 -> 0.0
    # user 3: all positives -> excluded (no negative)
    test = spark.createDataFrame(
        [(1, 10, 5.0), (1, 12, 5.0), (2, 21, 5.0), (3, 30, 5.0), (3, 31, 5.0)],
        "user_id bigint, item_id bigint, rating double",
    )
    recs = spark.createDataFrame(
        [
            (1, 10, 1), (1, 11, 2), (1, 12, 3), (1, 13, 4),
            (2, 20, 1), (2, 21, 2),
            (3, 30, 1), (3, 31, 2),
        ],
        "user_id bigint, item_id bigint, rank bigint",
    )
    got = auc_at_k(test, recs, k=5, relevance_threshold=1.0).collect()[0].value
    assert got == pytest.approx((0.75 + 0.0) / 2, abs=1e-12)


def test_auc_at_k_perfect_and_inverted(spark):
    from knowledge_graph_aware_recommender_systems_with_dbpedia_spark.operators.metrics import auc_at_k

    test = spark.createDataFrame(
        [(1, 10, 5.0)], "user_id bigint, item_id bigint, rating double"
    )
    top = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2)], "user_id bigint, item_id bigint, rank bigint"
    )
    bottom = spark.createDataFrame(
        [(1, 11, 1), (1, 10, 2)], "user_id bigint, item_id bigint, rank bigint"
    )
    assert auc_at_k(test, top, 5).collect()[0].value == 1.0
    assert auc_at_k(test, bottom, 5).collect()[0].value == 0.0


def _all_metrics(test, recs, k, threshold):
    return {
        "MAP": metrics.map_at_k(test, recs, k, relevance_threshold=threshold),
        "nDCG": metrics.ndcg_at_k(test, recs, k, relevance_threshold=threshold),
        "MRR": metrics.mrr_at_k(test, recs, k, relevance_threshold=threshold),
        "HitRate": metrics.hit_rate_at_k(test, recs, k, relevance_threshold=threshold),
        "AUC": metrics.auc_at_k(test, recs, k, relevance_threshold=threshold),
    }


def test_duplicated_test_row_counts_once(spark):
    # a repeated (user, item) test row is one relevant item, not two:
    # joins on it used to fan out and score MAP 1.5, nDCG 1.2263, AUC 1.5.
    # nDCG takes the pair's highest rating (user 2: 4.0 over 2.0)
    test = spark.createDataFrame(
        [(1, 10, 5.0), (1, 10, 5.0), (2, 20, 2.0), (2, 20, 4.0), (2, 21, 4.0)],
        "user_id int, item_id int, rating double",
    )
    recs = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (2, 21, 1), (2, 20, 2)],
        "user_id int, item_id int, rank int",
    )
    got = {m: df.collect()[0].value for m, df in _all_metrics(test, recs, 5, 1.0).items()}
    assert got["MAP"] == pytest.approx((1.0 + 1.0) / 2, abs=1e-12)
    ndcg2 = (4 / math.log2(2) + 4 / math.log2(3)) / (4 / math.log2(2) + 4 / math.log2(3))
    assert got["nDCG"] == pytest.approx((1.0 + ndcg2) / 2, abs=1e-12)
    assert got["MRR"] == pytest.approx(1.0, abs=1e-12)
    assert got["HitRate"] == pytest.approx(1.0, abs=1e-12)
    assert got["AUC"] == pytest.approx(1.0, abs=1e-12)  # user 2 has no negative


def test_evaluate_accepts_every_metric_and_rejects_unknown(fixture):
    test, recs = fixture
    with pytest.raises(ValueError, match="allowed: map, ndcg, mrr, hitrate, auc"):
        metrics.evaluate(test, recs, {"P@5": {"metric": "precision", "k": 5}})
    suite = {f"{m}@5": {"metric": m, "k": 5, "relevance_threshold": 1.0}
             for m in ("map", "ndcg", "mrr", "hitrate", "auc")}
    got = {r.metric: r.value for r in metrics.evaluate(test, recs, suite).collect()}
    want = metrics.ranking_metrics(test, recs, 5, relevance_threshold=1.0).collect()[0]
    assert got == {f"{c.lower()}@5": want[c] for c in metrics.METRIC_COLUMNS}


def _reference(test_rows, rec_rows, k, threshold):
    """Pure-Python MAP/nDCG/MRR/HitRate/AUC at k, loop by loop, following
    the rules of the metrics module docstring."""
    rel = {}
    for u, i, r in test_rows:
        if r >= threshold:
            items = rel.setdefault(u, {})
            items[i] = max(r, items.get(i, r))
    slates = {}
    for u, i, rank in rec_rows:
        if rank <= k:
            slates.setdefault(u, []).append((rank, i))
    per = {m: [] for m in ("MAP", "nDCG", "MRR", "HitRate", "AUC")}
    for u, items in rel.items():
        slate = sorted(slates.get(u, []))
        hits, ap_num, seen = 0, 0.0, set()
        for rank, i in slate:
            if i in items and i not in seen:
                hits += 1
                ap_num += hits / rank
            seen.add(i)
        per["MAP"].append(ap_num / min(len(items), k))
        dcg = sum(items.get(i, 0.0) / math.log2(rank + 1) for rank, i in slate)
        ideal = sorted(items.values(), reverse=True)[:k]
        idcg = sum(r / math.log2(p + 2) for p, r in enumerate(ideal))
        per["nDCG"].append(dcg / idcg if idcg > 0 else 0.0)
        pos = [rank for rank, i in slate if i in items]
        per["MRR"].append(1.0 / pos[0] if pos else 0.0)
        per["HitRate"].append(1.0 if pos else 0.0)
        n, npos = len(slate), len(pos)
        if npos and n - npos:
            per["AUC"].append((npos * n - sum(pos) - npos * (npos - 1) / 2) / (npos * (n - npos)))
    return {m: sum(v) / len(v) if v else None for m, v in per.items()}


@pytest.mark.parametrize("id_type", ["string", "bigint"])
@pytest.mark.parametrize("seed", [0, 1, 2])
def test_one_pass_matches_python_reference(spark, seed, id_type):
    import random

    rng = random.Random(seed)

    def ident(n):
        return f"id{n}" if id_type == "string" else 2**40 + n

    test_rows, rec_rows = [], []
    for u in range(40):
        # users 30-34 have recs but no test rows; 35-39 test rows but no recs
        if u < 30 or u >= 35:
            for _ in range(rng.randint(1, 6)):
                # ratings 1..5 tie often; the pool of 8 items repeats
                # (user, item) pairs, sometimes with a different rating
                test_rows.append((ident(u), ident(rng.randrange(8)), float(rng.randint(1, 5))))
        if u < 35:
            for rank in range(1, rng.randint(0, 8) + 1):
                rec_rows.append((ident(u), ident(rng.randrange(8)), rank))
    schema = f"user_id {id_type}, item_id {id_type}"
    test = spark.createDataFrame(test_rows, f"{schema}, rating double")
    recs = spark.createDataFrame(rec_rows, f"{schema}, rank int")
    for k in (3, 10):  # shorter and longer than the 0-8 item slates
        got = metrics.ranking_metrics(test, recs, k, relevance_threshold=3.0).collect()[0]
        want = _reference(test_rows, rec_rows, k, 3.0)
        for m, v in want.items():
            assert got[m] == pytest.approx(v, abs=1e-12), (m, k)
