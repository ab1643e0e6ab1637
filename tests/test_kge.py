import numpy as np
import pytest
from pyspark.sql import functions as F

from knowledge_graph_aware_recommender_systems_with_dbpedia_spark.operators import kge
from knowledge_graph_aware_recommender_systems_with_dbpedia_spark.operators import recommend as RC
from knowledge_graph_aware_recommender_systems_with_dbpedia_spark.operators.node2vec import Node2VecRecommender


def _make(model, rng_seed=7, n_ent=9, n_rel=3, dim=4):
    rng = np.random.default_rng(rng_seed)
    m = kge.KGE_MODELS[model](n_ent, n_rel, dim, rng)
    b = rng.integers(0, [n_ent, n_rel, n_ent], size=(6, 3)).astype(np.int64)
    return m, b[:, 0], b[:, 1], b[:, 2]


@pytest.mark.parametrize("model", sorted(kge.KGE_MODELS))
def test_gradient_matches_finite_difference(model):
    # step() applies exactly -lr * d(sum f)/dparam; with lr=1 and
    # coeff=1 the table delta IS the analytic gradient — compare it
    # against central finite differences of sum f.
    m, h, r, t = _make(model)
    m.CLIP = 1e12  # disable grad clipping so the table delta == raw gradient
    snap = {k: v.copy() for k, v in vars(m).items() if isinstance(v, np.ndarray)}
    f0 = m.f(h, r, t)
    assert np.all(np.isfinite(f0))
    m.step(h, r, t, np.ones(len(h)), lr=1.0)
    grad_E = snap["E"] - m.E
    for k, v in snap.items():  # restore ALL params (step mutates R/W/M too)
        setattr(m, k, v.copy())

    eps = 1e-6
    rng = np.random.default_rng(0)
    for ent in np.unique(np.concatenate([h, t]))[:4]:
        for d in rng.choice(m.dim, 2, replace=False):
            for part in ([1.0, 1j] if m.complex_entities else [1.0]):
                m.E[ent, d] += eps * part
                up = m.f(h, r, t).sum()
                m.E[ent, d] -= 2 * eps * part
                dn = m.f(h, r, t).sum()
                m.E[ent, d] += eps * part
                num = (up - dn) / (2 * eps)
                ana = grad_E[ent, d]
                ana = np.real(ana) if part == 1.0 else np.imag(ana)
                assert ana == pytest.approx(num, rel=1e-3, abs=1e-5), (model, ent, d, part)


@pytest.mark.parametrize("model", sorted(kge.KGE_MODELS))
def test_training_separates_pos_from_neg(model):
    # tiny deterministic KG: entity i relates to entity i+1 under r=0
    rng = np.random.default_rng(3)
    n_ent = 20
    pos = np.array([[i, 0, (i + 1) % n_ent] for i in range(n_ent)], dtype=np.int64)
    m = kge.train_kge(pos, n_ent, 1, model=model, dim=16, epochs=40, lr=0.05, seed=11)
    neg = pos.copy()
    neg[:, 2] = rng.integers(0, n_ent, len(neg))
    keep = neg[:, 2] != pos[:, 2]
    f_pos = m.f(pos[:, 0], pos[:, 1], pos[:, 2]).mean()
    f_neg = m.f(neg[keep, 0], neg[keep, 1], neg[keep, 2]).mean()
    assert f_pos < f_neg, (model, f_pos, f_neg)


@pytest.mark.slow
def test_kge_recommender_end_to_end(spark):
    ratings = spark.read.parquet("/root/testdata/sf0.001/orders.parquet").select(
        F.col("o_custkey").alias("user_id"),
        (F.col("o_orderkey") % 50).alias("item_id"),
        (F.col("o_orderkey") % 5 + 1).cast("double").alias("rating"),
    ).limit(800)
    rec = kge.KGERecommender("transe", k=5, dim=16, epochs=3).train(ratings)
    recs = rec.get_recommendations()
    assert recs.columns == ["user_id", "item_id", "rank"]
    per_user = recs.groupBy("user_id").count().agg(F.max("count")).collect()[0][0]
    assert per_user <= 5
    # anti-join respected: no recommended item the user already rated
    overlap = recs.join(
        ratings.select(F.col("user_id").cast("string").alias("user_id"),
                       F.col("item_id").cast("string").alias("item_id")),
        ["user_id", "item_id"]).count()
    assert overlap == 0


def _triples(spark, rows, n_slices=None):
    schema = "head string, relation string, tail string"
    if n_slices is None:
        return spark.createDataFrame(rows, schema)
    return spark.createDataFrame(spark.sparkContext.parallelize(rows, n_slices), schema)


def _persisted_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _job_count(spark, fn) -> int:
    """Spark jobs ``fn()`` runs, counted by a job group."""
    sc = spark.sparkContext
    group = f"test_jobs_{id(fn)}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_collect_triples_guard_fails_fast(spark, monkeypatch):
    """An oversized triple set must raise the actionable cap error
    BEFORE any driver collect, not OOM mid-collect — and release the
    frame it persisted for the count either way."""
    t = _triples(spark, [("u:1", "r", "i:1"), ("u:2", "r", "i:2"), ("u:3", "r", "i:1")])
    cached = _persisted_rdds(spark)

    def no_collect(self):
        raise AssertionError("collected before the size guard")

    with monkeypatch.context() as m:
        # the concrete class: it overrides toArrow
        m.setattr(type(t), "toArrow", no_collect)
        with pytest.raises(ValueError, match="refusing to collect"):
            kge.collect_triples(t, max_triples=2)
    assert _persisted_rdds(spark) == cached
    # under the cap: normal hand-off
    idx, ents, rels = kge.collect_triples(t, max_triples=10)
    assert idx.shape == (3, 3) and idx.dtype == np.int64
    assert ents.to_pylist() == ["i:1", "i:2", "u:1", "u:2", "u:3"]
    assert rels.to_pylist() == ["r"]
    assert _persisted_rdds(spark) == cached


def test_collect_triples_ids_match_index_entities(spark):
    """Driver-side ids are the Spark-side ids: Arrow's byte-order sort
    is Spark's UTF-8 binary string order. U+FF21 sorts before U+1F600
    in code-point (UTF-8) order but after it in UTF-16 order, so the
    fixture pins the encoding the order follows."""
    t = _triples(spark, [
        ("u:1", "rating5", "i:Amélie"),
        ("u:2", "rating4", "i:Zoë"),
        ("p:\uff21", "has", "i:Amélie"),
        ("u:1", "is", "p:\U0001f600"),
        ("u:10", "rating5", "i:abc"),
        ("i:abc", "has", "p:Ångström"),
        ("u:2", "rating3", "i:Amélie"),
    ])
    _, names, rel_names = kge.collect_triples(t)
    ents, rels = kge.index_entities(t)
    assert {r.e: r.idx for r in ents.collect()} == {
        n: i for i, n in enumerate(names.to_pylist())
    }
    assert {r.r: r.idx for r in rels.collect()} == {
        n: i for i, n in enumerate(rel_names.to_pylist())
    }
    assert names.to_pylist().index("p:\uff21") < names.to_pylist().index("p:\U0001f600")


def test_collect_triples_rows_match_indexed_triples_df(spark):
    """Row for row, the (h, r, t) hand-off equals the Spark-side
    indexed_triples_df collect on a multi-partition input, when the id
    tables are broadcast and the triples stream through the joins in
    partition order (the plan of the driver trainer's former collect)."""
    rng = np.random.default_rng(5)
    rows = [
        (f"u:{rng.integers(40)}", f"rating{rng.integers(1, 6)}", f"i:{rng.integers(60)}")
        for _ in range(300)
    ]
    t = _triples(spark, rows, n_slices=3).unionByName(
        _triples(spark, [(f"i:{i}", "has", f"p:g{i % 7}") for i in range(60)], n_slices=2)
    )
    assert t.rdd.getNumPartitions() > 1
    idx, _, _ = kge.collect_triples(t)
    ents, rels = kge.index_entities(t)
    joined = kge.indexed_triples_df(t, F.broadcast(ents), F.broadcast(rels))
    old = np.array([[r.h, r.r, r.t] for r in joined.collect()], dtype=np.int64)
    assert np.array_equal(idx, old)


def test_collect_triples_drops_null_triples(spark):
    """A null head, relation or tail drops the triple, as the inner
    joins of indexed_triples_df drop it."""
    rows = [
        ("u:1", "r", "i:1"),
        (None, "r", "i:2"),
        ("u:2", None, "i:2"),
        ("u:3", "r", None),
        ("u:2", "r", "i:1"),
    ]
    t = _triples(spark, rows)
    idx, names, rel_names = kge.collect_triples(t)
    names, rel_names = names.to_pylist(), rel_names.to_pylist()
    got = [(names[h], rel_names[r], names[tl]) for h, r, tl in idx]
    assert got == [("u:1", "r", "i:1"), ("u:2", "r", "i:1")]
    ents, rels = kge.index_entities(t)
    assert kge.indexed_triples_df(t, ents, rels).count() == len(idx)


def test_driver_train_runs_no_dense_id_jobs(spark, monkeypatch):
    """train(trainer='driver') executes the triple lineage once and
    indexes on the driver: no sampled_boundaries collect, no bucketed
    rank, only a handful of Spark jobs."""
    from knowledge_graph_aware_recommender_systems_with_dbpedia_spark.operators import ids

    def no_boundaries(*a, **k):
        raise AssertionError("driver trainer ran the Spark-side dense-id jobs")

    monkeypatch.setattr(ids, "sampled_boundaries", no_boundaries)
    ratings = spark.createDataFrame(
        [(u, i, float(1 + (u + i) % 5)) for u in range(12) for i in range(u % 4, 20, 3)],
        "user_id int, item_id int, rating double",
    )
    cached = _persisted_rdds(spark)
    rec = kge.KGERecommender("transe", k=3, dim=4, epochs=1, seed=3)
    jobs = _job_count(spark, lambda: rec.train(ratings))
    # the triple count on the write that fills the caches, the Arrow
    # collect of the triples and the pairs collect
    assert 1 <= jobs <= 4, jobs
    assert _persisted_rdds(spark) == cached
    rec.get_recommendations().collect()
    assert _persisted_rdds(spark) == cached


def test_driver_train_guard_fails_before_any_collect(spark, monkeypatch):
    """train(trainer='driver') refuses an oversized triple set before
    any Arrow collect (of the triples or of the train pairs) and leaves
    nothing persisted."""
    ratings = spark.createDataFrame(
        [(1, 1, 5.0), (2, 2, 4.0), (3, 1, 3.0)], "user_id int, item_id int, rating double"
    )
    cached = _persisted_rdds(spark)
    guarded = kge.collect_triples

    def no_collect(self):
        raise AssertionError("collected before the size guard")

    with monkeypatch.context() as m:
        m.setattr(kge, "collect_triples", lambda t: guarded(t, max_triples=2))
        m.setattr(type(ratings), "toArrow", no_collect)
        with pytest.raises(ValueError, match="refusing to collect"):
            kge.KGERecommender("transe", k=3, dim=4, epochs=1).train(ratings)
    assert _persisted_rdds(spark) == cached


def test_driver_train_refuses_too_many_pairs(spark, monkeypatch):
    """Ratings whose null rating makes no triple still count against the
    cap: the pairs collect stops at cap + 1 rows and refuses."""
    ratings = spark.createDataFrame(
        [(1, 1, 5.0), (2, 2, None), (3, 1, None)], "user_id int, item_id int, rating double"
    )
    cached = _persisted_rdds(spark)
    monkeypatch.setattr(RC, "MAX_DRIVER_TRIPLES", 2)
    with pytest.raises(ValueError, match="refusing to score more than 2 train ratings"):
        kge.KGERecommender("transe", k=3, dim=4, epochs=1).train(ratings)
    assert _persisted_rdds(spark) == cached


_DRIVER_MODELS = {
    "kge": lambda: kge.KGERecommender("transe", k=3, dim=4, epochs=1, seed=3),
    "node2vec": lambda: Node2VecRecommender(
        k=3, n_walks=2, walk_len=4, vector_size=4, seed=3, corpus_partitions=2
    ),
}


@pytest.mark.parametrize("model", sorted(_DRIVER_MODELS))
def test_driver_recommendations_run_one_job(spark, model):
    """A model whose vectors are on the driver scores there: its
    recommendations reach pandas in the one job that reads the
    Arrow-backed frame."""
    rows = [(u, i, float(1 + (u * i) % 5)) for u in range(30) for i in range(u % 5, 25, 4)]
    rows += [(99, i, 3.0) for i in range(25)]  # nothing unseen: no rows
    ratings = spark.createDataFrame(rows, "user_id int, item_id int, rating double")
    rec = _DRIVER_MODELS[model]().train(ratings)
    got = []
    assert _job_count(spark, lambda: got.append(rec.get_recommendations(3).toPandas())) <= 1
    assert len(got[0]) == 30 * 3 and "99" not in set(got[0]["user_id"])


def test_driver_scorer_sums_left_to_right():
    """Norms and dots of the driver scorer equal a plain left fold from
    0.0, as Spark's aggregate(zip_with(...)) computes them; a BLAS
    product sums in another order and misses some of them by an ulp."""
    rng = np.random.default_rng(2)
    u, it = rng.normal(size=(40, 16)), rng.normal(size=(600, 16))
    u[3] = 0.0  # a zero vector is left as it is

    def fold(xs):
        acc = 0.0
        for x in xs:
            acc = acc + x
        return acc

    def unit(v):
        norm = float(np.sqrt(fold(x * x for x in v)))
        return [x / norm for x in v] if norm > 0 else list(v)

    un, itn = RC._unit_rows(u), RC._unit_rows(it)
    assert un.tolist() == [unit(v) for v in u] and itn.tolist() == [unit(v) for v in it]
    want = [[-fold(a * b for a, b in zip(x, y)) for y in itn.tolist()] for x in un.tolist()]
    assert RC._neg_dots(un, np.ascontiguousarray(itn.T)).tolist() == want


_ZZ, _SMILE = "\uff5a", "\U0001f600"  # UTF-8 order: U+FF5A first; UTF-16: U+1F600


def _rows_of(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _topk_by_cosine_rows(spark, driver, k, all_recs):
    """``topk_by_cosine``'s rows for driver-held (pairs, names, vecs)."""
    pairs, names, vecs = driver
    emb = spark.createDataFrame(
        list(zip(names.to_pylist(), vecs.tolist())), "e string, vec array<double>"
    )
    train = spark.createDataFrame(pairs)
    dim = vecs.shape[1]
    uv = RC.zero_filled_vectors(emb, "u:", "user_id", train.select("user_id").distinct(), dim)
    iv = RC.zero_filled_vectors(emb, "i:", "item_id", train.select("item_id").distinct(), dim)
    return _rows_of(RC.topk_by_cosine(uv, iv, k=k, train=train, all_recs=all_recs))


@pytest.mark.parametrize("all_recs,k", [(False, 3), (False, 40), (True, 3)])
def test_driver_topk_matches_spark_scorers(spark, all_recs, k):
    """The driver scorer's rows equal ``topk_by_cosine``'s rows, fed the
    same vectors: more users than one block, exact score ties broken by
    UTF-8 byte order, a zero-vector user, a user who rated every item,
    k above the unseen count (k=40, 23 items), all_recs, null ids, and
    NaN and inf item vectors (NaN scores rank last)."""
    items = [f"m{i}" for i in range(20)] + [_SMILE, _ZZ, "Zoë"]
    rng = np.random.default_rng(11)
    rows = [
        (u, items[i], float(rng.integers(1, 6)))
        for u in range(RC._TOPK_BLOCK + 40)
        for i in rng.choice(len(items), rng.integers(1, 6), replace=False)
    ]
    rows += [(9000, it, 4.0) for it in items]  # rated every item
    rows += [(9001, "m0", None)]  # only rating null: no triple, no entity
    rows += [(None, "m2", 3.0), (7, None, 2.0)]
    ratings = spark.createDataFrame(rows, "user_id int, item_id string, rating double")
    rec = kge.KGERecommender(
        "transe", k=k, dim=4, epochs=1, seed=5, all_recs=all_recs
    ).train(ratings)
    pairs, names, vecs = rec._driver
    pos = {n: i for i, n in enumerate(names.to_pylist())}
    assert "u:9001" not in pos
    for e in (f"i:{_ZZ}", f"i:{_SMILE}", "i:m1", "i:m2"):  # exact score ties
        vecs[pos[e]] = vecs[pos["i:m0"]]
    vecs[pos["u:1"]] = vecs[pos["u:0"]]
    vecs[pos["i:m3"], 1] = np.nan
    vecs[pos["i:m4"], 2] = -np.inf

    driver = _rows_of(rec.get_recommendations())
    assert driver == _topk_by_cosine_rows(spark, rec._driver, k, all_recs)
    # no rating matches the null item, so it is all user 9000 has unseen
    assert [(i, r) for u, i, r in driver if u == "9000"] == [(None, 1)]
    # every score of the zero-vector user is 0.0: the null item, then
    # byte order, without the rated m0; the NaN-scored items come last
    zero_user = [i for _, i in sorted((r, i) for u, i, r in driver if u == "9001")]
    assert zero_user[:3] == [None, "Zoë", "m1"]
    if all_recs:
        assert zero_user[-2:] == ["m3", "m4"]
        ranks = {(u, i): r for u, i, r in driver}
        tied = {u for u, _, _ in driver if (u, _ZZ) in ranks and (u, _SMILE) in ranks}
        assert tied and all(ranks[(u, _ZZ)] < ranks[(u, _SMILE)] for u in tied)


@pytest.mark.parametrize("all_recs,k", [(False, 3), (True, 3)])
def test_node2vec_driver_rows_match_topk_by_cosine(spark, all_recs, k):
    """node2vec scores on the driver with the rows ``topk_by_cosine``
    returns for its collected vectors, including the zero-filled ids
    that Word2Vec's minCount drops from the vocabulary."""
    rows = [(u, i) for u in range(40) for i in range(u % 7, 30, 1 + u % 4)]
    rows += [(100, 29), (101, 28)]  # item 29 has few ratings
    ratings = spark.createDataFrame(rows, "user_id int, item_id int")
    rec = Node2VecRecommender(
        k=k, n_walks=2, walk_len=4, vector_size=6, min_count=6, seed=9,
        all_recs=all_recs, corpus_partitions=2,
    ).train(ratings)
    pairs, names, vecs = rec._driver
    assert 0 < len(names) < 40 + 30  # minCount dropped some ids
    assert _rows_of(rec.get_recommendations()) == _topk_by_cosine_rows(
        spark, rec._driver, k, all_recs
    )


@pytest.mark.slow
def test_index_entities_deterministic(spark):
    t = spark.createDataFrame(
        [("a", "r1", "b"), ("b", "r2", "c")], "head string, relation string, tail string"
    )
    e1, r1 = kge.index_entities(t)
    e2, r2 = kge.index_entities(t)
    assert sorted(e1.collect()) == sorted(e2.collect())
    assert {x.e for x in e1.collect()} == {"a", "b", "c"}
    assert sorted(x.idx for x in e1.collect()) == [0, 1, 2]


@pytest.mark.slow
def test_kge_recommender_lsh_scoring(spark):
    ratings = spark.read.parquet("/root/testdata/sf0.001/orders.parquet").select(
        F.col("o_custkey").alias("user_id"),
        (F.col("o_orderkey") % 50).alias("item_id"),
        (F.col("o_orderkey") % 5 + 1).cast("double").alias("rating"),
    ).limit(800)
    rec = kge.KGERecommender("transe", k=5, dim=16, epochs=2, scoring="lsh").train(ratings)
    recs = rec.get_recommendations()
    assert recs.columns == ["user_id", "item_id", "rank"]
    assert recs.groupBy("user_id").count().agg(F.max("count")).collect()[0][0] <= 5
    overlap = recs.join(
        ratings.select(F.col("user_id").cast("string").alias("user_id"),
                       F.col("item_id").cast("string").alias("item_id")),
        ["user_id", "item_id"]).count()
    assert overlap == 0


@pytest.mark.parametrize("model", ["transe", "rotate", "distmult"])
def test_multi_negative_adversarial_training(model):
    rng = np.random.default_rng(3)
    n_ent = 20
    pos = np.array([[i, 0, (i + 1) % n_ent] for i in range(n_ent)], dtype=np.int64)
    m = kge.train_kge(
        pos, n_ent, 1, model=model, dim=16, epochs=40, lr=0.05, seed=11,
        n_negatives=4, adversarial_alpha=1.0,
    )
    neg = pos.copy()
    neg[:, 2] = rng.integers(0, n_ent, len(neg))
    keep = neg[:, 2] != pos[:, 2]
    f_pos = m.f(pos[:, 0], pos[:, 1], pos[:, 2]).mean()
    f_neg = m.f(neg[keep, 0], neg[keep, 1], neg[keep, 2]).mean()
    assert f_pos < f_neg, (model, f_pos, f_neg)


def _chain_df(spark, n_ent=20):
    pos = [[i, 0, (i + 1) % n_ent] for i in range(n_ent)]
    return (
        spark.createDataFrame(pos, "h long, r long, t long"),
        np.array(pos, dtype=np.int64),
    )


def _single_partition_reference(tri, n_ent, n_rel, model, dim, epochs, lr, seed):
    """The sharded trainer at ONE partition, as a plain numpy loop over
    the same SGD kernel: the numpy init, the triples in sorted order,
    one :func:`kge._run_epoch` per epoch with the (seed, epoch,
    partition 0) rng, then the unit-ball projection for the
    translational family."""
    m = kge.KGE_MODELS[model](n_ent, n_rel, dim, np.random.default_rng(seed))
    tri = tri[np.lexsort((tri[:, 2], tri[:, 1], tri[:, 0]))]
    for epoch in range(epochs):
        kge._run_epoch(
            m, tri, np.random.default_rng([seed, epoch, 0]), lr,
            margin=1.0, batch_size=1024, n_negatives=1, adversarial_alpha=None,
        )
        if model in kge.TRANSLATIONAL:
            m.normalize()
    return m


def test_sharded_trainer_equals_partitioned_single_partition(spark):
    """The sharded trainer keeps the parameter tables as a DataFrame
    across epochs (joined delta updates, DF normalize) instead of
    driver-held numpy. With ONE partition whose triples cover every
    entity, its local entity set == the global set, so local negative
    sampling draws the identical rng stream and it must agree with
    the numpy single-partition loop — pinning that the DF round-trip
    (init -> join-update -> normalize -> export) computes exactly what
    the numpy path computes."""
    df, pos = _chain_df(spark)
    kw = dict(model="transe", dim=16, epochs=3, lr=0.1, seed=11)
    m = _single_partition_reference(pos, 20, 1, **kw)
    params = kge.train_kge_sharded(df, 20, 1, n_partitions=1, **kw)
    evec = {
        r.idx: np.array(r.vec)
        for r in kge.sharded_entity_embeddings(params, "transe").collect()
    }
    got = np.vstack([evec[i] for i in range(20)])
    assert np.allclose(got, m.entity_vectors(), atol=1e-9)
    rvec = {r.idx: np.array(r.vec) for r in params.filter("tbl = 'R'").collect()}
    assert np.allclose(rvec[0], m.R[0], atol=1e-9)


def test_sharded_trainer_equals_partitioned_single_partition_complex(spark):
    """The single-partition pin for a NON-translational,
    complex-valued model. ComplEx's parameter tables ride the sharded
    path as :re/:im row PAIRS (delta transport splits the complex
    delta, the export recombines) — with ONE partition the local
    entity set equals the global set, so the DF round-trip must
    reproduce the numpy loop exactly on BOTH components, not just the
    real part the recommender exports."""
    df, pos = _chain_df(spark)
    kw = dict(model="complex", dim=8, epochs=3, lr=0.05, seed=11)
    m = _single_partition_reference(pos, 20, 1, **kw)
    params = kge.train_kge_sharded(df, 20, 1, n_partitions=1, **kw)
    for tbl, want in (
        ("E:re", m.E.real), ("E:im", m.E.imag),
        ("R:re", m.R.real), ("R:im", m.R.imag),
    ):
        got_rows = {
            r.idx: np.array(r.vec)
            for r in params.filter(F.col("tbl") == tbl).collect()
        }
        got = np.vstack([got_rows[i] for i in range(len(want))])
        assert np.allclose(got, want, atol=1e-9), tbl


@pytest.mark.parametrize("model", ["rotate", "rescal"])
def test_sharded_trainer_complex_and_matrix_params(spark, model):
    """The DF parameter layout round-trips complex tables (re/im row
    pairs) and per-relation matrices through shipping, local SGD, and
    the join update — full row inventory, finite, and moved."""
    df, _ = _chain_df(spark)
    params = kge.train_kge_sharded(
        df, 20, 1, model=model, dim=8, epochs=2, lr=0.05, seed=11,
        n_partitions=2,
    )
    counts = {
        r.tbl: r.c
        for r in params.groupBy("tbl").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    want = (
        {"E:re": 20, "E:im": 20, "theta": 1}
        if model == "rotate"
        else {"E": 20, "M": 1}
    )
    assert counts == want
    rows = sorted(
        kge.sharded_entity_embeddings(params, model).collect(), key=lambda r: r.idx
    )
    got = np.vstack([np.array(r.vec) for r in rows])
    assert got.shape == (20, 8) and np.isfinite(got).all()
    fresh = kge.KGE_MODELS[model](20, 1, 8, np.random.default_rng(11))
    assert not np.allclose(got, fresh.entity_vectors())


def test_sharded_trainer_bit_reproducible_multi_partition(spark):
    """ADVICE r12: the delta fold collects per-partition arrays whose
    collect_list order is schedule-dependent; the fold now array_sorts
    the (part, delta) structs by partition tag, so multi-partition
    epoch parameters are BIT-identical across runs and across input
    physical layouts (each partition contributes at most one delta per
    (tbl, idx) — the sort is a total order)."""
    df, _ = _chain_df(spark)
    kw = dict(model="transe", dim=16, epochs=3, lr=0.1, seed=11, n_partitions=3)
    p1 = kge.train_kge_sharded(df, 20, 1, **kw)
    p2 = kge.train_kge_sharded(df.repartition(7), 20, 1, **kw)

    def snap(params):
        return {
            (r.tbl, r.idx): tuple(r.vec)
            for r in params.collect()
        }

    s1, s2 = snap(p1), snap(p2)
    assert set(s1) == set(s2)
    for k in s1:
        assert s1[k] == s2[k], k  # exact float equality, not allclose


@pytest.mark.slow
def test_sharded_training_separates_pos_from_neg(spark):
    """Multi-partition sharded training (per-partition LOCAL negative
    sampling — the DGL-KE compromise) still learns the chain."""
    df, pos = _chain_df(spark)
    params = kge.train_kge_sharded(
        df, 20, 1, model="transe", dim=16, epochs=20, lr=0.15, seed=11,
        n_partitions=2,
    )
    tbls = {
        (r.tbl, r.idx): np.array(r.vec) for r in params.collect()
    }
    m = kge.KGE_MODELS["transe"](20, 1, 16, np.random.default_rng(0))
    m.E = np.vstack([tbls[("E", i)] for i in range(20)])
    m.R = np.vstack([tbls[("R", 0)]])
    rng = np.random.default_rng(3)
    neg = pos.copy()
    neg[:, 2] = rng.integers(0, 20, len(neg))
    keep = neg[:, 2] != pos[:, 2]
    f_pos = m.f(pos[:, 0], pos[:, 1], pos[:, 2]).mean()
    f_neg = m.f(neg[keep, 0], neg[keep, 1], neg[keep, 2]).mean()
    assert f_pos < f_neg, (f_pos, f_neg)


@pytest.mark.parametrize("model", ["transe", "transh", "transr", "rotate", "tucker"])
def test_distributed_params_init_layout_matches_numpy_init(spark, model):
    """distributed_params_init must emit exactly the (tbl, idx, |vec|)
    inventory params_to_df derives from the numpy init — same tables,
    same row counts, same flattened row widths — so the sharded
    trainer consumes either interchangeably."""
    p = kge.distributed_params_init(spark, model, n_ent=7, n_rel=3, dim=4, seed=5)
    ref = kge.params_to_df(
        spark, kge.KGE_MODELS[model](7, 3, 4, np.random.default_rng(5))
    )
    a = {(r.tbl, r.idx): len(r.vec) for r in p.collect()}
    b = {(r.tbl, r.idx): len(r.vec) for r in ref.collect()}
    assert a == b


def test_distributed_params_init_distributions(spark):
    """Per-table init semantics: vectors within U(-s,s), TransR M =
    I + U(-0.01,0.01), TransH W rows unit-norm, RotatE theta within
    [-pi, pi]."""
    dim, s = 4, 6.0 / np.sqrt(4)
    p = {
        (r.tbl, r.idx): np.array(r.vec)
        for r in kge.distributed_params_init(
            spark, "transr", 5, 2, dim, seed=7
        ).collect()
    }
    E = np.vstack([p[("E", i)] for i in range(5)])
    assert (np.abs(E) <= s).all() and E.std() > 0
    M = p[("M", 0)].reshape(dim, dim)
    assert np.allclose(np.diag(M), 1.0, atol=0.01)
    off = M[~np.eye(dim, dtype=bool)]
    assert (np.abs(off) <= 0.01).all()
    ph = {
        (r.tbl, r.idx): np.array(r.vec)
        for r in kge.distributed_params_init(
            spark, "transh", 5, 2, dim, seed=7
        ).collect()
    }
    for i in range(2):
        assert abs(np.linalg.norm(ph[("W", i)]) - 1.0) < 1e-9
    pr = {
        (r.tbl, r.idx): np.array(r.vec)
        for r in kge.distributed_params_init(
            spark, "rotate", 5, 2, dim, seed=7
        ).collect()
    }
    th = pr[("theta", 0)]
    assert (np.abs(th) <= np.pi).all()
    assert ("E:re", 0) in pr and ("E:im", 0) in pr


@pytest.mark.slow
def test_sharded_training_from_distributed_init_learns(spark):
    """End-to-end driver-free path: cluster-generated init feeds the
    sharded trainer via params_init and still learns the chain — at
    no point does a parameter table exist on the driver."""
    df, pos = _chain_df(spark)
    init = kge.distributed_params_init(spark, "transe", 20, 1, 16, seed=11)
    params = kge.train_kge_sharded(
        df, 20, 1, model="transe", dim=16, epochs=20, lr=0.15, seed=11,
        n_partitions=2, params_init=init,
    )
    tbls = {(r.tbl, r.idx): np.array(r.vec) for r in params.collect()}
    m = kge.KGE_MODELS["transe"](20, 1, 16, np.random.default_rng(0))
    m.E = np.vstack([tbls[("E", i)] for i in range(20)])
    m.R = np.vstack([tbls[("R", 0)]])
    rng = np.random.default_rng(3)
    neg = pos.copy()
    neg[:, 2] = rng.integers(0, 20, len(neg))
    keep = neg[:, 2] != pos[:, 2]
    f_pos = m.f(pos[:, 0], pos[:, 1], pos[:, 2]).mean()
    f_neg = m.f(neg[keep, 0], neg[keep, 1], neg[keep, 2]).mean()
    assert f_pos < f_neg, (f_pos, f_neg)


def test_kge_recommender_sharded_end_to_end(spark):
    ratings = spark.read.parquet("/root/testdata/sf0.001/orders.parquet").select(
        F.col("o_custkey").alias("user_id"),
        (F.col("o_orderkey") % 50).alias("item_id"),
        (F.col("o_orderkey") % 5 + 1).cast("double").alias("rating"),
    ).limit(800)
    rec = kge.KGERecommender(
        "transe", k=5, dim=16, epochs=2, trainer="sharded", n_partitions=4
    ).train(ratings)
    recs = rec.get_recommendations()
    assert recs.columns == ["user_id", "item_id", "rank"]
    assert recs.groupBy("user_id").count().agg(F.max("count")).collect()[0][0] <= 5
    overlap = recs.join(
        ratings.select(F.col("user_id").cast("string").alias("user_id"),
                       F.col("item_id").cast("string").alias("item_id")),
        ["user_id", "item_id"]).count()
    assert overlap == 0


def test_table_kinds_core_tensor_is_global_at_any_dim():
    """The sentinel template sizes derive from ``dim``, so no legal dim
    collides with them: TuckER's (dim, dim, dim) core stays global at
    dim=101, where fixed sentinels of 101 and 103 failed."""
    kinds, shapes, complex_tables = kge._table_kinds(kge.KGE_MODELS["tucker"], 101)
    assert kinds == {"E": "ent", "R": "rel", "Wc": "global"}
    assert shapes["Wc"] == (101, 101) and complex_tables == set()
    assert kge._table_kinds(kge.KGE_MODELS["complex"], 8)[2] == {"E", "R"}


@pytest.mark.parametrize("rec", [kge.KGERecommender, Node2VecRecommender])
def test_get_recommendations_before_train_raises(rec):
    """An untrained recommender raises a RuntimeError, not an assert
    that ``python -O`` strips (and that then fails on ``None``)."""
    with pytest.raises(RuntimeError, match="call train"):
        rec().get_recommendations()
