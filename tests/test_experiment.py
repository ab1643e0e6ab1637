import csv
import os

import pytest

from knowledge_graph_aware_recommender_systems_with_dbpedia_spark.plans import experiment as EX


def _write_csv(path, header, rows):
    with open(path, "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(header)
        w.writerows(rows)


def _make_dataset(d):
    n_users, n_items = 12, 8
    _write_csv(
        d / "item.csv",
        ["item_id::string", "genre::string"],
        [[f"i{i}", f"g{i % 3}"] for i in range(n_items)],
    )
    _write_csv(
        d / "user.csv",
        ["user_id::string", "gender::string"],
        [[f"u{u}", "MF"[u % 2]] for u in range(n_users)],
    )
    rows = []
    for u in range(n_users):
        for i in range(n_items):
            if (u + i) % 2 == 0:
                rows.append([f"u{u}", f"i{i}", (u * 7 + i * 3) % 5 + 1, 1000 + u * 10 + i])
    _write_csv(
        d / "rating.csv",
        ["user_id::string", "item_id::string", "rating::number", "timestamp::number"],
        rows,
    )
    _write_csv(
        d / "map.csv",
        ["item_id::string", "URI::string"],
        [[f"i{i}", f"http://dbpedia.org/resource/I{i}" if i % 4 else ""] for i in range(n_items)],
    )
    _write_csv(
        d / "enriched.csv",
        ["item_id::string", "subject::string_list"],
        [[f"i{i}", f"s{i % 2}::s{i % 3}"] for i in range(n_items)],
    )


def _config(d, models, report_file, k=3, split=None):
    return {
        "experiment": {
            "dataset": {
                "name": "tiny",
                "item": {"path": str(d / "item.csv"), "extra_features": ["genre"]},
                "user": {"path": str(d / "user.csv"), "extra_features": ["gender"]},
                "ratings": {"path": str(d / "rating.csv"), "timestamp": True},
                "enrich": {
                    "map_path": str(d / "map.csv"),
                    "enrich_path": str(d / "enriched.csv"),
                    "remove_unmatched": False,
                    "properties": ["subject"],
                },
            },
            "preprocess": [
                {"method": "filter_kcore", "parameters": {"k": 2, "iterations": 1, "target": "user"}}
            ],
            "split": {"seed": 42, "test": split or {"method": "k_fold", "k": 2, "level": "user"}},
            "models": models,
            "evaluation": {"k": k, "relevance_threshold": 3, "metrics": ["MAP", "nDCG"]},
            "report": {"file": str(report_file)},
        }
    }


@pytest.mark.slow
def test_experiment_kfold_popularity_and_kge(spark, tmp_path):
    _make_dataset(tmp_path)
    out = tmp_path / "res" / "run.csv"
    cfg = _config(
        tmp_path,
        [
            {"name": "popularity"},
            {"name": "transE", "parameters": {"embedding_dim": 8, "epochs": 2}},
        ],
        out,
    )
    rows = EX.run_experiment(spark, cfg)
    assert set(rows) == {"popularity", "transE"}
    for model, r in rows.items():
        # column names embed the cutoff like the reference's
        # Metric.name() ('MAP@{k}')
        assert set(r) == {
            "fold-1_MAP@3", "fold-1_nDCG@3", "fold-2_MAP@3", "fold-2_nDCG@3",
            "MAP@3_mean", "MAP@3_std", "nDCG@3_mean", "nDCG@3_std",
        }
        for v in r.values():
            assert 0.0 <= v <= 1.0
    assert os.path.exists(out)
    with open(out) as fh:
        header = fh.readline().strip().split(",")
    assert header[0] == "model" and "MAP@3_mean" in header


def test_experiment_holdout_deterministic(spark, tmp_path):
    _make_dataset(tmp_path)
    split = {"method": "random_by_ratio", "level": "global", "p": 0.3}
    r1 = EX.run_experiment(
        spark, _config(tmp_path, [{"name": "popularity"}], tmp_path / "a.csv", split=split)
    )
    r2 = EX.run_experiment(
        spark, _config(tmp_path, [{"name": "popularity"}], tmp_path / "b.csv", split=split)
    )
    assert r1 == r2  # seeded split + deterministic model
    assert set(r1["popularity"]) == {"MAP@3", "nDCG@3"}  # hold-out: no fold cols


@pytest.mark.slow
def test_experiment_rolling_origin_split_via_yaml(spark, tmp_path):
    """VERDICT r13 item 7: {method: rolling_origin, k} in the YAML
    split grammar — the runner trains each fold on strictly earlier
    timeline segments and tests the next one. Per-fold metric columns
    appear (k folds) and a replay of the row-level split confirms
    every fold's train rows precede its test rows in time."""
    from pyspark.sql import functions as F

    from knowledge_graph_aware_recommender_systems_with_dbpedia_spark.operators import splits as SP
    from knowledge_graph_aware_recommender_systems_with_dbpedia_spark.sources.typed_csv import (
        read_typed_csv,
    )

    _make_dataset(tmp_path)
    split = {"method": "rolling_origin", "k": 3}
    rows = EX.run_experiment(
        spark,
        _config(tmp_path, [{"name": "popularity"}], tmp_path / "ro.csv", split=split),
    )
    assert split == {"method": "rolling_origin", "k": 3}  # config not mutated
    want = {f"fold-{f}_{m}" for f in (1, 2, 3) for m in ("MAP@3", "nDCG@3")} | {
        "MAP@3_mean", "MAP@3_std", "nDCG@3_mean", "nDCG@3_std",
    }
    assert set(rows["popularity"]) == want
    assert all(0.0 <= v <= 1.0 for v in rows["popularity"].values())
    # replay: the runner's split is leak-free per fold on the raw table
    ratings = read_typed_csv(spark, str(tmp_path / "rating.csv"))
    sp_df = SP.split_ratings(ratings, "rolling_origin", k=3, ts_col="timestamp")
    for f in range(1, 4):
        train, test = SP.rolling_origin_train_test(sp_df, f)
        tmax = train.agg(F.max("timestamp")).collect()[0][0]
        tmin = test.agg(F.min("timestamp")).collect()[0][0]
        assert tmax <= tmin and test.count() > 0


@pytest.mark.slow
def test_experiment_purged_embargo_split_via_yaml(spark, tmp_path):
    """VERDICT r13 item 7: {method: purged_embargo, k, embargo_frac}
    in the YAML split grammar — each fold's train additionally purges
    the embargo margin around the test block. The replay checks the
    three-way row partition (train + test + purged = n) per fold."""
    from knowledge_graph_aware_recommender_systems_with_dbpedia_spark.operators import splits as SP
    from knowledge_graph_aware_recommender_systems_with_dbpedia_spark.sources.typed_csv import (
        read_typed_csv,
    )

    _make_dataset(tmp_path)
    split = {"method": "purged_embargo", "k": 3, "embargo_frac": 0.05}
    rows = EX.run_experiment(
        spark,
        _config(tmp_path, [{"name": "popularity"}], tmp_path / "pe.csv", split=split),
    )
    want = {f"fold-{f}_{m}" for f in (1, 2, 3) for m in ("MAP@3", "nDCG@3")} | {
        "MAP@3_mean", "MAP@3_std", "nDCG@3_mean", "nDCG@3_std",
    }
    assert set(rows["popularity"]) == want
    assert all(0.0 <= v <= 1.0 for v in rows["popularity"].values())
    ratings = read_typed_csv(spark, str(tmp_path / "rating.csv"))
    n = ratings.count()
    sp_df = SP.split_ratings(ratings, "purged_embargo", k=3, ts_col="timestamp")
    for f in range(3):
        train, test = SP.purged_embargo_train_test(sp_df, f, 3, 0.05)
        nt, ns = train.count(), test.count()
        assert ns > 0 and nt > 0 and nt + ns < n  # something was purged


def test_experiment_kgsim_uses_item_entities(spark, tmp_path):
    """The kgSim model trains on the graph's item has_property fan-out
    (genre + enriched subject entities) via the item_entities dispatch
    branch — the YAML-usable KG-aware neighborhood recommender."""
    _make_dataset(tmp_path)
    split = {"method": "random_by_ratio", "level": "global", "p": 0.3}
    rows = EX.run_experiment(
        spark,
        _config(
            tmp_path,
            [{"name": "kgSim", "parameters": {"n_neighbors": 5}}],
            tmp_path / "kg.csv",
            split=split,
        ),
    )
    assert set(rows) == {"kgSim"}
    vals = rows["kgSim"]
    assert set(vals) == {"MAP@3", "nDCG@3"}
    assert all(0.0 <= v <= 1.0 for v in vals.values())


def test_experiment_deepwalk_with_kg_edges(spark, tmp_path):
    _make_dataset(tmp_path)
    cfg = _config(
        tmp_path,
        [{"name": "deepwalk_based",
          "parameters": {"n_walks": 2, "walk_len": 4, "embedding_size": 8, "epochs": 1}}],
        tmp_path / "dw.csv",
        split={"method": "random_by_ratio", "level": "user", "p": 0.3},
    )
    rows = EX.run_experiment(spark, cfg)
    assert set(rows) == {"deepwalk_based"}
    assert all(0.0 <= v <= 1.0 for v in rows["deepwalk_based"].values())


def test_experiment_from_yaml_file_with_validation(spark, tmp_path):
    import yaml

    _make_dataset(tmp_path)
    cfg = _config(
        tmp_path,
        [{"name": "popularity"}],
        tmp_path / "y.csv",
        split={"method": "random_by_ratio", "level": "user", "p": 0.3},
    )
    # SP8: carve a validation set out of each train fold
    cfg["experiment"]["split"]["validation"] = {
        "method": "random_by_ratio", "level": "user", "p": 0.2,
    }
    yml = tmp_path / "exp.yml"
    yml.write_text(yaml.safe_dump(cfg))
    rows = EX.run_experiment(spark, str(yml))  # S9: YAML path input
    assert set(rows) == {"popularity"}
    assert all(0.0 <= v <= 1.0 for v in rows["popularity"].values())

    # validation must shrink the train set -> metrics differ from the
    # no-validation run of the same config
    del cfg["experiment"]["split"]["validation"]
    cfg["experiment"]["report"]["file"] = str(tmp_path / "y2.csv")
    rows2 = EX.run_experiment(spark, cfg)
    assert rows != rows2


def test_validation_kfold_rejected(spark, tmp_path):
    import pytest as _pt
    from knowledge_graph_aware_recommender_systems_with_dbpedia_spark.operators import splits as SP

    _make_dataset(tmp_path)
    df = spark.createDataFrame(
        [(1, 1, 1.0), (1, 2, 2.0), (2, 1, 3.0), (2, 2, 4.0)],
        "user_id bigint, item_id bigint, rating double",
    )
    with _pt.raises(ValueError):
        SP.validation_subsplit(df, method="k_fold", k=2)


def test_all_registry_models_construct():
    from knowledge_graph_aware_recommender_systems_with_dbpedia_spark.plans.registries import MODELS

    for name, make in MODELS.items():
        m = make({"embedding_size": 8, "epochs": 1}, seed=1)
        assert hasattr(m, "train") and hasattr(m, "get_recommendations"), name


def test_golden_popularity_kfold(spark, tmp_path):
    """SURVEY §5 golden-run strategy: the committed expected metrics for
    the deterministic popularity model on the seeded 2-fold split must
    reproduce EXACTLY (hash-stable splits + deterministic model)."""
    import json

    _make_dataset(tmp_path)
    rows = EX.run_experiment(
        spark, _config(tmp_path, [{"name": "popularity"}], tmp_path / "g.csv")
    )
    path = os.path.join(os.path.dirname(__file__), "goldens", "tiny_popularity.json")
    with open(path) as fh:
        golden = json.load(fh)
    assert rows["popularity"] == golden


@pytest.mark.slow
def test_golden_transe_kfold(spark, tmp_path):
    """Seeded numpy SGD is fully deterministic — the committed transE
    metrics pin the KGE numerics against gradient-refactor regressions
    (values rounded to 6 dp to absorb BLAS summation-order jitter)."""
    import json

    _make_dataset(tmp_path)
    rows = EX.run_experiment(
        spark,
        _config(
            tmp_path,
            [{"name": "transE", "parameters": {"embedding_dim": 8, "epochs": 2}}],
            tmp_path / "g.csv",
        ),
    )
    path = os.path.join(os.path.dirname(__file__), "goldens", "tiny_transe.json")
    with open(path) as fh:
        golden = json.load(fh)
    got = {k: round(v, 6) for k, v in rows["transE"].items()}
    assert got == golden


def test_experiment_with_mrr_hitrate_metrics(spark, tmp_path):
    """The greenfield MRR/HitRate registry entries run through the
    YAML experiment surface like the reference metrics."""
    from knowledge_graph_aware_recommender_systems_with_dbpedia_spark.plans.experiment import run_experiment

    _make_dataset(tmp_path)
    out = tmp_path / "res" / "run.csv"
    cfg = _config(tmp_path, [{"name": "popularity"}], out,
                  split={"method": "random_by_ratio", "p": 0.3, "level": "user"})
    cfg["experiment"]["evaluation"]["metrics"] = ["MRR", "HitRate"]
    res = run_experiment(spark, cfg)
    vals = res["popularity"]
    assert set(vals) == {"MRR@3", "HitRate@3"}
    assert all(0.0 <= v <= 1.0 for v in vals.values())


def test_experiment_als_via_yaml_surface(spark, tmp_path):
    _make_dataset(tmp_path)
    out = tmp_path / "res" / "als.csv"
    cfg = _config(
        tmp_path,
        [{"name": "als", "parameters": {"rank": 4, "max_iter": 3, "reg": 0.05}}],
        out,
        split={"method": "random_by_ratio", "p": 0.3, "level": "global"},
    )
    rows = EX.run_experiment(spark, cfg)
    assert set(rows) == {"als"}
    r = rows["als"]
    assert "MAP@3" in r and 0.0 <= r["MAP@3"] <= 1.0
    assert "nDCG@3" in r and 0.0 <= r["nDCG@3"] <= 1.0
    assert os.path.exists(out)


def test_experiment_dedup_aware_split_via_yaml(spark, tmp_path):
    """VERDICT r12 item 6: a YAML config requests leakage-safe
    splitting the way it requests random_by_ratio — the runner builds
    near-dup ITEM clusters from the catalog's text column (dd4 LSH ->
    dd7 components) and no cluster spans train/test. Twin items i0/i1
    share a near-identical title; the plain random split can (and the
    protocol assumes will) separate them."""
    from pyspark.sql import functions as F

    from knowledge_graph_aware_recommender_systems_with_dbpedia_spark.operators import splits as SP
    from knowledge_graph_aware_recommender_systems_with_dbpedia_spark.plans.experiment import (
        _item_dedup_clusters,
    )
    from knowledge_graph_aware_recommender_systems_with_dbpedia_spark.sources.typed_csv import (
        read_typed_csv,
    )

    _make_dataset(tmp_path)
    titles = [
        "the matrix reloaded deluxe edition",   # i0
        "the matrix reloaded deluxe edition!",  # i1 — near-dup twin
        "finding nemo",
        "blade runner",
        "spirited away",
        "seven samurai",
        "la dolce vita",
        "the godfather",
    ]
    _write_csv(
        tmp_path / "item.csv",
        ["item_id::string", "genre::string", "title::string"],
        [[f"i{i}", f"g{i % 3}", titles[i]] for i in range(8)],
    )
    split = {
        "method": "dedup_aware", "p": 0.4,
        "text_col": "title", "dedup_threshold": 0.3,
    }
    out = tmp_path / "dedup_run.csv"
    cfg = _config(tmp_path, [{"name": "popularity"}], out, split=split)
    rows = EX.run_experiment(spark, cfg)
    # ADVICE r13: the caller's config dict is NOT mutated — a sweep
    # reusing it keeps text_col/dedup_threshold for the second run
    assert split == {
        "method": "dedup_aware", "p": 0.4,
        "text_col": "title", "dedup_threshold": 0.3,
    }
    # hold-out shape: one fold, metrics present and bounded
    assert set(rows["popularity"]) == {"MAP@3", "nDCG@3"}
    assert all(0.0 <= v <= 1.0 for v in rows["popularity"].values())
    # the invariant itself: replay the runner's split and check sides
    items = read_typed_csv(spark, str(tmp_path / "item.csv"))
    clusters = _item_dedup_clusters(
        items, {"text_col": "title", "dedup_threshold": 0.3}
    )
    cl = {r.item_id: r.cluster_id for r in clusters.collect()}
    assert cl["i0"] == cl["i1"]  # the twins really are clustered
    ratings = read_typed_csv(spark, str(tmp_path / "rating.csv"))
    sp_df = SP.split_ratings(
        ratings, "dedup_aware", seed=42, p=0.4, clusters=clusters
    )
    sides = {}
    for r in sp_df.select("item_id", "is_test").distinct().collect():
        sides.setdefault(cl[r.item_id], set()).add(r.is_test)
    assert all(len(v) == 1 for v in sides.values())  # no cluster spans


class _NotCalled:
    def __init__(self, params, seed):
        pytest.fail("the model was built before the name check")


@pytest.mark.parametrize(
    "field, value, allowed",
    [("metrics", ["MAP", "nDGC"], "MAP, nDCG, MRR, HitRate"),
     ("models", [{"name": "guard"}, {"name": "tranzE"}], "transE")],
)
def test_unknown_names_fail_before_spark_work(spark, tmp_path, monkeypatch, field, value, allowed):
    """A typo in evaluation.metrics or a model name raises before any
    Spark job, not after the split is persisted and a model trained."""
    monkeypatch.setitem(EX.MODELS, "guard", _NotCalled)
    cfg = _config(tmp_path, [{"name": "guard"}], tmp_path / "r.csv")
    if field == "metrics":
        cfg["experiment"]["evaluation"]["metrics"] = value
    else:
        cfg["experiment"]["models"] = value
    _make_dataset(tmp_path)
    sc = spark.sparkContext
    group = f"test_names_{field}"
    sc.setJobGroup(group, group)
    try:
        with pytest.raises(ValueError, match=allowed):
            EX.run_experiment(spark, cfg)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert sc.statusTracker().getJobIdsForGroup(group) == []


def test_fold_metrics_are_one_action(spark, monkeypatch):
    """One (model, fold) scores every built-in metric in one action of
    at most 3 jobs (the by-user shuffle, the global mean, the result);
    a plugin metric rides the same action as its own 1-row frame."""
    from types import SimpleNamespace

    from pyspark.sql import functions as F

    test = spark.createDataFrame(
        [(1, 10, 5.0), (1, 11, 3.0), (2, 20, 4.0), (3, 30, 5.0)],
        "user_id bigint, item_id bigint, rating double",
    )
    recs = spark.createDataFrame(
        [(1, 10, 1), (1, 99, 2), (1, 11, 3), (2, 21, 1), (2, 20, 2)],
        "user_id bigint, item_id bigint, rank int",
    )

    class Fixed:
        def __init__(self, params, seed):
            pass

        def train(self, train_df):
            pass

        def get_recommendations(self, k):
            return recs

    monkeypatch.setitem(EX.MODELS, "fixed", Fixed)
    graph = SimpleNamespace(
        edges=spark.createDataFrame([], "src string, dst string, edge_type string")
    )

    def run(names):
        results, _ = EX._run_models(
            [{"name": "fixed"}], [(test, test)], graph, 3, names, threshold=1.0, seed=1
        )
        return dict(zip(names, results["fixed"][0]))

    sc = spark.sparkContext
    group = "test_fold_metrics_one_action"
    sc.setJobGroup(group, group)
    try:
        got = run(["MAP", "nDCG", "MRR", "HitRate"])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) <= 3, len(jobs)
    assert got["MAP"] == pytest.approx(((1 / 1 + 2 / 3) / 2 + (1 / 2) / 1) / 3, abs=1e-12)
    assert got["MRR"] == pytest.approx((1.0 + 0.5 + 0.0) / 3, abs=1e-12)
    assert got["HitRate"] == pytest.approx(2 / 3, abs=1e-12)

    monkeypatch.setitem(
        EX.METRICS, "Const", lambda test, recs, k, relevance_threshold: (
            test.sparkSession.range(1).select(F.lit(0.25).alias("value"))
        ),
    )
    assert run(["Const", "MAP"]) == {"Const": 0.25, "MAP": got["MAP"]}
