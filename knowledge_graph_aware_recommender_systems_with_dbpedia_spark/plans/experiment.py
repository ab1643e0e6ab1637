"""YAML experiment runner — the engine's declarative query surface.

The reference's YAML config IS its query language (SURVEY §1.1 last
row, §3.2, grammar in ``docs/source/getting_started/config.md`` /
``config_files/test.yml``). This module is the Spark planner for it:
parse -> lazy DataFrame pipelines per stage -> actions only at metric
aggregation and report write (``framework/experiment.py:31-113``
re-expressed).

Stages: dataset (typed CSVs + enrich joins -> KGraph) -> preprocess
(registry) -> split (SP1-SP8, fold iteration = lineage filters, not
copies) -> per fold x model train/recommend -> MAP/nDCG -> wide CSV
report with population mean/std (A6/S7) + execution times (S8).

Quirk preserved: the recommendation cutoff k IS the evaluation k
(reference ``experiment.py:74`` leaks the loop variable — documented
in SURVEY §7 risk register).
"""

from __future__ import annotations

import inspect
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import metrics as ME
from ..operators import splits as SP
from ..operators.graph import KGraph, build_graph
from ..sources.typed_csv import read_typed_csv
from . import report as REP
from .registries import METRICS, MODELS, PREPROCESS


def load_config(path_or_dict) -> dict:
    """S9: YAML config source (experiment.py:32-34)."""
    if isinstance(path_or_dict, dict):
        return path_or_dict
    import yaml

    with open(path_or_dict) as fh:
        return yaml.safe_load(fh)


def _walk_ns(node_id_col):
    """Map composed graph node ids into the compact walk namespace the
    embedding models use: user::X -> u:X, item::X -> i:X,
    property:t:v -> p:t:v."""
    c = F.col(node_id_col)
    return (
        F.when(c.startswith("user::"), F.concat(F.lit("u:"), F.expr(f"substring({node_id_col}, 7)")))
        .when(c.startswith("item::"), F.concat(F.lit("i:"), F.expr(f"substring({node_id_col}, 7)")))
        .otherwise(F.concat(F.lit("p:"), F.expr(f"substring({node_id_col}, 10)")))
    )


def kg_extra_edges(graph: KGraph) -> DataFrame:
    """has_property + social edges as (src, dst) in the walk namespace
    — the node2vec corpus extension for enriched/social runs."""
    e = graph.edges.filter(F.col("edge_type") != "rated")
    return e.select(_walk_ns("src").alias("src"), _walk_ns("dst").alias("dst"))


def kg_item_entities(graph: KGraph) -> DataFrame:
    """(item_id, entity) edge table for KG-similarity models: the
    item-side has_property fan-out (genre/subject/starring... — the
    DBpedia enrichment) with the ``item::`` prefix stripped so the
    ids join back to the fact table."""
    e = graph.edges.filter(
        (F.col("edge_type") == "has_property") & F.col("src").startswith("item::")
    )
    return e.select(
        F.expr("substring(src, 7)").alias("item_id"), F.col("dst").alias("entity")
    )


def kg_extra_triples(graph: KGraph) -> DataFrame:
    """Non-rating triples for the KGE models (G8 relations: user
    properties 'is', item properties 'has', social 'friends_with')."""
    e = graph.edges.filter(F.col("edge_type") != "rated")
    rel = (
        F.when(F.col("edge_type") == "social", F.lit("friends_with"))
        .when(F.col("src").startswith("user::"), F.lit("is"))
        .otherwise(F.lit("has"))
    )
    return e.select(
        _walk_ns("src").alias("head"), rel.alias("relation"), _walk_ns("dst").alias("tail")
    )


def _load_dataset(spark: SparkSession, ds: dict):
    items = read_typed_csv(spark, ds["item"]["path"])
    users = read_typed_csv(spark, ds["user"]["path"])
    rcols = ["user_id", "item_id", "rating"]
    if ds["ratings"].get("timestamp"):
        rcols.append("timestamp")
    ratings = read_typed_csv(spark, ds["ratings"]["path"]).select(rcols)

    social = mapping = enriched = None
    if "social" in ds:
        social = read_typed_csv(spark, ds["social"]["path"])
    enrich_props: list[str] = []
    remove_unmatched = False
    if "enrich" in ds:
        en = ds["enrich"]
        mapping = read_typed_csv(spark, en["map_path"])
        enriched = read_typed_csv(spark, en["enrich_path"])
        enrich_props = list(en.get("properties", []))
        remove_unmatched = bool(en.get("remove_unmatched", False))

    item_props = list(ds["item"].get("extra_features", [])) + enrich_props
    user_props = list(ds["user"].get("extra_features", []))
    graph = build_graph(
        items,
        users,
        ratings,
        social=social,
        mapping=mapping,
        enriched=enriched,
        item_property_cols=item_props,
        user_property_cols=user_props,
        remove_unmatched=remove_unmatched,
    )
    # J4 endpoint-existence applied to the fact table the models see
    item_keys = items
    if mapping is not None and remove_unmatched:
        item_keys = items.join(F.broadcast(mapping), "item_id", "left").filter(
            F.col("URI").isNotNull()
        )
    ratings = ratings.join(
        item_keys.select("item_id").distinct(), "item_id", "left_semi"
    ).join(users.select("user_id").distinct(), "user_id", "left_semi")
    return ratings, graph, items


def _item_dedup_clusters(items: DataFrame, spec: dict) -> DataFrame:
    """Near-dup ITEM clusters for the dedup_aware split method — the
    sp16 pipeline (dd4 LSH pairs -> dd7 min-label components) run over
    the catalog's text column. A recommender's leakage twin is a
    duplicate catalog entry (the same movie under two ids): a random
    split puts one id in train and its twin in test, and the model
    'predicts' the test row by recognizing the train twin. Clustering
    is #items-sized — catalog scale, not interaction scale.

    Side-effect-free: reads ``spec`` with ``.get`` and never mutates
    it, so a config dict reused across ``run_experiment`` calls (e.g.
    programmatic sweeps) keeps its keys. The stripping of dedup-only
    keys before ``**spec`` reaches ``split_ratings`` lives in
    :func:`_folds`, next to the copy it mutates."""
    from ..operators import dedup as DD

    text_col = spec.get("text_col", "title")
    bands = spec.get("bands", 8)
    n_hashes = spec.get("n_hashes", 16)
    threshold = spec.get("dedup_threshold", 0.5)
    docs = items.select(
        F.col("item_id").alias("id"), F.col(text_col).cast("string").alias("text")
    )
    prs = DD.minhash_lsh_pairs(
        docs, bands=bands, n_hashes=n_hashes, verify_threshold=threshold,
        id_col="id", text_col="text",
    ).select("id1", "id2")
    comps = DD.connected_components(docs.select("id"), prs)
    return comps.select(F.col("id").alias("item_id"), "cluster_id")


def _folds(ratings: DataFrame, split_cfg: dict, items: DataFrame | None = None):
    """Split spec -> (split_df, list of (train, test) lineage filters).
    Every fold filters the one persisted ``split_df``; the caller
    unpersists it once the folds are done. The optional validation
    sub-split (SP8) is carved out of each train."""
    seed = split_cfg.get("seed", 42)
    spec = dict(split_cfg["test"])
    method = spec.pop("method")
    if method == "k_fold":
        k = spec.pop("k")
        split_df = SP.split_ratings(ratings, "k_fold", seed=seed, k=k, **spec).persist()
        pairs = [SP.train_test(split_df, fold=i) for i in range(k)]
    elif method == "dedup_aware":
        # VERDICT r12 item 6: the leakage-safe split as config grammar
        # (reference grammar: docs/source/getting_started/config.md) —
        # near-dup item clusters never span train/test. With k= the
        # config gets the k-fold form (cluster-grouped folds).
        if items is None:
            raise ValueError("dedup_aware split needs the items table")
        dedup_spec = {
            k: spec.pop(k)
            for k in ("text_col", "bands", "n_hashes", "dedup_threshold")
            if k in spec
        }
        clusters = _item_dedup_clusters(items, dedup_spec)
        split_df = SP.split_ratings(
            ratings, "dedup_aware", seed=seed, clusters=clusters, **spec
        ).persist()
        if "k" in spec:
            pairs = [SP.train_test(split_df, fold=i) for i in range(spec["k"])]
        else:
            pairs = [SP.train_test(split_df)]
    elif method == "rolling_origin":
        # VERDICT r13 item 7: expanding-window temporal CV from YAML —
        # fold f (1..k) trains on every earlier timeline segment and
        # tests segment f (sp13's audit arithmetic, row-level).
        k = spec.pop("k")
        split_df = SP.split_ratings(
            ratings, "rolling_origin", seed=seed, k=k, **spec
        ).persist()
        pairs = [
            SP.rolling_origin_train_test(split_df, f, k) for f in range(1, k + 1)
        ]
    elif method == "purged_embargo":
        # VERDICT r13 item 7: purged k-fold with embargo from YAML —
        # each fold's train drops the test block plus the embargo
        # margin (sp15's audit arithmetic, row-level).
        k = spec.pop("k")
        embargo_frac = spec.pop("embargo_frac", 0.02)
        split_df = SP.split_ratings(
            ratings, "purged_embargo", seed=seed, k=k, **spec
        ).persist()
        pairs = [
            SP.purged_embargo_train_test(split_df, f, k, embargo_frac)
            for f in range(k)
        ]
    else:
        split_df = SP.split_ratings(ratings, method, seed=seed, **spec).persist()
        pairs = [SP.train_test(split_df)]
    if "validation" in split_cfg:
        vspec = dict(split_cfg["validation"])
        vmethod = vspec.pop("method")
        out = []
        for train, test in pairs:
            v = SP.validation_subsplit(train, method=vmethod, seed=seed + 1, **vspec)
            out.append((v.filter(~F.col("is_test")).drop("is_test"), test))
        pairs = out
    return split_df, pairs


def _run_models(models: list[dict], pairs, graph: KGraph, k: int,
                metric_names: list[str], threshold: float, seed: int):
    """Train and score every model on every fold -> ({model: per-fold
    metric values}, {model: per-fold seconds})."""
    extra_edges = kg_extra_edges(graph)
    extra_triples = kg_extra_triples(graph)
    item_entities = kg_item_entities(graph)

    results: dict[str, list[list[float]]] = {}
    times: dict[str, list[float]] = {}
    for i_model, mcfg in enumerate(models):
        name = mcfg["name"]
        params = mcfg.get("parameters", {}) or {}
        display = name if name not in results else f"{name}#{i_model}"
        results[display], times[display] = [], []
        for train, test in pairs:
            t0 = time.monotonic()
            model = MODELS[name](params, seed)
            model._registry_name = name  # Recommender.name() contract
            train_df = train.select("user_id", "item_id", "rating")
            # dispatch on the plugin's train() signature: walk models
            # take KG edges, KGE models take KG triples, anything else
            # gets the plain fact table (third-party contract, §2.13)
            sig = inspect.signature(model.train).parameters
            if "extra_edges" in sig:
                model.train(train_df, extra_edges=extra_edges)
            elif "extra_triples" in sig:
                model.train(train_df, extra_triples=extra_triples)
            elif "item_entities" in sig:
                # KG-similarity models: entity ids join the fact table,
                # so match the train side's item_id type
                ie = item_entities.withColumn(
                    "item_id",
                    F.col("item_id").cast(dict(train_df.dtypes)["item_id"]),
                )
                model.train(train_df, ie)
            else:
                model.train(train_df)
            # the metric pass unions recs with test rows: one id type
            recs = model.get_recommendations(k).select(
                F.col("user_id").cast("string").alias("user_id"),
                F.col("item_id").cast("string").alias("item_id"),
                "rank",
            )
            test_m = test.select(
                F.col("user_id").cast("string").alias("user_id"),
                F.col("item_id").cast("string").alias("item_id"),
                F.col("rating").cast("double").alias("rating"),
            )
            # every built-in metric is a column of the one per-user pass;
            # a plugin metric joins it as its own 1-row frame
            scores = ME.ranking_metrics(test_m, recs, k, relevance_threshold=threshold)
            for m in metric_names:
                if m not in scores.columns:
                    scores = scores.crossJoin(
                        METRICS[m](test_m, recs, k, relevance_threshold=threshold)
                        .select(F.col("value").alias(m))
                    )
            row = scores.select(*metric_names).collect()[0]
            fold_vals = [float(row[m] or 0.0) for m in metric_names]
            results[display].append(fold_vals)
            times[display].append(time.monotonic() - t0)
    return results, times


def _check_names(kind: str, names: list[str], registry: dict) -> None:
    """Reject names the registry lacks before any Spark work runs."""
    unknown = [n for n in names if n not in registry]
    if unknown:
        raise ValueError(
            f"unknown {kind} name(s) {unknown}; allowed: {', '.join(registry)}"
        )


def run_experiment(spark: SparkSession, config) -> dict:
    """Execute a full experiment; returns {model: {column: value}} as
    written to the report CSV."""
    exp = load_config(config)["experiment"]
    ev = exp["evaluation"]
    metric_names = list(ev.get("metrics", ["MAP", "nDCG"]))
    _check_names("metric", metric_names, METRICS)
    _check_names("model", [m["name"] for m in exp["models"]], MODELS)

    ratings, graph, items = _load_dataset(spark, exp["dataset"])
    for step in exp.get("preprocess", []) or []:
        fn = PREPROCESS[step["method"]]
        ratings = fn(ratings, **step.get("parameters", {}))
    ratings = ratings.persist()
    k = ev.get("k", 5)
    split_df = None
    try:
        split_df, pairs = _folds(ratings, exp["split"], items=items)
        results, times = _run_models(
            exp["models"], pairs, graph, k, metric_names,
            threshold=ev.get("relevance_threshold", 0),
            seed=exp["split"].get("seed", 42),
        )
    finally:
        if split_df is not None:
            split_df.unpersist()
        ratings.unpersist()

    if "report" in exp:
        # report columns carry the cutoff like the reference's
        # Metric.name() (map.py:10 'MAP@{k}'): fold-1_MAP@5, MAP@5_mean
        processed = REP.report(
            results, [f"{m}@{k}" for m in metric_names], exp["report"]["file"]
        )
        if exp["report"].get("times_file"):
            REP.report_execution_times(times, exp["report"]["times_file"])
        return processed
    return {m: {"folds": v} for m, v in results.items()}
