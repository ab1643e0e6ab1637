"""Session defaults that only show on a warm session: the generated-class
cache must hold a registry battery's classes, so repeating the battery
compiles (almost) nothing."""

import os

from knowledge_graph_aware_recommender_systems_with_dbpedia_spark.plans import QUERIES
from knowledge_graph_aware_recommender_systems_with_dbpedia_spark.session import codegen_compiles
from knowledge_graph_aware_recommender_systems_with_dbpedia_spark.sources.tables import DEFAULT_SF_DIR

SF = os.path.join(os.path.dirname(DEFAULT_SF_DIR), "sf0.001")

# one query per family, the perfbench registry battery
BATTERY = [
    "q1_pricing_summary",
    "g13_kcore_incremental",
    "sp13_rolling_origin",
    "dd10_canonical_keep",
    "ss1_ann_cosine_topk",
    "ev2_sessionize",
]


def _run_battery(spark) -> int:
    c0 = codegen_compiles(spark)
    for q in BATTERY:
        QUERIES[q](spark, SF).toPandas()
    return codegen_compiles(spark) - c0


def test_repeated_battery_reuses_generated_classes(spark):
    """The battery cycles through ~200 distinct generated classes. With
    Spark's default 100-entry LRU every class was evicted before its
    next use and the repeat recompiled ~200; sized, it compiles ~0."""
    first = _run_battery(spark)
    repeat = _run_battery(spark)
    assert repeat <= 10, (first, repeat)
