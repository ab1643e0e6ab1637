"""PySpark-native knowledge-graph-aware recommender & data-processing engine.

A brand-new, Spark-first rebuild of the capabilities of
``AlvaroJoseLopes/Knowledge-Graph-aware-Recommender-Systems-with-DBpedia``
(GSoC-2023 DBpedia project): data integration to standardized tables,
heterogeneous user-item-property knowledge graph construction,
preprocessing (k-core, binarize), seeded train/test edge splitting,
graph-embedding recommenders, MAP@k / nDCG@k evaluation — plus the
large-scale training-data-pipeline operators (dedup, similarity search,
text analysis, streaming) the reference lacks.

Everything is DataFrame/SQL-first: the "graph" is two DataFrames
(nodes, edges), splits are deterministic hash-based lineage filters,
metrics are one per-user aggregation. No driver-side row loops in any hot
path.
"""

__version__ = "0.1.0"
