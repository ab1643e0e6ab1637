from .graph import (
    KGraph,
    build_graph,
    filter_kcore,
    graph_summary,
    relabel_nodes,
    triples,
)
from .splits import split_ratings, train_test, validation_subsplit
from .metrics import map_at_k, ndcg_at_k, evaluate
from .recommend import (
    PopularityRecommender,
    Recommender,
    topk_by_cosine,
    topk_by_cosine_lsh,
)
from .node2vec import Node2VecRecommender
from .kge import KGE_MODELS, KGERecommender, train_kge
from .walks import random_walks

__all__ = [
    "KGraph",
    "build_graph",
    "filter_kcore",
    "graph_summary",
    "relabel_nodes",
    "triples",
    "split_ratings",
    "train_test",
    "validation_subsplit",
    "map_at_k",
    "ndcg_at_k",
    "evaluate",
    "PopularityRecommender",
    "Recommender",
    "topk_by_cosine",
    "topk_by_cosine_lsh",
    "Node2VecRecommender",
    "KGE_MODELS",
    "KGERecommender",
    "train_kge",
    "random_walks",
]
