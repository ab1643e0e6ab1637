"""Node2vec-style embedding recommender — SURVEY §7 phase 5 (G6/G7 + M1 + O3/J6/O4).

Pipeline (reference ``framework/recommender/models/deep_walk_based/
model.py:43-149`` re-expressed Spark-first):

 1. bipartite user-item graph from the train ratings (plus optional
    has_property / social edges from a KGraph);
 2. distributed random walks (operators/walks.py);
 3. ``pyspark.ml.feature.Word2Vec`` skip-gram over the walk corpus.
    NOTE (SURVEY §6 / risk register): gensim uses hierarchical
    softmax, MLlib uses negative sampling — bitwise vector parity is
    unattainable; the acceptance target is metric-band parity;
 4. cosine top-k scoring with the reference's exact
    over-fetch -> anti-join(rated) -> truncate-to-k pattern, on the
    driver as the reference scores (``recommend.driver_topk``, the
    rows of ``recommend.topk_by_cosine``): the Word2Vec vectors, which
    MLlib's model already holds on the driver, and the train pairs
    come over in one Arrow collect each.

Entities absent from the walk vocabulary (Word2Vec minCount prunes
them) get zero vectors, matching the reference's zero-fill
(``transE/model.py:111-135``).

Scale: walks + Word2Vec are distributed; scoring is not. More than
``recommend.MAX_DRIVER_TRIPLES`` train ratings are refused with a
``ValueError`` before the walks: at that size the exact Spark scorer
is an O(users x items) cross join (1,141 s for rec_kge_transe_top5 at
sf0.1 on 4 cores), and ``scoring="lsh"`` still needs the pairs on the
driver.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .recommend import (
    Recommender,
    check_scoring,
    collect_pairs,
    driver_recommendations,
)
from .walks import random_walks

_U = "u:"
_I = "i:"


def ratings_to_edges(train: DataFrame, user_col="user_id", item_col="item_id") -> DataFrame:
    """Bipartite edge list with type-prefixed string node ids."""
    return train.select(
        F.concat(F.lit(_U), F.col(user_col).cast("string")).alias("src"),
        F.concat(F.lit(_I), F.col(item_col).cast("string")).alias("dst"),
    )


class Node2VecRecommender(Recommender):
    """node2vec walks + Word2Vec + cosine top-k.

    Parameters mirror the reference's deep-walk config
    (``deep_walk_based/model.py:16-41``): walk_number/walk_length,
    p/q (parity default 1.0 — see walks.py quirk note), embedding
    vector_size/window/epochs, seed. ``scoring`` is ``exact`` or
    ``lsh``; ``train`` leaves nothing persisted in Spark.
    """

    def __init__(
        self,
        k: int = 5,
        n_walks: int = 10,
        walk_len: int = 10,
        p: float = 1.0,
        q: float = 1.0,
        vector_size: int = 64,
        window: int = 5,
        epochs: int = 1,
        min_count: int = 0,
        seed: int = 42,
        scoring: str = "exact",
        all_recs: bool = False,
        corpus_partitions: int = 64,
    ):
        check_scoring(scoring, all_recs)
        self.all_recs = all_recs
        self.scoring = scoring  # "exact" (parity) | "lsh" (scale)
        self.k = k
        self.n_walks = n_walks
        self.walk_len = walk_len
        self.p, self.q = p, q
        self.vector_size = vector_size
        self.window = window
        self.epochs = epochs
        self.min_count = min_count
        self.seed = seed
        # Fixed, deterministic Word2Vec input layout PER CONFIGURATION:
        # results track the corpus partitioning, so this is a model
        # hyperparameter, not a tuning knob. Default 64 reproduces the
        # committed parity goldens; raise it for 10^8-walk corpora where
        # 64 oversized tasks would cap training parallelism (ADVICE
        # r04) — but expect numerically different (equally valid)
        # embeddings under a different layout.
        if corpus_partitions < 1:
            raise ValueError(f"corpus_partitions must be >= 1: {corpus_partitions}")
        self.corpus_partitions = corpus_partitions
        self._spark = None
        # (train pairs, vocabulary words, their vectors)
        self._driver: tuple[pa.Table, pa.Array, np.ndarray] | None = None

    def train(
        self, train_ratings: DataFrame, extra_edges: DataFrame | None = None
    ) -> "Node2VecRecommender":
        self._spark = train_ratings.sparkSession
        self._driver = None
        train = train_ratings.select("user_id", "item_id").persist()
        try:
            # the guarded collect refuses an oversized input before the
            # walks, and fills train's cache for them
            pairs = collect_pairs(train.select(
                F.col("user_id").cast("string").alias("user_id"),
                F.col("item_id").cast("string").alias("item_id"),
            ))
            vocab = self._word_vectors(train, extra_edges)
        finally:
            train.unpersist()
        vecs = pc.list_flatten(vocab.column("vec")).to_numpy()
        self._driver = (
            pairs,
            vocab.column("word").combine_chunks(),
            vecs.reshape(-1, self.vector_size),
        )
        return self

    def _word_vectors(self, train: DataFrame, extra_edges: DataFrame | None) -> pa.Table:
        """Walks over the rating graph, then Word2Vec: (word, vec) for
        every vocabulary node, collected from the fitted model."""
        from pyspark.ml.feature import Word2Vec
        from pyspark.ml.functions import vector_to_array

        edges = ratings_to_edges(train)
        if extra_edges is not None:  # has_property / social from a KGraph
            edges = edges.unionByName(extra_edges.select("src", "dst"))
        walks = random_walks(
            edges,
            n_walks=self.n_walks,
            walk_len=self.walk_len,
            p=self.p,
            q=self.q,
            seed=self.seed,
        )
        # Pin the corpus layout: walk VALUES are md5-deterministic, but
        # their partitioning/order would otherwise track the session's
        # parallelism, and Word2Vec's SGD result depends on input order
        # — repartition on the deterministic walk_id and sort within
        # partitions so training is reproducible across local[N]
        # settings (the quality-parity band and the rec_*_band oracles
        # rely on this).
        walks = walks.repartition(
            self.corpus_partitions, "walk_id"
        ).sortWithinPartitions("walk_id")
        w2v = Word2Vec(
            vectorSize=self.vector_size,
            windowSize=self.window,
            maxIter=self.epochs,
            minCount=self.min_count,
            seed=self.seed,
            inputCol="walk",
            outputCol="_emb",
        )
        model = w2v.fit(walks)
        return (
            model.getVectors()
            .select(F.col("word"), vector_to_array("vector").alias("vec"))
            .toArrow()
        )

    def get_recommendations(self, k: int | None = None) -> DataFrame:
        if self._driver is None:
            raise RuntimeError("call train() before get_recommendations()")
        return driver_recommendations(
            self._spark, *self._driver, k or self.k, self.scoring, self.all_recs
        )
