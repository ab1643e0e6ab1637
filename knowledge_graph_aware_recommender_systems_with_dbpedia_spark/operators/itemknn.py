"""Item-item neighborhood recommenders: co-rating cosine KNN and
KG-aware Jaccard similarity.

The reference scores users against items through *trained* embeddings
(``deep_walk_based/model.py:62-86``); its scoring contract (over-fetch
-> anti-join rated -> truncate, reused here via
``recommend.exclude_rated_and_truncate``) is model-agnostic. These two
recommenders plug deterministic, fully SQL-checkable similarity models
into that same contract:

 * :func:`item_cosine_similarity` — classic itemKNN over the co-rating
   matrix (Sarwar et al., WWW'01): ``sim(i,j) = r_i . r_j /
   (||r_i|| ||r_j||)`` over the shared-user rating vectors.
 * :func:`kg_item_similarity` — the knowledge-graph flavor: Jaccard
   over each item's entity set (the DBpedia-property fan-out the
   reference builds its graph from, ``framework/dataset/graph.py``) —
   "two movies sharing director+genre are neighbors" re-expressed as a
   bucketed entity equi-join.

Exactness contract (what makes the whole path DuckDB-hash-checkable):
ratings are integral (the repo's rating = TPC-H quantity; MovieLens
stars x2 likewise) and are cast to BIGINT, so dot products, squared
norms, intersection and set sizes are EXACT integer aggregates —
order-independent under any shuffle. Each similarity is then a single
float division of exact integers (bit-identical on any IEEE engine),
and the final score fold is evaluated in pinned (rated-item) order so
even float summation is reproducible (see :func:`score_by_neighbors`).

Scale shape (100 TB posture):
 * the co-rating self-join shuffles on ``user_id`` once; its output is
   bounded by sum(deg_u^2). Power users blow that up quadratically —
   ``max_user_degree`` drops them from similarity *estimation* only
   (the standard itemKNN mitigation; scoring still sees all ratings).
 * the entity join shuffles on ``entity``; hot entities (a genre every
   movie has) are the same stop-key hazard as dd2's stop-shingles —
   ``max_entity_df`` prunes them before the join.
 * ``topm_neighbors`` bounds the model at items x m rows — the
   broadcastable "model" the scoring join consumes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .recommend import Recommender, exclude_rated_and_truncate

# Default sum(deg^2) guard: one 10^7-rating power user alone would emit
# 10^14 co-rating pairs; capped at 10^4 the worst single user costs
# 10^8 — survivable — and the over-cap user SET is bounded by
# n_ratings / cap (each excluded user accounts for > cap ratings), so
# the anti-join side stays small by construction. 10^4 is far above any
# organic per-user rating count (ml-100k max: 737), so at reference
# scale the default changes nothing — verified by the unchanged
# rec_itemknn_top5 oracle hash.
DEFAULT_MAX_USER_DEGREE = 10_000


def item_cosine_similarity(
    ratings: DataFrame,
    min_support: int = 1,
    max_user_degree: int | None = DEFAULT_MAX_USER_DEGREE,
    user_col: str = "user_id",
    item_col: str = "item_id",
    rating_col: str = "rating",
    broadcast_overcap: bool = True,
    overcap_users: DataFrame | None = None,
) -> DataFrame:
    """Co-rating cosine similarity -> (item_a, item_b, n_common, sim),
    emitted in BOTH directions (the pair is computed once with
    ``item_a < item_b`` and mirrored).

    ``min_support`` drops pairs sharing fewer than that many users
    (noise edges dominate the pair count at scale); ``max_user_degree``
    excludes users with more ratings than the cap from pair generation
    (sum(deg^2) guard — ON by default; pass ``None`` to explicitly
    disable). The guard is an anti-join against the OVER-cap user set
    (bounded by n_ratings/cap rows — broadcastable by construction; set
    ``broadcast_overcap=False`` to force a shuffle anti-join when the
    caller knows the set is still huge). A caller that already computed
    the over-cap user set (ItemKNNRecommender.train does, for its
    warning) can pass it as ``overcap_users`` — a single-column
    ``user_id`` frame — to skip the degree re-aggregation (ADVICE r04).
    Ratings are cast to BIGINT — see module docstring for why that buys
    exactness.
    """
    r = ratings.select(
        F.col(user_col).alias("user_id"),
        F.col(item_col).alias("item_id"),
        F.col(rating_col).cast("bigint").alias("rq"),
    )
    if max_user_degree is not None:
        if overcap_users is not None:
            over = overcap_users.select("user_id")
        else:
            over = (
                r.groupBy("user_id")
                .agg(F.count(F.lit(1)).alias("_deg"))
                .filter(F.col("_deg") > max_user_degree)
                .drop("_deg")
            )
        if broadcast_overcap:
            over = F.broadcast(over)
        r = r.join(over, "user_id", "left_anti")
    n2 = r.groupBy("item_id").agg(F.sum(F.col("rq") * F.col("rq")).alias("n2"))
    a, b = r.alias("a"), r.alias("b")
    pairs = (
        a.join(b, "user_id")
        .filter(F.col("a.item_id") < F.col("b.item_id"))
        .groupBy(
            F.col("a.item_id").alias("item_a"), F.col("b.item_id").alias("item_b")
        )
        .agg(
            F.sum(F.col("a.rq") * F.col("b.rq")).alias("dot"),
            F.count(F.lit(1)).alias("n_common"),
        )
        .filter(F.col("n_common") >= min_support)
    )
    # union-of-mirror (NOT an explode-mirror): the union branches each
    # re-run the reduce-side aggregation (ReuseExchange shares only the
    # shuffle), but they keep downstream filters PUSHABLE — a consumer
    # filtering on item_a/item_b prunes both branches below the pair
    # join (the AQE skew test pins this posture), which at scale is
    # worth far more than the duplicated agg; an explode-mirror is a
    # pushdown barrier.
    sym = pairs.unionByName(
        pairs.select(
            F.col("item_b").alias("item_a"),
            F.col("item_a").alias("item_b"),
            "dot",
            "n_common",
        )
    )
    na = n2.select(F.col("item_id").alias("item_a"), F.col("n2").alias("n2a"))
    nb = n2.select(F.col("item_id").alias("item_b"), F.col("n2").alias("n2b"))
    # dot, n2a, n2b are exact integers; ONE float division per pair.
    # n2a*n2b stays in BIGINT — overflows only past ~3e9 sum-of-squares
    # per item (deg ~1e6 at rating<=50), far beyond any capped degree.
    # n2 is one row per ITEM (the dim table) — broadcast both sides so
    # the pair table (the big side, sum(deg^2)-bounded) never sorts or
    # re-shuffles for the norm lookups.
    return (
        sym.join(F.broadcast(na), "item_a")
        .join(F.broadcast(nb), "item_b")
        .select(
            "item_a",
            "item_b",
            "n_common",
            (
                F.col("dot").cast("double")
                / F.sqrt((F.col("n2a") * F.col("n2b")).cast("double"))
            ).alias("sim"),
        )
    )


def kg_item_similarity(
    item_entities: DataFrame,
    min_shared: int = 1,
    max_entity_df: int | None = None,
    max_items_per_entity: int | None = None,
    item_col: str = "item_id",
    entity_col: str = "entity",
) -> DataFrame:
    """KG Jaccard similarity -> (item_a, item_b, n_shared, sim), both
    directions. ``item_entities`` is the (item, entity) edge table the
    graph build fans out (G1/G2); ``sim = |A n B| / |A u B|``.

    ``max_entity_df`` removes entities linked to more than that many
    items BEFORE both the join and the set-size counts (the pruned
    universe is used consistently, so sim stays a true Jaccard over the
    kept entities). Set sizes and intersections are exact integers; the
    Jaccard is one float division.

    ``max_items_per_entity`` (the softer cap) keeps hot entities but
    bounds the quadratic pair fan-out: for an entity linked to DF
    items, each (entity, item) edge survives iff
    ``det_hash(entity, item) * DF < cap * 1e6`` — a deterministic
    ~cap-sized uniform subsample, pure integer arithmetic, evaluated
    map-side after a broadcast DF lookup (no per-entity window task).
    Entities with DF <= cap are untouched, so at small scale the op
    stays EXACT while at 100 TB the self-join is bounded at
    ~cap^2/2 x #entities pairs instead of sum(DF^2). The capped edge
    universe is used consistently (sizes included), like
    ``max_entity_df``.
    """
    from ..functions.hashing import MOD, det_hash

    e = item_entities.select(
        F.col(item_col).alias("item_id"), F.col(entity_col).alias("entity")
    ).distinct()
    if max_entity_df is not None:
        df_tbl = e.groupBy("entity").agg(F.count(F.lit(1)).alias("_df"))
        e = e.join(
            F.broadcast(df_tbl.filter(F.col("_df") <= max_entity_df).drop("_df")),
            "entity",
        )
    if max_items_per_entity is not None:
        df_tbl = e.groupBy("entity").agg(F.count(F.lit(1)).alias("_df"))
        e = (
            e.join(F.broadcast(df_tbl), "entity")
            .filter(
                (F.col("_df") <= max_items_per_entity)
                | (
                    det_hash(F.col("entity"), F.col("item_id")) * F.col("_df")
                    < F.lit(max_items_per_entity * MOD)
                )
            )
            .drop("_df")
        )
    sizes = e.groupBy("item_id").agg(F.count(F.lit(1)).alias("n_ent"))
    a, b = e.alias("a"), e.alias("b")
    pairs = (
        a.join(b, "entity")
        .filter(F.col("a.item_id") < F.col("b.item_id"))
        .groupBy(
            F.col("a.item_id").alias("item_a"), F.col("b.item_id").alias("item_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    # union-of-mirror kept pushable — see item_cosine_similarity
    sym = pairs.unionByName(
        pairs.select(
            F.col("item_b").alias("item_a"),
            F.col("item_a").alias("item_b"),
            "n_shared",
        )
    )
    sa = sizes.select(F.col("item_id").alias("item_a"), F.col("n_ent").alias("na"))
    sb = sizes.select(F.col("item_id").alias("item_b"), F.col("n_ent").alias("nb"))
    # per-item set sizes = dim-table cardinality; broadcast (see
    # item_cosine_similarity)
    return (
        sym.join(F.broadcast(sa), "item_a")
        .join(F.broadcast(sb), "item_b")
        .select(
            "item_a",
            "item_b",
            "n_shared",
            (
                F.col("n_shared").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_shared")).cast("double")
            ).alias("sim"),
        )
    )


def topm_neighbors(sims: DataFrame, m: int) -> DataFrame:
    """Keep each item's m most similar neighbors (sim desc, item_b asc
    tie-break) — bounds the model at items x m rows. The window is
    partitioned by item_a; no global ordering anywhere."""
    w = Window.partitionBy("item_a").orderBy(F.desc("sim"), "item_b")
    return (
        sims.withColumn("_nrn", F.row_number().over(w))
        .filter(F.col("_nrn") <= m)
        .drop("_nrn")
    )


def score_by_neighbors(
    train: DataFrame,
    neighbors: DataFrame,
    k: int,
    exact_order: bool = True,
    all_recs: bool = False,
) -> DataFrame:
    """Weighted-sum neighborhood scoring -> (user_id, item_id, rank).

    ``score(u, c) = sum over u's rated items r of sim(r, c) * rating``,
    then the reference's J6/O4 contract (drop rated, top-k per user).

    ``exact_order=True`` (default) evaluates the float sum as a fold
    over the (rated_item, contrib) pairs sorted by rated item —
    ``0.0 + c_1 + c_2 + ...`` in pinned order — so scores are
    bit-reproducible across shuffles AND replayable in SQL (DuckDB
    ``list_reduce`` over an ordered ``list()``). ``exact_order=False``
    is the max-scale variant: a plain ``sum()`` gets map-side partial
    aggregation (smaller shuffle), at the cost of float-order
    nondeterminism in the last bits.
    """
    r = train.select("user_id", "item_id", F.col("rating").cast("bigint").alias("rq"))
    # the neighbor model is bounded at items x m rows — broadcast it so
    # the ratings fact table joins map-side (no shuffle of train here)
    contrib = r.join(
        F.broadcast(
            neighbors.select(
                F.col("item_a").alias("item_id"),
                F.col("item_b").alias("cand"),
                "sim",
            )
        ),
        "item_id",
    ).select(
        "user_id",
        "cand",
        F.col("item_id").alias("ri"),
        (F.col("sim") * F.col("rq").cast("double")).alias("c"),
    )
    if exact_order:
        scored = contrib.groupBy("user_id", "cand").agg(
            F.aggregate(
                F.sort_array(F.collect_list(F.struct("ri", "c"))),
                F.lit(0.0),
                lambda acc, s: acc + s["c"],
            ).alias("score")
        )
    else:
        scored = contrib.groupBy("user_id", "cand").agg(F.sum("c").alias("score"))
    scored = scored.select("user_id", F.col("cand").alias("item_id"), "score")
    return exclude_rated_and_truncate(
        scored, train.select("user_id", "item_id"), k, all_recs=all_recs
    )


class ItemKNNRecommender(Recommender):
    """Deterministic itemKNN through the reference's Recommender
    contract (train / get_recommendations / get_user_recommendation /
    all_recs). The trained "model" is the top-m neighbor table."""

    def __init__(
        self,
        k: int = 5,
        m: int = 10,
        min_support: int = 1,
        max_user_degree: int | None = DEFAULT_MAX_USER_DEGREE,
        exact_order: bool = True,
        all_recs: bool = False,
    ):
        self.k = k
        self.m = m
        self.min_support = min_support
        self.max_user_degree = max_user_degree
        self.exact_order = exact_order
        self.all_recs = all_recs
        self._train: DataFrame | None = None
        self._neighbors: DataFrame | None = None

    def train(self, train_ratings: DataFrame) -> "ItemKNNRecommender":
        # the train lineage is consumed three times (pair generation,
        # scoring contribs, rated-exclusion anti-join) — persist it so
        # an expensive upstream lineage (e.g. a det-hash split over the
        # corpus) is computed once, not per consumer
        self._train = train_ratings.persist()
        broadcast_overcap = True
        overcap = None
        if self.max_user_degree is not None:
            # the guard silently changes which users feed similarity
            # estimation — surface it. The over-cap set is computed
            # ONCE (persisted, bounded by n_ratings/cap rows), its
            # count drives the warning + broadcast decision, and the
            # same frame feeds the anti-join inside
            # item_cosine_similarity — no second degree aggregation
            # over the ratings (ADVICE r04).
            overcap = (
                self._train.groupBy("user_id")
                .agg(F.count(F.lit(1)).alias("_deg"))
                .filter(F.col("_deg") > self.max_user_degree)
                .select("user_id")
                .persist()
            )
            n_over = overcap.count()
            if n_over:
                import logging

                logging.getLogger(__name__).warning(
                    "itemKNN max_user_degree=%d excludes %d power user(s) "
                    "from similarity estimation (scoring still sees all "
                    "ratings)",
                    self.max_user_degree,
                    n_over,
                )
            broadcast_overcap = n_over < 1_000_000
        self._neighbors = topm_neighbors(
            item_cosine_similarity(
                self._train,
                min_support=self.min_support,
                max_user_degree=self.max_user_degree,
                broadcast_overcap=broadcast_overcap,
                overcap_users=overcap,
            ),
            self.m,
        ).persist()
        if overcap is not None:
            # release the over-cap cache now rather than eagerly
            # materializing the neighbor table first: the extra full
            # pass over the similarity pipeline cost 1.7x at sf0.1
            # (VERDICT r07), while recomputing the bounded over-cap agg
            # inside the first scoring job is one map-side-combined
            # groupBy over the persisted train frame
            overcap.unpersist(blocking=False)
        return self

    def get_recommendations(self, k: int | None = None) -> DataFrame:
        assert self._train is not None and self._neighbors is not None
        return score_by_neighbors(
            self._train,
            self._neighbors,
            k or self.k,
            exact_order=self.exact_order,
            all_recs=self.all_recs,
        )


class KGSimRecommender(Recommender):
    """KG-aware neighborhood recommender: same scoring contract, but
    the neighbor table comes from entity-set Jaccard over the item
    knowledge graph instead of co-ratings — recommendable items need
    only KG links, not rating history (the cold-start story that
    motivates the reference's whole DBpedia enrichment)."""

    def __init__(
        self,
        k: int = 5,
        m: int = 10,
        min_shared: int = 1,
        max_entity_df: int | None = None,
        max_items_per_entity: int | None = None,
        exact_order: bool = True,
        all_recs: bool = False,
    ):
        self.k = k
        self.m = m
        self.min_shared = min_shared
        self.max_entity_df = max_entity_df
        self.max_items_per_entity = max_items_per_entity
        self.exact_order = exact_order
        self.all_recs = all_recs
        self._train: DataFrame | None = None
        self._neighbors: DataFrame | None = None

    def train(
        self, train_ratings: DataFrame, item_entities: DataFrame
    ) -> "KGSimRecommender":
        # persisted for the same three-consumer reason as ItemKNN
        self._train = train_ratings.persist()
        self._neighbors = topm_neighbors(
            kg_item_similarity(
                item_entities,
                min_shared=self.min_shared,
                max_entity_df=self.max_entity_df,
                max_items_per_entity=self.max_items_per_entity,
            ),
            self.m,
        ).persist()
        return self

    def get_recommendations(self, k: int | None = None) -> DataFrame:
        assert self._train is not None and self._neighbors is not None
        return score_by_neighbors(
            self._train,
            self._neighbors,
            k or self.k,
            exact_order=self.exact_order,
            all_recs=self.all_recs,
        )
