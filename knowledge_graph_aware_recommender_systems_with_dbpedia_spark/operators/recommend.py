"""Recommenders: popularity baseline + embedding cosine top-k scoring.

The scoring path reproduces the reference's over-fetch + anti-join +
truncate pattern exactly (``deep_walk_based/model.py:62-86``):

 1. over-fetch ``n = min(max_user_degree + k, n_items)`` candidates
    per user (guarantees >= k remain after excluding rated items);
 2. anti-join the user's already-rated items (J6);
 3. keep the first k by score (O4).

Exact cosine scoring has one implementation per place the vectors
live, and the two return the same rows, bit for bit:

 * :func:`driver_topk` (numpy) for vectors held on the driver — the
   KGE driver trainer and node2vec, both scored in one process as the
   reference scores them. The train pairs come over in one guarded
   Arrow collect (:func:`collect_pairs`) and
   :func:`driver_recommendations` hands Spark the ranked rows;
 * :func:`topk_by_cosine` (a crossJoin, a window and an anti-join)
   for vectors that stay in Spark — the sharded KGE trainer, and
   fixed hash vectors.

Scale: the popularity candidate set is tiny (top-n global items) and
broadcast; the approximate scoring path is :func:`topk_by_cosine_lsh`
(sign-LSH bucket joins, see similarity.cosine_lsh_topk).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str | list[str],
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join (single or composite key): the hot keys
    of ``big`` are spread over ``n_salts`` shuffle partitions by a
    deterministic row salt; ``small`` is replicated once per salt value.

    AQE's skew-join split handles moderate skew automatically; this is
    the explicit tool for pathological keys (one user with 10^8
    interactions, one stop-phrase LSH bucket) or stages where AQE can't
    re-plan (e.g. stream-static joins). Deterministic: the salt is a
    hash of the row's other columns, not rand().
    """
    keys = [key] if isinstance(key, str) else list(key)
    salt = F.pmod(
        F.hash(*[F.col(c) for c in big.columns]), F.lit(n_salts)
    ).alias("_salt")
    b = big.select("*", salt)
    s = small.join(
        F.broadcast(
            small.sparkSession.range(n_salts).select(F.col("id").cast("int").alias("_salt"))
        ),
        F.lit(True),
    )
    return b.join(s, keys + ["_salt"], how).drop("_salt")


def bucket_skew_ratio(df: DataFrame, keys: list[str]) -> float:
    """max bucket size / mean bucket size — the pre-flight skew probe
    behind ``salt="auto"`` in the LSH joins. One tiny aggregate job
    (shuffles one count per distinct key)."""
    stats = (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.max("c").alias("mx"), F.avg("c").alias("mean"))
        .collect()[0]
    )
    if not stats["mean"]:
        return 1.0
    return float(stats["mx"]) / float(stats["mean"])


class Recommender:
    """Plugin contract shared by every recommender (reference
    ``framework/recommender/recommender.py:22-28`` and the documented
    add-a-recommender surface ``docs/source/contributing/
    add_recommender.md:9-16``): ``train``, ``get_recommendations(k)``,
    ``get_user_recommendation(user, k)``, and the ``all_recs`` flag
    (True = rank EVERY unseen item per user, no top-k truncation —
    ``deep_walk_based/model.py:71-78``)."""

    k: int = 5
    all_recs: bool = False

    def name(self) -> str:
        """The reference contract's ``name`` (recommender.py:11-31):
        registry key when constructed via MODELS (set by
        registries.make_model), else the class name."""
        return getattr(self, "_registry_name", type(self).__name__)

    def train(self, *args, **kwargs):
        raise NotImplementedError("override train() in your recommender")

    def get_recommendations(self, k: int | None = None) -> DataFrame:
        raise NotImplementedError("override get_recommendations()")

    def get_user_recommendation(self, user_id, k: int | None = None) -> DataFrame:
        """Recommendations for ONE user — by contract the per-user slice
        of :meth:`get_recommendations`. Expressed as a filter on the
        full plan: Catalyst pushes the user_id predicate below the
        ranking window (its partition key) and into the scoring join,
        so only that user's candidates are actually scored."""
        recs = self.get_recommendations(k)
        return recs.filter(F.col("user_id") == F.lit(user_id))


def max_user_degree(train: DataFrame, user_col="user_id") -> int:
    """A8: max #ratings of any user (over-fetch heuristic input)."""
    row = train.groupBy(user_col).count().agg(F.max("count").alias("m")).collect()[0]
    return int(row["m"] or 0)


def exclude_rated_and_truncate(
    scored: DataFrame,
    train: DataFrame,
    k: int,
    user_col: str = "user_id",
    item_col: str = "item_id",
    score_col: str = "score",
    all_recs: bool = False,
) -> DataFrame:
    """J6 + O4: drop train items, re-rank, keep top-k -> (user, item, rank).

    ``all_recs=True`` skips the truncation (every surviving candidate
    stays, ranked) — the reference's ``all_recs`` flag. A NaN score
    ranks last, as in :func:`driver_topk` (``desc`` alone would put it
    above every number)."""
    filtered = scored.join(
        train.select(user_col, item_col), [user_col, item_col], "left_anti"
    )
    w = Window.partitionBy(user_col).orderBy(
        F.isnan(score_col), F.desc(score_col), item_col
    )
    ranked = filtered.withColumn("rank", F.row_number().over(w))
    if not all_recs:
        ranked = ranked.filter(F.col("rank") <= k)
    return ranked.select(user_col, item_col, "rank")


class PopularityRecommender(Recommender):
    """Most-popular-unseen baseline (the zero-ML end-to-end slice of
    SURVEY §7 phase 2). Candidate set = global top-(max_degree + k)
    items by interaction count — broadcastable by construction.
    ``all_recs=True`` ranks every unseen item (the candidate array is
    then the whole item dim table — bounded, still broadcastable)."""

    def __init__(self, k: int = 5, all_recs: bool = False):
        self.k = k
        self.all_recs = all_recs
        self._train: DataFrame | None = None
        self._pop: DataFrame | None = None

    def train(self, train_ratings: DataFrame) -> "PopularityRecommender":
        # the train set is read 4x (popularity, max degree, user list,
        # anti-join) — persist it once instead of replaying the upstream
        # split lineage per read
        self._train = train_ratings.persist()
        self._pop = (
            train_ratings.groupBy("item_id")
            .agg(F.count(F.lit(1)).alias("pop"))
        )
        return self

    def get_recommendations(self, k: int | None = None) -> DataFrame:
        k = k or self.k
        assert self._train is not None and self._pop is not None
        n_fetch = max_user_degree(self._train) + k
        # over-fetch -> anti-join -> truncate, expressed as array ops:
        # the global candidate list (max_degree + k items, desc pop) is
        # ONE broadcast array row; per user the plan is
        # slice(array_except(candidates, rated), 1, k) — array_except
        # preserves the first array's order, so this is row-for-row the
        # crossJoin + window + left-anti plan without shuffling a
        # users x candidates table (at 100 TB: a map-side-only stage
        # after the per-user collect_set).
        pop_src = (
            self._pop
            if self.all_recs  # every item is a candidate
            else self._pop.orderBy(F.desc("pop"), "item_id").limit(n_fetch)
        )
        top_items = (
            pop_src
            # collect_list order is not guaranteed after limit —
            # re-sort inside the array to pin (pop desc, item asc)
            .agg(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct((-F.col("pop")).alias("np"), F.col("item_id").alias("i")))
                    ),
                    lambda s: s["i"],
                ).alias("cand")
            )
        )
        rated = self._train.groupBy("user_id").agg(
            F.collect_set("item_id").alias("rated")
        )
        unseen = F.array_except("cand", "rated")
        picked = rated.join(F.broadcast(top_items)).select(
            "user_id",
            (unseen if self.all_recs else F.slice(unseen, 1, k)).alias("recs"),
        )
        return picked.select(
            "user_id", F.posexplode("recs").alias("_p", "item_id")
        ).select("user_id", "item_id", (F.col("_p") + 1).alias("rank"))


def topk_by_cosine_lsh(
    user_vecs: DataFrame,
    item_vecs: DataFrame,
    k: int,
    train: DataFrame,
    n_planes: int = 6,
    over_fetch: int | None = None,
    n_tables: int = 1,
) -> DataFrame:
    """The 100 TB scoring path: sign-LSH bucketed candidate generation
    instead of the exact O(U x I) crossJoin (same over-fetch ->
    anti-join -> truncate contract as topk_by_cosine; approximate —
    recall is tuned by n_planes per table and OR-amplified by
    n_tables — see similarity.cosine_lsh_topk).

    User/item ids are prefix-tagged before the shared-id LSH join so a
    user and an item with the same raw id can never be confused.
    """
    from .similarity import cosine_lsh_topk

    n_fetch = (over_fetch or max_user_degree(train)) + k
    items = item_vecs.select(
        F.concat(F.lit("i:"), F.col("item_id").cast("string")).alias("vec_id"),
        F.col("vec").alias("embedding"),
    )
    users = user_vecs.select(
        F.concat(F.lit("u:"), F.col("user_id").cast("string")).alias("vec_id"),
        F.col("vec").alias("embedding"),
    )
    cand = cosine_lsh_topk(items, users, k=n_fetch, n_planes=n_planes, n_tables=n_tables)
    scored = cand.select(
        F.expr("substring(query_id, 3)").alias("user_id"),
        F.expr("substring(neighbor_id, 3)").alias("item_id"),
        F.col("cosine").alias("score"),
    )
    return exclude_rated_and_truncate(scored, train, k)


def topk_by_cosine(
    user_vecs: DataFrame,
    item_vecs: DataFrame,
    k: int,
    train: DataFrame | None = None,
    over_fetch: int | None = None,
    all_recs: bool = False,
) -> DataFrame:
    """O3/M6: exact cosine top-k of items per user, then J6/O4.

    ``user_vecs``: (user_id, vec array<float/double>), ``item_vecs``:
    (item_id, vec). Vectors are L2-normalized once; similarity is a
    zip_with dot product — JVM-side, no Python.

    Exact crossJoin is O(U x I): the exact path for vectors that stay
    in Spark; vectors held on the driver go through :func:`driver_topk`,
    which returns the same rows. At scale swap in
    :func:`topk_by_cosine_lsh`.
    """
    def normed(df: DataFrame, idc: str) -> DataFrame:
        # materialize the O(dim) norm in a projection BEFORE the
        # per-element division lambda — an aggregate referenced inside
        # a transform lambda re-evaluates per element (O(dim^2)/row;
        # same pitfall functions/text.ngrams_from_tokens documents)
        staged = df.select(
            idc,
            "vec",
            F.sqrt(F.aggregate("vec", F.lit(0.0), lambda a, x: a + x * x)).alias("_norm"),
        )
        return staged.select(
            idc,
            F.when(
                F.col("_norm") > 0,
                F.transform("vec", lambda x: x / F.col("_norm")),
            ).otherwise(F.col("vec")).alias("vec"),
        )

    u = normed(user_vecs, "user_id")
    it = normed(item_vecs, "item_id")
    sim = F.aggregate(
        F.zip_with(F.col("u.vec"), F.col("i.vec"), lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = (
        u.alias("u")
        .crossJoin(it.alias("i"))
        .select(F.col("u.user_id"), F.col("i.item_id"), sim.alias("score"))
    )
    # a NaN score ranks last, as in exclude_rated_and_truncate
    w = Window.partitionBy("user_id").orderBy(F.isnan("score"), F.desc("score"), "item_id")
    if train is not None:
        if all_recs:
            # every unseen item stays ranked — no over-fetch prefilter
            return exclude_rated_and_truncate(scored, train, k, all_recs=True)
        n_fetch = (over_fetch or max_user_degree(train)) + k
        scored = scored.withColumn("_r", F.row_number().over(w)).filter(
            F.col("_r") <= n_fetch
        ).drop("_r")
        return exclude_rated_and_truncate(scored, train, k)
    ranked = scored.withColumn("rank", F.row_number().over(w))
    if not all_recs:
        ranked = ranked.filter(F.col("rank") <= k)
    return ranked.select("user_id", "item_id", "rank")


# Driver-collect ceiling, in rows: the triples of the single-node KGE
# SGD stage (kge.collect_triples) and the train ratings of the driver
# scorer (collect_pairs). Both arrive as a few short Arrow strings per
# row: 50M rows is a few GB on the driver, the most a driver JVM/Python
# pair comfortably holds. Beyond it, fail fast with the scale path
# spelled out rather than OOM-ing the driver mid-collect.
MAX_DRIVER_TRIPLES = 50_000_000


def _sorted_codes(values: pa.ChunkedArray) -> tuple[pa.Array, np.ndarray]:
    """(sorted distinct values, each value's position among them).
    Arrow sorts strings by their UTF-8 bytes and here puts a null
    first, Spark's ascending string order, so the positions are the
    ids ``kge.index_entities`` assigns."""
    names = pc.unique(values)
    names = names.take(pc.array_sort_indices(names, null_placement="at_start"))
    return names, pc.index_in(values, value_set=names).to_numpy()


def collect_pairs(train: DataFrame) -> pa.Table:
    """The train (user_id, item_id) pairs on the driver, for
    :func:`driver_topk`: one Arrow collect of at most
    ``MAX_DRIVER_TRIPLES + 1`` rows, refused past the cap. The KGE
    driver trainer calls it after ``kge.collect_triples``, whose guard
    already bounds the rated pairs; there the limit bounds the pairs
    whose null rating made no triple."""
    cap = MAX_DRIVER_TRIPLES
    tbl = train.select("user_id", "item_id").limit(cap + 1).toArrow()
    if tbl.num_rows > cap:
        raise ValueError(
            f"refusing to score more than {cap:,} train ratings on the "
            "driver: use KGERecommender(trainer='sharded'), whose embeddings "
            "and scoring stay on the cluster"
        )
    return tbl


# Users per block of :func:`driver_topk`. A block holds a few (block x
# items) arrays, so the scorer's memory grows with the item catalog and
# never with the number of users.
_TOPK_BLOCK = 256


def _typed_vectors(
    ids: pa.Array, prefix: str, names: pa.Array, vecs: np.ndarray
) -> np.ndarray:
    """Each id's entity vector (entity ``prefix + id``); zeros for a null
    id or an id with no entity, as the Spark path's left join fills."""
    pos = pc.index_in(pc.binary_join_element_wise(prefix, ids, ""), value_set=names)
    pos = pos.fill_null(-1).to_numpy()
    out = np.zeros((len(ids), vecs.shape[1]))
    out[pos >= 0] = vecs[pos[pos >= 0]]
    return out


def _unit_rows(x: np.ndarray) -> np.ndarray:
    """``x / norm`` for each row whose norm is positive — the scorers'
    ``normed`` with the same bits: the squares are summed left to right
    from 0.0, as ``aggregate`` folds them (BLAS would reorder the sum).
    An infinite component divides to NaN (inf / inf), as in Spark."""
    sq = np.zeros(len(x))
    for j in range(x.shape[1]):
        sq += x[:, j] * x[:, j]
    norm = np.sqrt(sq)
    out = x.copy()
    pos = norm > 0
    with np.errstate(invalid="ignore"):
        out[pos] /= norm[pos, None]
    return out


def _neg_dots(u: np.ndarray, items_t: np.ndarray) -> np.ndarray:
    """``-(u . item)`` for every (row of ``u``, column of ``items_t``),
    each dot summed left to right from 0.0 as ``aggregate(zip_with(...))``
    folds it. One user at a time: the scalar-times-item-row products
    then stay in cache, four times faster than a (users x items)
    broadcast."""
    out = np.zeros((len(u), items_t.shape[1]))
    prod = np.empty(items_t.shape[1])
    for user, acc in zip(u, out):
        for x, item_col in zip(user, items_t):
            np.multiply(item_col, x, out=prod)
            acc += prod
    return np.negative(out, out=out)


def driver_topk(
    pairs: pa.Table, names: pa.Array, vecs: np.ndarray, k: int,
    all_recs: bool = False,
) -> pa.Table:
    """Exact cosine top-k on the driver: (user_id, item_id, rank) rows
    equal to those of :func:`topk_by_cosine` fed the same vectors, row
    for row.

    ``pairs`` are the train (user_id, item_id) strings, ``names[i]`` is
    entity ``i`` and ``vecs[i]`` its vector. Users and items are the
    distinct ids of ``pairs``; one with no ``u:``/``i:`` entity scores
    with a zero vector. Per user, items sort by score descending, then
    id ascending in UTF-8 byte order with a null id first (NaN scores
    last); rated items drop
    out and the first ``k`` stay (every unseen item with ``all_recs``).
    A null id never matches a rating, as in Spark's joins.

    Users are scored ``_TOPK_BLOCK`` at a time. In each block the rated
    items' keys become NaN, and a user's candidates are every item
    whose key is at most the user's k-th smallest (``np.partition``,
    ties included), so the exact sort sees about k items per user.
    """
    users, u_code = _sorted_codes(pairs.column("user_id"))
    items, i_code = _sorted_codes(pairs.column("item_id"))
    uv = _unit_rows(_typed_vectors(users, "u:", names, vecs))
    items_t = np.ascontiguousarray(_unit_rows(_typed_vectors(items, "i:", names, vecs)).T)
    n_items = len(items)
    rated = (pc.is_valid(pairs.column("user_id")).to_numpy()
             & pc.is_valid(pairs.column("item_id")).to_numpy())
    ru, ri = u_code[rated], i_code[rated]
    order = np.argsort(ru, kind="stable")
    ru, ri = ru[order], ri[order]
    starts = np.searchsorted(ru, np.arange(len(users) + 1))
    empty = np.zeros(0, np.int64)
    out_u, out_i, out_r = [empty], [empty], [empty]
    for lo in range(0, len(users), _TOPK_BLOCK):
        hi = min(lo + _TOPK_BLOCK, len(users))
        key = _neg_dots(uv[lo:hi], items_t)
        seen = np.zeros(key.shape, dtype=bool)
        seen[ru[starts[lo]:starts[hi]] - lo, ri[starts[lo]:starts[hi]]] = True
        key[seen] = np.nan
        if all_recs or k >= n_items:
            cand = ~seen
        else:
            kth = np.partition(key, k - 1, axis=1)[:, k - 1 : k]
            cand = key <= kth  # a NaN key, rated ones included, is never <=
            short = np.isnan(kth[:, 0])  # fewer than k non-NaN keys: keep all
            cand[short] = ~seen[short]
        row, col = np.nonzero(cand)
        # lexsort: last key first; a NaN key sorts last, -0.0 equals 0.0
        order = np.lexsort((col, key[row, col], row))
        row, col = row[order], col[order]
        rank = np.arange(1, len(row) + 1) - np.searchsorted(row, row)
        if not all_recs:
            row, col, rank = row[rank <= k], col[rank <= k], rank[rank <= k]
        out_u.append(row + lo)
        out_i.append(col)
        out_r.append(rank)
    return pa.table({
        "user_id": users.take(np.concatenate(out_u)),
        "item_id": items.take(np.concatenate(out_i)),
        "rank": pa.array(np.concatenate(out_r), pa.int32()),
    })


def zero_filled_vectors(
    emb: DataFrame, prefix: str, id_col: str, ids: DataFrame, dim: int
) -> DataFrame:
    """(``id_col``, vec) for each of ``ids``: the vector of entity
    ``prefix + id`` in ``emb`` (e, vec), zeros for an id with no entity
    (M3, reference ``transE/model.py:111-135``)."""
    have = emb.filter(F.col("e").startswith(prefix)).select(
        F.expr(f"substring(e, {len(prefix) + 1})").alias(id_col), "vec"
    )
    zero = F.array_repeat(F.lit(0.0), dim)
    return ids.join(have, id_col, "left").select(
        id_col, F.coalesce("vec", zero).alias("vec")
    )


def check_scoring(scoring: str, all_recs: bool) -> None:
    """Refuse a ``scoring`` the embedding recommenders do not have:
    ``exact`` (:func:`driver_topk` or :func:`topk_by_cosine`) or ``lsh``
    (:func:`topk_by_cosine_lsh`), and ``lsh`` with ``all_recs``."""
    if scoring not in ("exact", "lsh"):
        raise ValueError(f"scoring must be 'exact' or 'lsh', got {scoring!r}")
    if all_recs and scoring == "lsh":
        raise ValueError(
            "all_recs needs the exact scoring path: LSH only surfaces "
            "same-bucket candidates, so it cannot rank EVERY item"
        )


def driver_recommendations(
    spark, pairs: pa.Table, names: pa.Array, vecs: np.ndarray, k: int,
    scoring: str, all_recs: bool,
) -> DataFrame:
    """(user_id, item_id, rank) from driver-held vectors (the
    :func:`driver_topk` arguments). ``exact`` scores on the driver and
    hands Spark the rows as one Arrow-backed frame; ``lsh`` builds its
    Spark inputs from the same data and runs :func:`topk_by_cosine_lsh`."""
    if scoring == "exact":
        return spark.createDataFrame(
            driver_topk(pairs, names, vecs, k, all_recs),
            "user_id string, item_id string, rank int",
        )
    train = spark.createDataFrame(pairs)
    emb = spark.createDataFrame(
        list(zip(names.to_pylist(), vecs.tolist())), "e string, vec array<double>"
    )
    dim = vecs.shape[1]
    uv = zero_filled_vectors(emb, "u:", "user_id", train.select("user_id").distinct(), dim)
    iv = zero_filled_vectors(emb, "i:", "item_id", train.select("item_id").distinct(), dim)
    return topk_by_cosine_lsh(uv, iv, k=k, train=train)
