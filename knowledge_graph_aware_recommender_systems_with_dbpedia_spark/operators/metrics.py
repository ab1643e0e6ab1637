"""Ranking metrics MAP@k, graded nDCG@k, MRR@k, HitRate@k and in-list
AUC@k, every one a select over ONE per-user pass.

Inputs are long-format DataFrames:
    test:  (user_id, item_id, rating)
    recs:  (user_id, item_id, rank)  with rank starting at 1

:func:`ranking_metrics` unions the relevant test rows
(``rating >= relevance_threshold``) with the truncated recs
(``rank <= k``), groups once by ``user_id`` into two small per-user
arrays, computes every per-user quantity from them with array
higher-order functions, then takes one global ``avg`` per metric: one
shuffle by user and one action, whichever metrics are selected.

Rules (reference ``framework/evaluator/metrics/map.py:13-33``,
``ndcg.py:11-48``, ``metric.py:19-36``; MRR, HitRate and AUC are
greenfield additions on the same conventions):

 * the population is the users with at least one relevant test row;
   every other user is excluded from every mean. Users with relevant
   rows but no recs score 0 (the reference would KeyError; scoring 0
   is the distributed-safe superset, documented deviation);
 * a duplicated (user, item) test row counts once; nDCG uses its
   highest rating;
 * MAP@k: AP = sum over the top-k recs of hits/rank, where a repeated
   rec item is a hit only at its first occurrence (map.py:30
   ``rec not in recommendations[:i]``), divided by
   ``min(|relevant|, k)``;
 * nDCG@k: GRADED relevance (the test rating; 0 for non-test recs),
   no rec dedup, DCG = sum rel/log2(rank+1), IDCG from the user's
   top-k relevant ratings sorted desc, nDCG = 0 when IDCG = 0. log2 is
   ``PIN.log2_int_pinned``, bit-identical to the SQL oracles. (MLlib's
   RankingEvaluator ndcg is binary — deliberately not used.);
 * MRR@k / HitRate@k: 1/rank of the first relevant rec, and 1 if there
   is one; 0 without a hit;
 * AUC@k: within the top-k slate, P(relevant ranked above non-relevant)
   by the Mann-Whitney rank-sum, so it is INTEGER arithmetic until one
   exact final division::

        pairs_won = npos*n - sum(rank of positives) - npos*(npos-1)/2
        auc       = pairs_won / (npos * nneg)

   Users whose slate holds no positive or no negative have undefined
   AUC and are excluded from its mean (standard convention).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import pinned as PIN

# the columns of ranking_metrics, one per metric (the METRICS registry names)
METRIC_COLUMNS = ("MAP", "nDCG", "MRR", "HitRate", "AUC")


def _sum(arr):
    """Sum of a double array, in array order."""
    return F.aggregate(arr, F.lit(0.0), lambda acc, v: acc + v)


def _first_per_item(arr: str):
    """The entries of a struct array whose item_id no earlier entry has."""
    return F.filter(
        arr,
        lambda x, i: F.array_position(F.col(f"{arr}.item_id"), x["item_id"]) == i + 1,
    )


def _gain(item):
    """An item's graded relevance: its rating in ``rel``, 0 if not relevant."""
    return F.coalesce(
        F.array_max(F.filter("rel", lambda r: r["item_id"] == item)["rating"]),
        F.lit(0.0),
    )


def ranking_metrics(test: DataFrame, recs: DataFrame, k: int,
                    relevance_threshold: float = 0.0) -> DataFrame:
    """Every metric of the module docstring in one per-user pass.
    Returns a 1-row DataFrame with one column per ``METRIC_COLUMNS``
    entry (null when the population is empty)."""
    rel = test.filter(F.col("rating") >= F.lit(relevance_threshold)).select(
        "user_id",
        "item_id",
        F.col("rating").cast("double").alias("rating"),
        F.lit(None).cast("long").alias("rank"),
    )
    top = recs.filter(F.col("rank") <= k).select(
        "user_id",
        "item_id",
        F.lit(None).cast("double").alias("rating"),
        F.col("rank").cast("long").alias("rank"),
    )
    is_rec = F.col("rank").isNotNull()
    users = (
        rel.unionByName(top)
        .groupBy("user_id")
        .agg(
            # rating desc, so an item's first entry carries its max rating
            F.sort_array(
                F.collect_list(F.when(~is_rec, F.struct("rating", "item_id"))),
                asc=False,
            ).alias("rel"),
            F.array_sort(
                F.collect_list(F.when(is_rec, F.struct("rank", "item_id")))
            ).alias("recs"),
        )
        .filter(F.size("rel") > 0)
        .select(
            _first_per_item("rel").alias("rel"),
            "recs",
            F.filter(
                "recs", lambda x: F.array_contains(F.col("rel.item_id"), x["item_id"])
            ).alias("hits"),
        )
    )

    # MAP counts the i-th first-occurrence hit as i/rank
    ap = _sum(
        F.transform(
            _first_per_item("hits"), lambda x, i: (i + 1).cast("double") / x["rank"]
        )
    ) / F.least(F.size("rel"), F.lit(k)).cast("double")
    dcg = _sum(
        F.transform(
            "recs", lambda x: _gain(x["item_id"]) / PIN.log2_int_pinned(x["rank"] + 1)
        )
    )
    idcg = _sum(
        F.transform(
            F.slice("rel", 1, k), lambda x, i: x["rating"] / PIN.log2_int_pinned(i + 2)
        )
    )
    quantities = users.select(
        ap.alias("ap"),
        dcg.alias("dcg"),
        idcg.alias("idcg"),
        F.array_min(F.col("hits.rank")).alias("first_hit"),
        F.size("recs").cast("long").alias("n"),
        F.size("hits").cast("long").alias("npos"),
        F.aggregate(
            F.col("hits.rank"), F.lit(0).cast("long"), lambda acc, r: acc + r
        ).alias("sr"),
    )

    first_hit, n, npos, sr = F.col("first_hit"), F.col("n"), F.col("npos"), F.col("sr")
    # npos*(npos-1) is a product of consecutive ints (even), and all
    # terms stay far below 2^53 — the double arithmetic is exact
    pairs_won = (npos * n - sr - npos * (npos - 1) / 2).cast("double")
    per_user = quantities.select(
        F.col("ap").alias("MAP"),
        F.when(F.col("idcg") > 0, F.col("dcg") / F.col("idcg")).otherwise(0.0).alias("nDCG"),
        F.coalesce(F.lit(1.0) / first_hit, F.lit(0.0)).alias("MRR"),
        first_hit.isNotNull().cast("double").alias("HitRate"),
        F.when(
            (npos > 0) & (n - npos > 0),
            pairs_won / (npos * (n - npos)).cast("double"),
        ).alias("AUC"),
    )
    return per_user.agg(*[F.avg(c).alias(c) for c in METRIC_COLUMNS])


def _value(test, recs, k, relevance_threshold, column) -> DataFrame:
    return ranking_metrics(test, recs, k, relevance_threshold).select(
        F.col(column).alias("value")
    )


def map_at_k(test: DataFrame, recs: DataFrame, k: int,
             relevance_threshold: float = 0.0) -> DataFrame:
    """Mean Average Precision at k. Returns a 1-row DataFrame (value)."""
    return _value(test, recs, k, relevance_threshold, "MAP")


def ndcg_at_k(test: DataFrame, recs: DataFrame, k: int,
              relevance_threshold: float = 0.0) -> DataFrame:
    """Graded nDCG at k. Returns a 1-row DataFrame (value)."""
    return _value(test, recs, k, relevance_threshold, "nDCG")


def mrr_at_k(test: DataFrame, recs: DataFrame, k: int,
             relevance_threshold: float = 0.0) -> DataFrame:
    """Mean Reciprocal Rank at k. Returns a 1-row DataFrame (value)."""
    return _value(test, recs, k, relevance_threshold, "MRR")


def hit_rate_at_k(test: DataFrame, recs: DataFrame, k: int,
                  relevance_threshold: float = 0.0) -> DataFrame:
    """Fraction of evaluated users with >= 1 relevant item in their
    top-k. Returns a 1-row DataFrame (value)."""
    return _value(test, recs, k, relevance_threshold, "HitRate")


def auc_at_k(test: DataFrame, recs: DataFrame, k: int,
             relevance_threshold: float = 0.0) -> DataFrame:
    """In-list AUC at k (rank-sum form, module docstring). Returns a
    1-row DataFrame (value)."""
    return _value(test, recs, k, relevance_threshold, "AUC")


def evaluate(
    test: DataFrame,
    recs: DataFrame,
    metrics: dict[str, dict] | None = None,
) -> DataFrame:
    """Run a metric suite -> tidy (metric, value) DataFrame.

    ``metrics`` maps name -> kwargs, e.g. {"MAP@5": {"metric": "map",
    "k": 5}, "nDCG@5": {"metric": "ndcg", "k": 5}} (registry pattern of
    the reference's metric2class.py). ``metric`` is one of ``map``,
    ``ndcg``, ``mrr``, ``hitrate`` or ``auc``.
    """
    metrics = metrics or {
        "MAP@5": {"metric": "map", "k": 5},
        "nDCG@5": {"metric": "ndcg", "k": 5},
    }
    columns = {c.lower(): c for c in METRIC_COLUMNS}
    out = None
    for name, spec in metrics.items():
        kw = dict(spec)
        metric = kw.pop("metric")
        if metric not in columns:
            raise ValueError(
                f"metric {name!r}: unknown metric {metric!r}; "
                f"allowed: {', '.join(columns)}"
            )
        one = ranking_metrics(test, recs, **kw).select(
            F.lit(name).alias("metric"), F.col(columns[metric]).alias("value")
        )
        out = one if out is None else out.unionByName(one)
    return out
