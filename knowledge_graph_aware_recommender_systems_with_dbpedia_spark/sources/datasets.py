"""Dataset adapters — the reference's data-integration plugin surface
(SURVEY §2.13 Datasets registry, §3.1 lifecycle) re-expressed as
DataFrame transforms.

Each adapter converts one public recommender dataset's raw files into
the six standardized typed CSVs (item/user/rating/social/map/enriched,
SURVEY §1.4). The registry ``DATASETS`` mirrors the reference's
``data_integration/dataset2class.py:1-30`` names; per-dataset field
maps cite their reference definitions. Raw-format knowledge is public
(the datasets' own documentation + the reference's loaders).

Design: every ``convert_*`` is load (S1/S2) -> select/alias (P1) ->
dataset-specific column exprs (P5-P10) -> typed-CSV sink (S6). Entity
linking is offline-first (pass a labels DataFrame; see
operators/integration.py) with ``remote_fanout`` as the live fallback.
No pandas anywhere — a 100 TB dump converts on the cluster.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..operators import integration as DI
from ..operators.graph import observed_metrics
from .raw_csv import read_csv, read_csv_multichar_sep, read_ndjson
from .typed_csv import read_typed_csv, write_typed_csv


class DatasetAdapter:
    """Base contract = the reference's abstract Dataset
    (``data_integration/datasets/dataset.py:57-107``): per-table
    ``load_*`` hooks + shared convert/map/enrich drivers."""

    name = "base"

    def __init__(self, spark: SparkSession, input_path: str, output_path: str,
                 n_workers: int = 1):
        self.spark = spark
        self.input_path = input_path
        self.output_path = output_path
        self.n_workers = n_workers

    # -- hooks ---------------------------------------------------------
    def load_item_data(self) -> DataFrame:  # pragma: no cover - abstract
        raise NotImplementedError

    def load_user_data(self) -> DataFrame:  # pragma: no cover - abstract
        raise NotImplementedError

    def load_rating_data(self) -> DataFrame:  # pragma: no cover - abstract
        raise NotImplementedError

    def load_social_data(self) -> DataFrame:
        raise NotImplementedError(f"{self.name} has no social links")

    def item_name_col(self) -> str:
        """Column used for entity linking (P9 pattern source)."""
        return "name"

    # -- drivers -------------------------------------------------------
    def _out(self, filename: str) -> str:
        return os.path.join(self.output_path, filename)

    def _write(self, df: DataFrame, filename: str) -> DataFrame:
        write_typed_csv(df.coalesce(1), self._out(filename))
        return df

    def convert_item_data(self) -> DataFrame:
        return self._write(self.load_item_data(), "item.csv")

    def convert_user_data(self) -> DataFrame:
        return self._write(self.load_user_data(), "user.csv")

    def convert_rating_data(self) -> DataFrame:
        return self._write(self.load_rating_data(), "rating.csv")

    def convert_social_data(self) -> DataFrame:
        return self._write(self.load_social_data(), "social.csv")

    def map_URIs(self, labels: DataFrame | None = None,
                 fetch=None) -> DataFrame:
        """Entity-link items -> map.csv (item_id, URI nullable).

        ``labels``: offline (label, uri) dump -> U1+J7 join path.
        ``fetch``: live per-item lookup (S4/S5 ``remote_fanout``).
        """
        items = read_typed_csv(self.spark, self._out("item.csv")).select(
            "item_id", F.col(self.item_name_col()).alias("name")
        )
        if labels is not None:
            mapped = DI.link_entities(items, labels)
        elif fetch is not None:
            from .raw_csv import remote_fanout

            res = remote_fanout(items, fetch, ["URI"], id_col="item_id",
                                partitions=self.n_workers)
            mapped = items.join(res, "item_id", "left")
        else:
            raise ValueError("map_URIs needs an offline labels DataFrame or a fetch callable")
        out = mapped.select("item_id", "URI")
        # the counts for the print are observed on the write, so the
        # link lineage runs once
        obs = Observation()
        self._write(
            out.observe(obs, F.count(F.lit(1)).alias("n"), F.count("URI").alias("matched")),
            "map.csv",
        )
        m = observed_metrics(obs)  # {} when the optimizer proved the input empty
        print(f"{self.name}: matched {m.get('matched', 0)}/{m.get('n', 0)} items")  # A5 invariant print
        return out

    def enrich_data(self, properties: DataFrame, prop_cols: list[str]) -> DataFrame:
        """A1 group-concat enrichment against an offline properties
        dump (URI, <prop> value rows) -> enriched.csv."""
        mapped = read_typed_csv(self.spark, self._out("map.csv")).filter(
            F.col("URI").isNotNull()
        )
        out = DI.enrich_group_concat(mapped, properties, prop_cols).drop("URI")
        return self._write(out, "enriched.csv")


class MovieLens100k(DatasetAdapter):
    """ml-100k: pipe-sep latin-1 ``u.item`` with injected headers, tab
    ``u.data``, pipe ``u.user`` (reference movielens.py:195-280)."""

    name = "ml-100k"
    _ITEM_COLS = ["movie id", "movie title", "release date", "video release date",
                  "IMDb URL"] + [f"g{i}" for i in range(19)]

    def load_item_data(self) -> DataFrame:
        df = read_csv(self.spark, os.path.join(self.input_path, "u.item"),
                      sep="|", encoding="latin-1", header=False,
                      column_names=self._ITEM_COLS)
        title = F.col("movie title")
        return df.na.drop(subset=["movie id", "movie title"]).select(
            F.col("movie id").alias("item_id"),
            DI.normalize_title(title).alias("movie_title"),
            DI.extract_year(title).cast("string").alias("movie_year"),
        )

    def load_user_data(self) -> DataFrame:
        df = read_csv(self.spark, os.path.join(self.input_path, "u.user"),
                      sep="|", header=False,
                      column_names=["user id", "age", "gender", "occupation", "zip"])
        return df.select(
            F.col("user id").alias("user_id"), "age", "gender", "occupation"
        )

    def load_rating_data(self) -> DataFrame:
        df = read_csv(self.spark, os.path.join(self.input_path, "u.data"),
                      sep="\t", header=False,
                      column_names=["user id", "item id", "rating", "timestamp"])
        return df.select(
            F.col("user id").alias("user_id"),
            F.col("item id").alias("item_id"),
            F.col("rating").cast("double").alias("rating"),
            F.col("timestamp").cast("double").alias("timestamp"),
        )

    def item_name_col(self) -> str:
        return "movie_title"


class MovieLens1M(MovieLens100k):
    """ml-1m: ``::``-separated .dat files (movielens.py:321-328) — the
    multi-char-sep scan path."""

    name = "ml-1m"

    def load_item_data(self) -> DataFrame:
        df = read_csv_multichar_sep(
            self.spark, os.path.join(self.input_path, "movies.dat"), "::",
            ["movie id", "movie title", "genres"], encoding="ISO-8859-1")
        title = F.col("movie title")
        return df.select(
            F.col("movie id").alias("item_id"),
            DI.normalize_title(title).alias("movie_title"),
            DI.extract_year(title).cast("string").alias("movie_year"),
        )

    def load_user_data(self) -> DataFrame:
        df = read_csv_multichar_sep(
            self.spark, os.path.join(self.input_path, "users.dat"), "::",
            ["user id", "gender", "age", "occupation", "zip"])
        return df.select(F.col("user id").alias("user_id"), "age", "gender", "occupation")

    def load_rating_data(self) -> DataFrame:
        df = read_csv_multichar_sep(
            self.spark, os.path.join(self.input_path, "ratings.dat"), "::",
            ["user id", "item id", "rating", "timestamp"])
        return df.select(
            F.col("user id").alias("user_id"),
            F.col("item id").alias("item_id"),
            F.col("rating").cast("double").alias("rating"),
            F.col("timestamp").cast("double").alias("timestamp"),
        )


class LastFM(DatasetAdapter):
    """hetrec-lastfm: tab-sep artists/user_artists/user_friends; users
    derived from the rating file (P12, lastfm.py:27-35, 206-214)."""

    name = "lastfm"

    def load_item_data(self) -> DataFrame:
        df = read_csv(self.spark, os.path.join(self.input_path, "artists.dat"), sep="\t")
        return df.select(F.col("id").alias("item_id"), F.col("name").alias("name"))

    def load_user_data(self) -> DataFrame:
        return self.load_rating_data().select("user_id").distinct()

    def load_rating_data(self) -> DataFrame:
        df = read_csv(self.spark, os.path.join(self.input_path, "user_artists.dat"), sep="\t")
        return df.select(
            F.col("userID").alias("user_id"),
            F.col("artistID").alias("item_id"),
            F.col("weight").cast("double").alias("rating"),
        )

    def load_social_data(self) -> DataFrame:
        df = read_csv(self.spark, os.path.join(self.input_path, "user_friends.dat"), sep="\t")
        return df.select(F.col("userID").alias("user1"), F.col("friendID").alias("user2"))


class Yelp(DatasetAdapter):
    """Yelp academic NDJSON dumps; attributes flattened to the keys
    whose value is 'True', categories/friends comma-split (P10,
    yelp.py:71-156)."""

    name = "yelp"

    def load_item_data(self) -> DataFrame:
        df = read_ndjson(self.spark, os.path.join(self.input_path, "business.json"))
        attrs = (
            F.to_json("attributes") if "attributes" in df.columns
            and not str(df.schema["attributes"].dataType).startswith("String")
            else F.col("attributes")
        )
        return df.select(
            F.col("business_id").alias("item_id"),
            F.col("name"),
            F.col("city"),
            F.col("stars").cast("double").alias("stars"),
            DI.flatten_json_attrs(attrs).alias("attributes"),
            DI.split_list_col(F.col("categories")).alias("categories"),
        )

    def load_user_data(self) -> DataFrame:
        df = read_ndjson(self.spark, os.path.join(self.input_path, "user.json"))
        return df.select(
            F.col("user_id"),
            F.col("name"),
            F.col("review_count").cast("double").alias("review_count"),
            DI.split_list_col(F.col("elite").cast("string")).alias("elite"),
        )

    def load_rating_data(self) -> DataFrame:
        df = read_ndjson(self.spark, os.path.join(self.input_path, "review.json"))
        return df.select(
            F.col("user_id"),
            F.col("business_id").alias("item_id"),
            F.col("stars").cast("double").alias("rating"),
            F.col("date").cast("string").alias("date"),
        )

    def load_social_data(self) -> DataFrame:
        df = read_ndjson(self.spark, os.path.join(self.input_path, "user.json"))
        return df.select(
            F.col("user_id").alias("user1"),
            F.explode(DI.split_list_col(F.col("friends"))).alias("user2"),
        ).filter(F.col("user2") != "None")


class Steam(DatasetAdapter):
    """steam-200k plain CSV (steam.py:47-55)."""

    name = "steam"

    def _raw(self) -> DataFrame:
        return read_csv(
            self.spark, os.path.join(self.input_path, "steam-200k.csv"),
            header=False,
            column_names=["user id", "game", "behavior", "value", "x"],
        )

    def load_item_data(self) -> DataFrame:
        return self._raw().select(F.col("game").alias("item_id"),
                                  F.col("game").alias("name")).distinct()

    def load_user_data(self) -> DataFrame:
        return self._raw().select(F.col("user id").alias("user_id")).distinct()

    def load_rating_data(self) -> DataFrame:
        df = self._raw().filter(F.col("behavior") == "play")
        return df.select(
            F.col("user id").alias("user_id"),
            F.col("game").alias("item_id"),
            F.col("value").cast("double").alias("rating"),
        )


class BookCrossing(DatasetAdapter):
    """Book-Crossing ``;``-sep CP1252 with backslash escapes
    (book-crossing.py:48-54)."""

    name = "book-crossing"

    def load_item_data(self) -> DataFrame:
        df = read_csv(self.spark, os.path.join(self.input_path, "BX-Books.csv"),
                      sep=";", encoding="cp1252", escape="\\")
        return df.select(
            F.col("ISBN").alias("item_id"),
            F.col("Book-Title").alias("name"),
            F.col("Book-Author").alias("author"),
            F.col("Year-Of-Publication").alias("year"),
        )

    def load_user_data(self) -> DataFrame:
        df = read_csv(self.spark, os.path.join(self.input_path, "BX-Users.csv"),
                      sep=";", encoding="cp1252", escape="\\")
        return df.select(F.col("User-ID").alias("user_id"),
                         F.col("Location").alias("location"),
                         F.col("Age").alias("age"))

    def load_rating_data(self) -> DataFrame:
        df = read_csv(self.spark, os.path.join(self.input_path, "BX-Book-Ratings.csv"),
                      sep=";", encoding="cp1252", escape="\\")
        return df.select(
            F.col("User-ID").alias("user_id"),
            F.col("ISBN").alias("item_id"),
            F.col("Book-Rating").cast("double").alias("rating"),
        )


class DoubanMovie(DatasetAdapter):
    """douban-movie DMSC.csv: synthetic dense ids per distinct
    movie/user, ratings re-keyed by joining back on the name columns
    (P5/P6/J3, douban-movie.py:35-70). The reference's
    ``df.index``-after-dedup becomes a deterministic ``row_number``
    over the natural key."""

    name = "douban-movie"

    def _raw(self) -> DataFrame:
        return read_csv(self.spark, os.path.join(self.input_path, "DMSC.csv"))

    def _dense(self, df: DataFrame, cols: list[str], id_name: str) -> DataFrame:
        from ..operators.ids import dense_ids

        d = df.select(*cols).dropDuplicates(cols)
        return dense_ids(d, cols, id_name).withColumn(
            id_name, F.col(id_name).cast("string")
        )

    def load_item_data(self) -> DataFrame:
        d = self._dense(self._raw(), ["Movie_Name_EN", "Movie_Name_CN"], "movie_id")
        return d.select(
            F.col("movie_id").alias("item_id"),
            F.col("Movie_Name_EN").alias("name_EN"),
            F.col("Movie_Name_CN").alias("name_CN"),
        )

    def load_user_data(self) -> DataFrame:
        d = self._dense(self._raw(), ["Username"], "user_id")
        return d.select("user_id", F.col("Username").alias("name"))

    def load_rating_data(self) -> DataFrame:
        raw = self._raw()
        items = self._dense(raw, ["Movie_Name_EN", "Movie_Name_CN"], "movie_id").select(
            "Movie_Name_EN", "movie_id"
        ).dropDuplicates(["Movie_Name_EN"])
        users = self._dense(raw, ["Username"], "user_id")
        df = raw.select("Movie_Name_EN", "Username", "Star", "Date", "Comment", "Like").dropDuplicates()
        return (
            df.join(items, "Movie_Name_EN", "left")  # J3
            .join(users, "Username", "left")
            .select(
                "user_id",
                F.col("movie_id").alias("item_id"),
                F.col("Star").cast("double").alias("rating"),
                F.col("Date").cast("string").alias("date"),
                F.col("Comment").alias("comment"),
                F.col("Like").cast("double").alias("like_count"),
            )
        )

    def item_name_col(self) -> str:
        return "name_EN"


# reference spelling preserved (dataset2class.py:1-30)
DATASETS = {
    "ml-100k": MovieLens100k,
    "ml-1m": MovieLens1M,
    "lastfm": LastFM,
    "yelp": Yelp,
    "steam": Steam,
    "book-crossing": BookCrossing,
    "douban-movie": DoubanMovie,
}
