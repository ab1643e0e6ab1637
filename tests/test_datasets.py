import os

from pyspark.sql import functions as F

from knowledge_graph_aware_recommender_systems_with_dbpedia_spark.sources import datasets as DS
from knowledge_graph_aware_recommender_systems_with_dbpedia_spark.sources.typed_csv import read_typed_csv


def _ml100k_raw(d):
    genres = "|".join(["0"] * 19)
    (d / "u.item").write_text(
        "1|Toy Story (1995)|01-Jan-1995||http://x|" + genres + "\n"
        "2|Matrix, The (1999)|01-Jan-1999||http://y|" + genres + "\n",
        encoding="latin-1",
    )
    (d / "u.user").write_text("1|24|M|technician|85711\n2|53|F|other|94043\n")
    (d / "u.data").write_text("1\t1\t5\t874965758\n1\t2\t3\t876893171\n2\t1\t4\t878542960\n")


def test_ml100k_adapter_end_to_end(spark, tmp_path):
    raw, out = tmp_path / "raw", tmp_path / "out"
    raw.mkdir(), out.mkdir()
    _ml100k_raw(raw)
    ds = DS.MovieLens100k(spark, str(raw), str(out))
    items = ds.convert_item_data().collect()
    by_id = {r.item_id: r for r in items}
    assert by_id["2"].movie_title == "The Matrix"  # P7 reorder
    assert by_id["2"].movie_year == "1999"  # P8 extract
    ds.convert_user_data()
    ratings = ds.convert_rating_data()
    assert ratings.count() == 3
    assert dict(ratings.dtypes)["rating"] == "double"

    # typed round-trip: outputs reload with correct types
    back = read_typed_csv(spark, os.path.join(str(out), "rating.csv"))
    assert dict(back.dtypes) == {
        "user_id": "string", "item_id": "string",
        "rating": "double", "timestamp": "double",
    }

    # offline entity linking + enrichment
    labels = spark.createDataFrame(
        [("toy story", "dbr:Toy_Story"), ("the matrix", "dbr:The_Matrix")],
        "label string, uri string",
    )
    mapped = ds.map_URIs(labels=labels)
    got = {r.item_id: r.URI for r in mapped.collect()}
    assert got == {"1": "dbr:Toy_Story", "2": "dbr:The_Matrix"}
    props = spark.createDataFrame(
        [("dbr:Toy_Story", "Pixar"), ("dbr:Toy_Story", "Animation")],
        "URI string, subject string",
    )
    enriched = ds.enrich_data(props, ["subject"])
    e = {r.item_id: r.subject for r in enriched.collect()}
    assert e["1"] == "Animation::Pixar"  # A1 ::-joined group-concat


def test_ml1m_multichar_sep(spark, tmp_path):
    raw, out = tmp_path / "raw", tmp_path / "out"
    raw.mkdir(), out.mkdir()
    (raw / "movies.dat").write_text("1::Heat (1995)::Action\n")
    (raw / "users.dat").write_text("1::M::25::4::94110\n")
    (raw / "ratings.dat").write_text("1::1::5::978300760\n")
    ds = DS.MovieLens1M(spark, str(raw), str(out))
    assert ds.convert_item_data().collect()[0].movie_title == "Heat"
    assert ds.convert_rating_data().collect()[0].rating == 5.0


def test_lastfm_users_from_ratings(spark, tmp_path):
    raw, out = tmp_path / "raw", tmp_path / "out"
    raw.mkdir(), out.mkdir()
    (raw / "artists.dat").write_text("id\tname\turl\n1\tQueen\thttp://q\n")
    (raw / "user_artists.dat").write_text("userID\tartistID\tweight\n7\t1\t120\n8\t1\t3\n")
    (raw / "user_friends.dat").write_text("userID\tfriendID\n7\t8\n")
    ds = DS.LastFM(spark, str(raw), str(out))
    assert {r.user_id for r in ds.convert_user_data().collect()} == {"7", "8"}  # P12
    assert ds.convert_social_data().count() == 1
    assert ds.convert_rating_data().collect()[0].rating in (120.0, 3.0)


def test_yelp_ndjson_flatten(spark, tmp_path):
    raw, out = tmp_path / "raw", tmp_path / "out"
    raw.mkdir(), out.mkdir()
    (raw / "business.json").write_text(
        '{"business_id":"b1","name":"Cafe","city":"SF","stars":4.0,'
        '"attributes":{"WiFi":"True","Parking":"False"},"categories":"Coffee, Tea"}\n'
    )
    (raw / "user.json").write_text(
        '{"user_id":"u1","name":"Al","review_count":3,"elite":"2019,2020","friends":"u2, u3"}\n'
    )
    (raw / "review.json").write_text(
        '{"user_id":"u1","business_id":"b1","stars":5.0,"date":"2020-01-01"}\n'
    )
    ds = DS.Yelp(spark, str(raw), str(out))
    item = ds.convert_item_data().collect()[0]
    assert item.attributes == ["WiFi"]  # P10: only 'True' flags
    assert item.categories == ["Coffee", "Tea"]
    assert ds.convert_social_data().count() == 2
    assert ds.convert_rating_data().collect()[0].rating == 5.0


def test_douban_dense_ids_and_reconstruction(spark, tmp_path):
    raw, out = tmp_path / "raw", tmp_path / "out"
    raw.mkdir(), out.mkdir()
    (raw / "DMSC.csv").write_text(
        "ID,Movie_Name_EN,Movie_Name_CN,Username,Date,Star,Comment,Like\n"
        "0,Avatar,阿凡达,alice,2017-01-01,5,great,10\n"
        "1,Avatar,阿凡达,bob,2017-01-02,3,meh,1\n"
        "2,Brave,勇敢,alice,2017-01-03,4,ok,2\n"
    )
    ds = DS.DoubanMovie(spark, str(raw), str(out))
    items = {r.name_EN: r.item_id for r in ds.convert_item_data().collect()}
    assert sorted(items.values()) == ["0", "1"]  # P6 dense 0-based
    users = {r.name: r.user_id for r in ds.convert_user_data().collect()}
    ratings = ds.convert_rating_data().collect()
    assert len(ratings) == 3
    for r in ratings:  # J3: every fact row re-keyed to the dense ids
        assert r.item_id in items.values() and r.user_id in users.values()
    alice_avatar = [
        r for r in ratings
        if r.user_id == users["alice"] and r.item_id == items["Avatar"]
    ]
    assert alice_avatar[0].rating == 5.0


def test_registry_names_match_reference():
    assert set(DS.DATASETS) == {
        "ml-100k", "ml-1m", "lastfm", "yelp", "steam", "book-crossing",
        "douban-movie",
    }


def test_steam_play_filter(spark, tmp_path):
    raw, out = tmp_path / "raw", tmp_path / "out"
    raw.mkdir(), out.mkdir()
    (raw / "steam-200k.csv").write_text(
        "151603712,The Elder Scrolls V Skyrim,purchase,1.0,0\n"
        "151603712,The Elder Scrolls V Skyrim,play,273.0,0\n"
        "151603712,Fallout 4,purchase,1.0,0\n"
    )
    ds = DS.Steam(spark, str(raw), str(out))
    assert ds.convert_item_data().count() == 2
    ratings = ds.convert_rating_data().collect()
    assert len(ratings) == 1 and ratings[0].rating == 273.0  # play rows only


def test_book_crossing_cp1252(spark, tmp_path):
    raw, out = tmp_path / "raw", tmp_path / "out"
    raw.mkdir(), out.mkdir()
    (raw / "BX-Books.csv").write_bytes(
        'ISBN;"Book-Title";"Book-Author";"Year-Of-Publication";"Publisher"\n'
        '0195153448;"Classical Mythology";"Mark P. O. Morford";2002;"Oxford"\n'.encode("cp1252")
    )
    (raw / "BX-Users.csv").write_bytes(
        'User-ID;"Location";"Age"\n1;"nyc, usa";35\n'.encode("cp1252")
    )
    (raw / "BX-Book-Ratings.csv").write_bytes(
        'User-ID;"ISBN";"Book-Rating"\n1;"0195153448";7\n'.encode("cp1252")
    )
    ds = DS.BookCrossing(spark, str(raw), str(out))
    assert ds.convert_item_data().collect()[0].name == "Classical Mythology"
    assert ds.convert_user_data().count() == 1
    assert ds.convert_rating_data().collect()[0].rating == 7.0


def test_map_uris_links_once(spark, tmp_path, capsys):
    """map_URIs prints its matched/total counts from an observation on
    the map.csv write: the link lineage runs once, as often as in a
    plain write of the linked frame."""
    from pyspark.sql.types import StringType

    from knowledge_graph_aware_recommender_systems_with_dbpedia_spark.operators import (
        integration as DI,
    )

    raw, out = tmp_path / "raw", tmp_path / "out"
    raw.mkdir(), out.mkdir()
    _ml100k_raw(raw)
    ds = DS.MovieLens100k(spark, str(raw), str(out))
    ds.convert_item_data()
    evals = spark.sparkContext.accumulator(0)

    def seen(label):
        evals.add(1)
        return label

    labels = spark.createDataFrame(
        [("toy story", "dbr:Toy_Story"), ("heat", "dbr:Heat")], "label string, uri string"
    ).select(F.udf(seen, StringType())("label").alias("label"), "uri")
    capsys.readouterr()
    mapped = ds.map_URIs(labels=labels)
    assert capsys.readouterr().out.strip() == "ml-100k: matched 1/2 items"
    per_call = evals.value
    items = read_typed_csv(spark, os.path.join(str(out), "item.csv")).select(
        "item_id", F.col(ds.item_name_col()).alias("name")
    )
    DI.link_entities(items, labels).write.format("noop").mode("overwrite").save()
    assert per_call == evals.value - per_call > 0
    got = {r.item_id: r.URI for r in read_typed_csv(spark, os.path.join(str(out), "map.csv")).collect()}
    assert got == {"1": "dbr:Toy_Story", "2": None}
    assert {r.item_id: r.URI for r in mapped.collect()} == got
