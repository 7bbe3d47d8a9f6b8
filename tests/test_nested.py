"""Nested-path resolution (veloci `a[].b` syntax → explode) and the explain
feature."""


def test_explode_struct_path(spark):
    from veloci_spark.nested import explode_path

    df = spark.createDataFrame(
        [(0, {"ger": "hund"}), (1, {"ger": "katze"}), (2, None)],
        "doc_id long, meanings struct<ger:string>")
    got = {(r["doc_id"], r["value"]) for r in explode_path(df, "meanings.ger").collect()}
    assert got == {(0, "hund"), (1, "katze")}


def test_explode_array_path(spark):
    from veloci_spark.nested import explode_path

    df = spark.createDataFrame(
        [(0, [{"description": "a"}, {"description": "b"}]), (1, [])],
        "doc_id long, sub_objects array<struct<description:string>>")
    got = {(r["doc_id"], r["value"])
           for r in explode_path(df, "sub_objects[].description").collect()}
    assert got == {(0, "a"), (0, "b")}


def test_explode_nested_arrays(spark):
    from veloci_spark.nested import explode_path

    df = spark.createDataFrame(
        [(0, {"ger": ["a", "b"]}), (1, {"ger": ["c"]})],
        "doc_id long, meanings struct<ger:array<string>>")
    got = {(r["doc_id"], r["value"])
           for r in explode_path(df, "meanings.ger[]").collect()}
    assert got == {(0, "a"), (0, "b"), (1, "c")}


def test_flatten_for_index(spark):
    from veloci_spark.nested import flatten_for_index

    df = spark.createDataFrame(
        [(0, [{"description": "x y"}, {"description": "z"}], {"ger": ["h"]})],
        "doc_id long, sub_objects array<struct<description:string>>, "
        "meanings struct<ger:array<string>>")
    flat = flatten_for_index(df, ["sub_objects[].description", "meanings.ger[]"])
    row = flat.collect()[0]
    assert row["sub_objects_description"] == "x y z"
    assert row["meanings_ger"] == "h"


def test_explain(spark_index):
    from veloci_spark.search import search

    res = search(spark_index, {
        "or": [{"search": {"terms": ["urge"], "path": "text"}},
               {"search": {"terms": ["majestät"], "path": "text",
                           "levenshtein_distance": 1}}],
        "explain": True, "top": 5})
    ex = res["explain"]
    assert ex["tree"]["op"] == "or"
    assert ex["wand"]  # unboosted OR of plain leaves engages WAND
    matched = {l["term"]: l["matched"] for l in ex["leaves"]}
    assert any(t == "urge" for t, _ in matched["urge"])

    res2 = search(spark_index, {"search": {"terms": ["urge"], "path": "text"},
                                "explain": True, "top": 5})
    assert res2["explain"]["wand"]
