"""End-to-end query-generator goldens ported from
/root/reference/tests/all/test_query_generator.rs on its own 9-doc corpus:
attributed (field:term) search and its parser-option opt-out, AND/OR
connectives, stopword lists, wildcard prefix (with auto levenshtein),
contains-regex shapes, boost_fields/boost_terms winners, and erroring on
non-existent fields. The reference generator keeps stopwords unless a
list is passed, so ports set remove_stopwords=False where the reference
used defaults.
"""

import pytest
from pyspark.sql import types as T


def qg_rows():
    # test_query_generator.rs:47-135 get_test_data
    return [
        {"doc_id": 0, "commonness": 123456, "ent_seq": "99999",
         "tags": ["nice", "cool"]},
        {"doc_id": 1, "ent_seq": "1337", "commonness": 20,
         "tags": ["nice", "cool", "ent_seq:99999"],
         "kanji": [{"text": "偉容", "commonness": 0},
                   {"text": "威容", "commonness": 5}],
         "kana": [{"text": "いよう", "romaji": "Iyou", "commonness": 5}],
         "meanings": {"eng": ["will testo"],
                      "ger": ["majestätischer Anblick (m)",
                              "majestätisches Aussehen (n)", "Majestät (f)"]}},
        {"doc_id": 2, "ent_seq": "1587690", "commonness": 20, "tags": ["nice"],
         "kanji": [{"text": "意欲", "commonness": 40},
                   {"text": "意慾", "commonness": 0}],
         "kana": [{"text": "いよく", "romaji": "Iyoku", "commonness": 40}],
         "meanings": {"eng": ["will", "urge", "having a long torso"],
                      "ger": ["Wollen (n)", "Wille (m)", "Begeisterung (f)",
                              "begeistern"]}},
        {"doc_id": 3, "id": 1234566, "tags": ["awesome", "cool"],
         "commonness": 500, "kanji": [{"text": "意慾", "commonness": 20}],
         "kana": [{"text": "いよく"}], "ent_seq": "1587700"},
        {"doc_id": 4, "commonness": 515151, "ent_seq": "25",
         "tags": ["nice", "cool"]},
        {"doc_id": 5, "commonness": 30, "title": "COllectif",
         "meanings": {"ger": ["boostemich"]}},
        {"doc_id": 6, "commonness": 30, "float_value": 5.123,
         "ent_seq": "26", "tags": ["nice", "coolo"]},
        {"doc_id": 7, "commonness": 20, "ent_seq": "27", "my_bool": True,
         "tags": ["Eis", "cool"]},
        {"doc_id": 8, "commonness": 20, "ent_seq": "28",
         "tags": ["nice", "cool"]},
    ]


_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("id", T.LongType()),
    T.StructField("commonness", T.LongType()),
    T.StructField("ent_seq", T.StringType()),
    T.StructField("title", T.StringType()),
    T.StructField("float_value", T.DoubleType()),
    T.StructField("my_bool", T.BooleanType()),
    T.StructField("tags", T.ArrayType(T.StringType())),
    T.StructField("kanji", T.ArrayType(T.StructType([
        T.StructField("text", T.StringType()),
        T.StructField("commonness", T.LongType())]))),
    T.StructField("kana", T.ArrayType(T.StructType([
        T.StructField("text", T.StringType()),
        T.StructField("romaji", T.StringType()),
        T.StructField("commonness", T.LongType())]))),
    T.StructField("meanings", T.StructType([
        T.StructField("eng", T.ArrayType(T.StringType())),
        T.StructField("ger", T.ArrayType(T.StringType()))])),
])


@pytest.fixture(scope="session")
def qg_index(spark, tmp_path_factory):
    from veloci_spark.build import build_index
    from veloci_spark.config import FieldConfig, IndexConfig
    from veloci_spark.search import FulltextIndex

    d = str(tmp_path_factory.mktemp("qgidx"))
    docs = spark.createDataFrame(qg_rows(), schema=_SCHEMA)
    boost = dict(tokenize=False, phrase_pairs=False, token_texts=False)
    cfg = IndexConfig(
        fields=(FieldConfig("ent_seq"),
                FieldConfig("title"),
                FieldConfig("tags[]"),
                FieldConfig("kanji[].text"),
                FieldConfig("kana[].text"),
                FieldConfig("kana[].romaji"),
                FieldConfig("meanings.eng[]"),
                FieldConfig("meanings.ger[]"),
                FieldConfig("kanji[].commonness", **boost),
                FieldConfig("commonness", **boost)),
        doc_id_col="doc_id", segment_docs=4)
    build_index(spark, docs, cfg, d)
    return FulltextIndex(spark, d).cache()


def _sq(index, q, **kw):
    from veloci_spark.query import search_query

    kw.setdefault("remove_stopwords", False)
    return search_query(index, q, **kw)


def _ent(index, res, i=0):
    from veloci_spark.search import get_docs

    return get_docs(index, [res["data"][i]["doc_id"]], ["ent_seq"])[0]["ent_seq"]


class TestGeneratorShapes:
    def test_simple_search(self, qg_index):
        # test_query_generator.rs:169-179
        res = _sq(qg_index, "urge")
        assert res["num_hits"] == 1
        assert _ent(qg_index, res) == "1587690"

    def test_attributed_search(self, qg_index):
        # :181-190 — "ent_seq:99999" searches 99999 on ent_seq only
        res = _sq(qg_index, "ent_seq:99999")
        assert res["num_hits"] == 1
        assert _ent(qg_index, res) == "99999"

    def test_disabled_attributed_search(self, qg_index):
        # :191-204 — no_attributes makes "ent_seq:99999" a literal term
        # (hits the tags[] value of the 1337 doc)
        from veloci_spark.query import QueryParserOptions

        res = _sq(qg_index, "ent_seq:99999",
                  parser_options=QueryParserOptions(no_attributes=True))
        assert res["num_hits"] == 1
        assert _ent(qg_index, res) == "1337"

    def test_or_connect(self, qg_index):
        # :206-217 — いよく lev-1 also matches いよう → 3 docs
        res = _sq(qg_index, "urge OR いよく")
        assert res["num_hits"] == 3
        assert _ent(qg_index, res) == "1587690"

    def test_and_connect(self, qg_index):
        # :218-229
        res = _sq(qg_index, "urge AND いよく")
        assert res["num_hits"] == 1
        assert _ent(qg_index, res) == "1587690"

    def test_and_with_stopword_lists(self, qg_index):
        # :230-268 — an empty list and the EN list both leave the query
        # intact ("urge" is not an EN stopword)
        for lists in ([], ["en"]):
            res = _sq(qg_index, "urge AND いよく", stopword_lists=lists)
            assert res["num_hits"] == 1, lists
            assert _ent(qg_index, res) == "1587690"

    def test_and_no_hit(self, qg_index):
        # :300-308
        res = _sq(qg_index, "urge AND いよく AND awesome")
        assert res["num_hits"] == 0


class TestComplexRequest:
    def test_boost_fields_then_boost_terms_flip(self, qg_index):
        # :271-298 — lev 0: exact "will" wins; adding a ×20 boost_term on
        # the sibling German text flips the winner to the "will testo" doc
        from veloci_spark.search import get_docs

        base = _sq(qg_index, "will", levenshtein_auto_limit=0,
                   facets=[{"field": "commonness"}],
                   boost_fields={"meanings.eng[]": 1.5})
        assert base["num_hits"] == 2
        top = get_docs(qg_index, [base["data"][0]["doc_id"]], ["meanings"])[0]
        assert top["meanings"]["eng"][0] == "will"

        flipped = _sq(qg_index, "will", levenshtein_auto_limit=0,
                      facets=[{"field": "commonness"}],
                      boost_fields={"meanings.eng[]": 1.5},
                      boost_terms={"meanings.ger[]:majestätisches Aussehen (n)":
                                   20.0})
        assert flipped["num_hits"] == 2
        top = get_docs(qg_index, [flipped["data"][0]["doc_id"]],
                       ["meanings"])[0]
        assert top["meanings"]["eng"][0] == "will testo"


class TestWildcardsAndRegex:
    def test_wildcard_starts_with(self, qg_index):
        # :310-321
        assert _sq(qg_index, "awes*")["num_hits"] == 1
        assert _sq(qg_index, "いよ*")["num_hits"] == 3

    def test_wildcard_starts_with_levenshtein(self, qg_index):
        # :323-330 — prefix wildcard still applies auto levenshtein
        assert _sq(qg_index, "awesam*")["num_hits"] == 1

    def test_contains_regex_shapes(self, qg_index):
        # :332-351 — in-word wildcards become regex
        res = _sq(qg_index, "*wesom*", search_fields=["tags[]"])
        assert res["num_hits"] == 1
        res = _sq(qg_index, "*we*some", search_fields=["tags[]"])
        assert res["num_hits"] == 1

    def test_contains_regex_has_no_levenshtein(self, qg_index):
        # :353-360
        assert _sq(qg_index, "tags[]:*wesam*")["num_hits"] == 0


def _explained(index):
    # :139-152 simple_search_querygenerator_explained — explain=true
    # attaches per-hit derivation steps; steps re-derive the score
    import numpy as np

    res = _sq(index, "urge", explain_hits=True)
    assert res["num_hits"] == 1
    assert _ent(index, res) == "1587690"
    steps = res["data"][0]["explain"]
    assert len(steps) >= 2  # term_to_anchor rows + leaf max at minimum
    assert np.float32(steps[-1]["score"]) == np.float32(
        res["data"][0]["score"])


def _or_connect_explained(index):
    # :154-168 — the OR query explains every hit; winner unchanged
    import numpy as np

    res = _sq(index, "urge OR いよく", explain_hits=True)
    assert res["num_hits"] == 3
    assert _ent(index, res) == "1587690"
    for d in res["data"]:
        assert np.float32(d["explain"][-1]["score"]) == \
            np.float32(d["score"])


class TestFieldErrors:
    def test_no_matching_fields_from_field_list(self, qg_index):
        # :362-371 — reference errors at generation; we error at search
        with pytest.raises((KeyError, ValueError)):
            _sq(qg_index, "awes*", search_fields=["notexistingfield"])

    def test_no_matching_fields_from_query(self, qg_index):
        # :373-381
        with pytest.raises((KeyError, ValueError)):
            _sq(qg_index, "notexistingfield:awes*")

    def test_explained(self, qg_index):
        _explained(qg_index)

    def test_explained_spark_tier(self, qg_index, spark_tier):
        _explained(qg_index)

    def test_or_connect_explained(self, qg_index):
        _or_connect_explained(qg_index)

    def test_or_connect_explained_spark_tier(self, qg_index, spark_tier):
        _or_connect_explained(qg_index)
