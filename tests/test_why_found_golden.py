"""Why-found / highlight goldens ported from the reference's dedicated
battery (/root/reference/tests/all/test_why_found.rs) — its 4-doc corpus
with per-field CUSTOM tokenizers (tokenize_on_chars) and untokenized flat
and 1:n fields. Assertions are the reference's exact highlighted strings.
"""

import pytest
from pyspark.sql import types as T


def wf_rows():
    # test_why_found.rs:6-31 get_test_data
    return [
        {"doc_id": 0, "url": "https://github.com/PSeitz/veloci",
         "richtig": "schön super", "viele": ["nette", "leute"]},
        {"doc_id": 1, "not_tokenized": "ID1000", "not_tokenized_1_n": ["ID1000"],
         "custom_tokenized": "test§_ cool _", "richtig": "hajoe genau"},
        {"doc_id": 2, "not_tokenized": "ID2000", "not_tokenized_1_n": ["ID2000"],
         "richtig": "shön", "custom_tokenized": "<<cool>>",
         "viele": ["treffers", "und so", "super treffers",
                   "ein längerer Text, um zu checken, dass da nicht "
                   "umsortiert wird"]},
        {"doc_id": 3, "buch": "Taschenbuch (kartoniert)",
         "viele": ["super treffers"]},
    ]


_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("url", T.StringType()),
    T.StructField("richtig", T.StringType()),
    T.StructField("buch", T.StringType()),
    T.StructField("not_tokenized", T.StringType()),
    T.StructField("custom_tokenized", T.StringType()),
    T.StructField("viele", T.ArrayType(T.StringType())),
    T.StructField("not_tokenized_1_n", T.ArrayType(T.StringType())),
])


@pytest.fixture(scope="session")
def wf_index(spark, tmp_path_factory):
    from veloci_spark.build import build_index
    from veloci_spark.config import FieldConfig, IndexConfig
    from veloci_spark.search import FulltextIndex

    d = str(tmp_path_factory.mktemp("wfidx"))
    docs = spark.createDataFrame(wf_rows(), schema=_SCHEMA)
    cfg = IndexConfig(
        fields=(FieldConfig("richtig"),
                FieldConfig("buch"),
                FieldConfig("viele[]"),
                FieldConfig("not_tokenized", tokenize=False),
                FieldConfig("not_tokenized_1_n[]", tokenize=False),
                # reference tokenize_on_chars (test_why_found.rs:44-53)
                FieldConfig("custom_tokenized", separators="§<"),
                FieldConfig("url", separators="/:.")),
        doc_id_col="doc_id",
        segment_docs=2,
    )
    build_index(spark, docs, cfg, d)
    return FulltextIndex(spark, d).cache()


def _wf(index, req):
    from veloci_spark.search import search

    return search(index, {**req, "why_found": True})


# each golden runs on the default tier and, as its ``*_spark_tier`` twin,
# with the kernel and the post-processing reads on Spark

def _should_tokenize_url(index):
    # test_why_found.rs:66-83
    res = _wf(index, {"search": {"terms": ["veloci"], "path": "url"}})
    assert res["num_hits"] == 1
    assert res["data"][0]["why_found"]["url"] \
        == ["https://github.com/PSeitz/<b>veloci</b>"]
    res = _wf(index, {"search": {"terms": ["pseitz"], "path": "url"}})
    assert res["num_hits"] == 1


def _highlight_with_custom_tokenized(index):
    # test_why_found.rs:85-131 — four shapes over "test§_ cool _"
    res = _wf(index, {"search": {"terms": ["test"],
                                 "path": "custom_tokenized"}})
    assert res["data"][0]["why_found"]["custom_tokenized"] \
        == ["<b>test</b>§_ cool _"]
    res = _wf(index, {"search": {"terms": ["§"],
                                 "path": "custom_tokenized"}})
    assert res["data"][0]["why_found"]["custom_tokenized"] \
        == ["test<b>§</b>_ cool _"]
    res = _wf(index, {"search": {"terms": ["_ cool _"],
                                 "path": "custom_tokenized"}})
    assert res["data"][0]["why_found"]["custom_tokenized"] \
        == ["test§<b>_ cool _</b>"]
    res = _wf(index, {"search": {"terms": ["<<"],
                                 "path": "custom_tokenized"}})
    assert res["data"][0]["why_found"]["custom_tokenized"] \
        == ["<b><<</b>cool>>"]


def _space_not_a_separator_in_custom_tokenizer(index):
    # test_why_found.rs:222-234 — "cool" is not a token of
    # "test§_ cool _" under separators {§, <}
    res = _wf(index, {"search": {"terms": ["cool"],
                                 "path": "custom_tokenized"}})
    assert res["num_hits"] == 0


def _complete_text_hit(index):
    # test_why_found.rs:150-162
    res = _wf(index, {"search": {"terms": ["<<cool>>"],
                                 "path": "custom_tokenized"}})
    assert res["data"][0]["why_found"]["custom_tokenized"] \
        == ["<b><<cool>></b>"]


def _complete_text_hit_untokenized(index):
    # test_why_found.rs:164-176
    res = _wf(index, {"search": {"terms": ["ID1000"],
                                 "path": "not_tokenized"}})
    assert res["data"][0]["why_found"]["not_tokenized"] == ["<b>ID1000</b>"]


def _complete_text_hit_untokenized_with_select(index):
    # test_why_found.rs:178-191
    res = _wf(index, {
        "search_req": {"search": {"terms": ["ID1000"],
                                  "path": "not_tokenized"}},
        "select": ["not_tokenized"]})
    assert res["data"][0]["why_found"]["not_tokenized"] == ["<b>ID1000</b>"]
    assert res["data"][0]["doc"]["not_tokenized"] == "ID1000"


def _complete_text_hit_untokenized_1_n(index):
    # test_why_found.rs:193-205 (and :207-220 with select)
    res = _wf(index, {"search": {"terms": ["ID1000"],
                                 "path": "not_tokenized_1_n[]"}})
    assert res["data"][0]["why_found"]["not_tokenized_1_n[]"] \
        == ["<b>ID1000</b>"]


def _why_found_terms_and_fuzzy_text(index):
    # test_why_found.rs:236-250 — "schön" lev 1 hits token "schön" in
    # doc 0 and full text "shön" in doc 2
    res = _wf(index, {"search": {"terms": ["schön"], "path": "richtig",
                                 "levenshtein_distance": 1}})
    wf = {d["doc_id"]: d["why_found"]["richtig"] for d in res["data"]}
    assert wf[0] == ["<b>schön</b> super"]
    assert wf[2] == ["<b>shön</b>"]


def _why_found_from_1_n(index):
    # test_why_found.rs:252-264 — matched 1:n values in pos order,
    # non-matching values omitted
    res = _wf(index, {"search": {"terms": ["treffers"],
                                 "path": "viele[]",
                                 "levenshtein_distance": 1}})
    top = res["data"][0]
    assert top["why_found"]["viele[]"] \
        == ["<b>treffers</b>", "super <b>treffers</b>"]


def _why_found_long_text_snippet(index):
    # test_why_found.rs:266-300 — long value windows to a snippet,
    # with and without select
    for req in [
        {"search_req": {"search": {"terms": ["umsortiert"],
                                   "path": "viele[]"}},
         "select": ["richtig"]},
        {"search": {"terms": ["umsortiert"], "path": "viele[]"}},
    ]:
        res = _wf(index, req)
        top = res["data"][0]
        assert top["why_found"]["viele[]"] \
            == [" ... zu checken, dass da nicht <b>umsortiert</b> wird"]


def _highlight_taschenbuch(index):
    # test_why_found.rs:302-315
    res = _wf(index, {"search": {"terms": ["Taschenbuch"],
                                 "path": "buch",
                                 "levenshtein_distance": 1}})
    assert res["data"][0]["why_found"]["buch"] \
        == ["<b>Taschenbuch</b> (kartoniert)"]


def _highlight_multi_terms(index):
    # test_why_found.rs:317-344 — both OR legs highlight in one text
    res = _wf(index, {"or": [
        {"search": {"terms": ["Taschenbuch"], "path": "buch",
                    "levenshtein_distance": 1}},
        {"search": {"terms": ["kartoniert"], "path": "buch",
                    "levenshtein_distance": 1}}]})
    assert res["data"][0]["why_found"]["buch"] \
        == ["<b>Taschenbuch</b> (<b>kartoniert</b>)"]


def _regex_why_found(index):
    # test_why_found.rs:346-360 — regex matched the complete stored
    # text, so the whole line is highlighted
    res = _wf(index, {"search": {"terms": [".*github.com.*"],
                                 "path": "url", "is_regex": True}})
    assert res["data"][0]["why_found"]["url"] \
        == ["<b>https://github.com/PSeitz/veloci</b>"]


class TestCustomTokenizers:
    def test_should_tokenize_url(self, wf_index):
        _should_tokenize_url(wf_index)

    def test_should_tokenize_url_spark_tier(self, wf_index, spark_tier):
        _should_tokenize_url(wf_index)

    def test_highlight_with_custom_tokenized(self, wf_index):
        _highlight_with_custom_tokenized(wf_index)

    def test_highlight_with_custom_tokenized_spark_tier(
            self, wf_index, spark_tier):
        _highlight_with_custom_tokenized(wf_index)

    def test_space_not_a_separator_in_custom_tokenizer(self, wf_index):
        _space_not_a_separator_in_custom_tokenizer(wf_index)

    def test_space_not_a_separator_in_custom_tokenizer_spark_tier(
            self, wf_index, spark_tier):
        _space_not_a_separator_in_custom_tokenizer(wf_index)

    def test_complete_text_hit(self, wf_index):
        _complete_text_hit(wf_index)

    def test_complete_text_hit_spark_tier(self, wf_index, spark_tier):
        _complete_text_hit(wf_index)


class TestUntokenized:
    def test_complete_text_hit_untokenized(self, wf_index):
        _complete_text_hit_untokenized(wf_index)

    def test_complete_text_hit_untokenized_spark_tier(
            self, wf_index, spark_tier):
        _complete_text_hit_untokenized(wf_index)

    def test_complete_text_hit_untokenized_with_select(self, wf_index):
        _complete_text_hit_untokenized_with_select(wf_index)

    def test_complete_text_hit_untokenized_with_select_spark_tier(
            self, wf_index, spark_tier):
        _complete_text_hit_untokenized_with_select(wf_index)

    def test_complete_text_hit_untokenized_1_n(self, wf_index):
        _complete_text_hit_untokenized_1_n(wf_index)

    def test_complete_text_hit_untokenized_1_n_spark_tier(
            self, wf_index, spark_tier):
        _complete_text_hit_untokenized_1_n(wf_index)


class TestTokenHighlights:
    def test_why_found_terms_and_fuzzy_text(self, wf_index):
        _why_found_terms_and_fuzzy_text(wf_index)

    def test_why_found_terms_and_fuzzy_text_spark_tier(
            self, wf_index, spark_tier):
        _why_found_terms_and_fuzzy_text(wf_index)

    def test_why_found_from_1_n(self, wf_index):
        _why_found_from_1_n(wf_index)

    def test_why_found_from_1_n_spark_tier(self, wf_index, spark_tier):
        _why_found_from_1_n(wf_index)

    def test_why_found_long_text_snippet(self, wf_index):
        _why_found_long_text_snippet(wf_index)

    def test_why_found_long_text_snippet_spark_tier(
            self, wf_index, spark_tier):
        _why_found_long_text_snippet(wf_index)

    def test_highlight_taschenbuch(self, wf_index):
        _highlight_taschenbuch(wf_index)

    def test_highlight_taschenbuch_spark_tier(self, wf_index, spark_tier):
        _highlight_taschenbuch(wf_index)

    def test_highlight_multi_terms(self, wf_index):
        _highlight_multi_terms(wf_index)

    def test_highlight_multi_terms_spark_tier(self, wf_index, spark_tier):
        _highlight_multi_terms(wf_index)

    def test_regex_why_found(self, wf_index):
        _regex_why_found(wf_index)

    def test_regex_why_found_spark_tier(self, wf_index, spark_tier):
        _regex_why_found(wf_index)
