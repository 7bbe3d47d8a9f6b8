"""Nested (1:n) field end-to-end: the reference's facet-test corpus
(/root/reference/tests/all/tests_facet.rs get_test_data) indexed with
per-value text identity — facets, search, locality, select, read-tree.

Ported reference expectations:
* search "will" in meanings.eng[] → 2 hits; facet tags[] = [(nice,2),(cool,1)],
  facet commonness = [(20, 2)]                       (tests_facet.rs:60-72)
* search "test" in meanings.ger[] → 1 hit; facet meanings.eng[] = [(test1,1)]
                                                     (tests_facet.rs:89-101)
* facet over all docs: tags[] = nice:3, cool:3, Eis:1 (tests_facet.rs:103-120)
"""

import numpy as np
import pytest
from pyspark.sql import types as T


def facet_corpus_rows():
    # /root/reference/tests/all/tests_facet.rs get_test_data()
    return [
        {"doc_id": 0, "commonness": 20, "tags": ["nice", "cool"],
         "meanings": {"eng": ["karlo", "dignity", "majestic appearance",
                              "will testo"],
                      "ger": ["majestätischer Anblick (m)",
                              "majestätisches Aussehen (n)", "Majestät (f)"]}},
        {"doc_id": 1, "commonness": 20, "tags": ["nice"],
         "meanings": {"eng": ["will", "urge", "having a long torso"],
                      "ger": ["Wollen (n)", "Wille (m)", "Begeisterung (f)",
                              "begeistern"]}},
        {"doc_id": 2, "commonness": 123456, "tags": ["nice", "cool"],
         "meanings": None},
        {"doc_id": 3, "commonness": None, "tags": None,
         "meanings": {"eng": ["test1"],
                      "ger": ["der test", "das ist ein guter Treffer"]}},
        {"doc_id": 4, "commonness": 20, "tags": ["Eis", "cool"],
         "meanings": None},
    ]


_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("commonness", T.LongType()),
    T.StructField("tags", T.ArrayType(T.StringType())),
    T.StructField("meanings", T.StructType([
        T.StructField("eng", T.ArrayType(T.StringType())),
        T.StructField("ger", T.ArrayType(T.StringType())),
    ])),
])


@pytest.fixture(scope="session")
def nested_index(spark, tmp_path_factory):
    from veloci_spark.build import build_index
    from veloci_spark.config import FieldConfig, IndexConfig
    from veloci_spark.search import FulltextIndex

    d = str(tmp_path_factory.mktemp("nestedidx"))
    docs = spark.createDataFrame(facet_corpus_rows(), schema=_SCHEMA)
    cfg = IndexConfig(
        fields=(FieldConfig("meanings.eng[]"),
                FieldConfig("meanings.ger[]"),
                FieldConfig("tags[]"),
                FieldConfig("commonness", tokenize=False, phrase_pairs=False)),
        doc_id_col="doc_id",
        segment_docs=2,  # several segments even on 5 docs
    )
    build_index(spark, docs, cfg, d)
    return FulltextIndex(spark, d)


class TestNestedBuild:
    def test_values_relations(self, nested_index):
        v = nested_index.values["meanings.eng[]"].toPandas()
        by_doc = {d: sorted(zip(g["pos"], g["value"]))
                  for d, g in v.groupby("doc_id")}
        assert by_doc[0] == [(0, "karlo"), (1, "dignity"),
                             (2, "majestic appearance"), (3, "will testo")]
        assert by_doc[1] == [(0, "will"), (1, "urge"),
                             (2, "having a long torso")]
        assert 2 not in by_doc and 4 not in by_doc

    def test_dictionary_has_value_tokens_and_texts(self, nested_index):
        d = nested_index.dict_df.where("field = 'meanings.eng[]'").toPandas()
        terms = set(d["term"])
        # tokens of multi-run values
        assert {"will", "testo", "majestic", "appearance"} <= terms
        # storable full value texts
        assert {"will testo", "karlo", "urge", "test1"} <= terms
        # occurrences: "will" = 1 token (doc0 "will testo") + 1 text (doc1)
        occ = dict(zip(d["term"], d["num_occurences"]))
        assert occ["will"] == 2

    def test_tokentexts_value_identity(self, nested_index):
        tt = nested_index.tokentexts
        d = nested_index.dict_df.where(
            "field = 'meanings.ger[]' AND term = 'majestätischer'").toPandas()
        tid = int(d["term_id"].iloc[0])
        rows = tt.where(f"field = 'meanings.ger[]' AND term_id = {tid}").toPandas()
        assert list(zip(rows["doc_id"], rows["pos"])) == [(0, 0)]


class TestNestedSearchAndFacets:
    def test_facet_with_facet_index(self, nested_index):
        # tests_facet.rs:60-72
        from veloci_spark.search import search

        res = search(nested_index, {
            "search_req": {"search": {"terms": ["will"], "path": "meanings.eng[]"}},
            "facets": [{"field": "tags[]"}, {"field": "commonness"}],
            "top": 10,
        })
        assert sorted(d["doc_id"] for d in res["data"]) == [0, 1]
        assert res["facets"]["tags[]"] == [("nice", 2), ("cool", 1)]
        assert res["facets"]["commonness"] == [(20, 2)]

    def test_facet_without_facet_index(self, nested_index):
        # tests_facet.rs:89-101: 1:n facet over another nested field
        from veloci_spark.search import search

        res = search(nested_index, {
            "search_req": {"search": {"terms": ["test"], "path": "meanings.ger[]"}},
            "facets": [{"field": "meanings.eng[]"}],
            "top": 10,
        })
        assert [d["doc_id"] for d in res["data"]] == [3]
        assert res["facets"]["meanings.eng[]"] == [("test1", 1)]

    def test_facet_over_all_docs(self, nested_index):
        # tests_facet.rs:103-120 facets(): counts over every doc id
        from veloci_spark.search import search

        res = search(nested_index, {
            "search_req": {"or": [
                {"search": {"terms": ["will"], "path": "meanings.eng[]"}},
                {"search": {"terms": ["nice"], "path": "tags[]"}},
                {"search": {"terms": ["cool"], "path": "tags[]"}},
                {"search": {"terms": ["eis"], "path": "tags[]"}},
                {"search": {"terms": ["test"], "path": "meanings.ger[]"}},
            ]},
            "facets": [{"field": "tags[]"}],
            "top": 10,
        })
        # hits = docs 0,1,2,3,4 → tags facet over all docs with tags
        assert res["facets"]["tags[]"] == [("cool", 3), ("nice", 3), ("Eis", 1)]

    def test_exact_value_text_scores_higher_than_token(self, nested_index):
        # doc1's value IS "will" (exact stored text); doc0 has token "will"
        # inside "will testo" — exact-text match outranks the token match
        from veloci_spark.search import search

        res = search(nested_index, {
            "search": {"terms": ["will"], "path": "meanings.eng[]"}, "top": 10})
        assert [d["doc_id"] for d in res["data"]] == [1, 0]

    def test_anchor_score_is_max_over_values(self, nested_index):
        # "majestätischer" hits one value; "majestät" as prefix hits several
        # values of doc0 — the doc score must be the MAX per value, not sum
        from veloci_spark.scoring import index_score_u32, term_score
        from veloci_spark.search import search

        from veloci_spark.config import DEFAULT_SEPARATORS
        from veloci_spark.tokenizer import _runs_re

        res = search(nested_index, {
            "search": {"terms": ["majestätischer"], "path": "meanings.ger[]"},
            "top": 10})
        assert [d["doc_id"] for d in res["data"]] == [0]
        # token at pos 0 of the value "majestätischer Anblick (m)";
        # n_tokens = runs of THAT VALUE (not the whole doc), occ = 1
        n_runs = len(_runs_re(DEFAULT_SEPARATORS).findall(
            "majestätischer Anblick (m)"))
        stored = int(index_score_u32([0], [1], [n_runs], [False])[0])
        ts = term_score(np.array([0]), np.array([False]))[0]
        want = np.float32(ts * (np.float16(stored).astype(np.float32)
                                / np.float32(100.0)))
        assert np.float32(res["data"][0]["score"]) == want


class TestNestedLocality:
    def test_post_locality_runs_on_spark(self, nested_index):
        # per-VALUE locality over a nested leaf is a post-kernel pass: the
        # request stays on the Spark tier
        from veloci_spark.search import search

        req = {"or": [
            {"search": {"terms": ["majestätischer"], "path": "meanings.ger[]"}},
            {"search": {"terms": ["anblick"], "path": "meanings.ger[]"}}],
            "top": 10, "text_locality": True, "explain": True}
        assert search(nested_index, req)["explain"]["tier"] == "spark"
        plain = {**req, "text_locality": False}
        assert search(nested_index, plain)["explain"]["tier"] == "local"

    def test_same_value_locality_boost(self, nested_index):
        # "majestätischer" and "anblick" co-occur in ONE value of doc0 →
        # per-text n=2 → factor 2·2² = 8 (boost.rs:50-57)
        from veloci_spark.search import search

        base_req = {"or": [
            {"search": {"terms": ["majestätischer"], "path": "meanings.ger[]"}},
            {"search": {"terms": ["anblick"], "path": "meanings.ger[]"}}],
            "top": 10}
        plain = search(nested_index, base_req)
        boosted = search(nested_index, {**base_req, "text_locality": True})
        p = {d["doc_id"]: np.float32(d["score"]) for d in plain["data"]}
        b = {d["doc_id"]: np.float32(d["score"]) for d in boosted["data"]}
        assert b[0] == np.float32(p[0] * np.float32(8.0))

    def test_different_values_no_boost(self, nested_index):
        # "wollen" and "wille" hit doc1 in DIFFERENT values → no text shares
        # two terms → no boost
        from veloci_spark.search import search

        base_req = {"or": [
            {"search": {"terms": ["wollen"], "path": "meanings.ger[]"}},
            {"search": {"terms": ["wille"], "path": "meanings.ger[]"}}],
            "top": 10}
        plain = search(nested_index, base_req)
        boosted = search(nested_index, {**base_req, "text_locality": True})
        p = {d["doc_id"]: np.float32(d["score"]) for d in plain["data"]}
        b = {d["doc_id"]: np.float32(d["score"]) for d in boosted["data"]}
        assert b[1] == p[1]


class TestNestedReadPath:
    def test_select_reconstructs_value_arrays(self, nested_index):
        from veloci_spark.search import search

        res = search(nested_index, {
            "search": {"terms": ["test"], "path": "meanings.ger[]"},
            "select": ["meanings.eng[]", "meanings.ger[]", "commonness"],
            "top": 5})
        doc = res["data"][0]["doc"]
        assert doc["meanings.eng[]"] == ["test1"]
        assert doc["meanings.ger[]"] == ["der test", "das ist ein guter Treffer"]
        assert doc.get("commonness") is None

    def test_read_data_idtree(self, nested_index):
        from veloci_spark.search import read_data

        doc = read_data(nested_index, 0)
        assert doc["meanings.eng[]"] == ["karlo", "dignity",
                                         "majestic appearance", "will testo"]
        assert doc["tags[]"] == ["nice", "cool"]
        assert doc["commonness"] == 20

    def test_suggest_on_nested_field(self, nested_index):
        from veloci_spark.search import suggest

        out = suggest(nested_index, "meanings.ger[]", "majes", top=10)
        texts = [t for t, _s in out]
        assert any(t.startswith("majes") for t in texts)

    def test_why_found_on_nested_field(self, nested_index):
        from veloci_spark.search import search

        res = search(nested_index, {
            "search": {"terms": ["testo"], "path": "meanings.eng[]"},
            "why_found": True, "top": 5})
        # reference shape (test_why_found.rs:252-264): the matched VALUE
        # text, highlighted — not the bare term list
        assert res["data"][0]["why_found"]["meanings.eng[]"] \
            == ["will <b>testo</b>"]
