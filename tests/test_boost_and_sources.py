"""Boost-by-field (Q13) + expression DSL differential tests, source readers
(S1/S2/S2b), and doc fetch (Q23)."""

import numpy as np
import pytest

from veloci_spark import pyref


class TestBoostValueKernels:
    def test_boost_value_score_funs(self):
        from veloci_spark.scoring import boost_value_score

        s = np.array([10.0, 10.0], dtype=np.float32)
        v = np.array([90.0, 1014.0], dtype=np.float32)
        log10 = boost_value_score(s, v, "Log10", 10.0)
        assert np.allclose(log10, 10.0 * np.log10(v.astype(np.float32) + 10.0))
        log2 = boost_value_score(s, v, "Log2", 0.0)
        assert np.allclose(log2, 10.0 * np.log2(v))
        mul = boost_value_score(s, v, "Multiply", 1.0)
        assert np.allclose(mul, 10.0 * (v + 1.0))
        add = boost_value_score(s, v, "Add", 5.0)
        assert np.allclose(add, 10.0 + v + 5.0)

    def test_nan_leaves_score(self):
        from veloci_spark.scoring import boost_value_score

        out = boost_value_score([7.0], [np.nan], "Log10", 0.0)
        assert out[0] == np.float32(7.0)

    def test_expression(self):
        from veloci_spark.scoring import eval_boost_expression

        assert eval_boost_expression("10 / $SCORE", [2.0], [0.0])[0] == np.float32(5.0)
        assert eval_boost_expression("$SCORE * ($VALUE + 1)", [3.0], [4.0])[0] == \
            np.float32(15.0)
        assert eval_boost_expression("2 + 3 * $VALUE", [0.0], [4.0])[0] == \
            np.float32(14.0)


BOOST_REQUESTS = [
    {"search": {"terms": ["greg"], "path": "text"},
     "boost": [{"path": "n_chars_", "boost_fun": "Log10", "param": 10.0}], "top": 10},
    {"or": [{"search": {"terms": ["greg"], "path": "text"}},
            {"search": {"terms": ["text"], "path": "text"}}],
     "boost": [{"path": "n_chars_", "boost_fun": "Multiply", "param": 0.0}], "top": 10},
    {"search": {"terms": ["tagebuch"], "path": "text"},
     "boost": [{"path": "n_chars_", "expression": "10 / $SCORE"}], "top": 10},
    {"search": {"terms": ["erbin"], "path": "text"},
     "boost": [{"path": "n_chars_", "boost_fun": "Add", "param": 1.0},
               {"path": "n_chars_", "boost_fun": "Log2", "param": 2.0}], "top": 10},
]


@pytest.fixture(scope="session")
def boosted_corpus(corpus):
    # a numeric boost column derived deterministically from the text
    rows = []
    for r in corpus:
        r = dict(r)
        r["n_chars_"] = float(len(r["text"]))
        rows.append(r)
    return rows


@pytest.fixture(scope="session")
def boosted_ref_index(boosted_corpus):
    from tests.conftest import SEGMENT_DOCS
    from veloci_spark.config import webtext_config

    idx = pyref.RefIndex(boosted_corpus, webtext_config(segment_docs=SEGMENT_DOCS))
    return idx


@pytest.fixture(scope="session")
def boosted_spark_index(spark, boosted_corpus, tmp_path_factory):
    from tests.conftest import SEGMENT_DOCS
    from veloci_spark.build import build_index
    from veloci_spark.config import webtext_config
    from veloci_spark.search import FulltextIndex

    d = str(tmp_path_factory.mktemp("bidx"))
    df = spark.createDataFrame(
        [{k: r[k] for k in ("url", "warc_ts", "html", "text", "lang", "n_chars_")}
         for r in boosted_corpus],
        schema="url string, warc_ts timestamp, html binary, text string, "
               "lang string, n_chars_ double",
    ).repartition(4)
    build_index(spark, df, webtext_config(segment_docs=SEGMENT_DOCS), d)
    return FulltextIndex(spark, d).cache()


@pytest.mark.parametrize("req", BOOST_REQUESTS, ids=lambda r: str(r)[:60])
def test_boost_matches_oracle(boosted_spark_index, boosted_ref_index, req):
    from veloci_spark.search import search

    got = search(boosted_spark_index, req)
    want = pyref.search_request(boosted_ref_index, req)
    assert [d["doc_id"] for d in got["data"]] == [d for d, _ in want]
    for d, (wd, ws) in zip(got["data"], want):
        assert np.float32(d["score"]) == np.float32(ws), (d, ws)


@pytest.mark.parametrize("req", [
    BOOST_REQUESTS[0],
    # per-leg boost-by-field (options.boost): the composed path
    {"or": [{"search": {"terms": ["greg"], "path": "text", "options": {
        "boost": [{"path": "n_chars_", "boost_fun": "Add", "param": 1.0}]}}},
            {"search": {"terms": ["text"], "path": "text"}}], "top": 10},
], ids=["anchor_boost", "per_leg_boost"])
def test_boost_shapes_run_on_spark(boosted_spark_index, boosted_ref_index, req):
    from veloci_spark.search import search

    got = search(boosted_spark_index, {**req, "explain": True})
    assert got["explain"]["tier"] == "spark"
    want = pyref.search_request(boosted_ref_index, req)
    assert [(d["doc_id"], np.float32(d["score"])) for d in got["data"]] == \
        [(d, np.float32(s)) for d, s in want]


class TestSources:
    def test_ndjson_roundtrip(self, spark, tmp_path):
        from veloci_spark.sources import read_ndjson, read_webtext, to_ndjson
        from veloci_spark.synth import generate_df

        df = generate_df(spark, 30)
        out = str(tmp_path / "nd")
        to_ndjson(df, out, num_files=2)
        back = read_ndjson(spark, out)
        assert back.count() == df.count()
        wt = read_webtext(spark, out, fmt="json")
        assert set(("url", "text", "lang")) <= set(wt.columns)
        assert dict(wt.dtypes)["warc_ts"] == "timestamp"

    def test_any_json_top_level_array(self, spark, tmp_path):
        import json

        from veloci_spark.sources import read_any_json

        p = tmp_path / "arr.json"
        p.write_text(json.dumps([{"a": 1, "b": "x"}, {"a": 2, "b": "y"}]))
        df = read_any_json(spark, str(p))
        assert df.count() == 2
        assert {r["a"] for r in df.collect()} == {1, 2}

    def test_csv(self, spark, tmp_path):
        from veloci_spark.sources import read_csv

        p = tmp_path / "docs.csv"
        p.write_text("url,text,lang\nu1,hello world,en\nu2,hallo welt,de\n")
        df = read_csv(spark, str(p))
        assert df.count() == 2
        assert df.columns == ["url", "text", "lang"]

    def test_webtext_missing_columns(self, spark, tmp_path):
        from veloci_spark.sources import read_webtext

        p = str(tmp_path / "bad")
        spark.createDataFrame([(1,)], "x int").write.parquet(p)
        with pytest.raises(ValueError, match="missing columns"):
            read_webtext(spark, p)


class TestDocFetch:
    def test_get_docs_order_and_columns(self, spark_index, corpus):
        from veloci_spark.search import get_doc, get_docs

        ids = [5, 2, 9]
        docs = get_docs(spark_index, ids, columns=["url", "text"])
        assert [d["doc_id"] for d in docs] == ids
        for d in docs:
            assert d["url"] == corpus[d["doc_id"]]["url"]
        one = get_doc(spark_index, 3)
        assert one["text"] == corpus[3]["text"]
        assert get_doc(spark_index, 10**9) is None


class TestTokenValuesResume:
    def test_content_change_and_removal_invalidate(self, spark, tmp_path):
        """The token_values side input invalidates on CONTENT change (the
        build-config fingerprint cannot see it) and is removed when a
        rebuild passes none — stale boosts must never survive a resume."""
        from veloci_spark.build import build_index
        from veloci_spark.config import FieldConfig, IndexConfig
        from veloci_spark.search import FulltextIndex, suggest

        rows = [{"doc_id": 0, "text": "alpha beta"},
                {"doc_id": 1, "text": "alphorn beta"}]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        cfg = IndexConfig(fields=(FieldConfig("text"),), doc_id_col="doc_id",
                          segment_docs=2)
        d = str(tmp_path / "idx")
        spec = {"path": "text", "boost_fun": "Multiply"}

        build_index(spark, df, cfg, d,
                    token_values={"text": [("alphorn", 100.0)]})
        s1 = dict(suggest(FulltextIndex(spark, d), "text", "alph",
                          token_value=spec))
        # same config + input, NEW values: the side table must rebuild
        build_index(spark, df, cfg, d,
                    token_values={"text": [("alphorn", 10_000.0)]})
        s2 = dict(suggest(FulltextIndex(spark, d), "text", "alph",
                          token_value=spec))
        assert s2["alphorn"] > s1["alphorn"]
        # rebuild WITHOUT token_values: the stale side table is removed
        build_index(spark, df, cfg, d)
        idx = FulltextIndex(spark, d)
        assert idx.token_values is None
        s3 = dict(suggest(idx, "text", "alph", token_value=spec))
        assert s3["alphorn"] == pytest.approx(
            dict(suggest(idx, "text", "alph"))["alphorn"])
