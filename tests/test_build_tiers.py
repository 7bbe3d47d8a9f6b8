"""Build tiers: the local tier (tokens, dict, postings and phrase stages in
the driver) and the Spark tier write the same index, and the cost rule
names the reason it falls back.

Parity compares decoded entries, not raw rows: the Spark pack kernels run
per Arrow batch, so a (field, term_id, segment) or (field, pair, segment)
group that straddles two batches is written as two rows there and as one
row by the local tier.
"""

import json
import os
import random

import pyarrow.parquet as pq
import pytest

from veloci_spark import build as B
from veloci_spark.config import FieldConfig, IndexConfig, webtext_config
from veloci_spark.vbyte import unpack_ids, vbyte_decode
from tests.conftest import SEGMENT_DOCS, forced_spark_build

TABLES = ("dict", "postings", "phrase", "_tokens")
FACET = dict(tokenize=False, phrase_pairs=False, token_texts=False)


def _webtext_df(spark, corpus):
    from veloci_spark.synth import WEBTEXT_SCHEMA

    return spark.createDataFrame(
        [{k: r[k] for k in ("url", "warc_ts", "html", "text", "lang")}
         for r in corpus], schema=WEBTEXT_SCHEMA).repartition(3)


def _unicode_rows():
    # code-point order differs from UTF-16 order past the BMP (😀 after
    # ＡＢ), and from case/accent folding orders (Z < a < ß < é)
    words = ["über", "Über", "ueber", "zebra", "Zebra", "日本語", "中文",
             "😀smile", "ＡＢ", "𝔘nicode", "ÿ", "Ā", "é", "é", "ß", "ss",
             "a", "ä", "ǅ", "ﬁ", "İ", "i"]
    rng = random.Random(7)
    return [(f"u{i:03d}", " ".join(rng.choice(words)
                                   for _ in range(rng.randint(1, 9))),
             rng.choice(["de", "日本", "😀"]))
            for i in range(60)]


def _edge_rows():
    texts = [None, "", "single", "   ", "two words", "a, b. c", None,
             "x " * 40, "", "die erbin", "-", "ende."]
    langs = [None, "", "de", "en"]
    return [(f"e{i:03d}", texts[i % len(texts)], langs[i % len(langs)])
            for i in range(48)]


def _case(spark, corpus, name):
    """(DataFrame, IndexConfig) of a parity case."""
    schema = "url string, text string, lang string"
    text_lang = (FieldConfig("text"), FieldConfig("lang", **FACET))
    if name == "webtext":
        return _webtext_df(spark, corpus), webtext_config(segment_docs=SEGMENT_DOCS)
    if name == "bm25":
        return _webtext_df(spark, corpus), webtext_config(
            segment_docs=SEGMENT_DOCS, scoring="bm25")
    if name == "separators":
        return _webtext_df(spark, corpus), IndexConfig(
            fields=(FieldConfig("text", separators=" ,.e"),
                    FieldConfig("lang", **FACET)), segment_docs=SEGMENT_DOCS)
    if name == "unicode":
        return spark.createDataFrame(_unicode_rows(), schema), IndexConfig(
            fields=text_lang, segment_docs=16)
    if name == "null_empty":
        return spark.createDataFrame(_edge_rows(), schema), IndexConfig(
            fields=text_lang, segment_docs=16)
    if name == "multi_segment":
        # 15 segments, and postings longer than a block
        return _webtext_df(spark, corpus), webtext_config(
            segment_docs=8, posting_block_docs=2)
    raise KeyError(name)


def _decoded(index_dir, segment_docs):
    """dict rows, field stats, {(field, term_id, segment, doc_id) → stored
    score} and {(field, tok_a, tok_b, segment) → doc-id set}."""
    terms = pq.read_table(os.path.join(index_dir, "dict")).to_pandas()
    with open(os.path.join(index_dir, "_field_stats.json")) as f:
        stats = json.load(f)
    postings = {}
    p = pq.read_table(os.path.join(index_dir, "postings")).to_pandas()
    for fld, tid, seg, db, sb in zip(p.field, p.term_id, p.segment,
                                     p.docs_bin, p.scores_bin):
        ids, scores = unpack_ids(db), vbyte_decode(sb)
        assert len(ids) == len(scores)
        for i, s in zip(ids, scores):
            key = (fld, int(tid), int(seg), int(i) + int(seg) * segment_docs)
            assert key not in postings, key
            postings[key] = int(s)
    phrase = {}
    ph = pq.read_table(os.path.join(index_dir, "phrase")).to_pandas()
    for fld, a, b, seg, db in zip(ph.field, ph.tok_a, ph.tok_b, ph.segment,
                                  ph.docs_bin):
        phrase.setdefault((fld, a, b, int(seg)), set()).update(
            int(i) for i in unpack_ids(db))
    return (sorted(map(tuple, terms[["field", "term", "term_id",
                                     "num_occurences", "doc_freq"]]
                       .values.tolist())),
            stats, postings, phrase)


@pytest.mark.parametrize("name", ["webtext", "bm25", "separators", "unicode",
                                  "null_empty", "multi_segment"])
def test_tiers_build_the_same_index(spark, corpus, tmp_path, name):
    df, config = _case(spark, corpus, name)
    local, remote = str(tmp_path / "local"), str(tmp_path / "spark")
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    batch = spark.conf.get(key)
    if name == "multi_segment":
        # the local tier calls its kernels in Spark's Arrow batch size:
        # small batches cut the sorted entries between groups many times
        spark.conf.set(key, "7")
    try:
        m_local = B.build_index(spark, df, config, local)
    finally:
        spark.conf.set(key, batch)
    with forced_spark_build():
        m_spark = B.build_index(spark, df, config, remote)
    assert (m_local["build_tier"], m_spark["build_tier"]) == ("local", "spark")
    for key in ("n_docs", "n_terms", "n_segments", "field_stats", "stages"):
        assert m_local[key] == m_spark[key], key
    for table in TABLES:
        assert pq.ParquetDataset(os.path.join(local, table)).schema \
            .remove_metadata() == \
            pq.ParquetDataset(os.path.join(remote, table)).schema \
            .remove_metadata(), table
    got = _decoded(local, config.segment_docs)
    want = _decoded(remote, config.segment_docs)
    assert got[0] == want[0]   # dict rows, term ids included
    assert got[1] == want[1]   # _field_stats.json
    assert got[2] == want[2]   # postings
    assert got[3] == want[3]   # phrase
    assert got[2] and got[3]   # not vacuous


class TestCostRule:
    """Which tier ``build_index`` takes, and the reason the rule fell back,
    as the manifest records them."""

    def test_local_manifest(self, spark_index):
        m = spark_index.manifest
        assert (m["build_tier"], m["build_fallback"]) == ("local", None)
        d = spark_index.index_dir
        for stage in ("docs", "tokens", "dict", "postings", "phrase"):
            with open(os.path.join(d, f"_stage_{stage}.done")) as f:
                assert m["stage_wall_s"][stage] == json.load(f)["wall_sec"]

    def test_spark_manifest(self, spark_build_index):
        m = spark_build_index.manifest
        assert m["build_tier"] == "spark"
        assert m["build_fallback"].startswith("text bytes ")
        assert m["build_fallback"].endswith(" > -1")
        assert set(m["stage_wall_s"]) == set(m["stages"])

    def test_remote_dir(self, spark_index, monkeypatch):
        monkeypatch.setattr(B, "_local_dir", lambda _d: None)
        assert B._choose_build_tier(
            spark_index.index_dir, webtext_config())[:2] == ("spark", "remote dir")

    def test_nested_field(self, spark_index):
        cfg = IndexConfig(fields=(FieldConfig("text"), FieldConfig("tags[]")))
        assert B._choose_build_tier(spark_index.index_dir, cfg)[:2] == \
            ("spark", "nested field tags[]")

    def test_non_string_column(self, spark_index):
        cfg = IndexConfig(fields=(FieldConfig("text"),
                                  FieldConfig("warc_ts", **FACET)))
        assert B._choose_build_tier(spark_index.index_dir, cfg)[:2] == \
            ("spark", "non-string column warc_ts")

    def test_text_bytes(self, spark_index, monkeypatch):
        d = spark_index.index_dir
        tier, reason, footer = B._choose_build_tier(d, webtext_config())
        assert (tier, reason) == ("local", None)
        assert footer.n_rows == spark_index.manifest["n_docs"]
        n = footer.text_bytes
        # the identity url column is not read, so it does not count
        text_only = B._choose_build_tier(
            d, IndexConfig(fields=(FieldConfig("text"),)))[2].text_bytes
        assert 0 < text_only < n
        monkeypatch.setattr(B, "LOCAL_BUILD_MAX_TEXT_BYTES", n)
        assert B._choose_build_tier(d, webtext_config())[0] == "local"
        monkeypatch.setattr(B, "LOCAL_BUILD_MAX_TEXT_BYTES", n - 1)
        assert B._choose_build_tier(d, webtext_config())[:2] == \
            ("spark", f"text bytes {n} > {n - 1}")
