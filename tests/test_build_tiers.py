"""Build tiers: the local tier (the doc store collected, numbered and
written in the driver; tokens, dict, postings and phrase stages in the
driver) and the Spark tier write the same index, and each cost rule names
the reason it falls back.

Parity compares the doc stores through ``spark.read`` (schema, and every
row by repr, doc ids included) and decoded entries, not raw rows, of the
other tables: the Spark pack kernels run per Arrow batch, so a (field,
term_id, segment) or (field, pair, segment) group that straddles two
batches is written as two rows there and as one row by the local tier.
"""

import contextlib
import datetime as dt
import json
import os
import random
import time

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from veloci_spark import build as B
from veloci_spark.config import FieldConfig, IndexConfig, webtext_config
from veloci_spark.synth import WEBTEXT_SCHEMA
from veloci_spark.vbyte import unpack_ids, vbyte_decode
from tests.conftest import SEGMENT_DOCS, forced_spark_build, sized_df

TABLES = ("dict", "postings", "phrase", "_tokens")
FACET = dict(tokenize=False, phrase_pairs=False, token_texts=False)
TEXT_LANG = (FieldConfig("text"), FieldConfig("lang", **FACET))


def _webtext_df(spark, rows):
    return sized_df(spark, rows, WEBTEXT_SCHEMA).repartition(3)


def _renamed(corpus, urls):
    """The corpus rows with their urls replaced, in order."""
    return [dict(r, url=u) for r, u in zip(corpus, urls)]


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
    """(DataFrame, IndexConfig, id_base) of a parity case."""
    from pyspark.sql import types as T

    schema = T.StructType([T.StructField(c, T.StringType())
                           for c in ("url", "text", "lang")])
    webtext = webtext_config(segment_docs=SEGMENT_DOCS)
    if name == "webtext":
        return _webtext_df(spark, corpus), webtext, 0
    if name == "bm25":
        return _webtext_df(spark, corpus), webtext_config(
            segment_docs=SEGMENT_DOCS, scoring="bm25"), 0
    if name == "separators":
        return _webtext_df(spark, corpus), IndexConfig(
            fields=(FieldConfig("text", separators=" ,.e"),
                    FieldConfig("lang", **FACET)),
            segment_docs=SEGMENT_DOCS), 0
    if name == "unicode":
        return sized_df(spark, _unicode_rows(), schema), IndexConfig(
            fields=TEXT_LANG, segment_docs=16), 0
    if name == "null_empty":
        return sized_df(spark, _edge_rows(), schema), IndexConfig(
            fields=TEXT_LANG, segment_docs=16), 0
    if name == "multi_segment":
        # 15 segments, and postings longer than a block
        return _webtext_df(spark, corpus), webtext_config(
            segment_docs=8, posting_block_docs=2), 0
    if name == "duplicate_urls":
        # runs of 1-4 rows share a url, so the _tb tie-break orders them;
        # the last two rows are identical
        urls = [f"https://example.org/dup/{i // 3 + i % 2:03d}"
                for i in range(len(corpus))]
        rows = _renamed(corpus, urls)
        rows[-1] = dict(rows[-2])
        return _webtext_df(spark, rows), webtext, 0
    if name == "null_urls":
        urls = [None if i % 7 == 0 else r["url"]
                for i, r in enumerate(corpus)]
        return _webtext_df(spark, _renamed(corpus, urls)), webtext, 0
    if name == "unicode_urls":
        # UTF-8 byte order (Spark's) differs from UTF-16 order past the BMP
        # (😀 after Ａ) and from code-point folding orders (Z < a < é)
        tails = ["😀", "Ａ", "é", "e\u0301", "Z", "a", "𝔘", "ß", "日本",
                 "ǅ", "", "zz"]
        urls = [f"https://example.org/{tails[i % len(tails)]}/{i % 5}"
                for i in range(len(corpus))]
        return _webtext_df(spark, _renamed(corpus, urls)), webtext, 0
    if name == "doc_id_col":
        # caller-supplied, sparse, in no particular order
        rows = [dict(r, my_id=(i * 37) % 1000) for i, r in enumerate(corpus)]
        schema = T.StructType.fromDDL(WEBTEXT_SCHEMA + ", my_id int")
        return (sized_df(spark, rows, schema).repartition(3),
                webtext_config(segment_docs=SEGMENT_DOCS,
                               doc_id_col="my_id"), 0)
    if name == "id_base":
        return _webtext_df(spark, corpus), webtext, 1_000_003
    if name == "binary_html":
        blobs = [b"", None, b"\x00", b"\xff\xfe", "ü".encode("latin-1"),
                 bytes(range(256)), b"<p>\xc3\x28</p>"]
        rows = [dict(r, html=blobs[i % len(blobs)])
                for i, r in enumerate(corpus)]
        return _webtext_df(spark, rows), webtext, 0
    if name == "berlin_timestamps":
        # ordered by warc_ts, with nulls and ties, across both 2024 DST
        # switches in Europe/Berlin
        utc = dt.timezone.utc
        spring = dt.datetime(2024, 3, 31, 0, 30, tzinfo=utc)
        autumn = dt.datetime(2024, 10, 27, 0, 15, tzinfo=utc)
        stamps = [None if i % 11 == 0 else
                  (spring if i % 2 else autumn) + dt.timedelta(minutes=13 * (i % 9))
                  for i in range(len(corpus))]
        rows = [dict(r, warc_ts=t) for r, t in zip(corpus, stamps)]
        return _webtext_df(spark, rows), webtext_config(
            segment_docs=SEGMENT_DOCS, order_col="warc_ts"), 0
    raise KeyError(name)


@contextlib.contextmanager
def _time_zone(spark, name):
    """The session and the driver process in ``name``'s time zone."""
    key = "spark.sql.session.timeZone"
    old_conf, old_env = spark.conf.get(key), os.environ.get("TZ")
    spark.conf.set(key, name)
    os.environ["TZ"] = name
    time.tzset()
    try:
        yield
    finally:
        spark.conf.set(key, old_conf)
        if old_env is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old_env
        time.tzset()


def _doc_store(spark, index_dir):
    """(Spark schema, every row's repr in doc-id order, pyarrow schema) of
    a doc store."""
    path = os.path.join(index_dir, "docs")
    rows = spark.read.parquet(path)
    return (rows.schema,
            [repr(r) for r in sorted(rows.collect(),
                                     key=lambda r: (r["doc_id"], repr(r)))],
            pq.ParquetDataset(path).schema.remove_metadata())


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


@pytest.mark.parametrize("name", [
    "webtext", "bm25", "separators", "unicode", "null_empty", "multi_segment",
    "duplicate_urls", "null_urls", "unicode_urls", "doc_id_col", "id_base",
    "binary_html", "berlin_timestamps"])
def test_tiers_build_the_same_index(spark, corpus, tmp_path, name):
    zone = _time_zone(spark, "Europe/Berlin") \
        if name == "berlin_timestamps" else contextlib.nullcontext()
    with zone:
        _same_index(spark, corpus, tmp_path, name)


def _same_index(spark, corpus, tmp_path, name):
    df, config, id_base = _case(spark, corpus, name)
    local, remote = str(tmp_path / "local"), str(tmp_path / "spark")
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    batch = spark.conf.get(key)
    if name == "multi_segment":
        # the local tier calls its kernels in Spark's Arrow batch size:
        # small batches cut the sorted entries between groups many times
        spark.conf.set(key, "7")
    try:
        m_local = B.build_index(spark, df, config, local, id_base=id_base)
    finally:
        spark.conf.set(key, batch)
    with forced_spark_build():
        m_spark = B.build_index(spark, df, config, remote, id_base=id_base)
    assert (m_local["docs_tier"], m_spark["docs_tier"]) == ("local", "spark")
    assert (m_local["build_tier"], m_spark["build_tier"]) == ("local", "spark")
    for key in ("n_docs", "n_terms", "n_segments", "field_stats", "stages"):
        assert m_local[key] == m_spark[key], key
    got, want = _doc_store(spark, local), _doc_store(spark, remote)
    assert got[0] == want[0]   # Spark schema
    assert got[1] == want[1]   # rows, doc ids included
    assert got[2] == want[2]   # pyarrow schema
    if config.doc_id_col is None:
        ids = pq.read_table(os.path.join(local, "docs"))["doc_id"]
        assert ids.to_pylist() == list(range(id_base,
                                             id_base + m_local["n_docs"]))
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
        assert (m["docs_tier"], m["docs_fallback"]) == ("local", None)
        assert (m["build_tier"], m["build_fallback"]) == ("local", None)
        d = spark_index.index_dir
        for stage in ("docs", "tokens", "dict", "postings", "phrase"):
            with open(os.path.join(d, f"_stage_{stage}.done")) as f:
                assert m["stage_wall_s"][stage] == json.load(f)["wall_sec"]

    def test_spark_manifest(self, spark_build_index):
        m = spark_build_index.manifest
        assert m["docs_tier"] == "spark"
        assert m["docs_fallback"].startswith("plan bytes ")
        assert m["docs_fallback"].endswith(" > -1")
        assert m["build_tier"] == "spark"
        assert m["build_fallback"].startswith("text bytes ")
        assert m["build_fallback"].endswith(" > -1")
        assert set(m["stage_wall_s"]) == set(m["stages"])

    @staticmethod
    def _docs_tier(spark, corpus, index_dir, config, df=None):
        """The docs rule's (tier, reason) for the golden corpus, or ``df``."""
        if df is None:
            df = sized_df(spark, corpus, WEBTEXT_SCHEMA)
        frame, assign = B._docs_frame(df, config)
        return B._choose_docs_tier(frame, index_dir, config, assign)

    def test_remote_dir(self, spark, corpus, spark_index, monkeypatch):
        monkeypatch.setattr(B, "_local_dir", lambda _d: None)
        d = spark_index.index_dir
        assert self._docs_tier(spark, corpus, d, webtext_config()) == \
            ("spark", "remote dir")
        assert B._choose_build_tier(d, webtext_config())[:2] == \
            ("spark", "remote dir")

    def test_nested_field(self, spark, corpus, spark_index):
        cfg = IndexConfig(fields=(FieldConfig("text"), FieldConfig("tags[]")))
        d = spark_index.index_dir
        assert self._docs_tier(spark, corpus, d, cfg) == \
            ("spark", "nested field tags[]")
        assert B._choose_build_tier(d, cfg)[:2] == \
            ("spark", "nested field tags[]")

    @pytest.mark.parametrize("order_col", ["html", "missing"])
    def test_order_column_type(self, spark, corpus, spark_index, order_col):
        """Binary values have no Arrow sort equal to Spark's; a missing
        column is left to the Spark tier to report."""
        cfg = webtext_config(order_col=order_col)
        want = "binary" if order_col == "html" else "None"
        assert self._docs_tier(spark, corpus, spark_index.index_dir, cfg) == \
            ("spark", f"order column {order_col}: {want}")

    def test_doc_id_column_type(self, spark, corpus, spark_index):
        """Only Spark casts a non-integer id column to long."""
        cfg = webtext_config(doc_id_col="url")
        assert self._docs_tier(spark, corpus, spark_index.index_dir, cfg) == \
            ("spark", "doc id column url: string")

    @pytest.mark.parametrize("expr, type_name", [
        ("array('a')", "array<string>"),
        ("cast(1.5 as decimal(10,2))", "decimal(10,2)"),
        ("timestamp_ntz'2024-01-01 00:00:00'", "timestamp_ntz"),
        ("named_struct('a', 1)", "struct<a:int>")])
    def test_column_type(self, spark, corpus, spark_index, expr, type_name):
        df = sized_df(spark, corpus, WEBTEXT_SCHEMA).withColumn(
            "extra", F.expr(expr))
        assert self._docs_tier(spark, corpus, spark_index.index_dir,
                               webtext_config(), df) == \
            ("spark", f"column extra: {type_name}")

    def test_plan_bytes(self, spark, corpus, spark_index, monkeypatch):
        d, cfg = spark_index.index_dir, webtext_config()
        frame, _ = B._docs_frame(sized_df(spark, corpus, WEBTEXT_SCHEMA),
                                 cfg)
        n = B._plan_bytes(frame)
        assert 0 < n < B.LOCAL_TIER_MAX_SCAN_BYTES
        monkeypatch.setattr(B, "LOCAL_TIER_MAX_SCAN_BYTES", n)
        assert self._docs_tier(spark, corpus, d, cfg) == ("local", None)
        monkeypatch.setattr(B, "LOCAL_TIER_MAX_SCAN_BYTES", n - 1)
        assert self._docs_tier(spark, corpus, d, cfg) == \
            ("spark", f"plan bytes {n} > {n - 1}")
        # Spark does not know the size of an RDD of Python rows: its
        # estimate is Long.MaxValue, scaled by the _tb projection
        rows = spark.createDataFrame(
            [{k: r[k] for k in ("url", "warc_ts", "html", "text", "lang")}
             for r in corpus],
            WEBTEXT_SCHEMA)
        tier, reason = self._docs_tier(spark, corpus, d, cfg, rows)
        assert tier == "spark" and reason.endswith(f" > {n - 1}")
        assert int(reason.split()[2]) >= 2 ** 63 - 1

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
        # a collected doc store counts its Arrow buffers instead
        table = pq.read_table(os.path.join(d, "docs"))
        arrow = table["text"].nbytes + table["lang"].nbytes
        monkeypatch.setattr(B, "LOCAL_BUILD_MAX_TEXT_BYTES", arrow)
        assert B._choose_build_tier(d, webtext_config(), table)[2] == \
            (d, table.num_rows, arrow)
        monkeypatch.setattr(B, "LOCAL_BUILD_MAX_TEXT_BYTES", arrow - 1)
        assert B._choose_build_tier(d, webtext_config(), table)[:2] == \
            ("spark", f"text bytes {arrow} > {arrow - 1}")
