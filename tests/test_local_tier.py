"""Local execution tier: the cost rule, the fallback shapes, the
post-processing reads, and shared index handles under concurrent requests.

Parity of the two tiers is certified by the differential batteries
(test_search_engine / test_fuzz_differential run every case on the
default tier and again, as ``*_spark_tier``, with the Spark tier forced);
these tests pin which tier runs and that the local one runs no Spark job.
The build tiers' parity and cost rule are in test_build_tiers.
"""

import json
import operator
import os
import sys
import threading

import numpy as np

from veloci_spark import search as S

EXACT = {"search": {"terms": ["die"], "path": "text"}, "top": 5}
PHRASE = {**EXACT, "phrase_boosts": [{
    "path": "text", "search1": {"terms": ["die"], "path": "text"},
    "search2": {"terms": ["erbin"], "path": "text"}}]}
# every post-processing key; the selected columns cover the doc store's
# string, timestamp and binary types
POST = {"select": ["url", "lang", "warc_ts", "html"],
        "snippets": {"field": "text"}, "why_found": True,
        "explain_hits": True}


def _tier(index, req):
    return S.search(index, {**req, "explain": True})["explain"]


def _result(res):
    return (res["num_hits"],
            [(d["doc_id"], np.float32(d["score"])) for d in res["data"]],
            res.get("facets"))


class TestCostRule:
    def test_estimate_is_sum_of_doc_freq(self, spark_index, ref_index):
        req = {"or": [{"search": {"terms": ["die"], "path": "text"}},
                      {"search": {"terms": ["greg"], "path": "text"}}]}
        postings = ref_index.fields["text"].postings
        assert _tier(spark_index, req)["posting_estimate"] == \
            len(postings["die"]) + len(postings["greg"])

    def test_threshold_sides(self, spark_index, monkeypatch):
        est = _tier(spark_index, EXACT)["posting_estimate"]
        assert est > 0
        monkeypatch.setattr(S, "LOCAL_TIER_MAX_POSTINGS", est)
        at = S.search(spark_index, {**EXACT, "explain": True})
        monkeypatch.setattr(S, "LOCAL_TIER_MAX_POSTINGS", est - 1)
        over = S.search(spark_index, {**EXACT, "explain": True})
        assert at["explain"]["tier"] == "local"
        assert over["explain"]["tier"] == "spark"
        assert _result(at) == _result(over)

    def test_scan_bytes_guard(self, spark_index, monkeypatch):
        ex = _tier(spark_index, PHRASE)
        postings = S._scan_bytes(spark_index, {
            "postings": S._local_reads(S._plan_search(spark_index, PHRASE,
                                                      False))["postings"]})
        assert ex["tier"] == "local" and ex["scan_bytes"] > postings > 0
        monkeypatch.setattr(S, "LOCAL_TIER_MAX_SCAN_BYTES",
                            ex["scan_bytes"] - 1)
        assert _tier(spark_index, PHRASE)["tier"] == "spark"

    def test_scan_bytes_count_columns_read(self, spark_index):
        """Only the chunks of the columns read count: a wider projection
        of the same row groups costs more."""
        ids = sorted(d["doc_id"] for d in S.search(spark_index, EXACT)["data"])
        flt = S._doc_id_filter(ids)
        narrow = S._scan_bytes(spark_index, {"docs": (flt, ["doc_id"])})
        wide = S._scan_bytes(spark_index,
                             {"docs": (flt, ["doc_id", "url", "text"])})
        assert 0 < narrow < wide

    def test_local_tier_runs_no_spark_job(self, spark, spark_index):
        req = {**EXACT, "facets": [{"field": "lang", "top": 5}]}
        # warm the driver-side dictionary and facet map (one job each)
        spark_index.local_dict("text")
        spark_index.facet_map("lang")
        sc = spark.sparkContext
        sc.setJobGroup("local-tier-no-job", "local tier")
        try:
            res = S.search(spark_index, {**req, "explain": True})
        finally:
            sc.setJobGroup("", "")
        assert res["explain"]["tier"] == "local"
        assert res["num_hits"] > 0
        assert list(sc.statusTracker().getJobIdsForGroup("local-tier-no-job")) == []


class TestPostProcessing:
    """select, snippets, why-found and explain read the result docs, their
    postings and phrase rows under the local tier's scan rule."""

    def test_runs_no_spark_job(self, spark, spark_index):
        req = {**PHRASE, **POST, "explain": True}
        S.search(spark_index, req)  # warm the driver-side dictionary
        sc = spark.sparkContext
        sc.setJobGroup("post-no-job", "post-processing")
        try:
            res = S.search(spark_index, req)
        finally:
            sc.setJobGroup("", "")
        assert res["explain"]["tier"] == "local"
        assert res["data"] and all(
            d["doc"]["url"] and d["snippet"] and d["why_found"]
            and d["explain"] for d in res["data"])
        assert list(sc.statusTracker().getJobIdsForGroup("post-no-job")) == []

    def test_scan_guard(self, spark, spark_index, monkeypatch):
        req = {**PHRASE, **POST}
        want = S.search(spark_index, req)
        ids = sorted(d["doc_id"] for d in want["data"])
        want_docs = S.get_docs(spark_index, ids)
        flt = S._doc_id_filter(ids)
        cols = ["doc_id", "text"]  # the snippets fetch
        read = S._scan_bytes(spark_index, {"docs": (flt, cols)})
        every = S._scan_bytes(spark_index, {"docs": (None, cols)})
        assert 0 < read < every  # row groups skipped
        monkeypatch.setattr(S, "LOCAL_TIER_MAX_SCAN_BYTES", read)
        assert spark_index._reads_locally("docs", flt, cols)
        monkeypatch.setattr(S, "LOCAL_TIER_MAX_SCAN_BYTES", read - 1)
        assert not spark_index._reads_locally("docs", flt, cols)
        sc = spark.sparkContext
        sc.setJobGroup("post-guard", "post-processing over the guard")
        try:
            got = S.search(spark_index, req)
            got_docs = S.get_docs(spark_index, ids)
        finally:
            sc.setJobGroup("", "")
        assert list(sc.statusTracker().getJobIdsForGroup("post-guard"))
        for res in (want, got):
            res.pop("execution_time_ms")
        # repr: the same values of the same Python types
        assert repr(got) == repr(want)
        assert repr(got_docs) == repr(want_docs)


    def test_rows_match_collect(self, spark, tmp_path):
        """The driver read's rows carry ``collect()``'s values and Python
        types: INT96 timestamps at any depth, NTZ timestamps, binary."""
        import datetime as dt

        import pyarrow.dataset as ds
        from pyspark.sql import types as T

        ts = T.TimestampType()
        schema = T.StructType([
            T.StructField("doc_id", T.LongType()),
            T.StructField("ts", ts),
            T.StructField("ntz", T.TimestampNTZType()),
            T.StructField("bin", T.BinaryType()),
            T.StructField("s", T.StructType([T.StructField("t", ts),
                                             T.StructField("b", T.BinaryType())])),
            T.StructField("a", T.ArrayType(ts)),
            T.StructField("m", T.MapType(T.StringType(), ts))])
        t0 = dt.datetime(2024, 3, 31, 1, 30, 5, 123456)
        path = str(tmp_path / "rows")
        spark.createDataFrame(
            [(1, t0, t0, b"x", (t0, b"y"), [t0, None], {"k": t0}),
             (2, None, None, None, None, None, None)],
            schema).write.parquet(path)
        df = spark.read.parquet(path)
        got = S._arrow_rows(ds.dataset(path).to_table(columns=df.columns),
                            df.schema)
        by_id = operator.itemgetter("doc_id")
        assert repr(sorted(got, key=by_id)) == \
            repr(sorted(df.collect(), key=by_id))


class TestFallbackShapes:
    """Shapes the local tier does not evaluate run on Spark, as reported by
    ``explain.tier``. Anchor ``boost`` and per-leg field boosts are pinned
    in test_boost_and_sources, nested post-locality in test_nested_engine,
    MultiIndex in test_streaming."""

    def test_identity_leaf(self, spark_index):
        req = {"or": [{"search": {"terms": ["urge"], "path": "text"}},
                      {"search": {"terms": ["urge"], "path": "url",
                                  "starts_with": True}}]}
        assert _tier(spark_index, req)["tier"] == "spark"

    def test_spark_join_facets(self, spark_index):
        # no driver facet map for a non-string column → Spark-join facets
        assert spark_index.facet_map("warc_ts") is None
        req = {**EXACT, "facets": [{"field": "warc_ts", "top": 3}]}
        assert _tier(spark_index, req)["tier"] == "spark"

    def test_remote_index_dir(self, spark_index, monkeypatch):
        monkeypatch.setattr(spark_index, "local_path", None)
        assert _tier(spark_index, EXACT)["tier"] == "spark"

    def test_distributed_dictionary(self, spark, spark_index):
        # no driver-resident dictionary → no posting estimate → Spark
        dist = S.FulltextIndex(spark, spark_index.index_dir,
                               local_dict_max_terms=0)
        ex = _tier(dist, EXACT)
        assert ex["tier"] == "spark" and ex["posting_estimate"] is None

    def test_search_df_stays_on_spark(self, spark_index, monkeypatch):
        def boom(*_a, **_k):
            raise AssertionError("search_df must not use the local tier")

        want = _result(S.search(spark_index, EXACT))[1]
        monkeypatch.setattr(S, "_local_hits", boom)
        rows = S.search_df(spark_index, EXACT).collect()
        assert [(r["doc_id"], np.float32(r["score"])) for r in rows] == want


def test_concurrent_requests_on_fresh_handle(spark, spark_index, ref_index):
    """The lazy driver-side dictionary, facet maps and pyarrow datasets are
    published whole under a lock: threads racing to fill fresh handles all
    get the single-thread response."""
    from concurrent.futures import ThreadPoolExecutor

    terms = ref_index.fields["text"].terms[100:1100:125]
    req = {"or": [{"search": {"terms": [t], "path": "text"}} for t in terms],
           "top": 5, "facets": [{"field": "lang", "top": 5}]}
    want = _result(S.search(spark_index, req))
    assert want[0] > 0
    n_threads = 12
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)  # switch threads inside the lazy fills
    try:
        for _round in range(3):
            fresh = S.FulltextIndex(spark, spark_index.index_dir)
            barrier = threading.Barrier(n_threads, timeout=60)

            def one(_):
                barrier.wait()
                return _result(S.search(fresh, req))

            with ThreadPoolExecutor(max_workers=n_threads) as ex:
                got = list(ex.map(one, range(n_threads), timeout=300))
            assert got == [want] * n_threads
    finally:
        sys.setswitchinterval(interval)


class TestLocalBuild:
    """A local build's only Spark jobs are the doc store's collect, and
    its stages resume on the Spark tier and back."""

    def _df(self, spark, corpus):
        from tests.conftest import sized_df
        from veloci_spark.synth import WEBTEXT_SCHEMA

        return sized_df(spark, corpus, WEBTEXT_SCHEMA).repartition(2)

    def test_only_docs_stage_runs_jobs(self, spark, corpus, tmp_path,
                                       monkeypatch):
        """No job before the driver docs stage's collect (the tier rule
        reads plan statistics only) and none after it."""
        from veloci_spark import build as B
        from veloci_spark.config import webtext_config

        sc = spark.sparkContext
        driver_docs = B._driver_docs

        def grouped_collect(*a, **k):
            sc.setJobGroup("build-collect", "the doc store's collect")
            try:
                return driver_docs(*a, **k)
            finally:
                sc.setJobGroup("build-after-collect", "after the collect")

        monkeypatch.setattr(B, "_driver_docs", grouped_collect)
        df = self._df(spark, corpus)
        sc.setJobGroup("build-before-collect", "before the collect")
        try:
            m = B.build_index(spark, df, webtext_config(segment_docs=32),
                              str(tmp_path / "idx"))
        finally:
            sc.setJobGroup("", "")
        assert (m["docs_tier"], m["build_tier"]) == ("local", "local")
        assert set(m["stages"]) == {"docs", "tokens", "dict", "postings",
                                    "phrase"}
        st = sc.statusTracker()
        assert list(st.getJobIdsForGroup("build-before-collect")) == []
        assert list(st.getJobIdsForGroup("build-collect"))
        assert list(st.getJobIdsForGroup("build-after-collect")) == []

    def test_resume_across_tiers(self, spark, corpus, tmp_path):
        from tests.conftest import forced_spark_build
        from veloci_spark.build import build_index
        from veloci_spark.config import webtext_config

        d = str(tmp_path / "idx")
        df, cfg = self._df(spark, corpus), webtext_config(segment_docs=32)
        reqs = [PHRASE, {**EXACT, "facets": [{"field": "lang", "top": 5}]},
                {"search": {"terms": ["majes"], "path": "text",
                            "starts_with": True}, "top": 10}]

        def markers():
            out = {}
            for s in ("docs", "tokens", "dict", "postings", "phrase"):
                with open(f"{d}/_stage_{s}.done") as f:
                    out[s] = json.load(f)["ts"]
            return out

        def results():
            idx = S.FulltextIndex(spark, d)
            return [_result(S.search(idx, r)) for r in reqs]

        def resume(drop, spark_tier):
            before = markers()
            for s in drop:
                os.remove(f"{d}/_stage_{s}.done")
            if spark_tier:
                with forced_spark_build():
                    m = build_index(spark, df, cfg, d)
            else:
                m = build_index(spark, df, cfg, d)
            after = markers()
            assert m["build_tier"] == ("spark" if spark_tier else "local")
            # exactly the dropped stages ran again
            assert {s for s in after if after[s] != before.get(s)} == set(drop)
            assert results() == want

        assert build_index(spark, df, cfg, d)["build_tier"] == "local"
        want = results()
        # the Spark tier resumes on the local tier's tokens and dict ...
        resume(["postings", "phrase"], spark_tier=True)
        # ... and the local tier on the Spark tier's (multi-file) ones
        resume(["tokens", "dict", "postings", "phrase"], spark_tier=True)
        resume(["postings", "phrase"], spark_tier=False)
