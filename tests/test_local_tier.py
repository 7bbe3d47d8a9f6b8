"""Local execution tier: the cost rule, the fallback shapes, the
post-processing reads, and shared index handles under concurrent requests.

Parity of the two tiers is certified by the differential batteries
(test_search_engine / test_fuzz_differential run every case on the
default tier and again, as ``*_spark_tier``, with the Spark tier forced);
these tests pin which tier runs and that the local one runs no Spark job.
The build tiers' parity and cost rule are in test_build_tiers.
"""

import contextlib
import json
import operator
import os
import sys
import threading

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

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
            "postings": S._local_reads(spark_index, S._plan_search(
                spark_index, PHRASE, False))["postings"]})
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


def _fills(index, fields):
    """The driver-side dictionaries and facet maps of ``fields``."""
    return ({f: index.local_dict(f) for f in fields},
            {f: index.facet_map(f) for f in fields})


def test_driver_fills_read_without_spark(spark, spark_index, monkeypatch):
    """On a local index dir the driver-side dictionary and facet maps are
    pyarrow reads, with no Spark job; they equal the frames and arrays of
    Spark's ``toPandas()`` fills: columns, dtypes, doc-id order, and None
    for a non-string facet column."""
    import pandas as pd

    fields = ["text", "lang", "url", "warc_ts"]
    fresh = S.FulltextIndex(spark, spark_index.index_dir)
    sc = spark.sparkContext
    sc.setJobGroup("driver-fills", "driver-side fills")
    try:
        dicts, maps = _fills(fresh, fields)
    finally:
        sc.setJobGroup("", "")
    assert list(sc.statusTracker().getJobIdsForGroup("driver-fills")) == []
    on_spark = S.FulltextIndex(spark, spark_index.index_dir)
    monkeypatch.setattr(on_spark, "local_path", None)
    want_dicts, want_maps = _fills(on_spark, fields)
    for f in fields:
        pd.testing.assert_frame_equal(dicts[f], want_dicts[f])
    assert maps["warc_ts"] is None and want_maps["warc_ts"] is None
    for f in ("text", "lang", "url"):
        (ids, vals), (want_ids, want_vals) = maps[f], want_maps[f]
        assert ids.dtype == want_ids.dtype == np.int64
        assert vals.dtype == want_vals.dtype == object
        assert ids.tolist() == want_ids.tolist()
        assert vals.tolist() == want_vals.tolist()


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

    def test_fresh_handle_runs_no_spark_job(self, spark, spark_index):
        """A fresh handle's first select and snippets request and its
        ``get_doc`` run no Spark job: the doc store's Spark schema comes
        from its pyarrow schema, and equals the one Spark infers."""
        fresh = S.FulltextIndex(spark, spark_index.index_dir)
        sc = spark.sparkContext
        sc.setJobGroup("fresh-post", "post-processing on a fresh handle")
        try:
            res = S.search(fresh, {**PHRASE, **POST})
            doc = S.get_doc(fresh, res["data"][0]["doc_id"])
        finally:
            sc.setJobGroup("", "")
        assert list(sc.statusTracker().getJobIdsForGroup("fresh-post")) == []
        assert res["data"][0]["doc"]["url"] and doc["url"]
        assert "docs" not in vars(fresh)
        assert fresh.docs_schema == fresh.docs.schema

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
        types: INT96 timestamps at any depth, instants outside the
        nanosecond range included, NTZ timestamps, binary."""
        import datetime as dt

        from pyspark.sql import types as T

        from veloci_spark.build import doc_store_dataset, doc_store_table

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
        # past pyarrow's nanosecond range on both sides
        late, early = dt.datetime(9999, 12, 31, 12), dt.datetime(1700, 1, 1, 12)
        path = str(tmp_path / "rows")
        spark.createDataFrame(
            [(1, t0, t0, b"x", (t0, b"y"), [t0, None], {"k": t0}),
             (2, None, None, None, None, None, None),
             (3, late, early, None, (early, None), [late, early], {"k": late}),
             (4, early, late, None, (late, None), [early], {"e": early})],
            schema).write.parquet(path)
        df = spark.read.parquet(path)
        got = S._arrow_rows(
            doc_store_table(doc_store_dataset(path), df.columns), df.schema)
        by_id = operator.itemgetter("doc_id")
        assert repr(sorted(got, key=by_id)) == \
            repr(sorted(df.collect(), key=by_id))


def test_out_of_range_instants_read_alike(spark, corpus, tmp_path,
                                          monkeypatch):
    """A doc store's 9999-12-31 and 1700-01-01 instants, outside
    pyarrow's nanosecond range, and a pre-1970 one off midnight, whose
    INT96 nanosecond-of-day pyarrow's writer stores negative, read back as
    written on the local and the Spark tier, from either build tier's
    INT96 files."""
    import datetime as dt

    from tests.conftest import forced_spark_build, sized_df
    from veloci_spark.build import build_index
    from veloci_spark.config import webtext_config
    from veloci_spark.synth import WEBTEXT_SCHEMA

    rows = [dict(r) for r in corpus[:6]]
    stamps = [dt.datetime(9999, 12, 31, 12), dt.datetime(1700, 1, 1, 12),
              dt.datetime(1969, 6, 1, 12, 30, 0, 1)]
    for r, ts in zip(rows, stamps):
        r["warc_ts"] = ts
    for spark_build in (False, True):
        d = str(tmp_path / f"idx{int(spark_build)}")
        df = sized_df(spark, rows, WEBTEXT_SCHEMA)
        with forced_spark_build() if spark_build else contextlib.nullcontext():
            build_index(spark, df, webtext_config(segment_docs=4), d)
        local = S.get_docs(S.FulltextIndex(spark, d), [0, 1, 2, 3])
        with monkeypatch.context() as mp:
            mp.setattr(S, "LOCAL_TIER_MAX_SCAN_BYTES", -1)
            on_spark = S.get_docs(S.FulltextIndex(spark, d), [0, 1, 2, 3])
        assert [r["warc_ts"] for r in local[:3]] == stamps
        assert repr(local) == repr(on_spark)


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


def _merged(index, table: str, keys):
    """The local tier's rows before resident tables: the pruned pyarrow
    read of ``table``, then the pandas merge with ``keys`` on its key
    columns — the reference :func:`S._join` must reproduce."""
    columns, key_cols = S._LOCAL_TABLES[table]
    if table == "postings":
        flt = S._posting_filter(keys)
    else:
        flt = S._phrase_filter(list(keys[list(key_cols)].itertuples(
            index=False, name=None)))
    rows = index.arrow_dataset(table).to_table(columns=columns, filter=flt)
    return rows.to_pandas().merge(keys, on=list(key_cols))


def _multiset(frame, columns):
    return sorted(frame[columns].itertuples(index=False, name=None))


class TestResidentTables:
    """Posting and phrase rows found by key (``S._join``) in a resident
    copy or in a pruned read are the rows the pandas merge of a pruned
    read gives, as a multiset."""

    def test_resident_rule(self, spark, spark_index, pruned_index,
                           monkeypatch):
        """A table is resident when its read columns' footer bytes are
        within LOCAL_TIER_MAX_SCAN_BYTES at load; a handle without
        resident tables still runs the local tier, on pruned reads, with
        the same response."""
        req = {**PHRASE, **POST, "explain": True}
        nbytes = {}
        for table in ("postings", "phrase"):
            columns, _keys = S._LOCAL_TABLES[table]
            nbytes[table] = S._footer_bytes(
                spark_index.arrow_dataset(table), None, columns)
            assert spark_index.resident(table).nbytes == nbytes[table] > 0
            assert pruned_index.resident(table) is None
        with monkeypatch.context() as mp:
            mp.setattr(S, "LOCAL_TIER_MAX_SCAN_BYTES", nbytes["postings"])
            at = S.FulltextIndex(spark, spark_index.index_dir)
            assert at.resident("postings") is not None
            assert (at.resident("phrase") is None) == \
                (nbytes["phrase"] > nbytes["postings"])
        want, got = S.search(spark_index, req), S.search(pruned_index, req)
        assert want["explain"]["tier"] == got["explain"]["tier"] == "local"
        assert want["explain"]["scan_bytes"] == sum(nbytes.values())
        assert got["explain"]["scan_bytes"] <= sum(nbytes.values())
        for res in (want, got):
            res.pop("execution_time_ms")
            res["explain"].pop("scan_bytes")
        assert repr(got) == repr(want)

    def test_cache_runs_no_spark_job(self, spark, spark_index):
        """On a local dir ``cache()`` loads the driver dictionary and the
        resident tables with no Spark job; the Spark tier's postings pin
        is made, and filled, by its first use."""
        fresh = S.FulltextIndex(spark, spark_index.index_dir)
        sc = spark.sparkContext
        sc.setJobGroup("cache-no-job", "cache on a local dir")
        try:
            fresh.cache()
        finally:
            sc.setJobGroup("", "")
        assert list(sc.statusTracker().getJobIdsForGroup("cache-no-job")) == []
        assert fresh._local_dict is not None
        assert fresh.resident("postings") is not None
        assert fresh.resident("phrase") is not None
        assert "postings" not in vars(fresh)
        assert fresh.postings.is_cached

    @given(rows=st.lists(st.tuples(st.sampled_from(["text", "title"]),
                                   st.sampled_from("abcd"),
                                   st.sampled_from("abc"),
                                   st.integers(0, 3)), max_size=40),
           keys=st.lists(st.tuples(st.sampled_from(["text", "title", "body"]),
                                   st.sampled_from("abcde"),
                                   st.sampled_from("abcz")), max_size=12))
    @settings(max_examples=80, deadline=None, derandomize=True)
    def test_join_is_the_merge(self, rows, keys):
        """String and integer keys, several fields, absent keys, repeated
        keys, and a (key, segment) split across several rows."""
        import pandas as pd
        import pyarrow as pa

        table = pa.table({
            "field": pa.array([r[0] for r in rows], pa.string()),
            "tok_a": pa.array([r[1] for r in rows], pa.string()),
            "tok_b": pa.array([r[2] for r in rows], pa.string()),
            "term_id": pa.array([ord(r[1]) - 97 for r in rows], pa.int64()),
            "segment": pa.array([r[3] for r in rows], pa.int32()),
            "row": pa.array(range(len(rows)), pa.int64())})
        spec = pd.DataFrame(keys, columns=["field", "tok_a", "tok_b"])
        spec["term_id"] = [ord(a) - 97 for a in spec["tok_a"]]
        spec["leaf_id"] = np.arange(len(spec), dtype=np.int32)
        for key_cols in (("field", "tok_a", "tok_b"), ("field", "term_id")):
            keys_df = spec[[*key_cols, "leaf_id"]]
            got = S._join(S._keyed(table, key_cols), keys_df,
                          ["segment", "row"]).to_pandas()
            want = table.to_pandas().merge(keys_df, on=list(key_cols))
            cols = ["segment", "row", "leaf_id"]
            assert _multiset(got, cols) == _multiset(want, cols)
            assert got["leaf_id"].dtype == np.int32
            segs = [1, 3]
            got = S._join(S._keyed(table, key_cols), keys_df, ["row"],
                          segs).to_pandas()
            assert _multiset(got, ["row", "leaf_id"]) == _multiset(
                want[want["segment"].isin(segs)], ["row", "leaf_id"])

    @given(data=st.data())
    @settings(max_examples=25, deadline=None, derandomize=True)
    def test_kernel_rows_are_the_merge(self, spark_index, pruned_index,
                                       ref_index, data):
        """On the golden index, the kernel-input rows of matched terms
        (text and lang fields, terms repeated across leaves, term ids no
        field holds) and of phrase pairs (absent pairs among them) from
        the resident copy and from the pruned read equal today's pruned
        read plus merge."""
        import pandas as pd

        assert spark_index.resident("postings") is not None
        dicts = {f: spark_index.local_dict(f) for f in ("text", "lang")}
        n_leaves = data.draw(st.integers(1, 4))
        picks = data.draw(st.lists(st.tuples(
            st.integers(0, n_leaves - 1), st.sampled_from(sorted(dicts)),
            st.integers(0, 10_000), st.booleans()), min_size=1, max_size=12))
        matched = pd.DataFrame({
            "field": [f for _l, f, _i, _a in picks],
            "term_id": [int(dicts[f]["term_id"].iloc[i % len(dicts[f])])
                        if not absent else 10**6 + i
                        for _l, f, i, absent in picks],
            "leaf_id": np.array([l for l, *_ in picks], dtype=np.int32),
            "term_score": np.array([0.5 + l for l, *_ in picks],
                                   dtype=np.float32)})
        pairs = sorted(ref_index.fields["text"].phrase_pairs)
        specs = [("text", *pairs[i % len(pairs)]) for i in data.draw(
            st.lists(st.integers(0, 10_000), min_size=1, max_size=4))]
        specs += [("text", "die", "nichtda"), ("lang", *pairs[0])]
        kernel = S._LOCAL_KERNEL_COLS[:-1]
        want = _merged(spark_index, "postings", matched)
        want_p = _merged(spark_index, "phrase", pd.DataFrame(
            [(*s, len(picks) + i) for i, s in enumerate(specs)],
            columns=["field", "tok_a", "tok_b", "leaf_id"]))
        for index in (spark_index, pruned_index):
            got = S._local_posting_rows(index, matched,
                                        S._posting_filter(matched)).to_pandas()
            assert _multiset(got, kernel) == _multiset(want, kernel)
            assert got["doc_ids"].isna().all()
            got = S._local_phrase_rows(index, specs, len(picks),
                                       S._phrase_filter(specs)).to_pandas()
            cols = ["segment", "leaf_id", "docs_bin"]
            assert _multiset(got, cols) == _multiset(want_p, cols)


def test_concurrent_requests_on_fresh_handle(spark, spark_index, ref_index,
                                            monkeypatch):
    """The lazy driver-side dictionary, facet maps, pyarrow datasets and
    resident tables are published whole under a lock: threads racing to
    fill fresh handles all get the single-thread response, and each
    handle loads each resident table once."""
    from collections import Counter
    from concurrent.futures import ThreadPoolExecutor

    terms = ref_index.fields["text"].terms[100:1100:125]
    a, b = sorted(ref_index.fields["text"].phrase_pairs)[0]
    req = {"or": [{"search": {"terms": [t], "path": "text"}} for t in terms],
           "top": 5, "facets": [{"field": "lang", "top": 5}],
           "phrase_boosts": [{"path": "text",
                              "search1": {"terms": [a], "path": "text"},
                              "search2": {"terms": [b], "path": "text"}}]}
    want = _result(S.search(spark_index, req))
    assert want[0] > 0
    loads = Counter()
    load = S.FulltextIndex._load_resident

    def counted(index, table):
        loads[table] += 1
        return load(index, table)

    monkeypatch.setattr(S.FulltextIndex, "_load_resident", counted)
    n_threads = 12
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)  # switch threads inside the lazy fills
    try:
        for _round in range(3):
            fresh = S.FulltextIndex(spark, spark_index.index_dir)
            loads.clear()
            barrier = threading.Barrier(n_threads, timeout=60)

            def one(_):
                barrier.wait()
                res = S.search(fresh, {**req, "explain": True})
                return _result(res), res["explain"]["tier"]

            with ThreadPoolExecutor(max_workers=n_threads) as ex:
                got = list(ex.map(one, range(n_threads), timeout=300))
            assert got == [(want, "local")] * n_threads
            for table in ("postings", "phrase"):
                assert loads[table] == 1
                kt = fresh.resident(table)
                assert kt.table.num_rows == len(kt.keys) == \
                    fresh.arrow_dataset(table).count_rows()
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

    REQS = [PHRASE, {**EXACT, "facets": [{"field": "lang", "top": 5}]},
            {"search": {"terms": ["majes"], "path": "text",
                        "starts_with": True}, "top": 10}]
    STAGES = ("docs", "tokens", "dict", "postings", "phrase")

    def _build(self, spark, corpus, d, spark_tier):
        from tests.conftest import forced_spark_build
        from veloci_spark.build import build_index
        from veloci_spark.config import webtext_config

        args = (spark, self._df(spark, corpus),
                webtext_config(segment_docs=32), d)
        if not spark_tier:
            return build_index(*args)
        with forced_spark_build():
            return build_index(*args)

    def _markers(self, d):
        """{stage: marker ts} of the stages marked done."""
        out = {}
        for s in self.STAGES:
            if os.path.exists(f"{d}/_stage_{s}.done"):
                with open(f"{d}/_stage_{s}.done") as f:
                    out[s] = json.load(f)["ts"]
        return out

    def _results(self, spark, d):
        idx = S.FulltextIndex(spark, d)
        return [_result(S.search(idx, r)) for r in self.REQS]

    @staticmethod
    def _no_transient(d):
        for name in ("_tokens", "_occ"):
            assert not os.path.exists(f"{d}/{name}"), name

    def test_resume_across_tiers(self, spark, corpus, tmp_path, monkeypatch):
        """A build that stops at a stage resumes on the other tier from the
        stopped build's _tokens/ (term entries and phrase pairs): the
        stages marked done, tokens included, do not run again."""
        import pytest

        from veloci_spark import build as B

        want_dir = str(tmp_path / "want")
        assert self._build(spark, corpus, want_dir, False)["build_tier"] == \
            "local"
        want = self._results(spark, want_dir)
        mark = B._mark_stage
        # the local tier stops before marking postings, the Spark tier
        # before marking dict (its _occ/ written)
        for first_on_spark, stop in ((False, "postings"), (True, "dict")):
            d = str(tmp_path / stop)

            def stopping(index_dir, name, *a, **k):
                if name == stop:
                    raise RuntimeError(f"stopped at {name}")
                return mark(index_dir, name, *a, **k)

            with monkeypatch.context() as mp:
                mp.setattr(B, "_mark_stage", stopping)
                with pytest.raises(RuntimeError, match="stopped at"):
                    self._build(spark, corpus, d, first_on_spark)
            before = self._markers(d)
            assert "tokens" in before and stop not in before
            assert os.path.isdir(f"{d}/_tokens")
            m = self._build(spark, corpus, d, not first_on_spark)
            assert m["build_tier"] == ("local" if first_on_spark else "spark")
            after = self._markers(d)
            assert set(after) == set(self.STAGES)
            assert {s: after[s] for s in before} == before
            self._no_transient(d)
            assert self._results(spark, d) == want

    def test_resume_reruns_tokens_for_a_removed_output(self, spark, corpus,
                                                        tmp_path):
        """A completed build keeps no _tokens/: a stage run again reruns
        the tokens stage first, and nothing else."""
        d = str(tmp_path / "idx")
        self._build(spark, corpus, d, False)
        self._no_transient(d)
        want = self._results(spark, d)
        before = self._markers(d)
        assert set(before) == set(self.STAGES)
        self._build(spark, corpus, d, False)
        assert self._markers(d) == before
        for stage, spark_tier in (("phrase", False), ("postings", True)):
            os.remove(f"{d}/_stage_{stage}.done")
            before = self._markers(d)
            self._build(spark, corpus, d, spark_tier)
            after = self._markers(d)
            assert {s for s in self.STAGES if after[s] != before.get(s)} == \
                {"tokens", stage}
            self._no_transient(d)
            assert self._results(spark, d) == want
