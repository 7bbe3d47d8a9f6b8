"""End-to-end differential tests: Spark engine vs the pure-Python oracle
(veloci_spark.pyref) on the synthetic webtext corpus, plus golden ranking
assertions ported from the reference test expectations (FIXTURES.md §2)."""

import numpy as np
import pytest

from veloci_spark import pyref
from tests.conftest import SEGMENT_DOCS, sorted_rows as _sorted_rows


def url_of(corpus, doc_id):
    return corpus[doc_id]["url"].removeprefix("https://example.org/")


# ---------------------------------------------------------------------------
# build-side parity


def test_dictionary_matches_oracle(spark_index, ref_index):
    got = (
        spark_index.dict_df.where("field = 'text'")
        .orderBy("term_id").toPandas()
    )
    f = ref_index.fields["text"]
    assert list(got["term"]) == f.terms
    assert list(got["term_id"]) == list(range(len(f.terms)))
    occ = dict(zip(got["term"], got["num_occurences"]))
    assert occ == f.occ


def test_postings_match_oracle(spark_index, ref_index):
    from veloci_spark.vbyte import unpack_postings

    rows = spark_index.postings.where("field = 'text'").toPandas()
    tid_to_term = {i: t for i, t in enumerate(ref_index.fields["text"].terms)}
    got: dict[str, dict[int, int]] = {}
    for _, r in rows.iterrows():
        docs, scores = unpack_postings(r["docs_bin"], r["scores_bin"])
        docs = docs + int(r["segment"]) * SEGMENT_DOCS  # stored segment-relative
        plist = got.setdefault(tid_to_term[r["term_id"]], {})
        for d, s in zip(docs, scores):
            assert d not in plist  # (term, doc) unique across segments
            plist[int(d)] = int(s)
        assert int(r["max_score"]) == int(scores.max())
        assert int(r["df"]) == len(docs)
        seg = int(r["segment"])
        assert all(seg == d // SEGMENT_DOCS for d in docs)
    assert got == ref_index.fields["text"].postings


def test_phrase_index_matches_oracle(spark_index, ref_index):
    # packed layout (v6): decode the per-(pair, segment) id lists, then the
    # pair→doc-set mapping must equal the reference model's
    from veloci_spark.vbyte import unpack_ids

    packed = spark_index.phrase.where("field = 'text'").toPandas()
    got: dict[tuple, set] = {}
    for _, r in packed.iterrows():
        ids = unpack_ids(r["docs_bin"]) + int(r["segment"]) * SEGMENT_DOCS
        for d in ids:
            assert int(d) // SEGMENT_DOCS == int(r["segment"])
            got.setdefault((r["tok_a"], r["tok_b"]), set()).add(int(d))
    assert got == ref_index.fields["text"].phrase_pairs

    # the decode helper round-trips to the same per-doc rows
    from veloci_spark.search import phrase_doc_rows

    some = sorted(got)[:5]
    dec = phrase_doc_rows(spark_index,
                          [a for a, _ in some], [b for _, b in some]).toPandas()
    for a, b in some:
        sub = dec[(dec["tok_a"] == a) & (dec["tok_b"] == b)]
        assert set(sub["doc_id"].astype(int)) == got[(a, b)]


# ---------------------------------------------------------------------------
# query-side differential battery (reference query shapes, FIXTURES.md §3)

REQUESTS = [
    # q01 exact term
    {"search": {"terms": ["urge"], "path": "text"}, "top": 10},
    # q02 fuzzy d=1 with max-dedup per doc
    {"search": {"terms": ["majestätischer"], "path": "text",
                "levenshtein_distance": 1}, "top": 10},
    # q03 OR — sum(max per term) × n²
    {"or": [{"search": {"terms": ["will"], "path": "text"}},
            {"search": {"terms": ["urge"], "path": "text"}}], "top": 10},
    {"or": [{"search": {"terms": ["greg"], "path": "text"}},
            {"search": {"terms": ["tagebuch"], "path": "text"}},
            {"search": {"terms": ["05"], "path": "text"}}], "top": 20},
    # q04 AND — sum of leg scores
    {"and": [{"search": {"terms": ["greg"], "path": "text"}},
             {"search": {"terms": ["tagebuch"], "path": "text"}}], "top": 10},
    # q05 OR + filter subtree
    {"or": [{"search": {"terms": ["greg"], "path": "text"}},
            {"search": {"terms": ["text"], "path": "text"}}],
     "filter": {"search": {"terms": ["de"], "path": "lang"}}, "top": 20},
    # q06 phrase boost ×5
    {"search": {"terms": ["erbin"], "path": "text"},
     "phrase_boosts": [{"path": "text",
                        "search1": {"terms": ["die"], "path": "text"},
                        "search2": {"terms": ["erbin"], "path": "text"}}],
     "top": 10},
    # q07 locality 2n²
    {"or": [{"search": {"terms": ["text"], "path": "text"}},
            {"search": {"terms": ["localität"], "path": "text"}}],
     "text_locality": True, "top": 10},
    # q08 term boost
    {"or": [{"search": {"terms": ["will"], "path": "text"}},
            {"search": {"terms": ["urge"], "path": "text"}}],
     "boost_term": [{"terms": ["testo"], "path": "text", "boost": 5.0}], "top": 10},
    # q09 prefix
    {"search": {"terms": ["majes"], "path": "text", "starts_with": True}, "top": 10},
    # q10 paging
    {"or": [{"search": {"terms": ["greg"], "path": "text"}},
            {"search": {"terms": ["tagebuch"], "path": "text"}}],
     "top": 1, "skip": 1},
    # q12 regex
    {"search": {"terms": [".*myfun.*"], "path": "text", "is_regex": True}, "top": 10},
    # multi-term leaf (implicit OR), multi-field OR expansion shares the tag
    {"search": {"terms": ["karl", "karlo"], "path": "text"}, "top": 10},
    {"or": [{"search": {"terms": ["urge"], "path": "text"}},
            {"search": {"terms": ["urge"], "path": "url", "starts_with": True}}],
     "top": 10},
    # nested boolean
    {"or": [{"and": [{"search": {"terms": ["greg"], "path": "text"}},
                     {"search": {"terms": ["05"], "path": "text"}}]},
            {"search": {"terms": ["erbin"], "path": "text"}}], "top": 10},
    # fuzzy prefix
    {"search": {"terms": ["majestätisch"], "path": "text",
                "levenshtein_distance": 1, "starts_with": True}, "top": 10},
    # leaf boost factor
    {"or": [{"search": {"terms": ["will"], "path": "text", "boost": 3.0}},
            {"search": {"terms": ["urge"], "path": "text"}}], "top": 10},
]


def _check_request(spark_index, ref_index, req):
    from veloci_spark.search import search

    got = search(spark_index, req)
    want = pyref.search_request(ref_index, req)
    got_pairs = [(d["doc_id"], np.float32(d["score"])) for d in got["data"]]
    want_pairs = [(d, np.float32(s)) for d, s in want]
    assert [p[0] for p in got_pairs] == [p[0] for p in want_pairs]
    for (gd, gs), (wd, ws) in zip(got_pairs, want_pairs):
        assert gs == ws, (gd, gs, ws)


@pytest.mark.parametrize("req", REQUESTS, ids=lambda r: str(r)[:60])
def test_request_matches_oracle(spark_index, ref_index, req):
    _check_request(spark_index, ref_index, req)


@pytest.mark.parametrize("req", REQUESTS, ids=lambda r: str(r)[:60])
def test_request_matches_oracle_spark_tier(spark_index, ref_index, req,
                                           spark_tier):
    _check_request(spark_index, ref_index, req)


@pytest.mark.parametrize("req", REQUESTS, ids=lambda r: str(r)[:60])
def test_request_matches_oracle_pruned_reads(pruned_index, ref_index, req):
    _check_request(pruned_index, ref_index, req)


@pytest.mark.parametrize("req", REQUESTS, ids=lambda r: str(r)[:60])
def test_request_matches_oracle_spark_build(spark_build_index, ref_index,
                                            req):
    _check_request(spark_build_index, ref_index, req)


@pytest.mark.parametrize("term,kw", [
    ("urge", {}),
    ("majestätischer", {"levenshtein": 1}),
    ("majes", {"starts_with": True}),
    ("majestätisch", {"levenshtein": 1, "starts_with": True}),
    (".*myfun.*", {"is_regex": True}),
    ("tagebuch", {"top": 3}),
])
def test_distributed_dict_matches_local(spark_index, spark, term, kw):
    """The Spark-job dictionary path (big-dict fallback) must select and
    score identically to the driver-local fast path."""
    from veloci_spark.search import FulltextIndex, match_terms

    dist = FulltextIndex(spark, spark_index.index_dir, local_dict_max_terms=0)
    a = match_terms(spark_index, "text", term, **kw)
    b = match_terms(dist, "text", term, **kw)
    key = ["term", "term_id"]
    a = a.sort_values(key).reset_index(drop=True)
    b = b.sort_values(key).reset_index(drop=True)
    assert list(a["term"]) == list(b["term"])
    assert list(a["term_id"]) == list(b["term_id"])
    assert list(a["distance"]) == list(b["distance"])
    assert list(np.float32(a["score"])) == list(np.float32(b["score"]))


class TestIdentityField:
    """url is an identity column: no dictionary/postings are built, queries
    resolve against the doc store (reference identity shortcut)."""

    def test_no_url_dictionary(self, spark_index):
        assert spark_index.dict_df.where("field = 'url'").count() == 0
        assert spark_index.postings.join(
            spark_index.dict_df.where("field = 'url'"), "term_id", "left_semi"
        ).count() == 0

    def test_exact_url_search_matches_oracle(self, spark_index, ref_index, corpus):
        from veloci_spark.search import search

        url = corpus[10]["url"]
        req = {"search": {"terms": [url], "path": "url"}, "top": 5}
        got = search(spark_index, req)
        want = pyref.search_request(ref_index, req)
        assert [d["doc_id"] for d in got["data"]] == [d for d, _ in want] == [10]
        assert np.float32(got["data"][0]["score"]) == np.float32(want[0][1])

    def test_url_prefix_matches_oracle(self, spark_index, ref_index):
        from veloci_spark.search import search

        req = {"search": {"terms": ["https://example.org/golden/scores/"],
                          "path": "url", "starts_with": True}, "top": 10}
        got = search(spark_index, req)
        want = pyref.search_request(ref_index, req)
        assert [d["doc_id"] for d in got["data"]] == [d for d, _ in want]
        assert len(got["data"]) == 3

    def test_match_terms_identity(self, spark_index, corpus):
        from veloci_spark.search import match_terms

        m = match_terms(spark_index, "url", corpus[7]["url"])
        assert len(m) == 1
        assert m.iloc[0]["term_id"] == 7  # term_id ≡ doc_id for order column

    def test_identity_leaf_top_applied(self, spark_index):
        # per-leaf top on an identity leaf truncates matched VALUES to the
        # best top+skip by (score DESC, doc_id DESC) — round-2 this was a
        # silent no-op that returned everything.
        from veloci_spark.search import search

        base = {"search": {"terms": ["https://example.org/"],
                           "path": "url", "starts_with": True}, "top": 100}
        all_hits = search(spark_index, base)
        assert len(all_hits["data"]) > 3
        capped_req = {"search": {"terms": ["https://example.org/"],
                                 "path": "url", "starts_with": True,
                                 "top": 3}, "top": 100}
        capped = search(spark_index, capped_req)
        assert len(capped["data"]) == 3
        # identical scores (prefix match) → doc_id DESC tie-break wins
        want = sorted(all_hits["data"],
                      key=lambda d: (-d["score"], -d["doc_id"]))[:3]
        assert ([d["doc_id"] for d in capped["data"]]
                == sorted((d["doc_id"] for d in want), reverse=True))


    def test_explain_fuzzy_identity_term_score(self, spark_index, corpus):
        """A distance-1 identity leaf's explain step reports the selection's
        term score itself (final / (f16(stored)/100) is one f32 ulp off)."""
        from veloci_spark.scoring import term_score
        from veloci_spark.search import search

        url = corpus[10]["url"]
        typo = url[:-1] + ("x" if url[-1] != "x" else "y")
        res = search(spark_index, {
            "search": {"terms": [typo], "path": "url",
                       "levenshtein_distance": 1},
            "top": 5, "explain_hits": True})
        steps = [s for d in res["data"] if d["doc_id"] == 10
                 for s in d["explain"] if s["step"] == "term_to_anchor"]
        assert steps
        for s in steps:
            assert s["term_score"] == float(term_score([1], [False])[0])


class TestIdentityJvmSelection:
    """VERDICT r4 #1: identity-field SELECTION runs as whole-stage-codegen
    predicates (exact / prefix / regex / fuzzy), never a per-value Python
    scan of the doc store; Python only scores the bounded matched set.
    Parity vs the Python-path oracle (pyref builds url as an ordinary
    storable-text dictionary, so it IS the identity-semantics oracle)."""

    SHAPES = {
        "exact": {"terms": ["https://example.org/golden/scores/01"]},
        "prefix": {"terms": ["https://example.org/golden/"],
                   "starts_with": True},
        "regex": {"terms": [".*golden/scores/0[12]"], "is_regex": True},
        "fuzzy": {"terms": ["https://example.org/golden/scores/0X"],
                  "levenshtein_distance": 1},
        # r5: the .starts_with() automaton as an OR of bounded levenshteins
        # over prefix lengths — JVM-side like every other shape
        "prefix_fuzzy": {"terms": ["https://example.org/gXlden/"],
                         "starts_with": True, "levenshtein_distance": 1},
    }

    @pytest.mark.parametrize("shape", sorted(SHAPES))
    def test_search_parity_vs_python_path(self, spark_index, ref_index, shape):
        from veloci_spark.search import search

        req = {"search": {**self.SHAPES[shape], "path": "url"}, "top": 50}
        got = search(spark_index, req)
        want = pyref.search_request(ref_index, req)
        assert [d["doc_id"] for d in got["data"]] == [d for d, _ in want]
        assert ([np.float32(d["score"]) for d in got["data"]]
                == [np.float32(s) for _, s in want])
        assert got["data"], f"shape {shape} matched nothing — test is vacuous"

    @pytest.mark.parametrize("shape", sorted(SHAPES))
    def test_match_terms_parity(self, spark_index, ref_index, shape):
        from veloci_spark.search import match_terms

        opts = self.SHAPES[shape]
        got = match_terms(spark_index, "url", opts["terms"][0],
                          levenshtein=opts.get("levenshtein_distance", 0),
                          starts_with=opts.get("starts_with", False),
                          is_regex=opts.get("is_regex", False))
        want = ref_index.match_terms("url", opts["terms"][0],
                                     levenshtein=opts.get("levenshtein_distance", 0),
                                     starts_with=opts.get("starts_with", False),
                                     is_regex=opts.get("is_regex", False))
        assert sorted(got["term"]) == sorted(t for t, _i, _s in want)
        assert not got.empty

    @pytest.mark.parametrize("shape", sorted(SHAPES))
    def test_selection_plan_has_no_python_udf(self, spark_index, shape, capsys):
        """The kernel-input plan for an identity leaf: the ONLY Python stage
        is the f32 scoring UDF over already-selected rows; selection itself
        is a codegen'd Filter (levenshtein / RLIKE / StartsWith / equality)
        that sits below the Python eval (runs first)."""
        from veloci_spark.search import _Leaf, _identity_leaf_rows

        opts = self.SHAPES[shape]
        leaf = _Leaf(0, "url", opts["terms"][0],
                     {"levenshtein": opts.get("levenshtein_distance", 0),
                      "starts_with": opts.get("starts_with", False),
                      "is_regex": opts.get("is_regex", False)}, None)
        df = _identity_leaf_rows(spark_index, leaf)
        df.explain()  # simple mode: each physical node printed exactly once
        plan = capsys.readouterr().out
        # exactly ONE Python evaluation: the fused score+NaN-filter pass
        # (selection itself is pure codegen)
        assert plan.count("MapInPandas") == 1
        assert plan.count("ArrowEvalPython") == 0
        marker = {"exact": "= https://example.org/golden/scores/01",
                  "prefix": "StartsWith",
                  "regex": "RLIKE",
                  "fuzzy": "levenshtein",
                  "prefix_fuzzy": "levenshtein"}[shape]
        sel_line = next(l for l in plan.splitlines() if marker in l)
        assert "pythonUDF" not in sel_line
        # the selection filter must run BEFORE (print below) the Python eval
        assert plan.index(marker) > plan.index("MapInPandas")


class TestPartitionPreMerge:
    """VERDICT r4 #2: the plain top-k driver merge collects partitions ×
    (k+1) rows, not segments × (k+1) — a partition-level pre-merge chained
    onto the kernel stage sums the per-segment exact counts and keeps each
    partition's k best rows."""

    def test_bounded_rows_and_exact_merge(self, spark):
        import pandas as pd
        import pyarrow as pa

        from veloci_spark.search import _partition_topk_factory

        # 40 "segments" of kernel output (3 hits + exact count each) spread
        # over 4 partitions — far more segments than partitions
        recs = []
        for seg in range(40):
            for j in range(3):
                recs.append((seg * 100 + j, float(seg + j * 0.25),
                             17 if j == 0 else 0))
        pdf = pd.DataFrame(recs, columns=["doc_id", "score", "seg_hits"])
        hits = spark.createDataFrame(pdf).repartition(4)
        k = 10
        rows = (hits.mapInArrow(_partition_topk_factory(k, count_col="seg_hits"),
                                schema="doc_id long, score float, cnt long")
                .collect())
        assert len(rows) <= 4 * (k + 1)          # bounded by partitions, not segments
        assert sum(r["cnt"] for r in rows) == 40 * 17  # counts survive the merge
        import numpy as np
        got = sorted(((r["score"], r["doc_id"]) for r in rows), reverse=True)[:k]
        want = sorted(((s, d) for d, s, _c in recs), reverse=True)[:k]
        assert [(np.float32(s), d) for s, d in got] \
            == [(np.float32(s), d) for s, d in want]
        # the local tier runs the same function over its kernel output as
        # ONE driver-side partition: same count, same k best rows
        batch = pa.RecordBatch.from_pandas(pdf, preserve_index=False)
        local = pa.Table.from_batches(list(
            _partition_topk_factory(k, count_col="seg_hits")(
                iter([batch.slice(0, 50), batch.slice(50)])))).to_pandas()
        assert int(local["cnt"].sum()) == 40 * 17
        assert [(np.float32(s), d) for d, s in
                zip(local["doc_id"], local["score"])] \
            == [(np.float32(s), d) for s, d in want]

    def test_search_plain_path_unchanged(self, spark_index, ref_index):
        # end-to-end: plain top-k result + exact count identical through the
        # pre-merge (multi-segment index, broad one-letter prefix query)
        self._check_plain_path(spark_index, ref_index)

    def test_search_plain_path_unchanged_spark_tier(self, spark_index,
                                                    ref_index, spark_tier):
        self._check_plain_path(spark_index, ref_index)

    @staticmethod
    def _check_plain_path(spark_index, ref_index):
        from veloci_spark.search import search

        req = {"search": {"terms": ["s"], "path": "text",
                          "starts_with": True}, "top": 7}
        got = search(spark_index, req)
        want = pyref.search_request(ref_index, req)
        assert [d["doc_id"] for d in got["data"]] == [d for d, _ in want][:7]
        full = search(spark_index, {**req, "exact_count": True})
        assert got["num_hits"] == full["num_hits"]
        assert got["num_hits_exact"] is True


# ---------------------------------------------------------------------------
# golden ranking assertions (independent of both implementations)


def test_exact_text_beats_token_match(spark_index, corpus):
    # reference tests.rs:503-514: doc whose full text == "will" ranks above
    # the doc that merely contains the token
    from veloci_spark.search import search

    res = search(spark_index, {"search": {"terms": ["will"], "path": "text"}, "top": 10})
    urls = [url_of(corpus, d["doc_id"]) for d in res["data"]]
    assert urls[0] == "golden/basic/00"
    assert "golden/basic/01" in urls


def test_phrase_ranking_golden(spark_index, corpus):
    # test_scores.rs:57-76: with phrase boost (greg,tagebuch) expected order
    # is scores/00, scores/02, scores/01
    from veloci_spark.search import search

    req = {
        "or": [{"search": {"terms": ["greg"], "path": "text"}},
               {"search": {"terms": ["tagebuch"], "path": "text"}},
               {"search": {"terms": ["05"], "path": "text"}}],
        "phrase_boosts": [{"path": "text",
                           "search1": {"terms": ["greg"], "path": "text"},
                           "search2": {"terms": ["tagebuch"], "path": "text"}}],
        "top": 10,
    }
    res = search(spark_index, req)
    urls = [url_of(corpus, d["doc_id"]) for d in res["data"]]
    ranked = [u for u in urls if u.startswith("golden/scores/")]
    assert ranked == ["golden/scores/00", "golden/scores/02", "golden/scores/01"]


def test_long_text_not_in_dictionary(spark_index, ref_index):
    # tests_large.rs:30-36: >64-byte text must not be a dictionary term, but
    # token search still hits the doc
    from veloci_spark.search import search

    long_text = next(t for t in [r["text"] for r in _sorted_rows()]
                     if "considerably longer" in t)
    n = spark_index.dict_df.where(
        (spark_index.dict_df.field == "text") & (spark_index.dict_df.term == long_text)
    ).count()
    assert n == 0
    res = search(spark_index, {"search": {"terms": ["considerably"], "path": "text"}, "top": 10})
    assert len(res["data"]) == 1


def test_facets(spark_index, ref_index, corpus):
    from veloci_spark.search import search

    res = search(spark_index, {
        "search": {"terms": ["majestätisch"], "path": "text",
                   "levenshtein_distance": 2, "starts_with": True},
        "facets": [{"field": "lang", "top": 5}], "top": 10})
    want = {}
    for d, _s in pyref.search_request(
            ref_index, {"search": {"terms": ["majestätisch"], "path": "text",
                                   "levenshtein_distance": 2, "starts_with": True},
                        "top": None}):
        want[corpus[d]["lang"]] = want.get(corpus[d]["lang"], 0) + 1
    got = dict(res["facets"]["lang"])
    assert got == want


def test_facet_path_ranking_matches_plain_path(spark_index):
    # the emit-all path ranks via ONE partition-local count+top-k pass
    # (_partition_topk_factory) instead of count() + TakeOrdered jobs; its
    # ranking, paging, and num_hits must be identical to the plain path's
    from veloci_spark.search import search

    base = {"or": [{"search": {"terms": ["greg"], "path": "text"}},
                   {"search": {"terms": ["text"], "path": "text"}}]}
    for skip in (0, 2):
        req = {**base, "top": 3, "skip": skip}
        plain = search(spark_index, req)
        facet = search(spark_index, {**req,
                                     "facets": [{"field": "lang", "top": 5}]})
        assert facet["num_hits"] == plain["num_hits"]
        assert facet["num_hits_exact"] and plain["num_hits_exact"]
        assert [(d["doc_id"], d["score"]) for d in facet["data"]] == \
            [(d["doc_id"], d["score"]) for d in plain["data"]]


def test_facet_fused_matches_join_path(spark_index, monkeypatch):
    # the fused single-job facet kernel (driver-resident doc→value map,
    # _partition_topk_factory's facet_maps) and the Spark-join fallback must
    # produce identical counts, ordering, truncation, ranking, and num_hits
    from veloci_spark import search as S

    req = {"or": [{"search": {"terms": ["greg"], "path": "text"}},
                  {"search": {"terms": ["text"], "path": "text"}}],
           "facets": [{"field": "lang", "top": 3}], "top": 5}
    assert spark_index.facet_map("lang") is not None  # fused path active
    fused = S.search(spark_index, req)
    monkeypatch.setattr(S.FulltextIndex, "facet_map",
                        lambda self, fld: None)
    joined = S.search(spark_index, req)
    assert fused["facets"] == joined["facets"]
    assert fused["num_hits"] == joined["num_hits"]
    assert [(d["doc_id"], d["score"]) for d in fused["data"]] == \
        [(d["doc_id"], d["score"]) for d in joined["data"]]


def test_suggest(spark_index):
    from veloci_spark.search import suggest

    got = suggest(spark_index, "text", "majes")
    assert [t for t, _s in got][:2] == ["majestät", "majestätischer"] or \
        all(t.startswith("majes") for t, _s in got)
    assert len(got) >= 3


def test_paging_consistency(spark_index, ref_index):
    from veloci_spark.search import search

    base = {"or": [{"search": {"terms": ["greg"], "path": "text"}},
                   {"search": {"terms": ["text"], "path": "text"}}]}
    full = search(spark_index, {**base, "top": 6})["data"]
    paged = []
    for skip in range(0, 6, 2):
        paged.extend(search(spark_index, {**base, "top": 2, "skip": skip})["data"])
    assert [d["doc_id"] for d in paged] == [d["doc_id"] for d in full]


def test_request_cannot_set_tombstone_inputs(spark_index):
    """A streamed generation's tombstones reach the planner as keyword
    arguments, never through the request: a request (say, a server POST
    body) naming every doc of every segment as deleted, with a huge top-k
    widening, gets exactly the plain request's answer."""
    from veloci_spark.search import search

    seg_docs = int(spark_index.manifest["segment_docs"])
    n_segs = -(-int(spark_index.manifest["n_docs"]) // seg_docs)
    for req in ({"search": {"terms": ["die"], "path": "text"}, "top": 5},
                {"or": [{"search": {"terms": ["greg"], "path": "text"}},
                        {"search": {"terms": ["text"], "path": "text"}}],
                 "top": 3, "facets": [{"field": "lang"}]}):
        plain = search(spark_index, req)
        keyed = search(spark_index, {
            **req,
            "_seg_deleted": {str(s): list(range(seg_docs))
                             for s in range(n_segs)},
            "_seg_top_extra": {str(s): 10**6 for s in range(n_segs)}})
        assert plain["num_hits"] > 0
        for res in (plain, keyed):
            res.pop("execution_time_ms")
        assert keyed == plain


# a one-child OR/AND scores as its child (eval_tree, pyref's union_score /
# intersect_score); the WAND kernel prunes it as one leg
ONE_CHILD_LEAVES = [
    {"terms": ["die"], "path": "text"},
    {"terms": ["majes"], "path": "text", "starts_with": True},
]


def _check_one_child_nodes(index, ref_index):
    from veloci_spark.search import search

    for leaf in ONE_CHILD_LEAVES:
        plain = search(index, {"search": leaf, "top": 3})
        assert plain["num_hits"] > 0
        for op in ("and", "or"):
            req = {op: [{"search": leaf}], "top": 3}
            got = search(index, req)
            assert got["data"] == plain["data"], req
            assert got["num_hits"] == plain["num_hits"], req
            _check_request(index, ref_index, req)


def test_one_child_node_scores_as_child(spark_index, ref_index):
    _check_one_child_nodes(spark_index, ref_index)


def test_one_child_node_scores_as_child_spark_tier(spark_index, ref_index,
                                                   spark_tier):
    _check_one_child_nodes(spark_index, ref_index)


def test_why_found_request_prunes_on_both_tiers(spark_index, ref_index,
                                                monkeypatch):
    """why_found reads postings for the result ids only, so it no longer
    forces the full hit set: its plan prunes (WAND top-k), and hits, count
    and why_found are equal on the local and the Spark tier and match the
    plain request and the oracle."""
    from veloci_spark import search as S

    req = {"or": [{"search": {"terms": ["die"], "path": "text"}},
                  {"search": {"terms": ["der"], "path": "text"}}], "top": 5}
    wf = {**req, "why_found": True, "explain": True}
    plan = S._plan_search(spark_index, wf).plan
    assert plan["wand"] and plan["top"] == 5
    local = S.search(spark_index, wf)
    monkeypatch.setattr(S, "LOCAL_TIER_MAX_POSTINGS", 0)
    monkeypatch.setattr(S, "LOCAL_TIER_MAX_SCAN_BYTES", -1)
    spark = S.search(spark_index, wf)
    assert (local["explain"]["tier"], spark["explain"]["tier"]) == ("local",
                                                                    "spark")
    assert local["explain"]["wand"] and spark["explain"]["wand"]
    plain = S.search(spark_index, req)
    for res in (local, spark):
        assert res["data"] == local["data"]
        assert res["num_hits"] == plain["num_hits"]
        assert ([(d["doc_id"], d["score"]) for d in res["data"]]
                == [(d["doc_id"], d["score"]) for d in plain["data"]])
    assert all(d["why_found"] for d in local["data"])
    _check_request(spark_index, ref_index, req)


class TestResumeValidation:
    """Stale-index invalidation (round-1 red-row regression): a stage marker
    written by a different layout/config fingerprint must not be trusted."""

    def test_fingerprint_changes_with_config_and_layout(self):
        from veloci_spark.build import index_fingerprint
        from veloci_spark.config import IndexConfig, FieldConfig

        a = IndexConfig(fields=(FieldConfig("text"),), segment_docs=64)
        b = IndexConfig(fields=(FieldConfig("text"),), segment_docs=128)
        c = IndexConfig(fields=(FieldConfig("text", phrase_pairs=False),),
                        segment_docs=64)
        assert index_fingerprint(a) != index_fingerprint(b)
        assert index_fingerprint(a) != index_fingerprint(c)
        assert index_fingerprint(a) == index_fingerprint(a)
        assert index_fingerprint(a, "data-v1") != index_fingerprint(a, "data-v2")

    def test_stale_marker_triggers_rebuild(self, spark, corpus, tmp_path):
        import json
        import os

        from veloci_spark.build import build_index
        from veloci_spark.config import webtext_config

        d = str(tmp_path / "idx")
        cfg = webtext_config(segment_docs=SEGMENT_DOCS, doc_id_col="doc_id")
        docs = spark.createDataFrame(corpus)
        build_index(spark, docs, cfg, d)
        phrase_marker = os.path.join(d, "_stage_phrase.done")
        with open(phrase_marker) as f:
            before = json.load(f)
        # simulate a marker from an older code version
        before["fingerprint"] = "deadbeefdeadbeef"
        with open(phrase_marker, "w") as f:
            json.dump(before, f)
        t_before = os.path.getmtime(os.path.join(d, "phrase"))
        build_index(spark, docs, cfg, d)  # must rebuild the phrase stage
        with open(phrase_marker) as f:
            after = json.load(f)
        assert after["fingerprint"] != "deadbeefdeadbeef"
        assert os.path.getmtime(os.path.join(d, "phrase")) >= t_before

    def test_wrong_layout_version_rejected(self, spark, corpus, tmp_path):
        import json
        import os

        import pytest as _pytest

        from veloci_spark.build import build_index
        from veloci_spark.config import webtext_config
        from veloci_spark.search import FulltextIndex

        d = str(tmp_path / "idx2")
        cfg = webtext_config(segment_docs=SEGMENT_DOCS, doc_id_col="doc_id")
        build_index(spark, spark.createDataFrame(corpus), cfg, d)
        mpath = os.path.join(d, "manifest.json")
        with open(mpath) as f:
            m = json.load(f)
        m["version"] = 1
        with open(mpath, "w") as f:
            json.dump(m, f)
        with _pytest.raises(ValueError, match="layout version"):
            FulltextIndex(spark, d)


class TestWandOr:
    """The WAND kernel (_wand_tree_segment) over a lone leaf or an OR/AND
    of leaves: exact vs eval_tree, and rows whose upper bound cannot reach
    the kth score are never decoded."""

    @staticmethod
    def _row(leaf_id, term_score, ids, stored):
        from veloci_spark.vbyte import pack_postings

        ids = np.asarray(ids, dtype=np.int64)
        stored = np.asarray(stored, dtype=np.uint32)
        docs_bin, scores_bin = pack_postings(ids, stored)
        return {"leaf_id": leaf_id, "term_score": float(term_score),
                "max_score": int(stored.max()), "docs_bin": docs_bin,
                "scores_bin": scores_bin}

    @staticmethod
    def _seg(rows):
        """One segment's kernel input: the rows as the kernel's Arrow
        input, decoded by the kernel's own reader (scores left packed, as
        the WAND kernel gets them)."""
        import pyarrow as pa

        from veloci_spark import search as S

        table = pa.table({
            "segment": pa.array([0] * len(rows), pa.int32()),
            "leaf_id": pa.array([r["leaf_id"] for r in rows], pa.int32()),
            "term_score": pa.array([r["term_score"] for r in rows],
                                   pa.float32()),
            "max_score": pa.array([r["max_score"] for r in rows], pa.int64()),
            "docs_bin": pa.array([r["docs_bin"] for r in rows], pa.binary()),
            "scores_bin": pa.array([r["scores_bin"] for r in rows],
                                   pa.binary()),
            "doc_ids": pa.nulls(len(rows), pa.list_(pa.int64()))})
        return S._kernel_rows(table, 256, False)

    @staticmethod
    def _node(op, tag_of_leaf):
        """The planner's WAND node: a lone leaf, or an OR/AND of leaves."""
        children = [{"op": "leaf", "leaf_id": l, "tag": t, "boost": None}
                    for l, t in sorted(tag_of_leaf.items())]
        return children[0] if op == "leaf" else {"op": op,
                                                 "children": children}

    @classmethod
    def _brute_topk(cls, g, tag_of_leaf, k, op="or"):
        from veloci_spark import search as S
        from veloci_spark.vbyte import unpack_postings

        leaf_hits = {}
        for leaf_id in sorted({r["leaf_id"] for r in g}):
            all_i, all_s = [], []
            for r in (r for r in g if r["leaf_id"] == leaf_id):
                ids, stored = unpack_postings(r["docs_bin"], r["scores_bin"])
                all_i.append(ids)
                all_s.append((np.float32(r["term_score"])
                              * S._stored_to_f32(stored, True)).astype(np.float32))
            leaf_hits[leaf_id] = S._dedup_max(np.concatenate(all_i),
                                              np.concatenate(all_s))
        ids, sc = S.eval_tree(cls._node(op, tag_of_leaf), leaf_hits)
        order = np.lexsort((-ids, -sc.astype(np.float64)))[:k]
        return list(zip(ids[order].tolist(), sc[order].tolist()))

    def test_prunes_low_rows_exactly(self, monkeypatch):
        from veloci_spark import search as S

        rows = [self._row(0, 1.0, range(10), [4000] * 10),
                self._row(0, 1.0, range(10, 20), [4000] * 10),
                self._row(1, 1.0, range(10), [4000] * 10),
                self._row(1, 1.0, range(10, 20), [4000] * 10),
                # low-upper rows: must be skipped, their exclusive docs lost
                # only BELOW the kth score
                self._row(0, 1.0, range(100, 140), [1] * 40),
                self._row(1, 1.0, range(150, 190), [2] * 40)]
        tags = {0: "a", 1: "b"}
        want = self._brute_topk(rows, tags, 5)
        seg = self._seg(rows)

        # the kernel decodes a row's scores (vbyte_decode of its bytes)
        # only when it scores the row
        calls = {"n": 0}
        real = S.vbyte_decode

        def counting(buf):
            calls["n"] += 1
            return real(buf)

        monkeypatch.setattr(S, "vbyte_decode", counting)
        gi, gs, n = S._wand_tree_segment(seg, self._node("or", tags), 5, 0,
                                         256)
        assert list(zip(gi.tolist(), gs.tolist())) == want
        assert calls["n"] == 4  # the two low rows were never decoded
        assert n == 100  # ... but their ids still count

    def test_randomized_equality(self):
        """1-4 legs over a lone leaf, OR and AND, with and without
        tombstones: the top k + |tombstones| (the kernel's widened k; the
        caller drops the tombstoned rows) and the exact live count."""
        from veloci_spark import search as S

        for seed in range(36):
            rng = np.random.RandomState(seed)
            op = ("leaf", "or", "and")[seed % 3]
            n_leaves = 1 if op == "leaf" else int(rng.randint(1, 5))
            rows, leg_ids = [], []
            for leaf in range(n_leaves):
                ids_l = []
                for _ in range(int(rng.randint(1, 7))):
                    n = int(rng.randint(3, 120))
                    ids = np.sort(rng.choice(256, size=n, replace=False))
                    stored = rng.randint(1, 5000, size=n)
                    rows.append(self._row(leaf, rng.uniform(0.1, 1.0),
                                          ids, stored))
                    ids_l.append(ids)
                leg_ids.append(np.unique(np.concatenate(ids_l)))
            g = rows
            deleted = (np.sort(rng.choice(256, size=int(rng.randint(1, 30)),
                                          replace=False))
                       if seed % 2 else None)
            k = int(rng.randint(1, 12))
            k += 0 if deleted is None else len(deleted)
            tags = {l: chr(ord("a") + l) for l in range(n_leaves)}
            hits = leg_ids[0]
            for ids in leg_ids[1:]:
                hits = (hits[np.isin(hits, ids)] if op == "and"
                        else np.union1d(hits, ids))
            if deleted is not None:
                hits = hits[~np.isin(hits, deleted)]
            want = self._brute_topk(g, tags, k, op)
            gi, gs, n_hits = S._wand_tree_segment(
                self._seg(g), self._node(op, tags), k, 0, 256,
                deleted=deleted)
            assert list(zip(gi.tolist(), gs.tolist())) == want, seed
            assert n_hits == len(hits), seed

    def test_one_tag_or_keeps_or_floor(self):
        """A one-tag OR of two leaves is one leg but keeps the OR formula:
        a leg max below 1e-5 counts no tag, so every score is 0 — where a
        lone leaf passes its max through."""
        from veloci_spark import search as S

        rng = np.random.RandomState(11)
        rows = [self._row(l, 1e-4, np.sort(rng.choice(256, 30, replace=False)),
                          rng.randint(1, 6, size=30)) for l in (0, 1, 0)]
        g = rows
        tags = {0: "a", 1: "a"}
        want = self._brute_topk(g, tags, 5)
        gi, gs, n = S._wand_tree_segment(self._seg(g), self._node("or", tags),
                                         5, 0, 256)
        assert list(zip(gi.tolist(), gs.tolist())) == want
        assert gs.max() == 0.0 and n == len(set(np.concatenate(
            [S.unpack_ids(r["docs_bin"]) for r in g])))
        _i, leaf_scores, _n = S._wand_tree_segment(
            self._seg([r for r in g if r["leaf_id"] == 0]),
            self._node("leaf", {0: "a"}), 5, 0, 256)
        assert 0.0 < leaf_scores.max() < 1e-5

    def test_engine_or_fast_path_matches_emit_all(self, spark_index):
        import pyspark.sql.functions as F

        from veloci_spark.search import _search_hits, search

        req = {"or": [{"search": {"terms": ["die"], "path": "text"}},
                      {"search": {"terms": ["urge"], "path": "text",
                                  "levenshtein_distance": 1}}],
               "top": 5}
        fast = search(spark_index, req)
        hits, plan, _l = _search_hits(spark_index, req, need_all=True)
        assert not plan.get("wand")  # need_all disables pruning
        slow = hits.orderBy(F.desc("score"), F.desc("doc_id")).limit(5).collect()
        _f, plan_fast, _ = _search_hits(spark_index, req)
        assert plan_fast["wand"]
        assert [(d["doc_id"], d["score"]) for d in fast["data"]] == \
            [(r["doc_id"], r["score"]) for r in slow]

    def test_randomized_equality_and(self):
        from veloci_spark import search as S

        for seed in range(6):
            rng = np.random.RandomState(100 + seed)
            rows = []
            n_leaves = int(rng.randint(2, 5))
            for leaf in range(n_leaves):
                for _ in range(int(rng.randint(1, 7))):
                    n = int(rng.randint(20, 120))
                    ids = np.sort(rng.choice(256, size=n, replace=False))
                    stored = rng.randint(1, 5000, size=n)
                    rows.append(self._row(leaf, rng.uniform(0.1, 1.0),
                                          ids, stored))
            g = rows
            tag_of_leaf = {l: chr(ord("a") + l) for l in range(n_leaves)}
            k = int(rng.randint(1, 12))
            want = self._brute_topk(g, tag_of_leaf, k, op="and")
            gi, gs, _n = S._wand_tree_segment(
                self._seg(g), self._node("and", tag_of_leaf), k, 0, 256)
            assert list(zip(gi.tolist(), gs.tolist())) == want, seed

    def test_engine_and_fast_path_matches_emit_all(self, spark_index):
        import pyspark.sql.functions as F

        from veloci_spark.search import _search_hits, search

        req = {"and": [{"search": {"terms": ["die"], "path": "text"}},
                       {"search": {"terms": ["der"], "path": "text"}}],
               "top": 5}
        fast = search(spark_index, req)
        hits, _p, _l = _search_hits(spark_index, req, need_all=True)
        slow = hits.orderBy(F.desc("score"), F.desc("doc_id")).limit(5).collect()
        _f, plan_fast, _ = _search_hits(spark_index, req)
        assert plan_fast["wand"] and plan_fast["tree"]["op"] == "and"
        assert [(d["doc_id"], d["score"]) for d in fast["data"]] == \
            [(r["doc_id"], r["score"]) for r in slow]

    def test_count_hits_exact_randomized(self):
        """The kernel returns the brute distinct-hit count even though
        the skipped rows were never score-decoded."""
        from veloci_spark import search as S

        for seed in range(8):
            rng = np.random.RandomState(500 + seed)
            rows = []
            n_leaves = int(rng.randint(2, 5))
            leg_ids = {l: [] for l in range(n_leaves)}
            for leaf in range(n_leaves):
                for _ in range(int(rng.randint(1, 7))):
                    n = int(rng.randint(3, 120))
                    ids = np.sort(rng.choice(256, size=n, replace=False))
                    stored = rng.randint(1, 5000, size=n)
                    rows.append(self._row(leaf, rng.uniform(0.1, 1.0),
                                          ids, stored))
                    leg_ids[leaf].append(ids)
            g = rows
            legs = [np.unique(np.concatenate(v)) for v in leg_ids.values()]
            k = int(rng.randint(1, 6))
            for op in ("or", "and"):
                if op == "or":
                    want_n = len(np.unique(np.concatenate(legs)))
                else:
                    inter = legs[0]
                    for l in legs[1:]:
                        inter = inter[np.isin(inter, l)]
                    want_n = len(inter)
                tags = {l: chr(ord("a") + l) for l in range(n_leaves)}
                want = self._brute_topk(g, tags, k, op)
                gi, gs, n_hits = S._wand_tree_segment(
                    self._seg(g), self._node(op, tags), k, 0, 256)
                assert n_hits == want_n, (seed, op)
                assert list(zip(gi.tolist(), gs.tolist())) == want, (seed, op)

    def test_many_leg_randomized_equality(self):
        """VERDICT r4 #4 companion: the kernel stays exact at a wide leg
        count (64 legs; the 256-doc segment keeps its dense state tiny)."""
        from veloci_spark import search as S

        rng = np.random.RandomState(4242)
        n_leaves = 64
        rows = []
        for leaf in range(n_leaves):
            for _ in range(int(rng.randint(1, 3))):
                n = int(rng.randint(3, 40))
                ids = np.sort(rng.choice(256, size=n, replace=False))
                stored = rng.randint(1, 5000, size=n)
                rows.append(self._row(leaf, rng.uniform(0.1, 1.0), ids, stored))
        g = rows
        tag_of_leaf = {l: f"{l:03d}" for l in range(n_leaves)}
        want = self._brute_topk(g, tag_of_leaf, 10)
        gi, gs, n = S._wand_tree_segment(self._seg(g),
                                         self._node("or", tag_of_leaf),
                                         10, 0, 256)
        assert list(zip(gi.tolist(), gs.tolist())) == want
        assert n == 256  # 64 legs x up to 40 ids saturate the tiny segment

    def test_wide_or_dense_budget_falls_back_to_plain(self, spark_index,
                                                      monkeypatch):
        """VERDICT r4 #4: past the dense-state budget the planner drops the
        WAND kernel (scatter state is ~5 B x legs x segment_docs) and
        the plain kernel — whose state is hit-proportional — answers
        identically, exact count included."""
        from veloci_spark import search as S

        req = {"or": [{"search": {"terms": ["die"], "path": "text"}},
                      {"search": {"terms": ["der"], "path": "text"}}],
               "top": 5}
        _f, plan, _ = S._search_hits(spark_index, req)
        assert plan["wand"]
        want = S.search(spark_index, req)
        monkeypatch.setattr(S, "_WAND_DENSE_BUDGET_BYTES", 0)
        _f, plan, _ = S._search_hits(spark_index, req)
        assert not plan["wand"]
        got = S.search(spark_index, req)
        for res in (got, want):  # wall time legitimately differs per run
            res.pop("execution_time_ms", None)
        assert got == want

    def test_dense_or_not_slower_than_plain(self, monkeypatch):
        """VERDICT r3 #1: a dense multi-leg OR must not pay per-row rescans -
        the amortized lazy refresh keeps the WAND kernel within a small
        factor of the plain (decode-everything) evaluation on segments where
        pruning cannot win. Pre-r4 this shape was O(rows x legs x
        segment_docs). Asserted on a WORK COUNTER, not wall time (ADVICE r4:
        a timing ratio flakes under this host's documented multi-tenant
        stalls): every θ refresh is the kernel's one np.partition call and
        costs O(candidates), and the amortization contract (refresh only
        after decoding >= candidates/2 posting entries) bounds refreshes by
        total_entries / (candidates/2) — single digits here, vs one dense
        rescan per surviving row (~180) pre-fix."""
        from veloci_spark import search as S
        from veloci_spark.vbyte import unpack_postings

        rng = np.random.RandomState(99)
        seg_docs = 1 << 18
        rows = []
        for leaf in range(3):
            for _ in range(60):
                ids = np.sort(rng.choice(200_000, size=5_000, replace=False))
                stored = rng.randint(1, 5000, size=len(ids))
                rows.append(self._row(leaf, rng.uniform(0.5, 1.0), ids, stored))
        g = rows
        node = self._node("or", {0: "0", 1: "1", 2: "2"})

        def plain():
            # the non-WAND kernel's work for this segment: decode every row,
            # dedup-max per leg, eval_tree, top-k
            leaf_hits = {}
            for leaf_id in range(3):
                all_i, all_s = [], []
                for r in (r for r in g if r["leaf_id"] == leaf_id):
                    ids, stored = unpack_postings(r["docs_bin"],
                                                  r["scores_bin"])
                    all_i.append(ids)
                    all_s.append((np.float32(r["term_score"])
                                  * S._stored_to_f32(stored, True)).astype(np.float32))
                leaf_hits[leaf_id] = S._dedup_max(np.concatenate(all_i),
                                                  np.concatenate(all_s))
            children = [{"op": "leaf", "leaf_id": l, "tag": str(l), "boost": None}
                        for l in range(3)]
            ids, sc = S.eval_tree({"op": "or", "children": children}, leaf_hits)
            order = np.lexsort((-ids, -sc.astype(np.float64)))[:10]
            return list(zip(ids[order].tolist(), sc[order].tolist()))

        want = plain()
        calls = {"refresh": 0}
        real_part = np.partition

        def counting_partition(a, kth, *args, **kw):
            calls["refresh"] += 1
            return real_part(a, kth, *args, **kw)

        monkeypatch.setattr(S.np, "partition", counting_partition)
        seg = self._seg(g)
        gi, gs, _n = S._wand_tree_segment(seg, node, 10, 0, seg_docs)
        monkeypatch.undo()
        assert list(zip(gi.tolist(), gs.tolist())) == want
        # 180 rows x 5000 entries = 900k decoded entries over ~195k
        # candidates -> the amortization admits <= ~10 refreshes; pre-fix
        # dense bookkeeping did the equivalent work once per surviving row
        assert calls["refresh"] <= 24, calls["refresh"]
