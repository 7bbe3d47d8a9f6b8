"""Property-based differential fuzzing: random query trees evaluated by the
Spark engine and by the independent pure-Python model (veloci_spark.pyref)
must agree EXACTLY — same doc order, same float32 scores, same num_hits.

The fixed REQUESTS battery in test_search_engine.py covers the reference's
query shapes (FIXTURES.md §3); this file walks the shape space around them:
arbitrary OR/AND nestings over exact / fuzzy / prefix / regex leaves —
with per-leaf scalar boosts, per-leaf match pruning (top), and
case-sensitive (ignore_case=false) variants — under random top/skip
truncation. Terms are drawn from the corpus vocabulary plus mutations
(typos for the fuzzy path, prefixes for starts_with, case flips for the
sensitivity path, unknown terms for the empty-result path); regex leaves
mutate escaped corpus terms (wildcard char, alternation, char class).

Runs derandomized (fixed example set) so the suite stays deterministic;
raise FUZZ_EXAMPLES for a deeper local sweep.
"""

import os

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from tests.conftest import pruned_handle
from veloci_spark import pyref

N_EXAMPLES = int(os.environ.get("FUZZ_EXAMPLES", "15"))
# CI runs a fixed example set; set FUZZ_RANDOM=1 for a fresh-entropy hunt
DERANDOMIZE = "FUZZ_RANDOM" not in os.environ


@pytest.fixture(scope="module")
def vocab(ref_index):
    terms = ref_index.fields["text"].terms
    # spread draws across the dictionary (rank-ordered, so adjacent terms
    # share prefixes); keep the pool small enough that random trees collide
    # on documents and exercise the dedup/tie paths
    step = max(1, len(terms) // 40)
    return [t for t in terms[::step] if t][:40]


@pytest.fixture(scope="module")
def phrase_pool(ref_index):
    # REAL adjacent pairs from the corpus so phrase boosts actually fire
    pairs = sorted(ref_index.fields["text"].phrase_pairs)
    step = max(1, len(pairs) // 20)
    return pairs[::step][:20]


def _mutate(term: str, how: int) -> str:
    """Deterministic term mutations: 0 = as-is, 1 = typo (fuzzy should still
    match at d=1), 2 = prefix (starts_with should match), 3 = unknown,
    4 = case flip (matches only under the default ignore_case)."""
    if how == 1 and len(term) >= 3:
        return term[0] + "x" + term[2:]
    if how == 2 and len(term) >= 4:
        return term[: len(term) - 2]
    if how == 3:
        return term + "zzq"
    if how == 4:
        return term[0].swapcase() + term[1:]
    return term


def _regex_pattern(term: str, how: int, other: str) -> str:
    """Deterministic regex mutations: 0 = escaped literal, 1 = one char
    wildcarded, 2 = alternation with another corpus term, 3 = char-class
    tail (may legitimately match nothing)."""
    import re as _re

    if how == 1 and len(term) >= 3:
        return _re.escape(term[:1]) + "." + _re.escape(term[2:])
    if how == 2:
        return _re.escape(term) + "|" + _re.escape(other)
    if how == 3 and len(term) >= 3:
        return _re.escape(term[:-1]) + "[a-z]"
    return _re.escape(term)


def _leaf_strategy(vocab):
    def build(i, how, fuzzy, prefix, j, is_rx, boost_i, ptop, csense):
        term = vocab[i % len(vocab)]
        if is_rx:
            leaf = {
                "terms": [_regex_pattern(
                    term, how, vocab[(j or 1) % len(vocab)])],
                "path": "text",
                "is_regex": True,
                **({"starts_with": True} if prefix else {}),
            }
        else:
            leaf = {
                "terms": [_mutate(term, how)]
                + ([vocab[j % len(vocab)]] if j is not None else []),
                "path": "text",
                **({"levenshtein_distance": 1} if fuzzy else {}),
                **({"starts_with": True} if prefix else {}),
            }
        if csense:
            leaf["ignore_case"] = False
        if boost_i is not None:  # per-leg scalar boost (Q14 leg form)
            leaf["boost"] = (0.5, 1.5, 2.0, 3.0)[boost_i % 4]
        if ptop is not None:  # per-leaf match pruning (Q5)
            leaf["top"] = ptop
        return {"search": leaf}

    return st.builds(
        build,
        st.integers(min_value=0, max_value=10_000),
        st.integers(min_value=0, max_value=4),
        st.booleans(),
        st.booleans(),
        st.none() | st.integers(min_value=0, max_value=10_000),
        st.booleans(),
        st.none() | st.integers(min_value=0, max_value=3),
        st.none() | st.integers(min_value=1, max_value=8),
        st.booleans(),
    )


def _tree_strategy(vocab):
    leaf = _leaf_strategy(vocab)
    return st.recursive(
        leaf,
        lambda children: st.one_of(
            st.builds(lambda kids: {"or": kids},
                      st.lists(children, min_size=1, max_size=3)),
            st.builds(lambda kids: {"and": kids},
                      st.lists(children, min_size=1, max_size=3)),
        ),
        max_leaves=4,
    )


@pytest.fixture(scope="module")
def engines(spark_index, ref_index):
    return spark_index, ref_index


def _request_strategy(vocab, phrase_pool):
    def assemble(tree, top, skip, filt_i, tb_i, locality, pb_i):
        req = {**tree, "top": top, **({"skip": skip} if skip else {})}
        if filt_i is not None:
            req["filter"] = {"search": {"terms": [vocab[filt_i % len(vocab)]],
                                        "path": "text"}}
        if tb_i is not None:
            req["boost_term"] = [{"path": "text", "boost": 2.0,
                                  "terms": [vocab[tb_i % len(vocab)]]}]
        if locality:
            req["text_locality"] = True
        if pb_i is not None and phrase_pool:
            a, b = phrase_pool[pb_i % len(phrase_pool)]
            req["phrase_boosts"] = [{"path": "text",
                                     "search1": {"terms": [a], "path": "text"},
                                     "search2": {"terms": [b], "path": "text"}}]
        return req

    return st.builds(
        assemble,
        _tree_strategy(vocab),
        st.integers(min_value=1, max_value=40),
        st.integers(min_value=0, max_value=5),
        st.none() | st.integers(min_value=0, max_value=10_000),
        st.none() | st.integers(min_value=0, max_value=10_000),
        st.booleans(),
        st.none() | st.integers(min_value=0, max_value=10_000),
    )


def _check_request_vs_model(spark_index, ref_index, req):
    from veloci_spark.search import search

    got = search(spark_index, req)
    want = pyref.search_request(ref_index, req)
    got_pairs = [(d["doc_id"], np.float32(d["score"]))
                 for d in got["data"]]
    want_pairs = [(d, np.float32(s)) for d, s in want]
    assert [p[0] for p in got_pairs] == [p[0] for p in want_pairs], req
    for (gd, gs), (_wd, ws) in zip(got_pairs, want_pairs):
        assert gs == ws, (req, gd, gs, ws)
    # num_hits: the model's untruncated hit count
    full = pyref.search_request(ref_index,
                                {k: v for k, v in req.items()
                                 if k not in ("top", "skip")}
                                | {"top": 10**9})
    assert got["num_hits"] == len(full), req


class TestFuzzDifferential:
    @pytest.fixture(autouse=True)
    def _bind(self, engines, vocab, phrase_pool):
        self.spark_index, self.ref_index = engines
        self.vocab = vocab
        self.phrase_pool = phrase_pool

    def test_random_trees_match_oracle(self):
        self._random_trees()

    def test_random_trees_match_oracle_spark_tier(self, spark_tier):
        self._random_trees()

    def test_random_trees_match_oracle_pruned_reads(self, pruned_index):
        self._random_trees(pruned_index)

    def test_random_trees_match_oracle_spark_build(self, spark_build_index):
        self._random_trees(spark_build_index)

    def _random_trees(self, index=None):
        index = index or self.spark_index

        @settings(max_examples=N_EXAMPLES, deadline=None,
                  derandomize=DERANDOMIZE,
                  suppress_health_check=[HealthCheck.too_slow])
        @given(req=_request_strategy(self.vocab, self.phrase_pool))
        def check(req):
            _check_request_vs_model(index, self.ref_index, req)

        check()

    def test_random_trees_match_oracle_distributed_dict(self, spark,
                                                        spark_index):
        """The SAME random shape space over the DISTRIBUTED dictionary path
        (local_dict_max_terms=0 → term matching runs as Spark jobs with the
        JVM codegen predicates of _jvm_match_pred + capped ordered collect)
        — the configuration a >2M-term dictionary actually runs at scale.
        The fixed parity cases in test_dict_distributed.py pin each match
        shape individually; this certifies whole-tree evaluation end to end
        on that path against the model, exact f32."""
        from veloci_spark.search import FulltextIndex

        dist = FulltextIndex(spark, spark_index.index_dir,
                             local_dict_max_terms=0)

        @settings(max_examples=max(4, N_EXAMPLES // 3), deadline=None,
                  derandomize=DERANDOMIZE,
                  suppress_health_check=[HealthCheck.too_slow])
        @given(req=_request_strategy(self.vocab, self.phrase_pool))
        def check(req):
            _check_request_vs_model(dist, self.ref_index, req)

        check()

    def test_suggest_path_parity(self, spark, spark_index):
        """suggest() must return the SAME (text, score) list whether the
        dictionary is driver-resident or matched distributed — the two
        execution paths of match_terms share nothing past the interface, so
        a divergence in banding, capping, dedup, or tie-break shows up here.
        Random prefixes drawn from vocabulary terms (whole / truncated /
        case-flipped / unknown) × fuzzy distance."""
        from veloci_spark.search import FulltextIndex, suggest

        dist = FulltextIndex(spark, spark_index.index_dir,
                             local_dict_max_terms=0)

        @settings(max_examples=max(6, N_EXAMPLES // 2), deadline=None,
                  derandomize=DERANDOMIZE,
                  suppress_health_check=[HealthCheck.too_slow])
        @given(i=st.integers(min_value=0, max_value=10_000),
               cut=st.integers(min_value=1, max_value=6),
               flip=st.booleans(),
               lev=st.integers(min_value=0, max_value=1),
               top=st.integers(min_value=1, max_value=12))
        def check(i, cut, flip, lev, top):
            t = self.vocab[i % len(self.vocab)]
            p = t[:max(1, len(t) - cut)]
            if flip:
                p = p[0].swapcase() + p[1:]
            local = suggest(self.spark_index, "text", p, top=top,
                            levenshtein=lev)
            remote = suggest(dist, "text", p, top=top, levenshtein=lev)
            assert local == remote, (p, lev, top)

        check()


# ---------------------------------------------------------------------------
# composed-path fuzzing: per-leg boost-by-field (options.boost) × request
# extras (filter / phrase boost / term boost / text locality). These shapes
# run the composed evaluation (one kernel pass per leaf, per-leg boosts,
# doc_id exchange into the eval_segment combine) — r5 extended it from
# plain trees to the full post-tree pipeline; this battery certifies every
# combination against the model, exact f32.

_BOOST_WORDS = ["apple", "pie", "orchard", "pear", "sweet", "north",
                "jam", "green", "red", "crisp"]


@pytest.fixture(scope="module")
def boost_engines(spark, tmp_path_factory):
    from veloci_spark.build import build_index
    from veloci_spark.config import FieldConfig, IndexConfig
    from veloci_spark.search import FulltextIndex

    rng = np.random.RandomState(7)
    rows = []
    for i in range(60):
        n = int(rng.randint(3, 9))
        text = " ".join(_BOOST_WORDS[j] for j in rng.randint(0, len(_BOOST_WORDS), n))
        rows.append({"doc_id": i, "text": text,
                     "rank_": None if i % 7 == 3 else int(rng.randint(0, 50))})
    cfg = IndexConfig(fields=(FieldConfig("text"),), doc_id_col="doc_id",
                      segment_docs=8)
    d = str(tmp_path_factory.mktemp("fuzzlegidx"))
    docs = spark.createDataFrame(rows, "doc_id long, text string, rank_ long")
    build_index(spark, docs, cfg, d)
    idx = FulltextIndex(spark, d).cache()
    ref = pyref.RefIndex(rows, cfg)
    pairs = sorted(ref.fields["text"].phrase_pairs)
    return idx, ref, pairs


def _composed_leaf_strategy():
    def build(i, boost_i, fb_fun, fb_param):
        leaf = {"terms": [_BOOST_WORDS[i % len(_BOOST_WORDS)]], "path": "text"}
        if boost_i is not None:  # scalar leg boost — composes with specs
            leaf["boost"] = (0.5, 1.5, 2.0, 3.0)[boost_i % 4]
        if fb_fun is not None:  # per-leg boost-by-field (options.boost)
            spec = {"path": "rank_", "boost_fun": fb_fun}
            if fb_fun == "Log10":
                spec["param"] = fb_param
            leaf["options"] = {"boost": [spec]}
        return {"search": leaf}

    return st.builds(
        build,
        st.integers(min_value=0, max_value=10_000),
        st.none() | st.integers(min_value=0, max_value=3),
        st.none() | st.sampled_from(["Log10", "Multiply", "Add"]),
        st.integers(min_value=0, max_value=2),
    )


def _composed_request_strategy(phrase_pairs):
    leaf = _composed_leaf_strategy()
    tree = st.one_of(
        leaf,
        st.builds(lambda kids: {"or": kids},
                  st.lists(leaf, min_size=2, max_size=3)),
        st.builds(lambda kids: {"and": kids},
                  st.lists(leaf, min_size=2, max_size=2)),
    )

    def assemble(t, top, skip, filt_i, tb_i, locality, pb_i):
        req = {**t, "top": top, **({"skip": skip} if skip else {})}
        if filt_i is not None:
            req["filter"] = {"search": {
                "terms": [_BOOST_WORDS[filt_i % len(_BOOST_WORDS)]],
                "path": "text"}}
        if tb_i is not None:
            req["boost_term"] = [{"path": "text", "boost": 2.0, "terms": [
                _BOOST_WORDS[tb_i % len(_BOOST_WORDS)]]}]
        if locality:
            req["text_locality"] = True
        if pb_i is not None and phrase_pairs:
            a, b = phrase_pairs[pb_i % len(phrase_pairs)]
            req["phrase_boosts"] = [{"path": "text",
                                     "search1": {"terms": [a], "path": "text"},
                                     "search2": {"terms": [b], "path": "text"}}]
        return req

    return st.builds(
        assemble, tree,
        st.integers(min_value=1, max_value=30),
        st.integers(min_value=0, max_value=4),
        st.none() | st.integers(min_value=0, max_value=10_000),
        st.none() | st.integers(min_value=0, max_value=10_000),
        st.booleans(),
        st.none() | st.integers(min_value=0, max_value=10_000),
    )


class TestFuzzComposedExtras:
    def test_composed_extras_match_oracle(self, boost_engines):
        self._composed_extras(boost_engines)

    def test_composed_extras_match_oracle_spark_tier(self, boost_engines,
                                                     spark_tier):
        self._composed_extras(boost_engines)

    def test_composed_extras_match_oracle_pruned_reads(self, boost_engines):
        idx, *rest = boost_engines
        self._composed_extras((pruned_handle(idx), *rest))

    @staticmethod
    def _composed_extras(boost_engines):
        from veloci_spark.search import search

        idx, ref, pairs = boost_engines

        @settings(max_examples=N_EXAMPLES, deadline=None,
                  derandomize=DERANDOMIZE,
                  suppress_health_check=[HealthCheck.too_slow])
        @given(req=_composed_request_strategy(pairs))
        def check(req):
            got = search(idx, req)
            want = pyref.search_request(ref, req)
            got_pairs = [(d["doc_id"], np.float32(d["score"]))
                         for d in got["data"]]
            want_pairs = [(d, np.float32(s)) for d, s in want]
            assert [p[0] for p in got_pairs] == [p[0] for p in want_pairs], req
            for (gd, gs), (_wd, ws) in zip(got_pairs, want_pairs):
                assert gs == ws, (req, gd, gs, ws)
            full = pyref.search_request(ref, {k: v for k, v in req.items()
                                              if k not in ("top", "skip")}
                                        | {"top": 10**9})
            assert got["num_hits"] == len(full), req

        check()


# ---------------------------------------------------------------------------
# query-STRING fuzzing: random grammar strings → the ONE shared generator
# (query_to_request) → both engines. Extends differential coverage to the
# request shapes only the generator produces — multi-field expansion where
# the legs share one term tag (the OR n² formula must count the query term
# once across fields), auto-levenshtein from term length, adjacency phrase
# boosts threaded through attributed terms, and explicit AND/OR nesting —
# none of which the tree strategies above emit.

# no EN/DE stopwords (remove_stopwords defaults True in the generator)
_QS_WORDS = ["galaxy", "nebula", "quasar", "pulsar", "comet", "meteor",
             "aurora", "eclipse", "zenith", "parallax"]


@pytest.fixture(scope="module")
def query_engines(spark, tmp_path_factory):
    from veloci_spark.build import build_index
    from veloci_spark.config import FieldConfig, IndexConfig
    from veloci_spark.search import FulltextIndex

    rng = np.random.RandomState(11)
    rows = []
    for i in range(70):
        title = " ".join(_QS_WORDS[j] for j in rng.randint(0, len(_QS_WORDS), 3))
        body = " ".join(_QS_WORDS[j] for j in rng.randint(0, len(_QS_WORDS),
                                                          int(rng.randint(4, 9))))
        rows.append({"doc_id": i, "title": title, "body": body})
    cfg = IndexConfig(fields=(FieldConfig("title"), FieldConfig("body")),
                      doc_id_col="doc_id", segment_docs=8)
    d = str(tmp_path_factory.mktemp("fuzzqsidx"))
    build_index(spark, spark.createDataFrame(
        rows, "doc_id long, title string, body string"), cfg, d)
    idx = FulltextIndex(spark, d).cache()
    ref = pyref.RefIndex(rows, cfg)
    return idx, ref


def _query_string_strategy():
    def clause(i, shape, j):
        t = _QS_WORDS[i % len(_QS_WORDS)]
        if shape == 1:
            return t[:-2] + "*"                      # prefix wildcard
        if shape == 2:
            return t[0] + "x" + t[2:] + "~1"         # explicit fuzzy typo
        if shape == 3:
            return f'"{t} {_QS_WORDS[j % len(_QS_WORDS)]}"'   # quoted phrase
        if shape == 4:
            return f"title:{t}"                      # attributed term
        if shape == 5:
            return f"body:{t}"
        return t                                     # plain multi-field term

    def assemble(parts, conns, top, skip):
        q = parts[0]
        for conn, p in zip(conns, parts[1:]):
            q += (" AND " if conn else " OR ") + p
        return q, top, skip

    part = st.builds(clause,
                     st.integers(min_value=0, max_value=10_000),
                     st.integers(min_value=0, max_value=5),
                     st.integers(min_value=0, max_value=10_000))
    return st.builds(assemble,
                     st.lists(part, min_size=1, max_size=3),
                     st.lists(st.booleans(), min_size=2, max_size=2),
                     st.integers(min_value=1, max_value=30),
                     st.integers(min_value=0, max_value=4))


class TestFuzzQueryStrings:
    def test_query_strings_match_oracle(self, query_engines):
        self._query_strings(query_engines)

    def test_query_strings_match_oracle_spark_tier(self, query_engines,
                                                   spark_tier):
        self._query_strings(query_engines)

    def test_query_strings_match_oracle_pruned_reads(self, query_engines):
        idx, ref = query_engines
        self._query_strings((pruned_handle(idx), ref))

    @staticmethod
    def _query_strings(query_engines):
        from veloci_spark.query import query_to_request
        from veloci_spark.search import search

        idx, ref = query_engines

        @settings(max_examples=N_EXAMPLES, deadline=None,
                  derandomize=DERANDOMIZE,
                  suppress_health_check=[HealthCheck.too_slow])
        @given(qts=_query_string_strategy())
        def check(qts):
            q, top, skip = qts
            req = query_to_request(q, search_fields=["title", "body"],
                                   top=top, skip=skip)
            got = search(idx, req)
            want = pyref.search_request(ref, req)
            got_pairs = [(d["doc_id"], np.float32(d["score"]))
                         for d in got["data"]]
            want_pairs = [(d, np.float32(s)) for d, s in want]
            assert [p[0] for p in got_pairs] == [p[0] for p in want_pairs], \
                (q, req)
            for (gd, gs), (_wd, ws) in zip(got_pairs, want_pairs):
                assert gs == ws, (q, gd, gs, ws)
            full = pyref.search_request(ref, {k: v for k, v in req.items()
                                              if k not in ("top", "skip")}
                                        | {"top": 10**9})
            assert got["num_hits"] == len(full), (q, req)

        check()
