"""Distributed-dictionary term matching (the >2M-term path).

VERDICT r3 #2/#4: the reference intersects a Levenshtein automaton / dense
DFA with its FST (/root/reference/src/search/search_field.rs:68-99) — never
per-key interpreted code. Our distributed path must therefore (a) produce
byte-identical matches to the driver-local vectorized path, (b) keep the
hot shapes (exact / fuzzy / regex / plain prefix) inside whole-stage
codegen with zero Python evaluation, and (c) never push a >1k-literal In
filter into the postings scan (Catalyst planning cost) — big matched sets
switch to a (min,max) range + broadcast semi-join.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def dist_index(spark, index_dir, spark_index):
    from veloci_spark.search import FulltextIndex

    # same on-disk index as spark_index, driver dictionary disabled → every
    # match runs the distributed path (spark_index dependency orders the build)
    return FulltextIndex(spark, index_dir, local_dict_max_terms=0)


SHAPES = [
    dict(term="urge"),                                     # exact
    dict(term="majestätischer"),                           # exact, unicode
    dict(term="urg", levenshtein=1),                       # fuzzy d=1
    dict(term="wird", levenshtein=2),                      # fuzzy d=2
    dict(term="majes", starts_with=True),                  # prefix
    dict(term="majee", starts_with=True, levenshtein=1),   # prefix-fuzzy
    dict(term=".*urge.*", is_regex=True),                  # regex fullmatch
    dict(term="(?-i:.*tagebuch.*)", is_regex=True),        # case-scoped regex
    dict(term="urg.*", is_regex=True, starts_with=True),   # regex match()
    dict(term="tage", starts_with=True, top=2),            # matched-term top
    # ignore_case=False: raw-vs-raw comparisons on every JVM shape
    dict(term="Majestät", ignore_case=False),              # exact sensitive
    dict(term="Majestat", levenshtein=1, ignore_case=False),  # fuzzy sens.
    dict(term="Majes", starts_with=True, ignore_case=False),  # prefix sens.
    dict(term="Majee", starts_with=True, levenshtein=1,
         ignore_case=False),                               # prefix-fuzzy sens.
]


class TestDistributedDict:
    @pytest.mark.parametrize("kw", SHAPES, ids=[s["term"] for s in SHAPES])
    def test_matches_local(self, spark_index, dist_index, kw):
        from veloci_spark.search import match_terms

        kw = dict(kw)
        term = kw.pop("term")
        assert dist_index.local_dict("text") is None  # really distributed
        loc = (match_terms(spark_index, "text", term, **kw)
               .sort_values("term_id").reset_index(drop=True))
        dist = (match_terms(dist_index, "text", term, **kw)
                .sort_values("term_id").reset_index(drop=True))
        assert not loc.empty, "shape not exercised by the corpus"
        assert list(loc["term_id"]) == list(dist["term_id"])
        assert list(loc["term"]) == list(dist["term"])
        assert list(loc["distance"]) == list(dist["distance"])
        assert list(loc["prefix"]) == list(dist["prefix"])
        assert np.array_equal(loc["score"].values.astype(np.float32),
                              dist["score"].values.astype(np.float32))

    def test_hot_shapes_free_of_python_eval(self, dist_index):
        from veloci_spark.search import _jvm_match_pred, _match_spec

        d = dist_index.dict_df.where(F.col("field") == "text")
        hot = [
            ("urge", "urge", 0, False, False),
            ("urg", "urg", 1, False, False),           # fuzzy
            (".*urge.*", ".*urge.*", 0, False, True),  # regex
            ("majes", "majes", 0, True, False),        # plain prefix
            # prefix-fuzzy: since r5 the .starts_with() automaton runs as
            # an OR of 2d+1 bounded levenshteins over prefix lengths — the
            # LAST interpreted per-key dictionary predicate is gone
            ("majee", "majee", 1, True, False),
        ]
        # ignore_case=False twins: raw column, still zero Python eval
        hot += [(t, t, da, sw, rx, False) for t, _, da, sw, rx in
                [("Majestät", None, 0, False, False),
                 ("Majestat", None, 1, False, False),
                 ("Majes", None, 0, True, False)]]
        for term, lower, d_auto, sw, rx, *ic in hot:
            cand = d.where(_jvm_match_pred(F.col("term"), _match_spec(
                term, levenshtein=d_auto, starts_with=sw, is_regex=rx,
                ignore_case=ic[0] if ic else True)))
            plan = cand._jdf.queryExecution().executedPlan().toString()
            assert "EvalPython" not in plan and "pythonUDF" not in plan, \
                (term, plan)

    def test_prefix_fuzzy_predicate_matches_automaton(self, spark):
        """Property check: the OR-of-bounded-levenshteins prefix predicate
        (r5, closes the last interpreted dictionary shape) is EXACTLY
        pyref._prefix_lev — min over key prefixes of lev(prefix, query) —
        on random strings, including keys shorter than the query."""
        import random

        from veloci_spark import pyref
        from veloci_spark.search import _jvm_match_pred, _match_spec

        rng = random.Random(7)
        vals = ["".join(rng.choice("abcx") for _ in range(rng.randint(0, 8)))
                for _ in range(400)]
        df = spark.createDataFrame([(v,) for v in vals], "term string")
        for q in ["abca", "xab", "abcabc"]:
            for d in (1, 2):
                pred = _jvm_match_pred(F.col("term"), _match_spec(
                    q, levenshtein=d, starts_with=True))
                got = sorted(r["term"] for r in df.where(pred).collect())
                want = sorted(v for v in vals
                              if pyref._prefix_lev(v.lower(), q) <= d)
                assert got == want, (q, d)

    def test_fuzzy_search_end_to_end_distributed(self, spark_index, dist_index):
        # same query through both paths hits the same docs with equal scores
        from veloci_spark.search import search

        req = {"search": {"terms": ["majestätischer"], "path": "text",
                          "levenshtein_distance": 1}, "top": 10}
        a = search(spark_index, req)["data"]
        b = search(dist_index, req)["data"]
        assert a == b and a

    def test_no_giant_in_pushdown(self, spark, dist_index):
        from veloci_spark.search import (TID_PUSHDOWN_MAX_IN,
                                         _filter_term_ids,
                                         _tid_pushdown_pred)

        tids = list(range(0, 6000, 2))  # 3000 ids, > the 1k cap
        assert len(tids) > TID_PUSHDOWN_MAX_IN
        big = _tid_pushdown_pred(F.col("term_id"), tids)
        assert ">=" in str(big) or "GreaterThanOrEqual" in str(big)
        df = _filter_term_ids(spark, dist_index.postings, tids)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "INSET" not in plan and " IN (" not in plan, plan
        # exactness past the cap: range + broadcast semi-join ≡ plain isin
        exact = dist_index.postings.where(F.col("term_id").isin(tids))
        key = ["field", "term_id", "segment"]
        assert (df.select(*key).orderBy(*key).collect()
                == exact.select(*key).orderBy(*key).collect())
        # small sets keep the plain In pushdown
        small = _tid_pushdown_pred(F.col("term_id"), [1, 2, 3])
        assert "IN" in str(small).upper()
