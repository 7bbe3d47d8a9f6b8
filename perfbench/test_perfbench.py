"""Tests of the benchmark itself.

    python -m pytest perfbench/ -q -p no:cacheprovider

The pyref test builds a small index through the benchmark's own write
phase (ingest, tombstones, compaction) and needs a local Spark.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import harness  # noqa: E402
import pools  # noqa: E402

SEEDS = (1, 2, 3)


def _terms(node) -> list[tuple[str, str]]:
    """(term, kind) of every query leaf of a request, in document order;
    phrase boosts only repeat leaf terms and are skipped."""
    if isinstance(node, dict):
        out = []
        if "terms" in node:
            kind = ("prefix" if node.get("starts_with")
                    else "regex" if node.get("is_regex")
                    else "lang" if node.get("path") == "lang" else "word")
            out = [(t, kind) for t in node["terms"]]
        for k, v in node.items():
            if k not in ("terms", "phrase_boosts"):
                out += _terms(v)
        return out
    if isinstance(node, list):
        return [t for v in node for t in _terms(v)]
    return []


def _pool_terms(workload: str, seed: int) -> list[tuple[str, str]]:
    return [t for e in pools.pool(workload, seed)
            for t in _terms(pools.to_request(e))]


@pytest.mark.parametrize("workload", pools.WORKLOADS)
def test_same_seed_gives_identical_pools(workload):
    for seed in SEEDS:
        assert pools.pool(workload, seed) == pools.pool(workload, seed)
        assert pools.check_request(seed) == pools.check_request(seed)


@pytest.mark.parametrize("workload", pools.WORKLOADS)
def test_other_seeds_draw_other_terms_in_the_same_bands(workload):
    base = _pool_terms(workload, SEEDS[0])
    for seed in SEEDS[1:]:
        other = _pool_terms(workload, seed)
        assert base != other
        assert [k for _, k in base] == [k for _, k in other]
        for (a, kind), (b, _) in zip(base, other):
            if kind == "word":
                assert pools.band_of(a) == pools.band_of(b), (a, b)
            else:  # prefixes, regexes and language values keep their shape
                assert len(a) == len(b), (a, b)


def test_selective_pools_skip_the_top_band_and_broad_pools_use_it():
    for seed in SEEDS:
        sel = {pools.band_of(t) for t, k in _pool_terms("search_selective", seed)
               if k == "word"}
        broad = {pools.band_of(t) for t, k in _pool_terms("search_broad", seed)
                 if k == "word"}
        assert "top" not in sel
        assert "top" in broad


class _FakeSpark:
    sparkContext = None


def _run():
    return harness.Run(_FakeSpark(), "", seed=1, trace=False)


def _resp(pairs, num_hits, facets=None):
    out = {"num_hits": num_hits,
           "data": [{"doc_id": d, "score": s} for d, s in pairs]}
    if facets is not None:
        out["facets"] = facets
    return out


def test_checks_pass_on_a_well_formed_response():
    r = _run()
    good = _resp([(9, 2.0), (7, 2.0), (8, 1.0)], 3)
    r.check_response("ok", {"top": 10}, good)
    r.same_response("ok", good, _resp([(9, 2.0), (7, 2.0), (8, 1.0)], 3))
    assert r.failures == []


@pytest.mark.parametrize("req,resp,deleted", [
    ({"top": 10}, _resp([(1, 1.0), (2, 2.0)], 2), ()),          # order
    ({"top": 10}, _resp([(1, 1.0), (2, 1.0)], 2), ()),          # doc_id tie-break
    ({"top": 2}, _resp([(2, 1.0)], 5), ()),                     # page length
    ({"top": 5, "skip": 4}, _resp([(3, 1.0), (2, 0.5)], 5), ()),
    ({"top": 10}, _resp([(5, 1.0)], 1), (5,)),                  # tombstoned id
])
def test_checks_catch_broken_responses(req, resp, deleted):
    r = _run()
    r.deleted = frozenset(deleted)
    r.check_response("bad", req, resp)
    assert len(r.failures) == 1


@pytest.mark.parametrize("got", [
    _resp([(1, 1.0)], 2),                                       # num_hits
    _resp([(2, 1.0)], 1),                                       # doc
    _resp([(1, np.nextafter(np.float32(1.0), np.float32(2.0)))], 1),  # f32 score
    _resp([(1, 1.0)], 1, facets={"lang": [("en", 1)]}),         # facets
])
def test_timed_response_must_repeat_the_warm_up(got):
    r = _run()
    r.same_response("x", _resp([(1, 1.0)], 1), got)
    assert len(r.failures) == 1


@pytest.fixture(scope="module")
def small_index(tmp_path_factory):
    """A 1,500-doc index built by the benchmark's write phase, and a pyref
    index over the same live docs.

    The benchmark's session has its own JVM settings, so a JVM this fixture
    launched is shut down afterwards and the process environment restored:
    Spark tests that run later in the same process start a JVM of their
    own. A session that was already running is reused and left running."""
    import tempfile

    import pyarrow.parquet as pq
    from pyspark import SparkContext

    import run
    from veloci_spark import pyref
    from veloci_spark.config import webtext_config

    launched = SparkContext._gateway is None
    old_env, old_tempdir = dict(os.environ), tempfile.tempdir
    old_n = harness.N_DOCS
    work = str(tmp_path_factory.mktemp("perfbench"))
    run._environment(work)
    spark = harness.make_session(work, 4)
    spark.sparkContext.setLogLevel("ERROR")
    harness.N_DOCS = 1500
    try:
        r = harness.Run(spark, work, seed=5, trace=False)
        config = webtext_config(segment_docs=harness.SEGMENT_DOCS)
        index_dir = r.write_phase(r.make_corpus(), config)
        idx = r.open_index(index_dir)
        r.check_compacted(idx)
        assert r.failures == []
        rows = pq.read_table(os.path.join(index_dir, "docs"),
                             columns=["doc_id", "url", "text", "lang"]).to_pylist()
        yield idx, pyref.RefIndex(rows, config), r.deleted
    finally:
        harness.N_DOCS = old_n
        if launched:
            run._stop(spark)
        os.environ.clear()
        os.environ.update(old_env)
        tempfile.tempdir = old_tempdir


@pytest.mark.parametrize("workload", pools.WORKLOADS)
@pytest.mark.parametrize("seed", (1, 2))
def test_pools_match_pyref(small_index, workload, seed):
    from veloci_spark import pyref
    from veloci_spark.search import search

    idx, ref, deleted = small_index
    for entry in pools.pool(workload, seed):
        req = pools.to_request(entry)
        got = search(idx, req)
        want = pyref.search_request(ref, req)
        assert [d["doc_id"] for d in got["data"]] == [d for d, _ in want], entry
        assert [np.float32(d["score"]) for d in got["data"]] == \
            [np.float32(s) for _, s in want], entry
        full = pyref.search_request(
            ref, {**{k: v for k, v in req.items() if k not in ("top", "skip")},
                  "top": 10**9})
        assert got["num_hits"] == len(full), entry
        assert not deleted & {d["doc_id"] for d in got["data"]}
