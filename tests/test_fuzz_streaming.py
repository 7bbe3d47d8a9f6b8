"""Randomized equivalence for the streaming MultiIndex: tombstones must act
as a PURE FILTER. For any request, a generational index with accumulated
deletes returns exactly the clean twin's untruncated ranking minus the
deleted docs (same order, same f32 scores), num_hits is the exact live
count, num_hits_exact stays True, and facet counts equal the clean twin's
per-hit values minus the deleted docs' contributions. Stats are per-generation by design
(compaction restores global stats — covered in test_streaming), so the
clean twin — NOT a fresh single build — is the correct oracle here.

Deterministic (seeded RNG, fixed step count); STREAM_FUZZ_STEPS deepens
the sweep locally. Each step deletes a few more random live docs, then
checks several random tree requests with random top/skip across the
generation and segment boundaries (segment_docs=16 → many segments). The
battery runs on the default tier and, as its ``*_spark_tier`` twin, on
Spark; each run tombstones its own copy of the module's root.
"""

import os

import numpy as np
import pytest

from tests.conftest import clone_root, sorted_rows

N_STEPS = int(os.environ.get("STREAM_FUZZ_STEPS", "4"))
REQS_PER_STEP = 3


@pytest.fixture(scope="module")
def twin_roots(spark, tmp_path_factory):
    import dataclasses

    from veloci_spark.config import FieldConfig, IndexConfig
    from veloci_spark.streaming import ingest_batch

    cfg = IndexConfig(
        fields=(FieldConfig("text"),
                FieldConfig("lang", tokenize=False, phrase_pairs=False,
                            token_texts=False)),
        segment_docs=16,
    )
    rows = sorted_rows(90)
    for r in rows:
        r.pop("doc_id", None)
    root = str(tmp_path_factory.mktemp("streamfuzz") / "clean")
    # uneven generation sizes cross segment boundaries within and between
    # gens; the MIDDLE generation carries caller-supplied SPARSE batch-local
    # ids (holes between every doc), so every randomized assertion below
    # also exercises sparse id spans: range-routing, per-generation
    # tombstone splits, and the high-water-mark base of the next generation
    splits = [0, 25, 41, 90]
    all_ids: list[int] = []
    base = 0
    for gen_i, (lo, hi) in enumerate(zip(splits, splits[1:])):
        batch = rows[lo:hi]
        if gen_i == 1:
            sparse_cfg = dataclasses.replace(cfg, doc_id_col="my_id")
            batch = [dict(r, my_id=i * 2) for i, r in enumerate(batch)]
            rec = ingest_batch(spark, spark.createDataFrame(batch),
                               sparse_cfg, root)
            all_ids += [base + i * 2 for i in range(len(batch))]
        else:
            rec = ingest_batch(spark, spark.createDataFrame(batch), cfg,
                               root)
            all_ids += list(range(base, base + len(batch)))
        base = rec["id_hi"]
    return root, all_ids


def _vocab(spark, root):
    from veloci_spark.streaming import MultiIndex

    mi = MultiIndex(spark, root)
    terms = sorted({
        r["term"]
        for _g, idx in mi.indexes
        for r in idx.dict_df.where("field = 'text'")
                            .select("term").collect()
    })
    mi.close()
    step = max(1, len(terms) // 30)
    return terms[::step][:30]


def _rand_tree(rng, vocab, depth=0):
    kind = rng.randint(0, 4 if depth == 0 else 3)
    if kind >= 2 or depth >= 1:
        leaf = {"terms": [vocab[rng.randint(len(vocab))]], "path": "text"}
        if rng.randint(3) == 0:
            leaf["levenshtein_distance"] = 1
        if rng.randint(4) == 0:
            leaf["starts_with"] = True
        return {"search": leaf}
    op = "or" if kind == 0 else "and"
    return {op: [_rand_tree(rng, vocab, depth + 1)
                 for _ in range(rng.randint(2, 4))]}


def test_deletes_are_a_pure_filter(spark, twin_roots, tmp_path):
    _deletes_are_a_pure_filter(spark, twin_roots, str(tmp_path / "deleted"))


def test_deletes_are_a_pure_filter_spark_tier(spark, twin_roots, tmp_path,
                                              spark_tier):
    _deletes_are_a_pure_filter(spark, twin_roots, str(tmp_path / "deleted"))


def _deletes_are_a_pure_filter(spark, twin_roots, copy_dir):
    from veloci_spark.streaming import MultiIndex, delete_docs

    clean, all_ids = twin_roots
    deleted_root = clone_root(clean, copy_dir)
    vocab = _vocab(spark, clean)
    assert len(vocab) >= 10
    mi_clean = MultiIndex(spark, clean)
    rng = np.random.RandomState(7)
    deleted: set[int] = set()
    try:
        for _step in range(N_STEPS):
            live = [d for d in all_ids if d not in deleted]
            kill = rng.choice(live, size=min(5, max(1, len(live) // 10)),
                              replace=False)
            delete_docs(spark, deleted_root, [int(d) for d in kill])
            deleted.update(int(d) for d in kill)
            mi_del = MultiIndex(spark, deleted_root)
            try:
                for _q in range(REQS_PER_STEP):
                    tree = _rand_tree(rng, vocab)
                    top = int(rng.randint(1, 30))
                    skip = int(rng.randint(0, 4))
                    req = {**tree, "top": top, "skip": skip}
                    # one request per step also checks facets: counts over
                    # the tombstoned index must equal the clean twin's
                    # per-hit values minus the deleted docs' contributions
                    with_facets = _q == 0
                    if with_facets:
                        req["facets"] = [{"field": "lang"}]
                    got = mi_del.search(req)
                    full = mi_clean.search({**tree, "top": 10**6,
                                            "select": ["lang"]})
                    want = [(d["doc_id"], np.float32(d["score"]))
                            for d in full["data"]
                            if d["doc_id"] not in deleted]
                    exp = want[skip:skip + top]
                    got_pairs = [(d["doc_id"], np.float32(d["score"]))
                                 for d in got["data"]]
                    assert got_pairs == exp, (tree, top, skip, sorted(deleted))
                    assert got["num_hits"] == len(want), (tree, sorted(deleted))
                    assert got["num_hits_exact"] is True
                    if with_facets:
                        counts: dict[str, int] = {}
                        for d in full["data"]:
                            if d["doc_id"] not in deleted:
                                v = d["doc"]["lang"]
                                counts[v] = counts.get(v, 0) + 1
                        exp_facets = sorted(counts.items(),
                                            key=lambda kv: (-kv[1], kv[0]))[:10]
                        assert got["facets"]["lang"] == exp_facets, (
                            tree, sorted(deleted))
            finally:
                mi_del.close()
    finally:
        mi_clean.close()
