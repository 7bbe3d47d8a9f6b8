"""Query latency vs corpus size: the read-path scale evidence.

Builds an index over the 1M-doc synthetic scaling corpus and
runs the bench's 12 query shapes — re-termed onto the synthetic vocabulary
at matched densities — plus a stopword shape (`ba`, ~5.8% of all tokens,
~1.9M postings) that exercises WAND pruning against a posting list three
orders of magnitude longer than anything at sf0.1.

Rationale: BENCH/BASELINE.md §2 proves the WRITE path scales (N vs 4N
cores); this tool documents the READ path's corpus-size behavior — the
north rule's 10^12-doc claim rests on per-segment evaluation + top-k
merge, so latency should grow with segments touched, not docs indexed.
Prints ONE JSON line like bench.py; its ``resident`` entry says, per
table, whether the handle holds the local tier's resident copy
(``search.FulltextIndex.resident``) and the footer bytes the rule
weighed against ``LOCAL_TIER_MAX_SCAN_BYTES``, so a run at each scale
shows where the rule stops, and its ``tiers`` entry the execution tier
each shape ran on (``local``: the driver-side segment kernel; ``spark``:
the ``mapInArrow`` kernel stage), read from one untimed ``explain``
request per shape. The Spark session's scratch dir and the index are
removed when the run ends, failed or not.

Usage: python tools/latency_vs_scale.py [n_docs]   (default 1,000,000)

Size the fixed JVM heap to the corpus: the bench harness's 8g default
(right for the 1M-doc scaling legs) OOMs at 10M docs under local[32] —
32 concurrent scan/Arrow tasks over a ~3 GB corpus need
``BENCH_DRIVER_MEM=28g`` (measured; a real cluster spreads the same
tasks over per-executor heaps).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402

# the bench QUERY_SHAPES, re-termed onto the deterministic synthetic
# vocabulary (veloci_spark.synth._vocab, seed 42) at matched roles:
#   batonojo  ~0.14% of tokens (~46k docs at 1M)  -> the "spark" role
#   bida      ~0.08%           (~25k docs)        -> the "query" role
#   cicokaro  ~0.035%          (~11k docs)        -> the "table" role
#   ba        ~5.8%  (~1.9M postings at 1M docs)  -> stopword, WAND stress
SHAPES: dict[str, dict] = {
    "q01_exact": {"search": {"terms": ["batonojo"], "path": "text"}, "top": 10},
    "q02_fuzzy": {"search": {"terms": ["batonoja"], "path": "text",
                             "levenshtein_distance": 1}, "top": 10},
    "q03_or": {"or": [{"search": {"terms": ["batonojo"], "path": "text"}},
                      {"search": {"terms": ["bida"], "path": "text"}}], "top": 10},
    "q04_and": {"and": [{"search": {"terms": ["batonojo"], "path": "text"}},
                        {"search": {"terms": ["bida"], "path": "text"}}], "top": 10},
    "q05_filtered": {"or": [{"search": {"terms": ["batonojo"], "path": "text"}},
                            {"search": {"terms": ["bida"], "path": "text"}}],
                     "filter": {"search": {"terms": ["en"], "path": "lang"}},
                     "top": 10},
    "q06_phrase": {"search": {"terms": ["bida"], "path": "text"},
                   "phrase_boosts": [{"path": "text",
                                      "search1": {"terms": ["batonojo"], "path": "text"},
                                      "search2": {"terms": ["bida"], "path": "text"}}],
                   "top": 10},
    "q07_locality": {"or": [{"search": {"terms": ["batonojo"], "path": "text"}},
                            {"search": {"terms": ["bida"], "path": "text"}}],
                     "text_locality": True, "top": 10},
    "q08_termboost": {"or": [{"search": {"terms": ["batonojo"], "path": "text"}},
                             {"search": {"terms": ["cicokaro"], "path": "text"}}],
                      "boost_term": [{"terms": ["bida"], "path": "text",
                                      "boost": 5.0}], "top": 10},
    "q09_prefix": {"search": {"terms": ["bato"], "path": "text",
                              "starts_with": True}, "top": 10},
    "q10_paging": {"search": {"terms": ["cicokaro"], "path": "text"},
                   "top": 5, "skip": 10},
    "q11_facet": {"search": {"terms": ["batonojo"], "path": "text"},
                  "facets": [{"field": "lang", "top": 5}], "top": 10},
    "q12_regex": {"search": {"terms": [".*tonoj.*"], "path": "text",
                             "is_regex": True}, "top": 10},
    # the shape sf0.1 cannot exhibit: a ~1.9M-posting stopword term.
    # Block-max WAND decodes only rows that can still enter the top-10.
    "q13_stopword": {"search": {"terms": ["ba"], "path": "text"}, "top": 10},
    "q14_stopword_or": {"or": [{"search": {"terms": ["ba"], "path": "text"}},
                               {"search": {"terms": ["batonojo"], "path": "text"}}],
                        "top": 10},
}


def main():
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    health = bench.probe_host_health()
    corpus = bench.materialize_synth_corpus(n_docs)
    spark = bench.make_spark(bench.CPUS)
    idx_dir = f"/dev/shm/veloci_qlat_idx_{n_docs}"
    try:
        spark.sparkContext.setLogLevel("ERROR")
        n, build_sec = bench.run_build_synth(spark, corpus, idx_dir)
        from veloci_spark import search as S
        from veloci_spark.search import FulltextIndex, search

        idx = FulltextIndex(spark, idx_dir).cache()
        resident = {
            table: {"resident": idx.resident(table) is not None,
                    "bytes": S._footer_bytes(idx.arrow_dataset(table), None,
                                             columns)}
            for table, (columns, _keys) in S._LOCAL_TABLES.items()}
        timings: dict[str, float] = {}
        hits: dict[str, int] = {}
        tiers: dict[str, str] = {}
        for name, req in SHAPES.items():
            tiers[name] = search(idx, {**req, "explain": True})[
                "explain"]["tier"]
            for _ in range(bench.WARMUPS):
                res = search(idx, req)
            samples = []
            for _ in range(bench.N_RUNS):
                t = time.time()
                res = search(idx, req)
                samples.append(time.time() - t)
            timings[name] = round(min(samples), 4)
            hits[name] = int(res["num_hits"])
    finally:
        bench.stop_spark(spark, idx_dir)
    import statistics

    out = {
        "metric": "top-10 ranked-search latency at corpus size (read-path scale evidence)",
        "n_docs": n,
        "build_sec": round(build_sec, 2),
        "queries": timings,
        "num_hits": hits,
        "tiers": tiers,
        "resident": resident,
        "resident_max_bytes": S.LOCAL_TIER_MAX_SCAN_BYTES,
        "query_stat": f"min_of_{bench.N_RUNS}_runs",
        "query_p50_sec": round(statistics.median(list(timings.values())), 4),
        "cpus": bench.CPUS,
        **health,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
