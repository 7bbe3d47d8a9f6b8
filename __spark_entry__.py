"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: build the fulltext index over the sf0.001
``documents`` table and run a ranked multi-term query through the full
engine (dictionary match → segment kernel → global top-k).

``queries()`` / ``oracle_sql()`` — one entry per implemented operator
(SURVEY.md §2 + the training-data pipeline ops). Oracle SQL re-expresses the
*structural* semantics (tokenization, dictionary ids, posting membership,
boolean ops, facet counts, dedup, similarity ranks, text stats) in DuckDB
over the same parquet. The float32 scoring path is deliberately excluded
from the SQL oracle (FIXTURES.md §4) — it is gated by the pytest
differential suite against ``veloci_spark.pyref``; the f64 twin of the
index-score formula IS oracle-checked (``ft_index_scores``/``ft_topk``).
"""

from __future__ import annotations

import hashlib
import os
import threading
from collections.abc import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from veloci_spark.config import DEFAULT_SEPARATORS, FieldConfig, IndexConfig

# ---------------------------------------------------------------------------
# shared pieces

# RE2/Java/Python-portable separator-run pattern (hex escapes)
_CLS = "".join(f"\\x{{{ord(c):x}}}" for c in DEFAULT_SEPARATORS)
_RUNS_PAT = f"[{_CLS}]+|[^{_CLS}]+"
_SEP_PAT = f"[{_CLS}]+"

TERMS = ["spark", "query", "table", "join", "scan"]
_TERMS_SQL = "(" + ", ".join(f"'{t}'" for t in TERMS) + ")"

_IDX_LOCK = threading.Lock()
_IDX_CACHE: dict[str, object] = {}


def _docs_config() -> IndexConfig:
    return IndexConfig(
        fields=(FieldConfig("text"),
                FieldConfig("lang", tokenize=False, phrase_pairs=False,
                            token_texts=False)),
        doc_id_col="doc_id",
        segment_docs=1024,
    )


def _data_fingerprint(path: str) -> str:
    """Cheap input fingerprint: (name, size, mtime) of every file under the
    source parquet path — no Spark job, catches data swaps under the same
    sf_dir."""
    parts = []
    if os.path.isdir(path):
        for root, _dirs, files in os.walk(path):
            for fn in sorted(files):
                st = os.stat(os.path.join(root, fn))
                parts.append(f"{fn}:{st.st_size}:{int(st.st_mtime)}")
    elif os.path.exists(path):
        st = os.stat(path)
        parts.append(f"{os.path.basename(path)}:{st.st_size}:{int(st.st_mtime)}")
    return hashlib.md5("|".join(parts).encode()).hexdigest()[:12]


def _get_index(spark: SparkSession, sf_dir: str):
    """Build (once per process+sf_dir, resumable on disk) and cache the
    fulltext index over the documents table.

    The on-disk cache key includes the index layout version, the full
    IndexConfig, and an input-data fingerprint — a code upgrade, config
    change, or data swap lands in a different directory, and build_index
    itself re-validates per-stage markers against the same fingerprint, so a
    stale index can never be silently served (round-1 ft_phrase_docs bug).
    """
    from veloci_spark.build import build_index, index_fingerprint
    from veloci_spark.search import FulltextIndex

    data_fp = _data_fingerprint(f"{sf_dir}/documents.parquet")
    cfg = _docs_config()
    fp = index_fingerprint(cfg, data_fp)
    key = hashlib.md5(f"{sf_dir}|{fp}".encode()).hexdigest()[:10]
    with _IDX_LOCK:
        if key in _IDX_CACHE:
            return _IDX_CACHE[key]
        index_dir = f"/tmp/veloci_entry_idx_{key}"
        os.makedirs(index_dir, exist_ok=True)
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        build_index(spark, docs, cfg, index_dir, input_fingerprint=data_fp)
        idx = FulltextIndex(spark, index_dir).cache()
        _IDX_CACHE[key] = idx
        return idx


def _documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


NESTED_GROUP = 10  # docs per synthetic parent for the nested-corpus entries


def _nested_config() -> IndexConfig:
    return IndexConfig(
        fields=(FieldConfig("texts[]"),
                FieldConfig("langs[]", tokenize=False, phrase_pairs=False),
                # members[]: shared-parent array of structs — text + sibling
                # numeric rating, exercised by the value-relative boost entry
                FieldConfig("members[].text"),
                FieldConfig("members[].rating", tokenize=False,
                            phrase_pairs=False, token_texts=False)),
        doc_id_col="doc_id",
        segment_docs=64,
    )


def _nested_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic nested corpus derived from the documents table: parent
    doc = 10 consecutive docs; texts[]/langs[] arrays ordered by member
    doc_id (1:n value semantics, SURVEY.md B10). ``members`` pairs each
    member text with rating = 1 + member_id % 2 (powers-of-two boost values
    keep f32 products exact for the boost-ratio oracle)."""
    docs = _documents(spark, sf_dir)
    return (
        docs.groupBy((F.col("doc_id") / NESTED_GROUP).cast("long").alias("doc_id"))
        .agg(F.array_sort(F.collect_list(F.struct("doc_id", "text", "lang")))
             .alias("_m"))
        .select(
            "doc_id",
            F.transform("_m", lambda m: m["text"]).alias("texts"),
            F.transform("_m", lambda m: m["lang"]).alias("langs"),
            F.transform("_m", lambda m: F.struct(
                m["text"].alias("text"),
                (F.lit(1) + m["doc_id"] % 2).cast("long").alias("rating")))
            .alias("members"))
    )


NESTED2_GROUP = 100  # docs per level-2 parent (10 subs × 10 members)


def _nested2_config() -> IndexConfig:
    return IndexConfig(
        fields=(FieldConfig("sub[].texts[]"),),
        doc_id_col="doc_id",
        segment_docs=8,
    )


def _nested2_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level nested corpus: parent = 100 consecutive docs, split into 10
    subs of 10 members — ``sub[].texts[]`` with pos_0 = (doc_id//10)%10,
    pos_1 = doc_id%10 (multi-level [] depth, SURVEY.md B10 generalized)."""
    docs = _documents(spark, sf_dir)
    subs = (
        docs.groupBy((F.col("doc_id") / NESTED_GROUP).cast("long").alias("sub_id"))
        .agg(F.array_sort(F.collect_list(F.struct("doc_id", "text"))).alias("_m"))
        .select("sub_id",
                F.transform("_m", lambda m: m["text"]).alias("texts"))
    )
    return (
        subs.groupBy((F.col("sub_id") / NESTED_GROUP).cast("long").alias("doc_id"))
        .agg(F.array_sort(F.collect_list(F.struct("sub_id", "texts"))).alias("_s"))
        .select("doc_id",
                F.transform("_s", lambda s: F.struct(s["texts"].alias("texts")))
                .alias("sub"))
    )


def _get_nested2_index(spark: SparkSession, sf_dir: str):
    from veloci_spark.build import build_index, index_fingerprint
    from veloci_spark.search import FulltextIndex

    data_fp = _data_fingerprint(f"{sf_dir}/documents.parquet")
    cfg = _nested2_config()
    fp = index_fingerprint(cfg, data_fp + "|nested2")
    key = hashlib.md5(f"{sf_dir}|{fp}".encode()).hexdigest()[:10]
    with _IDX_LOCK:
        if key in _IDX_CACHE:
            return _IDX_CACHE[key]
        index_dir = f"/tmp/veloci_entry_n2idx_{key}"
        os.makedirs(index_dir, exist_ok=True)
        build_index(spark, _nested2_docs(spark, sf_dir), cfg, index_dir,
                    input_fingerprint=data_fp + "|nested2")
        idx = FulltextIndex(spark, index_dir)
        _IDX_CACHE[key] = idx
        return idx


def _get_bm25_index(spark: SparkSession, sf_dir: str):
    from veloci_spark.build import build_index, index_fingerprint
    from veloci_spark.search import FulltextIndex

    data_fp = _data_fingerprint(f"{sf_dir}/documents.parquet")
    cfg = IndexConfig(
        fields=(FieldConfig("text"),
                FieldConfig("lang", tokenize=False, phrase_pairs=False,
                            token_texts=False)),
        doc_id_col="doc_id", segment_docs=1024, scoring="bm25")
    fp = index_fingerprint(cfg, data_fp)
    key = hashlib.md5(f"{sf_dir}|{fp}".encode()).hexdigest()[:10]
    with _IDX_LOCK:
        if key in _IDX_CACHE:
            return _IDX_CACHE[key]
        index_dir = f"/tmp/veloci_entry_bidx_{key}"
        os.makedirs(index_dir, exist_ok=True)
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        build_index(spark, docs, cfg, index_dir, input_fingerprint=data_fp)
        idx = FulltextIndex(spark, index_dir)
        _IDX_CACHE[key] = idx
        return idx


def _get_nested_index(spark: SparkSession, sf_dir: str):
    from veloci_spark.build import build_index, index_fingerprint
    from veloci_spark.search import FulltextIndex

    data_fp = _data_fingerprint(f"{sf_dir}/documents.parquet")
    cfg = _nested_config()
    fp = index_fingerprint(cfg, data_fp + "|nested")
    key = hashlib.md5(f"{sf_dir}|{fp}".encode()).hexdigest()[:10]
    with _IDX_LOCK:
        if key in _IDX_CACHE:
            return _IDX_CACHE[key]
        index_dir = f"/tmp/veloci_entry_nidx_{key}"
        os.makedirs(index_dir, exist_ok=True)
        build_index(spark, _nested_docs(spark, sf_dir), cfg, index_dir,
                    input_fingerprint=data_fp + "|nested")
        idx = FulltextIndex(spark, index_dir)
        _IDX_CACHE[key] = idx
        return idx


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _token_entries(spark, sf_dir):
    """documents.text's term entries from the build's tokens-stage kernel
    (``build._tokenize_batch``): one row per (doc, token) with the token's
    first position ``best_pos``, the text's run count ``n_tokens`` and the
    token's count in the text ``cnt``."""
    from veloci_spark.build import _spark_tokenize

    docs = _documents(spark, sf_dir).select(
        F.col("doc_id").cast("long"), F.col("text").cast("string"))
    return (_spark_tokenize(docs, [FieldConfig("text", phrase_pairs=False)])
            .select("doc_id", "token", "best_pos", "n_tokens", "cnt"))


def _runs_cte() -> str:
    """Token runs of documents.text with the has_tokens (≥2 runs) gate."""
    return f"""
runs AS (
  SELECT doc_id, unnest(r) AS tok,
         generate_subscripts(r, 1) - 1 AS pos,
         len(r) AS n_tokens
  FROM (SELECT doc_id, regexp_extract_all(text, '{_RUNS_PAT}') AS r
        FROM documents)
  WHERE len(r) >= 2
)"""


def _occ_cte() -> str:
    """Corpus-wide num_occurences: token runs + storable (≤64B) full texts."""
    return f"""
occ AS (
  SELECT term, SUM(c)::BIGINT AS num_occurences FROM (
    SELECT tok AS term, COUNT(*) AS c FROM runs GROUP BY tok
    UNION ALL
    SELECT text AS term, COUNT(*) AS c FROM documents
    WHERE octet_length(encode(text)) <= 64 GROUP BY text
  ) GROUP BY term
)"""


_SCORE_SQL = """
  TRUNC(
    (CASE WHEN is_exact THEN 400.0
          ELSE 2000.0 / (log2(best_pos + 10.0) + 10.0) END)
    / ((log10(num_occurences + 1000.0) - 2.0)
       - ((log10(num_occurences + 1000.0) - 2.0) - 1.0) * 0.7)
    / (log10(n_tokens + 10.0)
       - (log10(n_tokens + 10.0) - 1.0) * 0.7)
  )::BIGINT"""


def _entries_cte() -> str:
    """Scored posting entries (f64 twin): token entries (best pos per
    (doc, token)) + exact-text entries, joined with occurrence counts."""
    return f"""
entries AS (
  SELECT doc_id, tok AS term, MIN(pos) AS best_pos,
         MAX(n_tokens) AS n_tokens, FALSE AS is_exact
  FROM runs GROUP BY doc_id, tok
  UNION ALL
  SELECT doc_id, text AS term, 0 AS best_pos, 1 AS n_tokens, TRUE AS is_exact
  FROM documents WHERE octet_length(encode(text)) <= 64
),
scored AS (
  SELECT e.doc_id, e.term, {_SCORE_SQL} AS s
  FROM entries e JOIN occ USING (term)
)"""


def _f64_scored_entries(spark, sf_dir) -> DataFrame:
    """Spark twin of the scored-entries SQL: the build pipeline's entry
    derivation with the float64 score kernel (oracle-facing)."""
    from veloci_spark.scoring import index_score_u64_f64

    docs = _documents(spark, sf_dir)
    tokens = _token_entries(spark, sf_dir)
    token_entries = (
        tokens.groupBy("doc_id", "token")
        .agg(F.min("best_pos").alias("best_pos"),
             F.max("n_tokens").alias("n_tokens"))
        .withColumnRenamed("token", "term")
        .withColumn("is_exact", F.lit(False))
    )
    text_entries = docs.where(F.octet_length("text") <= 64).select(
        "doc_id", F.col("text").alias("term"),
        F.lit(0).alias("best_pos"), F.lit(1).alias("n_tokens"),
        F.lit(True).alias("is_exact"))
    entries = token_entries.unionByName(text_entries)

    token_counts = tokens.groupBy("token").agg(F.sum("cnt").alias("c")) \
        .withColumnRenamed("token", "term")
    text_counts = docs.where(F.octet_length("text") <= 64) \
        .groupBy(F.col("text").alias("term")).agg(F.count("*").alias("c"))
    occ = token_counts.unionByName(text_counts).groupBy("term") \
        .agg(F.sum("c").alias("num_occurences"))

    @F.pandas_udf("long")
    def score_f64(best_pos: pd.Series, occ_s: pd.Series, n_tokens: pd.Series,
                  is_exact: pd.Series) -> pd.Series:
        s = index_score_u64_f64(best_pos.values, occ_s.values, n_tokens.values,
                                is_exact.values)
        return pd.Series(s.astype(np.int64))

    return entries.join(occ, on="term").withColumn(
        "s", score_f64("best_pos", "num_occurences", "n_tokens", "is_exact"))


def _engine_hits_df_for(idx, request) -> DataFrame:
    """All hit doc ids of a request through the real segment kernel."""
    from veloci_spark.search import _search_hits

    hits, _plan, _leaves = _search_hits(idx, request, need_all=True)
    return hits.select(F.col("doc_id").cast("long")).orderBy("doc_id")


def _engine_hits_df(spark, sf_dir, request) -> DataFrame:
    return _engine_hits_df_for(_get_index(spark, sf_dir), request)


# ---------------------------------------------------------------------------
# contract functions


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from veloci_spark.query import query_to_request
    from veloci_spark.search import search_df

    idx = _get_index(spark, "/root/testdata/sf0.001")
    req = query_to_request("spark query", search_fields=["text"], top=10)
    return search_df(idx, req)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from veloci_spark.pipeline import dedup as dd
    from veloci_spark.pipeline import similarity as sim
    from veloci_spark.pipeline import textstats as ts

    def ft_tokenize_counts(spark, sf_dir):
        # B1/B2: grouped-separator token runs + corpus term frequencies
        return (
            _token_entries(spark, sf_dir)
            .groupBy("token").agg(F.sum("cnt").cast("long").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("token")).limit(200)
            .withColumnRenamed("token", "term")
        )

    def ft_term_dict(spark, sf_dir):
        # B3: global lexicographic term ids + num_occurences
        idx = _get_index(spark, sf_dir)
        return (
            idx.dict_df.where("field = 'text'")
            .select("term", F.col("term_id").cast("long").alias("term_id"),
                    F.col("num_occurences").cast("long").alias("num_occurences"))
            .orderBy("term_id")
        )

    def ft_postings(spark, sf_dir):
        # B5: token posting entries (best position, doc length)
        return (
            _token_entries(spark, sf_dir)
            .where(F.col("token").isin(TERMS))
            .groupBy("token", "doc_id")
            .agg(F.min("best_pos").cast("long").alias("best_pos"),
                 F.max("n_tokens").cast("long").alias("n_tokens"))
            .withColumnRenamed("token", "term")
            .orderBy("term", "doc_id")
        )

    def ft_index_scores(spark, sf_dir):
        # B4+B7 (f64 twin): summed per-(term, doc) index scores
        return (
            _f64_scored_entries(spark, sf_dir)
            .where(F.col("term").isin(TERMS))
            .groupBy("term", "doc_id").agg(F.sum("s").cast("long").alias("score"))
            .orderBy("term", "doc_id")
        )

    def ft_topk(spark, sf_dir):
        # Q18 ranking shape on the f64 scores: top-20, score DESC, doc DESC
        return (
            _f64_scored_entries(spark, sf_dir)
            .where(F.col("term") == "spark")
            .groupBy("doc_id").agg(F.sum("s").cast("long").alias("score"))
            .orderBy(F.desc("score"), F.desc("doc_id")).limit(20)
        )

    def ft_search_or_ids(spark, sf_dir):
        # Q9/Q11 through the real engine kernel: OR hit-id set
        return _engine_hits_df(spark, sf_dir, {
            "or": [{"search": {"terms": ["spark"], "path": "text"}},
                   {"search": {"terms": ["query"], "path": "text"}}],
        })

    def ft_search_and_ids(spark, sf_dir):
        # Q10 through the engine kernel: AND hit-id set
        return _engine_hits_df(spark, sf_dir, {
            "and": [{"search": {"terms": ["spark"], "path": "text"}},
                    {"search": {"terms": ["query"], "path": "text"}}],
        })

    def ft_search_filtered_ids(spark, sf_dir):
        # Q12: ids-only filter subtree intersected with the scored tree
        return _engine_hits_df(spark, sf_dir, {
            "search": {"terms": ["spark"], "path": "text"},
            "filter": {"search": {"terms": ["en"], "path": "lang"}},
        })

    def ft_fuzzy_ids(spark, sf_dir):
        # Q2 through the engine kernel: fuzzy d=1 hit-id set (length-banded
        # bounded levenshtein over the dictionary, then postings)
        return _engine_hits_df(spark, sf_dir, {
            "search": {"terms": ["spork"], "path": "text",
                       "levenshtein_distance": 1},
        })

    def ft_regex_ids(spark, sf_dir):
        # Q4 through the engine kernel: case-insensitive regex fullmatch
        # over the dictionary, then postings
        return _engine_hits_df(spark, sf_dir, {
            "search": {"terms": [".*quer.*"], "path": "text",
                       "is_regex": True},
        })

    def ft_prefix_fuzzy_ids(spark, sf_dir):
        # Q2+Q3 combined: prefix-Levenshtein-automaton matching (a dict
        # term matches when SOME prefix is within d of the query) — runs
        # as an OR of bounded JVM levenshteins over prefix lengths (r5);
        # the oracle states the same reduction in SQL
        return _engine_hits_df(spark, sf_dir, {
            "search": {"terms": ["spbrk"], "path": "text",
                       "starts_with": True, "levenshtein_distance": 1},
        })

    def ft_num_hits(spark, sf_dir):
        # exact num_hits on the PLAIN top-k path (search_result.rs:8-26):
        # the segment kernel emits per-segment hit counts alongside its
        # truncated top-k, so a top-10 response still reports the true
        # total without materializing the hit set (r4)
        from veloci_spark.search import search as engine_search

        idx = _get_index(spark, sf_dir)
        shapes = {
            "and": {"and": [{"search": {"terms": ["spark"], "path": "text"}},
                            {"search": {"terms": ["query"], "path": "text"}}]},
            "exact": {"search": {"terms": ["spark"], "path": "text"}},
            "filtered": {"search": {"terms": ["spark"], "path": "text"},
                         "filter": {"search": {"terms": ["en"],
                                               "path": "lang"}}},
            "or": {"or": [{"search": {"terms": ["spark"], "path": "text"}},
                          {"search": {"terms": ["query"], "path": "text"}}]},
        }
        rows = []
        for name, req in shapes.items():
            res = engine_search(idx, dict(req, top=10))
            assert res["num_hits_exact"] is True
            rows.append((name, int(res["num_hits"])))
        return spark.createDataFrame(rows, "shape string, num_hits long") \
            .orderBy("shape")

    def ft_phrase_docs(spark, sf_dir):
        # B9: adjacent non-separator pair index (packed per (pair, segment)
        # since layout v6 — decode through phrase_doc_rows)
        from veloci_spark.search import phrase_doc_rows

        idx = _get_index(spark, sf_dir)
        return (
            phrase_doc_rows(idx, ["spark"], ["query"])
            .where((F.col("tok_a") == "spark") & (F.col("tok_b") == "query"))
            .select(F.col("doc_id").cast("long"))
            .distinct()
            .orderBy("doc_id")
        )

    def ft_facet_lang(spark, sf_dir):
        # Q17: facet counts over the hits of a term search
        hits = _engine_hits_df(spark, sf_dir,
                               {"search": {"terms": ["spark"], "path": "text"}})
        return (
            hits.join(_documents(spark, sf_dir).select("doc_id", "lang"), "doc_id")
            .groupBy("lang").agg(F.count("*").cast("long").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("lang"))
        )

    def ft_dict_prefix(spark, sf_dir):
        # Q3: prefix range scan over the sorted dictionary
        idx = _get_index(spark, sf_dir)
        return (
            idx.dict_df.where("field = 'text'")
            .where(F.col("term").startswith("sc"))
            .select("term", F.col("num_occurences").cast("long").alias("num_occurences"))
            .orderBy("term")
        )

    def ft_bm25_topk(spark, sf_dir):
        # Okapi BM25 mode (IndexConfig.scoring="bm25"): top-20 docs for one
        # term by the build-time-quantized integer score — the oracle
        # recomputes df/N/avgdl/tf and the exact floor(100·bm25 + .5) values
        import numpy as np

        from veloci_spark.vbyte import unpack_postings

        idx = _get_bm25_index(spark, sf_dir)
        tid = (idx.dict_df
               .where((F.col("field") == "text") & (F.col("term") == "spark"))
               .select("term_id").first())
        if tid is None:
            return spark.createDataFrame([], "doc_id long, score long")
        rows = idx.postings.where(
            (F.col("field") == "text") & (F.col("term_id") == tid[0])).toPandas()
        seg_docs = idx.manifest["segment_docs"]
        pairs = []
        for _, r in rows.iterrows():
            ids, sc = unpack_postings(r["docs_bin"], r["scores_bin"])
            ids = ids + int(r["segment"]) * seg_docs
            pairs.extend((int(d), int(s)) for d, s in zip(ids, sc))
        pairs.sort(key=lambda t: (-t[1], -t[0]))
        return spark.createDataFrame(pairs[:20] or [], "doc_id long, score long")

    def ft_nested_search_ids(spark, sf_dir):
        # B10/Q8: term search over a 1:n value field → anchor (parent) ids
        idx = _get_nested_index(spark, sf_dir)
        return _engine_hits_df_for(idx, {
            "search": {"terms": ["spark"], "path": "texts[]"}})

    def ft_nested_facet_lang(spark, sf_dir):
        # Q17 on a 1:n facet field: VALUE counts over the hit parents
        # (facet.rs:75-94 — one count per value row, not per distinct value)
        idx = _get_nested_index(spark, sf_dir)
        hits = _engine_hits_df_for(idx, {
            "search": {"terms": ["spark"], "path": "texts[]"}})
        return (
            hits.join(idx.values["langs[]"].select("doc_id", "value"), "doc_id")
            .groupBy("value").agg(F.count("*").cast("long").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("value"))
            .withColumnRenamed("value", "lang")
        )

    def ft_nested_tokentexts(spark, sf_dir):
        # Q7: token → (anchor, value-pos) resolution for one term
        idx = _get_nested_index(spark, sf_dir)
        tid = (idx.dict_df
               .where((F.col("field") == "texts[]") & (F.col("term") == "query"))
               .select("term_id").first())
        if tid is None:
            return spark.createDataFrame([], "doc_id long, pos long")
        return (
            idx.tokentexts
            .where((F.col("field") == "texts[]") & (F.col("term_id") == tid[0]))
            .select(F.col("doc_id").cast("long"), F.col("pos").cast("long"))
            .distinct().orderBy("doc_id", "pos")
        )

    def ft_nested2_search_ids(spark, sf_dir):
        # B10 generalized: term search through TWO [] levels → anchor ids
        idx = _get_nested2_index(spark, sf_dir)
        return _engine_hits_df_for(idx, {
            "search": {"terms": ["spark"], "path": "sub[].texts[]"}})

    def ft_nested2_tokentexts(spark, sf_dir):
        # Q7 at depth 2: token → (anchor, pos_0, pos_1) through the packed
        # value identity (pos_level_cols decode)
        from veloci_spark.nested import pos_level_cols

        idx = _get_nested2_index(spark, sf_dir)
        tid = (idx.dict_df
               .where((F.col("field") == "sub[].texts[]")
                      & (F.col("term") == "query"))
               .select("term_id").first())
        if tid is None:
            return spark.createDataFrame(
                [], "doc_id long, pos_0 long, pos_1 long")
        lv = pos_level_cols(F.col("pos"), 2)
        return (
            idx.tokentexts
            .where((F.col("field") == "sub[].texts[]")
                   & (F.col("term_id") == tid[0]))
            .select(F.col("doc_id").cast("long"),
                    lv[0].cast("long").alias("pos_0"),
                    lv[1].cast("long").alias("pos_1"))
            .distinct().orderBy("doc_id", "pos_0", "pos_1")
        )

    def ft_nested_boost(spark, sf_dir):
        # value-relative boost (reference BoostToAnchor): a matched
        # members[].text value multiplies its anchor score by the SAME
        # element's rating. Output = boosted/unboosted ratio per anchor —
        # ratings are 1 or 2, so the f32 ratio is an exact power of two
        # (= product of matched elements' ratings).
        from veloci_spark.search import search

        idx = _get_nested_index(spark, sf_dir)
        req = {"search": {"terms": ["spark"], "path": "members[].text"},
               "top": 1_000_000}
        base = search(idx, req)
        boosted = search(idx, {
            **req,
            "boost": [{"path": "members[].rating", "boost_fun": "Multiply"}]})
        b0 = {d["doc_id"]: d["score"] for d in base["data"]}
        rows = sorted(
            (int(d["doc_id"]), int(round(d["score"] / b0[d["doc_id"]])))
            for d in boosted["data"])
        return spark.createDataFrame(rows or [], "doc_id long, ratio long")

    def ft_leg_boost(spark, sf_dir):
        # PER-LEG options.boost (reference RequestSearchPart options.boost,
        # tests.rs:843-871) through the COMPOSED evaluation path (one
        # kernel pass per leaf, boost per leg, eval_tree combine): a single
        # boosted leg's ratio to the unboosted search equals the product of
        # matched sibling ratings — the same closed form as
        # ft_nested_boost, exercised via the per-leaf machinery.
        from veloci_spark.search import search

        idx = _get_nested_index(spark, sf_dir)
        base = search(idx, {"search": {"terms": ["spark"],
                                       "path": "members[].text"},
                            "top": 1_000_000})
        boosted = search(idx, {
            "search": {"terms": ["spark"], "path": "members[].text",
                       "options": {"boost": [
                           {"path": "members[].rating",
                            "boost_fun": "Multiply"}]}},
            "top": 1_000_000})
        b0 = {d["doc_id"]: d["score"] for d in base["data"]}
        rows = sorted(
            (int(d["doc_id"]), int(round(d["score"] / b0[d["doc_id"]])))
            for d in boosted["data"])
        return spark.createDataFrame(rows or [], "doc_id long, ratio long")

    def ft_leg_boost_filtered(spark, sf_dir):
        # PER-LEG options.boost COMPOSED with a request-level filter (r5:
        # the composed path runs the full eval_segment pipeline — filter
        # legs ship as ids-only rows into the doc_id exchange). Filter ∩
        # keeps scores, so the boosted/unboosted ratio closed form (product
        # of matched sibling ratings) holds on exactly the parents whose
        # members also match the filter term.
        from veloci_spark.search import search

        idx = _get_nested_index(spark, sf_dir)
        filt = {"search": {"terms": ["dup"], "path": "members[].text"}}
        base = search(idx, {"search": {"terms": ["spark"],
                                       "path": "members[].text"},
                            "filter": filt, "top": 1_000_000})
        boosted = search(idx, {
            "search": {"terms": ["spark"], "path": "members[].text",
                       "options": {"boost": [
                           {"path": "members[].rating",
                            "boost_fun": "Multiply"}]}},
            "filter": filt, "top": 1_000_000})
        b0 = {d["doc_id"]: d["score"] for d in base["data"]}
        rows = sorted(
            (int(d["doc_id"]), int(round(d["score"] / b0[d["doc_id"]])))
            for d in boosted["data"])
        return spark.createDataFrame(rows or [], "doc_id long, ratio long")

    def dd_exact_groups(spark, sf_dir):
        return dd.exact_duplicates(_documents(spark, sf_dir)).select(
            F.col("canonical_id").cast("long"), F.col("doc_id").cast("long"))

    def dd_distinct_keep(spark, sf_dir):
        return (
            dd.distinct_docs(_documents(spark, sf_dir))
            .select(F.col("doc_id").cast("long")).orderBy("doc_id")
        )

    def dd_ngram_jaccard(spark, sf_dir):
        return dd.ngram_jaccard_pairs(
            _documents(spark, sf_dir), threshold=0.5
        ).select(
            F.col("doc_a").cast("long"), F.col("doc_b").cast("long"),
            F.col("inter").cast("long"),
            F.col("size_a").cast("long"), F.col("size_b").cast("long"),
            "jaccard")

    def dd_minhash_pairs(spark, sf_dir):
        # LSH candidates verified with EXACT n-gram Jaccard → the oracle is
        # brute-force Jaccard at the same threshold (recall ≈ 1 − 10⁻¹⁴)
        return dd.minhash_near_duplicates(
            _documents(spark, sf_dir), threshold=0.8
        ).select(
            F.col("doc_a").cast("long"), F.col("doc_b").cast("long"),
            F.col("inter").cast("long"),
            F.col("size_a").cast("long"), F.col("size_b").cast("long"),
            "jaccard")

    def dd_simhash_pairs(spark, sf_dir):
        # portable polynomial word hashes → the 60-bit fingerprint (and so
        # the exhaustive pigeonhole pair set) has an exact SQL twin
        return dd.simhash_near_duplicates(_documents(spark, sf_dir), hamming=3) \
            .select(F.col("doc_a").cast("long"), F.col("doc_b").cast("long"),
                    F.col("hamming").cast("long"))

    def dd_minhash_clusters(spark, sf_dir):
        # near-dup pairs → connected components (min-id canonical label);
        # oracle = recursive transitive closure over the brute-force-exact
        # Jaccard pairs (the pair sets are proven equal by dd_minhash_pairs)
        pairs = dd.minhash_near_duplicates(_documents(spark, sf_dir),
                                           threshold=0.8)
        return (
            dd.cluster_near_duplicates(pairs)
            .select(F.col("doc_id").cast("long"),
                    F.col("cluster_id").cast("long"))
            .orderBy("doc_id")
        )

    def dd_neardup_distinct(spark, sf_dir):
        # keep-one-per-cluster: docs minus the non-canonical members
        docs = _documents(spark, sf_dir)
        pairs = dd.minhash_near_duplicates(docs, threshold=0.8)
        clusters = dd.cluster_near_duplicates(pairs)
        return (
            dd.distinct_by_cluster(docs, clusters)
            .select(F.col("doc_id").cast("long"))
            .orderBy("doc_id")
        )

    def sim_cosine_topk(spark, sf_dir):
        emb = _embeddings(spark, sf_dir)
        qs = emb.where(F.col("vec_id") < 3)
        return sim.cosine_topk_pairs(emb, qs, k=10).select(
            F.col("query_id").cast("long"), F.col("vec_id").cast("long"),
            F.col("rank").cast("long"))

    def sim_embedding_neardup(spark, sf_dir):
        # multi-table hyperplane LSH candidates verified with true cosine;
        # oracle = DuckDB brute-force cosine ≥ θ (ids only — the cosine value
        # itself is float-summation-order sensitive).
        # The testdata embeddings are near-orthogonal (max pairwise cosine
        # ≈0.51), so the corpus is augmented with a deterministic perturbed
        # twin per vector (id+100000, v'ᵢ = vᵢ + 0.2·vᵢ₊₁ mod d → cosine
        # ≈0.98): ~500 true near-dup pairs the LSH must ALL recover for the
        # hash to match — a real recall gate, not a vacuous 0-row match.
        emb = _embeddings(spark, sf_dir).select(
            "vec_id", F.expr("CAST(embedding AS ARRAY<DOUBLE>)").alias("embedding"))
        pert = emb.select(
            (F.col("vec_id") + 100000).alias("vec_id"),
            F.expr("transform(embedding, (x, i) -> x + 0.2D * "
                   "element_at(embedding, ((i + 1) % size(embedding)) + 1))"
                   ).alias("embedding"))
        return dd.embedding_near_duplicates(
            emb.unionByName(pert), threshold=0.9
        ).select(F.col("id_a").cast("long"), F.col("id_b").cast("long"))

    def sim_ivf_topk(spark, sf_dir):
        # IVF ANN with nprobe = ncells (probe-all): exercises the k-means
        # cell assignment + probe machinery while remaining EXACT — the
        # brute-force oracle must match rank for rank
        import numpy as np

        emb = _embeddings(spark, sf_dir)
        assigned, centroids = sim.ivf_build(emb, ncells=8)
        assigned = assigned.cache()
        out = None
        for qid in (5, 6, 7):
            qv = np.asarray(
                emb.where(F.col("vec_id") == qid).first()["embedding"],
                dtype=np.float64)
            # ivf_topk returns rows already in (cosine DESC, vec_id ASC) order
            pdf = sim.ivf_topk(assigned, centroids, qv, k=10, nprobe=8) \
                .select("vec_id").toPandas()
            rows = [(qid, int(v), i + 1) for i, v in enumerate(pdf["vec_id"])]
            df = spark.createDataFrame(rows, "query_id long, vec_id long, rank long")
            out = df if out is None else out.unionByName(df)
        return out.orderBy("query_id", "rank")

    def sim_ivf_recall(spark, sf_dir):
        # IVF ANN in its REAL regime: nprobe=4 < ncells=16, over the
        # cell-partitioned parquet layout (ivf_write → ivf_load, so probes
        # prune whole files, not just rows). The testdata embeddings are
        # near-orthogonal, so the corpus is augmented with 10 deterministic
        # twins per query (ids 200000+qid*100+j, strength 0.02·j → cosine
        # 0.98..0.9998): brute-force top-10 = self + twins j=1..9, and the
        # oracle demands IVF recover it RANK FOR RANK while scanning only
        # 4/16 cells — recall 1.0 on planted structure, a real ANN gate.
        import numpy as np

        emb = _embeddings(spark, sf_dir).select(
            "vec_id", F.expr("CAST(embedding AS ARRAY<DOUBLE>)").alias("embedding"))
        pert = (
            emb.where(F.col("vec_id") < 5)
            .select("vec_id", "embedding",
                    F.explode(F.expr("sequence(1, 10)")).alias("j"))
            .select(
                (F.lit(200000) + F.col("vec_id") * 100 + F.col("j"))
                .alias("vec_id"),
                F.expr("transform(embedding, (x, i) -> x + (0.02D * j) * "
                       "element_at(embedding, ((i + 1) % size(embedding)) + 1))"
                       ).alias("embedding")))
        corpus = emb.unionByName(pert)
        assigned, centroids = sim.ivf_build(corpus, ncells=16)
        data_fp = _data_fingerprint(f"{sf_dir}/embeddings.parquet")
        ivf_dir = f"/tmp/veloci_entry_ivf_{hashlib.md5(data_fp.encode()).hexdigest()[:10]}"
        sim.ivf_write(assigned, ivf_dir)
        stored = sim.ivf_load(spark, ivf_dir)
        qs = {r["vec_id"]: r["embedding"]
              for r in emb.where(F.col("vec_id") < 5).collect()}
        rows = []
        for qid in sorted(qs):
            pdf = sim.ivf_topk(stored, centroids,
                               np.asarray(qs[qid], dtype=np.float64),
                               k=10, nprobe=4).select("vec_id").toPandas()
            rows += [(qid, int(v), i + 1) for i, v in enumerate(pdf["vec_id"])]
        return spark.createDataFrame(rows, "query_id long, vec_id long, rank long")

    def ts_quality(spark, sf_dir):
        return ts.quality_scores(_documents(spark, sf_dir)).select(
            F.col("doc_id").cast("long"),
            F.col("n_chars").cast("long"), F.col("n_words").cast("long"),
            "punct_ratio", "digit_ratio", "upper_ratio", "stopword_ratio",
            "mean_word_len").orderBy("doc_id")

    def ts_token_counts(spark, sf_dir):
        return ts.token_counts(_documents(spark, sf_dir)).select(
            F.col("doc_id").cast("long"),
            F.col("n_ws_tokens").cast("long"),
            F.col("n_subword_pieces").cast("long")).orderBy("doc_id")

    def ts_langid(spark, sf_dir):
        return ts.language_id(_documents(spark, sf_dir)).select(
            F.col("doc_id").cast("long"), "lang_pred",
            F.col("lang_score").cast("long")).orderBy("doc_id")

    def ts_fingerprints(spark, sf_dir):
        # winnowing fingerprints as flat (doc_id, fp) rows; the modular
        # rolling hash is recomputed exactly by the DuckDB oracle
        return ts.fingerprints(_documents(spark, sf_dir)).orderBy("doc_id", "fp")

    return {
        "ft_tokenize_counts": ft_tokenize_counts,
        "ft_term_dict": ft_term_dict,
        "ft_postings": ft_postings,
        "ft_index_scores": ft_index_scores,
        "ft_topk": ft_topk,
        "ft_search_or_ids": ft_search_or_ids,
        "ft_search_and_ids": ft_search_and_ids,
        "ft_search_filtered_ids": ft_search_filtered_ids,
        "ft_fuzzy_ids": ft_fuzzy_ids,
        "ft_regex_ids": ft_regex_ids,
        "ft_prefix_fuzzy_ids": ft_prefix_fuzzy_ids,
        "ft_num_hits": ft_num_hits,
        "ft_phrase_docs": ft_phrase_docs,
        "ft_facet_lang": ft_facet_lang,
        "ft_dict_prefix": ft_dict_prefix,
        "ft_bm25_topk": ft_bm25_topk,
        "ft_nested_search_ids": ft_nested_search_ids,
        "ft_nested_facet_lang": ft_nested_facet_lang,
        "ft_nested_tokentexts": ft_nested_tokentexts,
        "ft_nested2_search_ids": ft_nested2_search_ids,
        "ft_nested2_tokentexts": ft_nested2_tokentexts,
        "ft_nested_boost": ft_nested_boost,
        "ft_leg_boost": ft_leg_boost,
        "ft_leg_boost_filtered": ft_leg_boost_filtered,
        "dd_exact_groups": dd_exact_groups,
        "dd_distinct_keep": dd_distinct_keep,
        "dd_ngram_jaccard": dd_ngram_jaccard,
        "dd_minhash_pairs": dd_minhash_pairs,
        "dd_minhash_clusters": dd_minhash_clusters,
        "dd_neardup_distinct": dd_neardup_distinct,
        "dd_simhash_pairs": dd_simhash_pairs,
        "sim_cosine_topk": sim_cosine_topk,
        "sim_ivf_topk": sim_ivf_topk,
        "sim_ivf_recall": sim_ivf_recall,
        "sim_embedding_neardup": sim_embedding_neardup,
        "ts_quality": ts_quality,
        "ts_token_counts": ts_token_counts,
        "ts_langid": ts_langid,
        "ts_fingerprints": ts_fingerprints,
    }


def oracle_sql() -> dict[str, str]:
    runs = _runs_cte()
    occ = _occ_cte()
    entries = _entries_cte()

    sql = {}

    sql["ft_tokenize_counts"] = f"""
WITH {runs}
SELECT tok AS term, COUNT(*)::BIGINT AS cnt
FROM runs GROUP BY tok
ORDER BY cnt DESC, term ASC LIMIT 200
"""

    sql["ft_term_dict"] = f"""
WITH {runs}, {occ}
SELECT term, ROW_NUMBER() OVER (ORDER BY term) - 1 AS term_id, num_occurences
FROM occ ORDER BY term_id
"""

    sql["ft_postings"] = f"""
WITH {runs}
SELECT tok AS term, doc_id, MIN(pos)::BIGINT AS best_pos,
       MAX(n_tokens)::BIGINT AS n_tokens
FROM runs WHERE tok IN {_TERMS_SQL}
GROUP BY tok, doc_id ORDER BY term, doc_id
"""

    sql["ft_index_scores"] = f"""
WITH {runs}, {occ}, {entries}
SELECT term, doc_id, SUM(s)::BIGINT AS score
FROM scored WHERE term IN {_TERMS_SQL}
GROUP BY term, doc_id ORDER BY term, doc_id
"""

    sql["ft_topk"] = f"""
WITH {runs}, {occ}, {entries}
SELECT doc_id, SUM(s)::BIGINT AS score
FROM scored WHERE term = 'spark'
GROUP BY doc_id ORDER BY score DESC, doc_id DESC LIMIT 20
"""

    sql["ft_search_or_ids"] = f"""
WITH {runs}
SELECT DISTINCT doc_id FROM runs
WHERE tok IN ('spark', 'query') ORDER BY doc_id
"""

    sql["ft_search_and_ids"] = f"""
WITH {runs}
SELECT doc_id FROM runs WHERE tok IN ('spark', 'query')
GROUP BY doc_id HAVING COUNT(DISTINCT tok) = 2 ORDER BY doc_id
"""

    sql["ft_search_filtered_ids"] = f"""
WITH {runs}
SELECT DISTINCT r.doc_id FROM runs r
JOIN documents d ON d.doc_id = r.doc_id
WHERE r.tok = 'spark' AND d.lang = 'en' ORDER BY r.doc_id
"""

    sql["ft_fuzzy_ids"] = f"""
WITH {runs}
SELECT DISTINCT doc_id FROM runs
WHERE levenshtein(lower(tok), 'spork') <= 1 ORDER BY doc_id
"""

    sql["ft_regex_ids"] = f"""
WITH {runs}
SELECT DISTINCT doc_id FROM runs
WHERE regexp_full_match(tok, '(?i).*quer.*') ORDER BY doc_id
"""

    # prefix-Levenshtein automaton: term matches when some PREFIX is within
    # d of the query; an accepting prefix has length within d of |q|, so
    # the predicate is an OR over prefix lengths 4..6 for |q|=5, d=1 — the
    # same reduction the engine runs as JVM levenshteins. The dictionary is
    # token runs ∪ storable (≤64 B) full texts, exactly like the engine's.
    sql["ft_prefix_fuzzy_ids"] = f"""
WITH {runs}
SELECT DISTINCT doc_id FROM (
  SELECT doc_id, tok AS term FROM runs
  UNION ALL
  SELECT doc_id, text AS term FROM documents
  WHERE octet_length(encode(text)) <= 64
)
WHERE levenshtein(substr(lower(term), 1, 4), 'spbrk') <= 1
   OR levenshtein(substr(lower(term), 1, 5), 'spbrk') <= 1
   OR levenshtein(substr(lower(term), 1, 6), 'spbrk') <= 1
ORDER BY doc_id
"""

    sql["ft_num_hits"] = f"""
WITH {runs}
SELECT 'and' AS shape, COUNT(*)::BIGINT AS num_hits FROM (
  SELECT doc_id FROM runs WHERE tok IN ('spark', 'query')
  GROUP BY doc_id HAVING COUNT(DISTINCT tok) = 2)
UNION ALL
SELECT 'exact', COUNT(DISTINCT doc_id)::BIGINT FROM runs WHERE tok = 'spark'
UNION ALL
SELECT 'filtered', COUNT(DISTINCT r.doc_id)::BIGINT FROM runs r
JOIN documents d ON d.doc_id = r.doc_id
WHERE r.tok = 'spark' AND d.lang = 'en'
UNION ALL
SELECT 'or', COUNT(DISTINCT doc_id)::BIGINT FROM runs
WHERE tok IN ('spark', 'query')
ORDER BY shape
"""

    sql["ft_phrase_docs"] = f"""
WITH {runs},
nonsep AS (
  SELECT doc_id, tok, pos FROM runs
  WHERE NOT regexp_full_match(tok, '{_SEP_PAT}')
),
pairs AS (
  SELECT doc_id, tok AS tok_a,
         LEAD(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS tok_b
  FROM nonsep
)
SELECT DISTINCT doc_id FROM pairs
WHERE tok_a = 'spark' AND tok_b = 'query' ORDER BY doc_id
"""

    sql["ft_facet_lang"] = f"""
WITH {runs},
hits AS (SELECT DISTINCT doc_id FROM runs WHERE tok = 'spark')
SELECT d.lang, COUNT(*)::BIGINT AS cnt
FROM hits h JOIN documents d USING (doc_id)
GROUP BY d.lang ORDER BY cnt DESC, lang ASC
"""

    sql["ft_dict_prefix"] = f"""
WITH {runs}, {occ}
SELECT term, num_occurences FROM occ
WHERE term LIKE 'sc%' ORDER BY term
"""

    # Okapi BM25 (k1=1.2, b=0.75, Lucene idf), quantized
    # floor(100·s + 0.5) min 1, duplicate (term, doc) entries summed;
    # df counts texts per term (token texts ∪ storable exact texts),
    # N/avgdl over tokenized texts only — mirrors the build's stats
    sql["ft_bm25_topk"] = f"""
WITH {runs},
toks AS (
  SELECT doc_id, tok, COUNT(*) AS tf, MAX(n_tokens) AS dl
  FROM runs GROUP BY doc_id, tok
),
stats AS (
  SELECT COUNT(*) AS n_texts, AVG(dl) AS avgdl
  FROM (SELECT doc_id, MAX(n_tokens) AS dl FROM runs GROUP BY doc_id)
),
dfreq AS (
  SELECT c AS df FROM (
    SELECT (SELECT COUNT(*) FROM toks WHERE tok = 'spark')
         + (SELECT COUNT(*) FROM documents
            WHERE octet_length(encode(text)) <= 64 AND text = 'spark') AS c)
),
ent AS (
  SELECT doc_id, tf::DOUBLE AS tf, dl::DOUBLE AS dl FROM toks WHERE tok = 'spark'
  UNION ALL
  SELECT doc_id, 1.0, 1.0 FROM documents
  WHERE octet_length(encode(text)) <= 64 AND text = 'spark'
),
scored AS (
  SELECT e.doc_id,
    GREATEST(FLOOR(100.0 * ln(1.0 + (s.n_texts - d.df + 0.5) / (d.df + 0.5))
      * (e.tf * 2.2) / (e.tf + 1.2 * (1.0 - 0.75 + 0.75 * e.dl / s.avgdl))
      + 0.5), 1.0)::BIGINT AS v
  FROM ent e, stats s, dfreq d
)
SELECT doc_id, SUM(v)::BIGINT AS score FROM scored
GROUP BY doc_id ORDER BY score DESC, doc_id DESC LIMIT 20
"""

    # nested corpus twin: parent = doc_id // 10, member pos = doc_id % 10
    # (doc ids are contiguous), values ordered by member id — identical
    # derivation to _nested_docs
    sql["ft_nested_search_ids"] = f"""
WITH {runs}
SELECT DISTINCT doc_id FROM (
  SELECT doc_id // {NESTED_GROUP} AS doc_id FROM runs WHERE tok = 'spark'
  UNION ALL
  SELECT doc_id // {NESTED_GROUP} FROM documents
  WHERE octet_length(encode(text)) <= 64 AND lower(text) = 'spark'
) ORDER BY doc_id
"""

    sql["ft_nested_facet_lang"] = f"""
WITH {runs},
hits AS (
  SELECT DISTINCT parent FROM (
    SELECT doc_id // {NESTED_GROUP} AS parent FROM runs WHERE tok = 'spark'
    UNION ALL
    SELECT doc_id // {NESTED_GROUP} FROM documents
    WHERE octet_length(encode(text)) <= 64 AND lower(text) = 'spark'
  )
)
SELECT d.lang, COUNT(*)::BIGINT AS cnt
FROM documents d JOIN hits h ON d.doc_id // {NESTED_GROUP} = h.parent
GROUP BY d.lang ORDER BY cnt DESC, lang ASC
"""

    sql["ft_nested_tokentexts"] = f"""
WITH {runs}
SELECT DISTINCT doc_id, pos FROM (
  SELECT doc_id // {NESTED_GROUP} AS doc_id, doc_id % {NESTED_GROUP} AS pos
  FROM runs WHERE tok = 'query'
  UNION ALL
  SELECT doc_id // {NESTED_GROUP}, doc_id % {NESTED_GROUP} FROM documents
  WHERE octet_length(encode(text)) <= 64 AND text = 'query'
) ORDER BY doc_id, pos
"""

    # 2-level corpus twin: parent = doc_id // 100, pos_0 = (doc_id//10)%10,
    # pos_1 = doc_id%10 — identical derivation to _nested2_docs
    sql["ft_nested2_search_ids"] = f"""
WITH {runs}
SELECT DISTINCT doc_id FROM (
  SELECT doc_id // {NESTED2_GROUP} AS doc_id FROM runs WHERE tok = 'spark'
  UNION ALL
  SELECT doc_id // {NESTED2_GROUP} FROM documents
  WHERE octet_length(encode(text)) <= 64 AND lower(text) = 'spark'
) ORDER BY doc_id
"""

    sql["ft_nested2_tokentexts"] = f"""
WITH {runs}
SELECT DISTINCT doc_id, pos_0, pos_1 FROM (
  SELECT doc_id // {NESTED2_GROUP} AS doc_id,
         (doc_id // {NESTED_GROUP}) % {NESTED_GROUP} AS pos_0,
         doc_id % {NESTED_GROUP} AS pos_1
  FROM runs WHERE tok = 'query'
  UNION ALL
  SELECT doc_id // {NESTED2_GROUP},
         (doc_id // {NESTED_GROUP}) % {NESTED_GROUP},
         doc_id % {NESTED_GROUP} FROM documents
  WHERE octet_length(encode(text)) <= 64 AND text = 'query'
) ORDER BY doc_id, pos_0, pos_1
"""

    # value-relative boost ratio = product of ratings (1 + member_id % 2)
    # over the DISTINCT matched member elements of each parent
    sql["ft_nested_boost"] = f"""
WITH {runs},
matched AS (
  SELECT DISTINCT doc_id // {NESTED_GROUP} AS parent,
                  doc_id % {NESTED_GROUP} AS pos
  FROM (
    SELECT doc_id FROM runs WHERE tok = 'spark'
    UNION ALL
    SELECT doc_id FROM documents
    WHERE octet_length(encode(text)) <= 64 AND lower(text) = 'spark'
  )
)
SELECT parent AS doc_id,
       CAST(product(1 + (parent * {NESTED_GROUP} + pos) % 2) AS BIGINT) AS ratio
FROM matched GROUP BY parent ORDER BY doc_id
"""

    sql["ft_leg_boost"] = f"""
WITH {runs},
matched AS (
  SELECT DISTINCT doc_id // {NESTED_GROUP} AS parent,
                  doc_id % {NESTED_GROUP} AS pos
  FROM (
    SELECT doc_id FROM runs WHERE tok = 'spark'
    UNION ALL
    SELECT doc_id FROM documents
    WHERE octet_length(encode(text)) <= 64 AND lower(text) = 'spark'
  )
)
SELECT parent AS doc_id,
       CAST(product(1 + (parent * {NESTED_GROUP} + pos) % 2) AS BIGINT) AS ratio
FROM matched GROUP BY parent ORDER BY doc_id
"""

    sql["ft_leg_boost_filtered"] = f"""
WITH {runs},
matched AS (
  SELECT DISTINCT doc_id // {NESTED_GROUP} AS parent,
                  doc_id % {NESTED_GROUP} AS pos
  FROM (
    SELECT doc_id FROM runs WHERE tok = 'spark'
    UNION ALL
    SELECT doc_id FROM documents
    WHERE octet_length(encode(text)) <= 64 AND lower(text) = 'spark'
  )
),
filt AS (
  SELECT DISTINCT doc_id // {NESTED_GROUP} AS parent
  FROM (
    SELECT doc_id FROM runs WHERE tok = 'dup'
    UNION ALL
    SELECT doc_id FROM documents
    WHERE octet_length(encode(text)) <= 64 AND lower(text) = 'dup'
  )
)
SELECT parent AS doc_id,
       CAST(product(1 + (parent * {NESTED_GROUP} + pos) % 2) AS BIGINT) AS ratio
FROM matched JOIN filt USING (parent)
GROUP BY parent ORDER BY doc_id
"""

    sql["dd_exact_groups"] = """
WITH g AS (
  SELECT text, MIN(doc_id) AS canonical_id, COUNT(*) AS n
  FROM documents GROUP BY text HAVING COUNT(*) > 1
)
SELECT g.canonical_id, d.doc_id
FROM g JOIN documents d USING (text)
ORDER BY canonical_id, doc_id
"""

    sql["dd_distinct_keep"] = """
SELECT MIN(doc_id)::BIGINT AS doc_id FROM documents
GROUP BY text ORDER BY doc_id
"""

    _shingles = r"""
sh AS (
  SELECT DISTINCT doc_id,
         w[i + 1] || ' ' || w[i + 2] || ' ' || w[i + 3] AS shingle
  FROM (SELECT doc_id,
               list_filter(regexp_split_to_array(lower(text), '\W+'),
                           x -> x <> '') AS w
        FROM documents),
       LATERAL (SELECT unnest(range(len(w) - 2)) AS i) t
  WHERE len(w) >= 3
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id)
"""

    sql["dd_ngram_jaccard"] = f"""
WITH {_shingles}
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       COUNT(*)::BIGINT AS inter,
       MAX(sa.n)::BIGINT AS size_a, MAX(sb.n)::BIGINT AS size_b,
       COUNT(*) / (MAX(sa.n) + MAX(sb.n) - COUNT(*)) AS jaccard
FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
JOIN sizes sa ON sa.doc_id = a.doc_id
JOIN sizes sb ON sb.doc_id = b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING COUNT(*) / (MAX(sa.n) + MAX(sb.n) - COUNT(*)) >= 0.5
ORDER BY doc_a, doc_b
"""

    # exact-verified MinHash LSH ≡ brute-force n-gram Jaccard at threshold
    # (candidate recall ≈ 1 − 10⁻¹⁴ with 32 bands × 2 rows; see dedup.py)
    sql["dd_minhash_pairs"] = f"""
WITH {_shingles}
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       COUNT(*)::BIGINT AS inter,
       MAX(sa.n)::BIGINT AS size_a, MAX(sb.n)::BIGINT AS size_b,
       COUNT(*) / (MAX(sa.n) + MAX(sb.n) - COUNT(*)) AS jaccard
FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
JOIN sizes sa ON sa.doc_id = a.doc_id
JOIN sizes sb ON sb.doc_id = b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING COUNT(*) / (MAX(sa.n) + MAX(sb.n) - COUNT(*)) >= 0.8
ORDER BY doc_a, doc_b
"""

    # connected components over the brute-force-exact near-dup pairs:
    # recursive transitive closure, cluster = min reachable id
    _cc = f"""
WITH RECURSIVE {_shingles},
p AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  JOIN sizes sa ON sa.doc_id = a.doc_id
  JOIN sizes sb ON sb.doc_id = b.doc_id
  GROUP BY a.doc_id, b.doc_id
  HAVING COUNT(*) / (MAX(sa.n) + MAX(sb.n) - COUNT(*)) >= 0.8
),
e AS (SELECT doc_a AS a, doc_b AS b FROM p
      UNION SELECT doc_b, doc_a FROM p),
r AS (
  SELECT a AS node, a AS reach FROM e
  UNION
  SELECT r.node, e.b FROM r JOIN e ON e.a = r.reach
),
cc AS (SELECT node AS doc_id, MIN(reach) AS cluster_id FROM r GROUP BY node)
"""

    sql["dd_minhash_clusters"] = _cc + """
SELECT doc_id::BIGINT AS doc_id, cluster_id::BIGINT AS cluster_id
FROM cc ORDER BY doc_id
"""

    sql["dd_neardup_distinct"] = _cc + """
SELECT d.doc_id::BIGINT AS doc_id FROM documents d
WHERE d.doc_id NOT IN (SELECT doc_id FROM cc WHERE doc_id <> cluster_id)
ORDER BY doc_id
"""

    # brute-force 60-bit portable SimHash: Horner polynomial word hashes
    # (mod 1e9+7 / 998244353 — every intermediate fits in BIGINT), per-bit
    # sign votes, all pairs with Hamming ≤ 3. The engine's pigeonhole
    # block-join is exhaustive, so the sets match exactly.
    _wcps = "list_prepend(0::BIGINT, list_transform(string_split(w, ''), c -> unicode(c)::BIGINT))"
    sql["dd_simhash_pairs"] = rf"""
WITH words AS (
  SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(text), '\W+'),
                                    x -> x <> '')) AS w
  FROM documents
),
wh AS (
  SELECT doc_id,
    (list_reduce({_wcps}, (acc, x) -> (acc * 131 + x) % 1000000007) % (1::BIGINT<<30))
      * (1::BIGINT<<30)
    + list_reduce({_wcps}, (acc, x) -> (acc * 137 + x) % 998244353) % (1::BIGINT<<30) AS h
  FROM words
),
votes AS (
  SELECT doc_id, b, SUM(2 * ((h >> b) & 1) - 1) AS v
  FROM wh, LATERAL (SELECT unnest(range(60)) AS b) t
  GROUP BY doc_id, b
),
fp AS (
  SELECT doc_id, SUM(CASE WHEN v > 0 THEN 1::BIGINT << b ELSE 0 END)::BIGINT AS f
  FROM votes GROUP BY doc_id
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.f, b.f))::BIGINT AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.f, b.f)) <= 3
ORDER BY doc_a, doc_b
"""

    # brute-force cosine near-dup over the same perturbed-twin augmentation
    # (the LSH engine path must reach recall 1 on ~500 true pairs at cosine
    # ≈0.98 or this oracle fails — that is the point)
    sql["sim_embedding_neardup"] = """
WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
v AS (
  SELECT vec_id, e FROM base
  UNION ALL
  SELECT vec_id + 100000,
         list_transform(range(len(e)),
                        i -> e[i + 1] + 0.2 * e[((i + 1) % len(e)) + 1])
  FROM base
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b
FROM v a JOIN v b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.e, b.e) >= 0.9
ORDER BY id_a, id_b
"""

    sql["sim_cosine_topk"] = """
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id < 3),
c AS (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings),
scored AS (
  SELECT q.query_id, c.vec_id,
         list_cosine_similarity(c.cv, q.qv) AS cosine
  FROM c CROSS JOIN q
),
ranked AS (
  SELECT query_id, vec_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, rank FROM ranked
WHERE rank <= 10 ORDER BY query_id, rank
"""

    sql["sim_ivf_topk"] = """
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id IN (5, 6, 7)),
c AS (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings),
scored AS (
  SELECT q.query_id, c.vec_id,
         list_cosine_similarity(c.cv, q.qv) AS cosine
  FROM c CROSS JOIN q
),
ranked AS (
  SELECT query_id, vec_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, rank FROM ranked
WHERE rank <= 10 ORDER BY query_id, rank
"""

    # brute-force top-10 over the twin-augmented corpus (same bit-identical
    # DOUBLE perturbation as the Spark side) — IVF at nprobe=4/ncells=16
    # must match rank for rank
    sql["sim_ivf_recall"] = """
WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
twins AS (
  SELECT 200000 + b.vec_id * 100 + t.j AS vec_id,
         list_transform(range(len(e)),
                        i -> e[i + 1] + (0.02 * t.j) * e[((i + 1) % len(e)) + 1]) AS e
  FROM base b, range(1, 11) t(j)
  WHERE b.vec_id < 5
),
v AS (SELECT vec_id, e FROM base UNION ALL SELECT vec_id, e FROM twins),
q AS (SELECT vec_id AS query_id, e AS qv FROM base WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, v.vec_id,
         list_cosine_similarity(v.e, q.qv) AS cosine
  FROM v CROSS JOIN q
),
ranked AS (
  SELECT query_id, vec_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, rank FROM ranked
WHERE rank <= 10 ORDER BY query_id, rank
"""

    sql["ts_quality"] = r"""
WITH t AS (
  SELECT doc_id, text,
         list_filter(regexp_split_to_array(lower(text), '\W+'),
                     x -> x <> '') AS w
  FROM documents
)
SELECT doc_id,
  length(text)::BIGINT AS n_chars,
  len(w)::BIGINT AS n_words,
  (length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g')))
    / GREATEST(length(text), 1) AS punct_ratio,
  (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))
    / GREATEST(length(text), 1) AS digit_ratio,
  (length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')))
    / GREATEST(length(text), 1) AS upper_ratio,
  len(list_filter(w, x -> list_contains(
      ['the','and','of','to','is','that','for','with'], x)))
    / GREATEST(len(w), 1) AS stopword_ratio,
  list_sum(list_transform(w, x -> length(x)))
    / GREATEST(len(w), 1) AS mean_word_len
FROM t ORDER BY doc_id
"""

    sql["ts_token_counts"] = r"""
SELECT doc_id,
  len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> ''))::BIGINT
    AS n_ws_tokens,
  len(regexp_extract_all(text,
      '[A-Za-zÀ-ÿ]+|[0-9]+|[^\sA-Za-zÀ-ÿ0-9]'))::BIGINT AS n_subword_pieces
FROM documents ORDER BY doc_id
"""

    _markers = {
        "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit"],
        "en": ["the", "and", "of", "to", "is", "that", "for", "with"],
        "es": ["el", "la", "los", "las", "que", "por", "una", "con"],
        "fr": ["le", "les", "des", "est", "que", "pour", "dans", "une"],
    }
    score_cols = ",\n  ".join(
        f"len(list_filter(w, x -> list_contains({m!r}, x))) AS s_{lang}"
        for lang, m in sorted(_markers.items())
    ).replace("'", "'")
    # best = first language (sorted) with the max positive score
    sql["ts_langid"] = (
        r"""
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\W+'),
                     x -> x <> '') AS w
  FROM documents
),
s AS (
  SELECT doc_id,
  """
        + score_cols
        + """
  FROM t
)
SELECT doc_id,
  CASE WHEN GREATEST(s_de, s_en, s_es, s_fr) <= 0 THEN 'und'
       WHEN s_de = GREATEST(s_de, s_en, s_es, s_fr) THEN 'de'
       WHEN s_en = GREATEST(s_de, s_en, s_es, s_fr) THEN 'en'
       WHEN s_es = GREATEST(s_de, s_en, s_es, s_fr) THEN 'es'
       ELSE 'fr' END AS lang_pred,
  GREATEST(s_de, s_en, s_es, s_fr, 0)::BIGINT AS lang_score
FROM s ORDER BY doc_id
"""
    )
    # lang_score for 'und' docs: engine reports the max marker count (0 here)

    from veloci_spark.pipeline.textstats import FP_MOD, FP_POWERS, FP_WINDOW

    _fp_terms = " + ".join(f"cps[i + {j + 1}] * {FP_POWERS[j]}::BIGINT"
                           for j in range(FP_WINDOW))
    sql["ts_fingerprints"] = f"""
WITH cp AS (
  SELECT doc_id,
         list_transform(string_split(lower(text), ''),
                        c -> unicode(c)::BIGINT) AS cps
  FROM documents
),
wins AS (
  SELECT doc_id, i, ({_fp_terms}) % {FP_MOD} AS h
  FROM cp, LATERAL (SELECT unnest(range(len(cps) - {FP_WINDOW - 1})) AS i) t
  WHERE len(cps) >= {FP_WINDOW}
),
blockmins AS (
  SELECT doc_id, MIN(h) AS fp FROM wins GROUP BY doc_id, i // {FP_WINDOW}
)
SELECT DISTINCT doc_id, fp FROM blockmins ORDER BY doc_id, fp
"""

    return sql
