"""Distributed inverted-index build (the write path).

Reproduces the reference build dataflow (SURVEY.md §2.2, B1–B12) as an
idiomatic Spark pipeline. Stage map (reference citations are for *semantics*,
the implementation is Spark-first):

1. ``assign_doc_ids`` — deterministic global doc ids = rank of ``url`` in the
   global sort order (veloci anchor_id ≈ insertion order,
   /root/reference/json_converter/src/lib.rs:152-168). Implemented
   shuffle-once: ``repartitionByRange(order_col)`` + per-partition counts →
   driver-side prefix sum → ``mapInPandas`` local rank + partition offset.
   No single-node ``Window.orderBy`` — this is the piece that must survive
   10^12 rows.
2. tokenization — one ``mapInPandas`` pass emitting flat token rows
   (grouped-separator semantics, veloci_spark.tokenizer). Flat rows beat an
   ``array<struct>`` column here: the downstream aggregations all want the
   exploded form, and Arrow moves flat columns cheaper than nested lists.
3. term stats (B2) — token counts ∪ storable full-text counts →
   ``groupBy(term).sum`` (partial aggregation handles stop-word skew
   map-side).
4. term-id assignment (B3) — term_id = global lexicographic rank per field
   (/root/reference/src/create/create_fulltext.rs:68-77). Same
   range-partition + prefix-sum trick as doc ids; per-field offsets.
5. index-time scores (B4, veloci_spark.scoring, float32 + u32 truncation),
   duplicate (term, doc) scores summed (B7,
   /root/reference/src/create.rs:388-413).
6. segmenting + packing (B6–B8): ``segment = doc_id // segment_docs`` —
   postings are **doc-partitioned**, so even a stop-word's posting list is
   bounded by ``segment_docs`` per storage row: hot-term skew is structurally
   capped, and query-side evaluation is segment-local (scatter-gather).
   Within a segment each (field, term) list is sorted by doc_id,
   delta+VByte-packed (veloci_spark.vbyte), with per-block max scores for
   block-max WAND pruning. Packing is ``repartitionByRange`` +
   ``sortWithinPartitions`` + one vectorized ``mapInPandas`` (numpy
   run-grouping, no per-row Python).
7. phrase-pair index (B9) — adjacent non-separator token pairs via window
   ``lag`` over non-sep tokens, grouped to sorted doc-id arrays
   (/root/reference/src/create.rs:251-263 semantics).
8. per-task checkpoint metrics (docs/sec, postings/sec, bytes) + stage
   markers → resumable build with lineage (north_rule).

Layout under ``index_dir``::

    manifest.json            build config + table stats + stage lineage
    dict/                    parquet (field, term, term_id, num_occurences)
    postings/                parquet, partitioned by segment
    phrase/                  parquet (field, tok_a, tok_b, doc_ids)
    docs/                    parquet doc store (doc_id + source columns)
    checkpoints/             per-task JSON metrics (lineage)
    _stage_<name>.done       stage completion markers (resume skips them)
"""

from __future__ import annotations

import json
import os
import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from veloci_spark.config import IndexConfig
from veloci_spark.scoring import index_score_u32
from veloci_spark.tokenizer import _runs_re, _sep_set
from veloci_spark.vbyte import pack_ids_grouped, vbyte_encode_grouped

# On-disk index layout version. Bump whenever the physical layout of any
# stage output changes (schema, encoding, partitioning). Resume validation
# compares this + the config fingerprint against every stage marker, so a
# stale index from an older code version is rebuilt instead of silently
# served (the round-1 ft_phrase_docs failure mode).
#   v1: round-1 layout (absolute doc ids in postings, grouped phrase arrays)
#   v2: segment-relative doc ids in docs_bin; flat phrase rows; fingerprinted
#       stage markers
#   v3: nested 1:n fields — values/ + tokentexts/ relations, pos column in
#       the token entry schema, per-value max-dedup in the pack kernel
#   v4: postings written directly from the pack shuffle (segment = sorted
#       column + row-group stats, no partitionBy re-shuffle)
#   v5: multi-level nesting — pos is a packed long (62//depth bits per []
#       level, DFS-ordered); values/ relations carry per-level pos_i columns
#   v6: packed phrase index — one row per (field, pair, segment) with a
#       delta+VByte segment-relative doc-id list (no per-doc phrase rows)
LAYOUT_VERSION = 6

# ---------------------------------------------------------------------------
# stage bookkeeping


def index_fingerprint(config: IndexConfig, input_fingerprint: str = "") -> str:
    """Stable hash of everything that invalidates on-disk stage outputs:
    layout version + the full field/segment config + (optionally) an input
    data fingerprint supplied by the caller (e.g. source parquet mtimes)."""
    import hashlib

    payload = json.dumps({
        "layout": LAYOUT_VERSION,
        "fields": [
            {"name": fc.name, "tokenize": fc.tokenize, "separators": fc.separators,
             "max_text_store_bytes": fc.max_text_store_bytes,
             "phrase_pairs": fc.phrase_pairs, "token_texts": fc.token_texts,
             "identity": fc.identity}
            for fc in config.fields
        ],
        "doc_id_col": config.doc_id_col,
        "order_col": config.order_col,
        "segment_docs": config.segment_docs,
        "posting_block_docs": config.posting_block_docs,
        "scoring": config.scoring,
        "input": input_fingerprint,
    }, sort_keys=True)
    return hashlib.sha256(payload.encode()).hexdigest()[:16]


def _stage_done(index_dir: str, name: str, fingerprint: str) -> bool:
    """A stage counts as done only if its marker exists AND was written by a
    build with the same layout/config/input fingerprint."""
    path = os.path.join(index_dir, f"_stage_{name}.done")
    if not os.path.exists(path):
        return False
    try:
        with open(path) as f:
            marker = json.load(f)
    except (OSError, json.JSONDecodeError):
        return False
    return marker.get("fingerprint") == fingerprint


def _mark_stage(index_dir: str, name: str, fingerprint: str, **info) -> None:
    with open(os.path.join(index_dir, f"_stage_{name}.done"), "w") as f:
        json.dump({"stage": name, "ts": time.time(),
                   "fingerprint": fingerprint, **info}, f)


def _write_checkpoint(index_dir: str, stage: str, task_id: int, metrics: dict) -> None:
    """Per-task lineage record (north_rule: per-partition checkpoints with
    docs/sec, postings/sec, bytes)."""
    ckpt_dir = os.path.join(index_dir, "checkpoints")
    os.makedirs(ckpt_dir, exist_ok=True)
    path = os.path.join(ckpt_dir, f"{stage}-task{task_id:05d}.json")
    with open(path, "w") as f:
        json.dump({"stage": stage, "task_id": task_id, "ts": time.time(), **metrics}, f)


# ---------------------------------------------------------------------------
# 1. deterministic doc ids (scalable zip-with-index)


def assign_doc_ids(df: DataFrame, order_col: str = "url",
                   num_partitions: int | None = None,
                   out_path: str | None = None) -> DataFrame | None:
    """Add ``doc_id`` = 0-based rank of ``order_col`` in the global sort.

    Range-partition on the order column (one shuffle), count rows per
    partition, prefix-sum the counts on the driver (tiny), then assign
    ``offset[pid] + local_rank`` inside each sorted partition. Equivalent to
    ``row_number() over (orderBy url)`` but with no single-reducer window, so
    it holds at 10^12 rows.

    Rows that tie on ``order_col`` are ordered by a content hash of the whole
    row (``_tb``), so the assignment is deterministic across runs and cluster
    sizes even for corpora with duplicate urls.

    Fully JVM-side: one range shuffle + partition-local sort, then
    ``monotonically_increasing_id`` yields (partition_id << 33 | local_rank)
    in the sorted order — doc_id = partition offset (driver prefix-sum over
    per-partition counts, broadcast back) + local rank. No Python workers,
    no window exchange, no join of payload rows.
    """
    from pyspark import StorageLevel

    if num_partitions is None:
        num_partitions = max(df.rdd.getNumPartitions(), 1)
    spark = df.sparkSession
    df = df.withColumn("_tb", F.xxhash64(*df.columns))
    # persist the range-shuffled sorted rows WITH their _mid: the count pass
    # and the output pass must see the identical assignment (at cluster
    # scale use DISK_ONLY-backed storage — the corpus outsizes memory)
    parts = (
        df.repartitionByRange(num_partitions, F.col(order_col), F.col("_tb"))
        .sortWithinPartitions(order_col, "_tb")
        .withColumn("_mid", F.monotonically_increasing_id())
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    counts = (
        parts.groupBy(F.shiftright("_mid", 33).alias("pid")).count().collect()
    )
    by_pid = {int(r["pid"]): r["count"] for r in counts}
    offsets = []
    acc = 0
    for pid in sorted(by_pid):
        offsets.append((pid, acc))
        acc += by_pid[pid]
    offdf = spark.createDataFrame(offsets or [(0, 0)], "pid long, _base long")
    out = (
        parts.withColumn("pid", F.shiftright("_mid", 33))
        .join(F.broadcast(offdf), on="pid", how="inner")
        .withColumn("doc_id",
                    F.col("_base") + F.col("_mid").bitwiseAND(F.lit((1 << 33) - 1)))
        .drop("pid", "_base", "_mid", "_tb")
    )
    if out_path is not None:
        out.write.mode("overwrite").parquet(out_path)
        parts.unpersist()
        return None
    # DataFrame-returning branch (tests / composition): materialize the
    # result before dropping the shuffle cache so `parts` never re-executes.
    out = out.persist(StorageLevel.MEMORY_AND_DISK)
    out.count()
    parts.unpersist()
    return out


# ---------------------------------------------------------------------------
# 2. tokenization → flat token rows

_TOKEN_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("token", T.StringType()),
    T.StructField("is_sep", T.BooleanType()),
    T.StructField("pos", T.IntegerType()),
    T.StructField("n_tokens", T.IntegerType()),
])


def token_rows(docs: DataFrame, field: str, separators: str) -> DataFrame:
    """Exploded token rows for one field: (doc_id, token, is_sep, pos, n_tokens).

    Texts that are a single run (no ≥2 splits) emit nothing — the reference
    gates the token loop on ``has_tokens``
    (/root/reference/src/create.rs:225-280).
    """
    pattern = _runs_re(separators).pattern

    def explode_tokens(iterator):
        import re as _re

        rx = _re.compile(pattern)
        seps = _sep_set(separators)
        for pdf in iterator:
            ids_out, tok_out, sep_out, pos_out, ntok_out = [], [], [], [], []
            for doc_id, text in zip(pdf["doc_id"].values, pdf[field].values):
                if not text:
                    continue
                runs = rx.findall(text)
                n = len(runs)
                if n < 2:
                    continue
                ids_out.extend([doc_id] * n)
                tok_out.extend(runs)
                sep_out.extend([r[0] in seps for r in runs])
                pos_out.extend(range(n))
                ntok_out.extend([n] * n)
            yield pd.DataFrame({
                "doc_id": pd.Series(ids_out, dtype="int64"),
                "token": pd.Series(tok_out, dtype="object"),
                "is_sep": pd.Series(sep_out, dtype="bool"),
                "pos": pd.Series(pos_out, dtype="int32"),
                "n_tokens": pd.Series(ntok_out, dtype="int32"),
            })

    return docs.select("doc_id", F.col(field).cast("string").alias(field)).mapInPandas(explode_tokens, schema=_TOKEN_SCHEMA)


_ENTRY_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("token", T.StringType()),
    T.StructField("best_pos", T.IntegerType()),
    T.StructField("n_tokens", T.IntegerType()),
    T.StructField("cnt", T.IntegerType()),
])

_VALUE_ENTRY_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("pos", T.LongType()),
    T.StructField("token", T.StringType()),
    T.StructField("best_pos", T.IntegerType()),
    T.StructField("n_tokens", T.IntegerType()),
    T.StructField("cnt", T.IntegerType()),
])


def value_token_entry_rows(values: DataFrame, separators: str) -> DataFrame:
    """Per-(value, token) aggregated entries over a (doc_id, pos, value)
    relation — the nested-field twin of :func:`token_entry_rows`: n_tokens
    and best_pos are PER VALUE (the reference scores each 1:n value as its
    own text, create.rs:225-280), and the (doc_id, pos) pair rides along as
    the value's text identity."""
    pattern = _runs_re(separators).pattern

    def entries(iterator):
        import re as _re

        rx = _re.compile(pattern)
        for pdf in iterator:
            ids_out, pos_out, tok_out, bp_out, ntok_out, cnt_out = [], [], [], [], [], []
            for doc_id, vpos, text in zip(pdf["doc_id"].values, pdf["pos"].values,
                                          pdf["value"].values):
                if not text:
                    continue
                runs = rx.findall(text)
                n = len(runs)
                if n < 2:
                    continue
                best: dict[str, int] = {}
                cnt: dict[str, int] = {}
                for p, tok in enumerate(runs):
                    if tok not in best:
                        best[tok] = p
                        cnt[tok] = 1
                    else:
                        cnt[tok] += 1
                k = len(best)
                ids_out.extend([doc_id] * k)
                pos_out.extend([vpos] * k)
                tok_out.extend(best.keys())
                bp_out.extend(best.values())
                ntok_out.extend([n] * k)
                cnt_out.extend(cnt.values())
            yield pd.DataFrame({
                "doc_id": pd.Series(ids_out, dtype="int64"),
                "pos": pd.Series(pos_out, dtype="int64"),
                "token": pd.Series(tok_out, dtype="object"),
                "best_pos": pd.Series(bp_out, dtype="int32"),
                "n_tokens": pd.Series(ntok_out, dtype="int32"),
                "cnt": pd.Series(cnt_out, dtype="int32"),
            })

    return values.select("doc_id", "pos", "value").mapInPandas(
        entries, schema=_VALUE_ENTRY_SCHEMA)


def token_entry_rows(docs: DataFrame, field: str, separators: str) -> DataFrame:
    """Per-(doc, token) aggregated token entries in ONE pass:
    (doc_id, token, best_pos, n_tokens, cnt).

    The per-doc grouping (best/first position per token, in-doc occurrence
    count) is doc-local, so it runs inside the tokenize kernel instead of a
    cluster-wide ``groupBy(doc_id, token)`` — at 10^12 docs that removes a
    full shuffle of every token occurrence. ``cnt`` feeds the corpus-wide
    ``num_occurences`` (sum), ``best_pos`` the score formula
    (/root/reference/src/create/calculate_score.rs:13-29 keeps only the
    first position per token).
    """
    pattern = _runs_re(separators).pattern

    def entries(iterator):
        import re as _re

        rx = _re.compile(pattern)
        for pdf in iterator:
            ids_out, tok_out, pos_out, ntok_out, cnt_out = [], [], [], [], []
            for doc_id, text in zip(pdf["doc_id"].values, pdf[field].values):
                if not text:
                    continue
                runs = rx.findall(text)
                n = len(runs)
                if n < 2:
                    continue
                best: dict[str, int] = {}
                cnt: dict[str, int] = {}
                for pos, tok in enumerate(runs):
                    if tok not in best:
                        best[tok] = pos
                        cnt[tok] = 1
                    else:
                        cnt[tok] += 1
                k = len(best)
                ids_out.extend([doc_id] * k)
                tok_out.extend(best.keys())
                pos_out.extend(best.values())
                ntok_out.extend([n] * k)
                cnt_out.extend(cnt.values())
            yield pd.DataFrame({
                "doc_id": pd.Series(ids_out, dtype="int64"),
                "token": pd.Series(tok_out, dtype="object"),
                "best_pos": pd.Series(pos_out, dtype="int32"),
                "n_tokens": pd.Series(ntok_out, dtype="int32"),
                "cnt": pd.Series(cnt_out, dtype="int32"),
            })

    return docs.select("doc_id", F.col(field).cast("string").alias(field)).mapInPandas(entries, schema=_ENTRY_SCHEMA)


# ---------------------------------------------------------------------------
# JVM (whole-stage-codegen) tokenize path — no Python workers, no Arrow IPC.
# Produces EXACTLY the same rows as the Arrow kernels above; parity is
# enforced by tests (the Arrow kernels remain available via
# IndexConfig.tokenizer_engine="arrow" and stay the reference semantics).


def _runs_pattern_sql(separators: str) -> str:
    """Java-regex token-runs pattern with \\x{..} hex classes (portable with
    the Python tokenizer's pattern and the DuckDB oracle)."""
    cls = "".join(f"\\x{{{ord(c):x}}}" for c in separators)
    return f"[{cls}]+|[^{cls}]+"


def _runs_col(text_col, separators: str):
    return F.regexp_extract_all(text_col, F.lit(_runs_pattern_sql(separators)), F.lit(0))


def _token_entries_arr(r):
    """array<struct<token,best_pos,cnt>> of distinct tokens with first
    position + in-text count — the per-text aggregation as pure expressions
    (O(distinct × runs) per text, all inside codegen)."""
    return F.transform(
        F.array_distinct(r),
        lambda t: F.struct(
            t.alias("token"),
            (F.array_position(r, t) - 1).cast("int").alias("best_pos"),
            F.size(F.filter(r, lambda x: x == t)).cast("int").alias("cnt"),
        ),
    )


def token_entry_rows_sql(docs: DataFrame, field: str, separators: str) -> DataFrame:
    """JVM twin of :func:`token_entry_rows` — same output, zero Python."""
    r = _runs_col(F.col(field), separators)
    base = (
        docs.select("doc_id", r.alias("r"))
        .where(F.size("r") >= 2)
        .select("doc_id", F.size("r").alias("n_tokens"),
                F.explode(_token_entries_arr(F.col("r"))).alias("e"))
    )
    return base.select(
        "doc_id", F.col("e.token").alias("token"),
        F.col("e.best_pos").alias("best_pos"), "n_tokens",
        F.col("e.cnt").alias("cnt"))


def value_token_entry_rows_sql(values: DataFrame, separators: str) -> DataFrame:
    """JVM twin of :func:`value_token_entry_rows` (nested 1:n values).

    ``pos`` is cast to long to match the Arrow kernel's schema — the packed
    multi-level value identity needs 64 bits (nested.py pack_pos)."""
    r = _runs_col(F.col("value"), separators)
    base = (
        values.select("doc_id", F.col("pos").cast("long").alias("pos"),
                      r.alias("r"))
        .where(F.size("r") >= 2)
        .select("doc_id", "pos", F.size("r").alias("n_tokens"),
                F.explode(_token_entries_arr(F.col("r"))).alias("e"))
    )
    return base.select(
        "doc_id", "pos", F.col("e.token").alias("token"),
        F.col("e.best_pos").alias("best_pos"), "n_tokens",
        F.col("e.cnt").alias("cnt"))


def _pairs_arr(r, separators: str):
    """array<struct<tok_a,tok_b>> of distinct adjacent non-separator pairs."""
    seps = list(set(separators))
    toks = F.filter(r, lambda x: ~F.substring(x, 1, 1).isin(seps))
    n = F.size(toks)
    idx = F.when(n >= 2, F.sequence(F.lit(1), n - 1)) \
        .otherwise(F.array().cast("array<int>"))
    return F.array_distinct(F.transform(
        idx, lambda i: F.struct(
            F.element_at(toks, i).alias("tok_a"),
            F.element_at(toks, i + 1).alias("tok_b"))))


def pair_rows_sql(docs: DataFrame, field: str, separators: str) -> DataFrame:
    """JVM twin of :func:`pair_rows`."""
    r = _runs_col(F.col(field), separators)
    return (
        docs.select("doc_id", r.alias("r"))
        .where(F.size("r") >= 2)
        .select("doc_id", F.explode(_pairs_arr(F.col("r"), separators)).alias("p"))
        .select("doc_id", F.col("p.tok_a").alias("tok_a"),
                F.col("p.tok_b").alias("tok_b"))
    )


def value_pair_rows_sql(values: DataFrame, separators: str) -> DataFrame:
    """JVM twin of :func:`value_pair_rows` (pairs within each value).

    Dedup is per VALUE (``_pairs_arr`` is array_distinct), NOT per doc — the
    same pair in two sibling values yields two rows, identical to the Arrow
    kernel (row-multiset parity-tested). No doc-level ``.distinct()``: it
    would cost a shuffle here, and the query side treats phrase doc-id lists
    as sets (np.isin), so cross-sibling duplicates are harmless."""
    r = _runs_col(F.col("value"), separators)
    return (
        values.select("doc_id", r.alias("r"))
        .where(F.size("r") >= 2)
        .select("doc_id", F.explode(_pairs_arr(F.col("r"), separators)).alias("p"))
        .select("doc_id", F.col("p.tok_a").alias("tok_a"),
                F.col("p.tok_b").alias("tok_b"))
    )


_PAIR_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("tok_a", T.StringType()),
    T.StructField("tok_b", T.StringType()),
])


def pair_rows(docs: DataFrame, field: str, separators: str) -> DataFrame:
    """Distinct adjacent non-separator token pairs per doc, emitted directly
    from the tokenize kernel (doc-local — replaces a window ``lag`` shuffle
    over every token occurrence; semantics of
    /root/reference/src/create.rs:251-263)."""
    pattern = _runs_re(separators).pattern

    def pairs(iterator):
        import re as _re

        rx = _re.compile(pattern)
        seps = _sep_set(separators)
        for pdf in iterator:
            ids_out, a_out, b_out = [], [], []
            for doc_id, text in zip(pdf["doc_id"].values, pdf[field].values):
                if not text:
                    continue
                runs = rx.findall(text)
                if len(runs) < 2:
                    continue
                seen = set()
                prev = None
                for tok in runs:
                    if tok[0] in seps:
                        continue
                    if prev is not None and (prev, tok) not in seen:
                        seen.add((prev, tok))
                        ids_out.append(doc_id)
                        a_out.append(prev)
                        b_out.append(tok)
                    prev = tok
            yield pd.DataFrame({
                "doc_id": pd.Series(ids_out, dtype="int64"),
                "tok_a": pd.Series(a_out, dtype="object"),
                "tok_b": pd.Series(b_out, dtype="object"),
            })

    return docs.select("doc_id", F.col(field).cast("string").alias(field)).mapInPandas(pairs, schema=_PAIR_SCHEMA)


def value_pair_rows(values: DataFrame, separators: str) -> DataFrame:
    """Adjacent-pair rows over a (doc_id, pos, value) relation: pairs are
    formed WITHIN each value (never across sibling values — the reference's
    token stream resets per text) and deduped per VALUE — the same pair in
    two sibling values yields two rows, the identical row multiset to
    :func:`value_pair_rows_sql` under ANY input partitioning
    (parity-tested). Query-side phrase matching is set-semantics (np.isin),
    so cross-sibling duplicates never change results."""
    pattern = _runs_re(separators).pattern

    def pairs(iterator):
        import re as _re

        rx = _re.compile(pattern)
        seps = _sep_set(separators)
        for pdf in iterator:
            ids_out, a_out, b_out = [], [], []
            for doc_id, text in zip(pdf["doc_id"].values, pdf["value"].values):
                if not text:
                    continue
                runs = rx.findall(text)
                if len(runs) < 2:
                    continue
                seen = set()
                prev = None
                for tok in runs:
                    if tok[0] in seps:
                        continue
                    if prev is not None and (prev, tok) not in seen:
                        seen.add((prev, tok))
                        ids_out.append(doc_id)
                        a_out.append(prev)
                        b_out.append(tok)
                    prev = tok
            yield pd.DataFrame({
                "doc_id": pd.Series(ids_out, dtype="int64"),
                "tok_a": pd.Series(a_out, dtype="object"),
                "tok_b": pd.Series(b_out, dtype="object"),
            })

    return values.select("doc_id", "value").mapInPandas(pairs, schema=_PAIR_SCHEMA)


# ---------------------------------------------------------------------------
# helpers: global rank per field (term ids)


def _assign_term_ids(terms: DataFrame, num_partitions: int) -> DataFrame:
    """(field, term, num_occurences) → + term_id (global lexicographic rank
    per field). Range partition on (field, term), prefix sums per field.

    The count job and the id job must see the SAME partitioning: every
    execution of a ``repartitionByRange`` plan samples its own range
    bounds, and two samplings can disagree, which gave distinct terms the
    same id. A lazy local checkpoint is filled by the count job and the id
    job reads it back, so both share one partitioning at no extra job."""
    parts = (terms.repartitionByRange(num_partitions, "field", "term")
             .localCheckpoint(eager=False))
    counts = (
        parts.select(F.spark_partition_id().alias("pid"), "field")
        .groupBy("pid", "field").count().collect()
    )
    # per-field running offset over partitions in pid order
    per_field: dict[str, dict[int, int]] = {}
    for r in sorted(counts, key=lambda r: r["pid"]):
        per_field.setdefault(r["field"], {})[r["pid"]] = r["count"]
    offsets: dict[str, dict[int, int]] = {}
    for fld, pid_counts in per_field.items():
        acc = 0
        offsets[fld] = {}
        for pid in sorted(pid_counts):
            offsets[fld][pid] = acc
            acc += pid_counts[pid]

    out_schema = T.StructType(parts.schema.fields + [T.StructField("term_id", T.LongType())])

    def add_ids(iterator):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        seen: dict[str, int] = {}
        for pdf in iterator:
            pdf = pdf.sort_values(["field", "term"], kind="mergesort").reset_index(drop=True)
            ids = np.empty(len(pdf), dtype=np.int64)
            fields = pdf["field"].values
            # contiguous runs per field within the sorted batch
            start = 0
            while start < len(pdf):
                fld = fields[start]
                end = start
                while end < len(pdf) and fields[end] == fld:
                    end += 1
                base = offsets.get(fld, {}).get(pid, 0) + seen.get(fld, 0)
                ids[start:end] = np.arange(base, base + (end - start), dtype=np.int64)
                seen[fld] = seen.get(fld, 0) + (end - start)
                start = end
            pdf["term_id"] = ids
            yield pdf

    return parts.sortWithinPartitions("field", "term").mapInPandas(add_ids, schema=out_schema)


# ---------------------------------------------------------------------------
# posting packing kernel

_POSTING_SCHEMA = T.StructType([
    T.StructField("field", T.StringType()),
    T.StructField("term_id", T.LongType()),
    T.StructField("segment", T.IntegerType()),
    T.StructField("df", T.IntegerType()),
    T.StructField("max_score", T.LongType()),
    T.StructField("docs_bin", T.BinaryType()),
    T.StructField("scores_bin", T.BinaryType()),
    T.StructField("block_max", T.BinaryType()),   # u32 LE per block
])


BM25_K1 = 1.2
BM25_B = 0.75


def _bm25_u32(tf, df, dl, n_texts: int, avgdl: float) -> "np.ndarray":
    """Okapi BM25 per (term, text), quantized ×100 to u32. Lucene idf
    (always ≥ 0); fully static at build time."""
    tf = tf.astype(np.float64)
    df = df.astype(np.float64)
    dl = dl.astype(np.float64)
    idf = np.log(1.0 + (n_texts - df + 0.5) / (df + 0.5))
    denom = tf + BM25_K1 * (1.0 - BM25_B + BM25_B * dl / max(avgdl, 1e-9))
    s = 100.0 * idf * (tf * (BM25_K1 + 1.0)) / denom
    # floor(x + 0.5): half-up rounding — portable with SQL (np.round is
    # half-to-even, SQL round() half-away; floor(+0.5) agrees everywhere)
    return np.maximum(np.floor(s + 0.5), 1.0).astype(np.uint64)


def _pack_partition_factory(index_dir: str, block_docs: int, segment_docs: int,
                            nested_fields: frozenset = frozenset(),
                            scoring: str = "veloci",
                            field_stats: dict | None = None,
                            field_names: list | None = None):
    nested_idx = (frozenset(i for i, n in enumerate(field_names or [])
                            if n in nested_fields))

    def pack(iterator):
        from pyspark import TaskContext

        task_id = TaskContext.get().partitionId()
        t0 = time.time()
        n_postings = 0
        n_bytes = 0
        for pdf in iterator:
            if pdf.empty:
                continue
            # rows arrive sorted by (field, term_id, segment, doc_id, pos);
            # group consecutive runs vectorized
            fidx = pdf["fidx"].values
            tids = pdf["term_id"].values
            segs = pdf["segment"].values
            docs = pdf["doc_id"].values.astype(np.int64)
            poss = pdf["pos"].values.astype(np.int64)
            # index-time scores computed HERE (one Arrow pass instead of a
            # separate pandas_udf round trip over the full entry stream)
            if scoring == "bm25":
                stats = field_stats or {}
                names = field_names or []
                scores = np.empty(len(pdf), dtype=np.uint64)
                for fi in pd.unique(fidx):
                    m = fidx == fi
                    st = stats.get(names[int(fi)], {"n_texts": 1, "avgdl": 1.0})
                    scores[m] = _bm25_u32(
                        pdf["cnt"].values[m], pdf["doc_freq"].values[m],
                        pdf["n_tokens"].values[m],
                        st["n_texts"], st["avgdl"])
            else:
                scores = index_score_u32(
                    pdf["best_pos"].values, pdf["num_occurences"].values,
                    pdf["n_tokens"].values, pdf["is_exact"].values,
                ).astype(np.uint64)
            n = len(pdf)
            change = np.empty(n, dtype=bool)
            change[0] = True
            change[1:] = (tids[1:] != tids[:-1]) | (segs[1:] != segs[:-1]) | (fidx[1:] != fidx[:-1])
            # ---- batch-wide dedup/merge — no per-group Python loop (one
            # iteration per (term, segment) group paid ~40 µs interpreter
            # overhead × millions of groups per build; same pathology the
            # r5 phrase-pack fix removed). Two reduceat stages over the
            # WHOLE batch:
            #   value level (group, doc, pos): duplicate entries
            #   (exact-text + token of the same string) SUM
            #   (create.rs:388-413);
            #   doc level (group, doc): nested (1:n) fields take the MAX
            #   over the doc's values — the reference token→anchor
            #   max-dedup (search_field.rs:449-463) precomputed at build
            #   time (scores are static) — while flat fields keep the SUM
            #   (per-doc sum of per-(doc,pos) sums ≡ per-doc sum).
            vmask = change.copy()
            vmask[1:] |= (docs[1:] != docs[:-1]) | (poss[1:] != poss[:-1])
            iv = np.flatnonzero(vmask)
            sv = np.add.reduceat(scores, iv)
            dv, change_v = docs[iv], change[iv]
            dmask = change_v.copy()
            dmask[1:] |= dv[1:] != dv[:-1]
            id_d = np.flatnonzero(dmask)
            sum_d = np.add.reduceat(sv, id_d)
            max_d = np.maximum.reduceat(sv, id_d)
            fidx_d = fidx[iv][id_d].astype(np.int64)
            nested_lut = np.zeros(max(len(field_names or []), 1), dtype=bool)
            for i in nested_idx:
                nested_lut[i] = True
            score_d = np.where(nested_lut[fidx_d], max_d, sum_d)
            docs_d = dv[id_d]
            segs_d = segs[iv][id_d].astype(np.int64)
            starts = np.flatnonzero(change_v[id_d])
            ends = np.append(starts[1:], len(id_d))
            # doc ids are stored SEGMENT-RELATIVE (doc_id - segment*segment_docs):
            # bounded by segment_docs, so the 5-byte LEB128 cap (35 bits)
            # never truncates even at 10^12 absolute doc ids. The query
            # kernel adds the segment base back after decode. ONE batched
            # delta+VByte encode per column, sliced per group —
            # byte-identical to the per-group codec (property-tested).
            rel = docs_d.astype(np.uint64) - (segs_d * segment_docs).astype(np.uint64)
            docs_bins = pack_ids_grouped(rel, starts, ends)
            scores_bins = vbyte_encode_grouped(score_d, starts, ends)
            df = (ends - starts).astype(np.int64)
            max_score = np.maximum.reduceat(score_d, starts)
            # block-max: the common df ≤ block_docs group is one block equal
            # to max_score; longer groups take the exact per-block path
            ms32 = max_score.astype("<u4")
            block_max = [None] * len(starts)
            for g in range(len(starts)):
                if df[g] <= block_docs:
                    block_max[g] = ms32[g].tobytes()
                else:
                    sc = score_d[starts[g]:ends[g]]
                    nb = (len(sc) + block_docs - 1) // block_docs
                    bmax = np.empty(nb, dtype=np.uint32)
                    for b in range(nb):
                        bmax[b] = sc[b * block_docs:(b + 1) * block_docs].max()
                    block_max[g] = bmax.tobytes()
            names_arr = np.asarray(field_names or [], dtype=object)
            n_postings += int(df.sum())
            n_bytes += (sum(len(b) for b in docs_bins)
                        + sum(len(b) for b in scores_bins))
            yield pd.DataFrame({
                "field": names_arr[fidx_d[starts]],
                "term_id": pd.Series(tids[iv][id_d][starts], dtype="int64"),
                "segment": pd.Series(segs_d[starts], dtype="int32"),
                "df": pd.Series(df, dtype="int32"),
                "max_score": pd.Series(max_score.astype(np.int64), dtype="int64"),
                "docs_bin": docs_bins,
                "scores_bin": scores_bins,
                "block_max": block_max,
            })
        dt = max(time.time() - t0, 1e-9)
        _write_checkpoint(index_dir, "pack", task_id, {
            "postings": int(n_postings),
            "postings_per_sec": n_postings / dt,
            "bytes_compressed": int(n_bytes),
            "wall_sec": dt,
        })

    return pack


# ---------------------------------------------------------------------------
# the build driver


def build_index(spark: SparkSession, df: DataFrame, config: IndexConfig,
                index_dir: str, num_partitions: int | None = None,
                input_fingerprint: str = "",
                token_values: dict | None = None) -> dict:
    """Build the full index; returns the manifest dict. Resumable: completed
    stages (marker files) are skipped on re-run — but ONLY when their marker
    carries the current layout/config/input fingerprint. A fingerprint
    mismatch (new code version, changed config, changed input) invalidates
    every stale stage and it rebuilds.

    ``token_values``: optional {field: [(text, value), ...]} side input —
    the reference's token_values boost index (loaded alongside the corpus,
    tests.rs:39-41; search_field.rs suggest ``token_value`` boost). Stored
    as parquet (field, text, value); suggest-time boosting joins matched
    candidates against it, so the mapping may be dictionary-sized.
    """
    os.makedirs(index_dir, exist_ok=True)
    t_start = time.time()
    fp = index_fingerprint(config, input_fingerprint)
    if num_partitions is None:
        num_partitions = max(int(spark.conf.get("spark.sql.shuffle.partitions", "32")), 1)

    # ---- stage: docs (doc ids + doc store) -------------------------------
    docs_path = os.path.join(index_dir, "docs")
    if not _stage_done(index_dir, "docs", fp):
        t0 = time.time()
        if config.doc_id_col and config.doc_id_col in df.columns:
            df.withColumn("doc_id", F.col(config.doc_id_col).cast("long")) \
                .write.mode("overwrite").parquet(docs_path)
        else:
            assign_doc_ids(df, config.order_col, num_partitions, out_path=docs_path)
        _mark_stage(index_dir, "docs", fp, wall_sec=time.time() - t0)
    docs = spark.read.parquet(docs_path)
    n_docs = docs.count()

    # ---- stage: values (1:n field value relations) -----------------------
    # each nested path gets a (doc_id, pos, value) relation — the reference's
    # json_converter value-id tables re-expressed as plain parquet; (doc_id,
    # pos) is the per-value text identity used by locality/facets/read-tree
    from veloci_spark.nested import safe_path_name, value_rows

    nested_fields = [fc for fc in config.fields if fc.is_nested]
    nested_names = frozenset(fc.name for fc in nested_fields)
    values_root = os.path.join(index_dir, "values")
    if nested_fields and not _stage_done(index_dir, "values", fp):
        t0 = time.time()
        for fc in nested_fields:
            value_rows(docs, fc.name).write.mode("overwrite").parquet(
                os.path.join(values_root, safe_path_name(fc.name)))
        _mark_stage(index_dir, "values", fp, wall_sec=time.time() - t0)

    def field_values(fc) -> DataFrame:
        return spark.read.parquet(os.path.join(values_root, safe_path_name(fc.name)))

    # ---- stage: tokens ---------------------------------------------------
    # one tokenize pass emitting per-(doc, token) aggregated entries
    # (doc-local grouping inside the kernel — no shuffle of raw occurrences);
    # materialized once, reused by the dict and postings stages. Flat fields
    # carry pos = 0 (the doc's single text); nested fields one pos per value.
    tokens_path = os.path.join(index_dir, "_tokens")
    tokenized_fields = [fc for fc in config.fields if fc.tokenize]
    if not _stage_done(index_dir, "tokens", fp):
        t0 = time.time()
        use_sql = config.tokenizer_engine == "sql"
        parts = []
        for fc in tokenized_fields:
            if fc.is_nested:
                tok_fn = value_token_entry_rows_sql if use_sql else value_token_entry_rows
                parts.append(tok_fn(field_values(fc), fc.separators)
                             .withColumn("field", F.lit(fc.name)))
            else:
                tok_fn = token_entry_rows_sql if use_sql else token_entry_rows
                parts.append(tok_fn(docs, fc.name, fc.separators)
                             .withColumn("pos", F.lit(0).cast("long"))
                             .withColumn("field", F.lit(fc.name)))
        if parts:
            all_tokens = parts[0]
            for p in parts[1:]:
                all_tokens = all_tokens.unionByName(p)
            # spread across num_partitions files: token parquet compresses
            # ~4:1, so file-size-driven splits would give the downstream
            # scoring/count stages a fraction of the cluster's parallelism
            all_tokens.repartition(num_partitions) \
                .write.mode("overwrite").parquet(tokens_path)
        else:
            spark.createDataFrame([], schema=T.StructType(
                _VALUE_ENTRY_SCHEMA.fields + [T.StructField("field", T.StringType())]
            )).write.mode("overwrite").parquet(tokens_path)
        dt = time.time() - t0
        _write_checkpoint(index_dir, "tokenize", 0, {
            "docs": n_docs, "docs_per_sec": n_docs / max(dt, 1e-9), "wall_sec": dt})
        _mark_stage(index_dir, "tokens", fp, wall_sec=dt)
    tokens = spark.read.parquet(tokens_path)

    # exact-text entries: full texts within the dictionary byte cutoff
    # (/root/reference/src/metadata.rs:66-68 — longer texts are token-only).
    # identity fields are excluded everywhere: their dictionary would be
    # corpus-sized; queries resolve them against the doc store (identity
    # shortcut, create_fulltext.rs:37)
    dict_fields = [fc for fc in config.fields if not fc.identity]

    def storable_texts(fc):
        if fc.is_nested:
            return (
                field_values(fc)
                .select("doc_id", "pos", F.col("value").alias("term"))
                .where(F.octet_length("term") <= fc.max_text_store_bytes)
                .withColumn("field", F.lit(fc.name))
            )
        return (
            docs.select("doc_id", F.col(fc.name).cast("string").alias("term"))
            .where(F.col("term").isNotNull())
            .where(F.octet_length("term") <= fc.max_text_store_bytes)
            .withColumn("pos", F.lit(0).cast("long"))
            .withColumn("field", F.lit(fc.name))
        )

    # ---- stage: dict (term stats + ids) ----------------------------------
    dict_path = os.path.join(index_dir, "dict")
    occ_path = os.path.join(index_dir, "_occ")
    if not _stage_done(index_dir, "dict", fp):
        t0 = time.time()
        # num_occurences = corpus-wide frequency: once per token occurrence
        # + once per storable full-text occurrence (create_fulltext.rs:81-111);
        # doc_freq = texts containing the term (entry rows are per
        # (text, token) already) — the BM25 df
        token_counts = tokens.groupBy("field", "token").agg(
            F.sum("cnt").alias("cnt"),
            F.count("*").alias("doc_freq")).withColumnRenamed("token", "term")
        text_parts = [storable_texts(fc).groupBy("field", "term").agg(
                          F.count("*").alias("cnt"),
                          F.count("*").alias("doc_freq"))
                      for fc in dict_fields]
        counts = token_counts
        for p in text_parts:
            counts = counts.unionByName(p)
        # materialize the counts before range partitioning: repartitionByRange
        # SAMPLES its input, which would recompute the aggregation twice
        counts.groupBy("field", "term").agg(
            F.sum("cnt").alias("num_occurences"),
            F.sum("doc_freq").alias("doc_freq")) \
            .write.mode("overwrite").parquet(occ_path)
        # per-field text stats (BM25 N + avgdl): one tiny aggregation over
        # per-text lengths (n_tokens repeats per entry → first() per text)
        text_lens = tokens.groupBy("field", "doc_id", "pos").agg(
            F.first("n_tokens").alias("dl"))
        stats_rows = text_lens.groupBy("field").agg(
            F.count("*").alias("n_texts"), F.avg("dl").alias("avgdl")).collect()
        field_stats = {r["field"]: {"n_texts": int(r["n_texts"]),
                                    "avgdl": float(r["avgdl"])}
                       for r in stats_rows}
        with open(os.path.join(index_dir, "_field_stats.json"), "w") as fh:
            json.dump(field_stats, fh)
        t1 = time.time()
        _write_checkpoint(index_dir, "dict-occ", 0, {"wall_sec": t1 - t0})
        occurrences = spark.read.parquet(occ_path)
        # _assign_term_ids output is already range-partitioned + sorted by
        # (field, term) — write as-is (FST-analog sorted dictionary files)
        _assign_term_ids(occurrences, num_partitions) \
            .write.mode("overwrite").parquet(dict_path)
        _write_checkpoint(index_dir, "dict-ids", 0, {"wall_sec": time.time() - t1})
        _mark_stage(index_dir, "dict", fp, wall_sec=time.time() - t0)
    term_dict = spark.read.parquet(dict_path)
    # ONE count job serves the two broadcast-threshold checks and the
    # manifest (was three separate jobs — measurable fixed overhead per
    # build; parquet count() is metadata-only but still schedules a job).
    n_terms = term_dict.count()

    # ---- stage: postings -------------------------------------------------
    postings_path = os.path.join(index_dir, "postings")
    segment_docs = config.segment_docs
    if not _stage_done(index_dir, "postings", fp):
        t0 = time.time()
        # token entries are already per-(value, token) aggregated in the
        # tokenize kernel (best/first position per token)
        token_entries = (
            tokens.select("field", "doc_id", "pos", F.col("token").alias("term"),
                          "best_pos", "n_tokens", "cnt")
            .withColumn("is_exact", F.lit(False))
        )
        text_entries_parts = [
            storable_texts(fc).select(
                "field", "doc_id", "pos", "term",
                F.lit(0).alias("best_pos"), F.lit(1).alias("n_tokens"),
                F.lit(1).alias("cnt"),
                F.lit(True).alias("is_exact"),
            )
            for fc in dict_fields
        ]
        entries = token_entries
        for p in text_entries_parts:
            entries = entries.unionByName(p)

        dict_side = term_dict.select("field", "term", "term_id",
                                     "num_occurences", "doc_freq")
        if n_terms <= 2_000_000:
            # dictionaries up to ~150 MB broadcast (no shuffle — measured 3×
            # faster than the sort-merge join of the full entry stream);
            # beyond that the driver round-trip loses and the join shuffles
            dict_side = F.broadcast(dict_side)
        # scores are computed inside the pack kernel (after the shuffle) —
        # the raw inputs travel instead of a pre-computed score column, so
        # the entry stream crosses the Arrow boundary exactly once
        # shuffle slimming: the field NAME (repeated string) travels as a
        # 1-byte index; only the score inputs the active formula needs ride
        # along (veloci: best_pos/occ/n_tokens/is_exact; bm25: cnt/doc_freq/
        # n_tokens)
        field_names = [fc.name for fc in config.fields]
        fidx_expr = F.lit(None).cast("int")
        for i, name in enumerate(field_names):
            fidx_expr = F.when(F.col("field") == name, F.lit(i)).otherwise(fidx_expr)
        score_cols = (["cnt", "doc_freq", "n_tokens"]
                      if config.scoring == "bm25"
                      else ["best_pos", "num_occurences", "n_tokens", "is_exact"])
        scored = (
            entries.join(dict_side, on=["field", "term"], how="inner")
            .withColumn("segment", (F.col("doc_id") / F.lit(segment_docs)).cast("int"))
            .withColumn("fidx", fidx_expr.cast("byte"))
            .select("fidx", "term_id", "segment", "doc_id", "pos", *score_cols)
        )
        # hash repartition (NOT range — range sampling would recompute the
        # whole scored plan twice); the pack kernel needs each
        # (field, term_id, segment) group whole in one partition + sorted.
        # Duplicate (term, doc) rows are summed inside the pack kernel (they
        # arrive adjacent), replacing a corpus-wide groupBy aggregation.
        packed = (
            scored.repartition(num_partitions, "fidx", "term_id", "segment")
            .sortWithinPartitions("fidx", "term_id", "segment", "doc_id", "pos")
            .mapInPandas(_pack_partition_factory(index_dir, config.posting_block_docs,
                                                 segment_docs, nested_names,
                                                 config.scoring, _load_field_stats(index_dir),
                                                 field_names),
                         schema=_POSTING_SCHEMA)
        )
        # write the pack output directly — "segment" is a normal sorted
        # column, not a partition dir. The previous layout re-shuffled the
        # whole pack output by segment for a partitionBy write; that second
        # full shuffle was the worst-scaling step of the build (measured
        # 1.3× speedup 8→32 cores) and bought only directory-level pruning
        # that the (field, term_id, segment) sort order already provides via
        # parquet row-group min/max stats. Query-side term scans filter on
        # field/term_id (leading sort columns → strong pruning); the
        # segment grouping happens query-side on the matched rows only.
        packed.write.mode("overwrite").parquet(postings_path)
        _mark_stage(index_dir, "postings", fp, wall_sec=time.time() - t0)

    # ---- stage: tokentexts (nested term → value relation) ----------------
    # (field, term_id, segment, doc_id, pos): which VALUE of which doc a
    # term occurs in — the reference's token→text-id tables. Powers
    # per-value locality boosts, nested why-found, and value-level facet
    # resolution. Flat fields need none (postings are already doc≡text).
    tokentexts_path = os.path.join(index_dir, "tokentexts")
    if nested_fields and not _stage_done(index_dir, "tokentexts", fp):
        t0 = time.time()
        nested_tok = (
            tokens.where(F.col("field").isin(list(nested_names)))
            .select("field", F.col("token").alias("term"), "doc_id", "pos")
        )
        tt = nested_tok
        for fc in dict_fields:
            if fc.is_nested:
                tt = tt.unionByName(
                    storable_texts(fc).select("field", "term", "doc_id", "pos"))
        tt_dict = term_dict.select("field", "term", "term_id")
        if n_terms <= 2_000_000:
            tt_dict = F.broadcast(tt_dict)
        (
            tt.join(tt_dict, on=["field", "term"])
            .select("field", "term_id",
                    (F.col("doc_id") / F.lit(segment_docs)).cast("int").alias("segment"),
                    "doc_id", "pos")
            # sorted by (field, term_id): parquet row-group stats prune
            # term lookups exactly like the phrase table
            .repartition(num_partitions, "field", "term_id")
            .sortWithinPartitions("field", "term_id", "doc_id", "pos")
            .write.mode("overwrite").parquet(tokentexts_path)
        )
        _mark_stage(index_dir, "tokentexts", fp, wall_sec=time.time() - t0)

    # ---- stage: phrase pairs --------------------------------------------
    phrase_path = os.path.join(index_dir, "phrase")
    phrase_fields = [fc.name for fc in config.fields if fc.tokenize and fc.phrase_pairs]
    if not _stage_done(index_dir, "phrase", fp):
        t0 = time.time()
        if phrase_fields:
            use_sql = config.tokenizer_engine == "sql"
            parts = []
            for fc in config.fields:
                if fc.name in phrase_fields:
                    if fc.is_nested:
                        pair_fn = value_pair_rows_sql if use_sql else value_pair_rows
                        parts.append(pair_fn(field_values(fc), fc.separators)
                                     .withColumn("field", F.lit(fc.name)))
                    else:
                        pair_fn = (
                            (lambda d, f, s: pair_rows_sql(d, f, s)) if use_sql
                            else pair_rows)
                        parts.append(pair_fn(docs, fc.name, fc.separators)
                                     .withColumn("field", F.lit(fc.name)))
            pairs_raw = parts[0]
            for p in parts[1:]:
                pairs_raw = pairs_raw.unionByName(p)
            # PACKED storage, sorted by pair (v6): one row per
            # (field, pair, segment) holding the delta+VByte doc-id list
            # (segment-relative, like postings). Row-group min/max stats on
            # (tok_a, tok_b) still prune pair lookups; the pack removes the
            # query-side collect_list shuffle entirely — packed rows feed
            # the segment kernel directly — and shrinks the table vs flat
            # longs. A (pair, segment) group split across Arrow batches
            # yields two rows; every reader treats the id lists as sets, so
            # splits are benign.
            from veloci_spark.vbyte import pack_ids_grouped as _pack_grouped

            _seg_docs = segment_docs

            def pack_pairs(iterator):
                # fully vectorized over the Arrow batch: adjacent-dup drop
                # (rows arrive sorted by (field, pair, segment, doc_id), so
                # a group's duplicates are adjacent — equivalent to the
                # per-group np.unique) + ONE batched delta+VByte encode
                # sliced per group. A per-group pack_ids loop here paid one
                # Python call per (pair, segment) group — tens of millions
                # per 1M-doc build — and dominated the whole build (r5
                # measurement: phrase 1097 s of 1408 s at 2 cores).
                for pdf in iterator:
                    if pdf.empty:
                        continue
                    ids = pdf["doc_id"].values.astype(np.int64)
                    seg = pdf["segment"].values.astype(np.int64)
                    keys = (pdf["field"].values, pdf["tok_a"].values,
                            pdf["tok_b"].values, seg)
                    change = np.zeros(len(ids), dtype=bool)
                    change[0] = True
                    for k in keys:
                        change[1:] |= k[1:] != k[:-1]
                    keep = change.copy()
                    keep[1:] |= ids[1:] != ids[:-1]
                    ids_u, seg_u, change_u = ids[keep], seg[keep], change[keep]
                    starts = np.flatnonzero(change_u)
                    ends = np.append(starts[1:], len(ids_u))
                    yield pd.DataFrame({
                        "field": pdf["field"].values[keep][starts],
                        "tok_a": pdf["tok_a"].values[keep][starts],
                        "tok_b": pdf["tok_b"].values[keep][starts],
                        "segment": seg_u[starts].astype(np.int32),
                        "docs_bin": _pack_grouped(
                            ids_u - seg_u * _seg_docs, starts, ends),
                    })

            pairs = (
                pairs_raw
                .withColumn("segment", (F.col("doc_id") / F.lit(segment_docs)).cast("int"))
                .repartition(num_partitions, "tok_a", "tok_b")
                .sortWithinPartitions("field", "tok_a", "tok_b", "segment", "doc_id")
                .mapInPandas(pack_pairs, schema=("field string, tok_a string, "
                                                 "tok_b string, segment int, "
                                                 "docs_bin binary"))
            )
            pairs.write.mode("overwrite").parquet(phrase_path)
        else:
            spark.createDataFrame(
                [], "field string, tok_a string, tok_b string, segment int, docs_bin binary"
            ).write.mode("overwrite").parquet(phrase_path)
        _mark_stage(index_dir, "phrase", fp, wall_sec=time.time() - t0)

    # ---- stage: token_values boost side input ----------------------------
    # the side input's CONTENT is part of the stage fingerprint (the build
    # config fingerprint cannot see it): changed values rebuild the table,
    # and a build without token_values removes a stale one — otherwise the
    # loader would silently keep serving old boosts.
    tv_path = os.path.join(index_dir, "token_values")
    if token_values:
        import hashlib

        rows = sorted((fld, str(text), float(val))
                      for fld, pairs in token_values.items()
                      for text, val in pairs)
        tv_fp = fp + ":" + hashlib.sha256(
            json.dumps(rows).encode()).hexdigest()[:16]
        if not _stage_done(index_dir, "token_values", tv_fp):
            t0 = time.time()
            spark.createDataFrame(
                rows, "field string, text string, value double") \
                .write.mode("overwrite").parquet(tv_path)
            _mark_stage(index_dir, "token_values", tv_fp,
                        wall_sec=time.time() - t0)
    elif os.path.isdir(tv_path):
        import shutil

        shutil.rmtree(tv_path, ignore_errors=True)
        marker = os.path.join(index_dir, "_stage_token_values.done")
        if os.path.exists(marker):
            os.remove(marker)

    # ---- manifest --------------------------------------------------------
    n_segments = int(n_docs // segment_docs) + 1
    manifest = {
        "version": LAYOUT_VERSION,
        "fingerprint": fp,
        "scoring": config.scoring,
        "field_stats": _load_field_stats(index_dir),
        "built_at": time.time(),
        "n_docs": int(n_docs),
        "n_terms": int(n_terms),
        "segment_docs": segment_docs,
        "n_segments": n_segments,
        "posting_block_docs": config.posting_block_docs,
        "fields": [
            {"name": fc.name, "tokenize": fc.tokenize, "separators": fc.separators,
             "max_text_store_bytes": fc.max_text_store_bytes,
             "phrase_pairs": fc.phrase_pairs, "identity": fc.identity,
             "is_nested": fc.is_nested}
            for fc in config.fields
        ],
        "build_wall_sec": time.time() - t_start,
        "docs_per_sec": n_docs / max(time.time() - t_start, 1e-9),
        "stages": sorted(
            fn[len("_stage_"):-len(".done")]
            for fn in os.listdir(index_dir) if fn.startswith("_stage_")
        ),
    }
    with open(os.path.join(index_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=2)
    return manifest


def _load_field_stats(index_dir: str) -> dict:
    path = os.path.join(index_dir, "_field_stats.json")
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        return json.load(f)


def load_manifest(index_dir: str) -> dict:
    with open(os.path.join(index_dir, "manifest.json")) as f:
        return json.load(f)
