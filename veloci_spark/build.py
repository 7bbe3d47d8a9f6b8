"""Inverted-index build (the write path).

Reproduces the reference build dataflow (SURVEY.md §2.2, B1–B12). Stage map
(reference citations are for *semantics*):

1. ``docs`` — the doc store: deterministic global doc ids = ``id_base``
   + rank of ``url`` in the global sort order (veloci anchor_id ≈
   insertion order, reference json_converter/src/lib.rs:152-168), or a
   caller-supplied id column. Ties on ``url`` break on a content hash of
   the row (``_tb``). Two tiers (:func:`_choose_docs_tier`): the driver
   (:func:`_driver_docs`) collects a small input once as Arrow, sorts it
   and writes the store with pyarrow; Spark (:func:`assign_doc_ids`) is
   shuffle-once and JVM-side: ``repartitionByRange(order_col)`` +
   per-partition counts → driver-side prefix sum → partition offset +
   local rank. No single-node ``Window.orderBy`` — this is the piece
   that must survive 10^12 rows.
2. ``tokens`` — one tokenize pass per text (:func:`_tokenize_batch`,
   grouped-separator semantics, veloci_spark.tokenizer) emitting the
   per-(text, token) aggregated entries (first position, in-text count,
   text length), each with the distinct tokens that follow it in the text
   (the text's phrase pairs): the per-doc grouping is text-local, so no
   shuffle of raw occurrences.
3. ``dict`` — term stats (B2): token counts ∪ storable full-text counts
   summed per (field, term); term ids (B3) = lexicographic rank per field
   (reference src/create/create_fulltext.rs:68-77); per-field text
   stats (BM25 N + avgdl) in ``_field_stats.json``.
4. ``postings`` — index-time scores (B4, veloci_spark.scoring, float32 +
   u32 truncation; or BM25), duplicate (term, doc) scores summed (B7,
   reference src/create.rs:388-413), then segmenting + packing
   (B6–B8): ``segment = doc_id // segment_docs`` — postings are
   **doc-partitioned**, so even a stop-word's posting list is bounded by
   ``segment_docs`` per storage row: hot-term skew is structurally capped,
   and query-side evaluation is segment-local (scatter-gather). Each
   (field, term, segment) list is sorted by doc_id, delta+VByte-packed
   (veloci_spark.vbyte) with segment-relative ids, with per-block max
   scores for block-max WAND pruning; one row per group, the table sorted
   by (field, term_id, segment) so row-group statistics prune term lookups.
5. ``phrase`` — the phrase-pair index (B9): the distinct adjacent
   non-separator token pairs of each text, which the tokens stage emitted
   (reference src/create.rs:251-263 semantics), packed per (field,
   pair, segment) into a delta+VByte ``docs_bin`` like the postings.
6. nested (1:n) fields add ``values`` (per-value relations) and
   ``tokentexts`` (term → value) stages.
7. per-task checkpoint metrics (docs/sec, postings/sec, bytes) + stage
   markers → resumable build with lineage (north_rule).

Each stage runs on one of two tiers:

* **spark** — ``docs`` is :func:`assign_doc_ids` or a Spark write; stages
  2-5 (:func:`_spark_stages`) are Spark jobs: the kernels run in
  ``mapInArrow`` / ``mapInPandas``, term ids come from a range partition
  + prefix sums, packing from a hash ``repartition`` +
  ``sortWithinPartitions``.
* **local** — ``docs`` (:func:`_driver_docs`) is one Arrow collect of the
  input, with the ``_tb`` tie-break computed in that same Spark job; the
  driver sorts it, numbers it (or offsets the caller's integer ids) and
  writes ``docs/`` with pyarrow (:func:`_write_doc_store`, which also
  writes an input that is an Arrow table already). Stages 2-5
  (:func:`_local_stages`) call the same kernels (:func:`_tokenize_batch`,
  the pack kernel, :func:`_pack_pairs`) on that table, or on a pyarrow
  read of ``docs/``, do the relational glue (union, sums, term-id rank,
  dictionary join, sort) in pyarrow and pandas, and write the same files
  with pyarrow. A small build runs one Spark job: the collect; a build
  from an Arrow table runs none.

The index files do not depend on the tier, so readers, compaction and
resume cannot tell which one built them (``manifest.json`` records
``docs_tier`` and ``docs_fallback`` for the docs stage, ``build_tier`` and
``build_fallback`` for stages 2-5, and ``stage_wall_s``). The docs rule
(:func:`_docs_rule`; :func:`_choose_docs_tier` for a Spark input) is
decided before the collect from the plan alone: local iff the index dir
is on the local disk, no field is nested, ``order_col`` sorts the same in
Arrow (or the caller's id column is an integer column), every column
round-trips through a pyarrow write, and the optimized plan's
``sizeInBytes`` is at most ``LOCAL_TIER_MAX_SCAN_BYTES``. The stages 2-5 rule
(:func:`_choose_build_tier`) then picks local iff, in addition, every
indexed column is a string column and the indexed columns hold at most
``LOCAL_BUILD_MAX_TEXT_BYTES`` bytes: of the collected table, or of the
chunks in the doc store's parquet footers when Spark wrote it.

Layout under ``index_dir``::

    manifest.json            build config + table stats + stage lineage
    dict/                    parquet (field, term, num_occurences, doc_freq,
                             term_id), sorted by (field, term)
    postings/                parquet (field, term_id, segment, df, max_score,
                             docs_bin, scores_bin, block_max)
    phrase/                  parquet (field, tok_a, tok_b, segment, docs_bin)
    docs/                    parquet doc store (doc_id + source columns)
    _tokens/                 transient: the tokens stage's entries and
                             phrase pairs (next_toks), the input of stages
                             3-5 and of a resume; removed once the build
                             is done
    _field_stats.json        per-field n_texts + avgdl
    checkpoints/             per-task JSON metrics (lineage)
    _stage_<name>.done       stage completion markers (resume skips them)
"""

from __future__ import annotations

import json
import os
import shutil
import time
from urllib.parse import urlparse

from typing import NamedTuple

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema, to_arrow_type

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


def index_fingerprint(config: IndexConfig, input_fingerprint: str = "",
                      id_base: int = 0) -> str:
    """Stable hash of everything that invalidates on-disk stage outputs:
    layout version + the full field/segment config + the doc-id offset +
    (optionally) an input data fingerprint supplied by the caller (e.g.
    source parquet mtimes)."""
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
        # only when set: an unoffset index keeps its earlier fingerprint
        **({"id_base": id_base} if id_base else {}),
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


# the stages that read the tokens stage's _tokens/, which build_index
# removes once the build is done
_TOKENS_READERS = ("dict", "postings", "tokentexts", "phrase")


def _pending_stages(index_dir: str, fingerprint: str, stages) -> set:
    """The stages of ``stages`` to run: those without a current marker,
    plus ``tokens`` when a pending stage reads ``_tokens/`` and it is
    gone."""
    todo = {s for s in stages if not _stage_done(index_dir, s, fingerprint)}
    if todo.intersection(_TOKENS_READERS) and not os.path.isdir(
            os.path.join(index_dir, "_tokens")):
        todo.add("tokens")
    return todo


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


def assign_doc_ids(df: DataFrame, out_path: str, order_col: str = "url",
                   num_partitions: int | None = None, id_base: int = 0) -> None:
    """The Spark tier of the ``docs`` stage: write ``df`` to ``out_path``
    with ``doc_id`` = ``id_base`` + the 0-based rank of ``order_col`` in
    the global ascending sort (nulls first).

    Range-partition on the order column (one shuffle), count rows per
    partition, prefix-sum the counts on the driver (tiny), then assign
    ``id_base + offset[pid] + local_rank`` inside each sorted partition.
    Equivalent to ``row_number() over (orderBy url)`` but with no
    single-reducer window, so it holds at 10^12 rows.

    Rows that tie on ``order_col`` are ordered by a content hash of the whole
    row (``_tb``), so the assignment is deterministic across runs and cluster
    sizes even for corpora with duplicate urls; :func:`_driver_docs`
    assigns the same ids.

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
    try:
        counts = (
            parts.groupBy(F.shiftright("_mid", 33).alias("pid")).count().collect()
        )
        by_pid = {int(r["pid"]): r["count"] for r in counts}
        offsets = []
        acc = id_base
        for pid in sorted(by_pid):
            offsets.append((pid, acc))
            acc += by_pid[pid]
        offdf = spark.createDataFrame(offsets or [(0, id_base)],
                                      "pid long, _base long")
        (parts.withColumn("pid", F.shiftright("_mid", 33))
         .join(F.broadcast(offdf), on="pid", how="inner")
         .withColumn("doc_id",
                     F.col("_base") + F.col("_mid").bitwiseAND(F.lit((1 << 33) - 1)))
         .drop("pid", "_base", "_mid", "_tb")
         .write.mode("overwrite").parquet(out_path))
    finally:
        parts.unpersist()


# ---------------------------------------------------------------------------
# 2. tokenization → term entries

# the tokens stage's output on both tiers, ``_tokens/``: one row per
# (text, token) entry; ``next_toks`` lists the distinct non-separator tokens
# that follow a non-separator token in the text — the text's phrase pairs
# (token, next) — and is null for a field without phrase pairs
_TOKENS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("token", T.StringType()),
    T.StructField("best_pos", T.IntegerType()),
    T.StructField("n_tokens", T.IntegerType()),
    T.StructField("cnt", T.IntegerType()),
    T.StructField("pos", T.LongType()),
    T.StructField("field", T.StringType()),
    T.StructField("next_toks", T.ArrayType(T.StringType())),
])
_TOKENS_ARROW = to_arrow_schema(_TOKENS_SCHEMA)


def _tokenize_texts(field: str, doc_ids: np.ndarray, texts: list,
                    separators: str, vpos: "np.ndarray | None" = None,
                    pairs: bool = True) -> pa.Table:
    """The per-text tokenize loop: one ``findall`` per text feeds its term
    entries and its phrase pairs.

    Entries are per-(text, token) aggregates — doc-local grouping inside the
    kernel instead of a cluster-wide ``groupBy(doc_id, token)`` shuffle of
    every occurrence: ``best_pos`` is the token's first position (the score
    formula keeps only that,
    reference src/create/calculate_score.rs:13-29), ``cnt`` its
    in-text count (summed into ``num_occurences``), ``n_tokens`` the text's
    run count. ``pos`` is the text's value position (``vpos``; 0 for a flat
    field's single text). Pairs (when ``pairs``) are the distinct adjacent
    non-separator token pairs of each text (reference src/create.rs:251-263),
    carried as each entry's ``next_toks``, so a pair repeated in two sibling
    values of one doc is two pairs. Texts that are a single run emit
    nothing — the reference gates the token loop on ``has_tokens``
    (reference src/create.rs:225-280)."""
    findall = _runs_re(separators).findall
    seps = _sep_set(separators)
    e_row, e_k, e_n = [], [], []   # per text: its row, distinct tokens, runs
    e_tok, e_best, e_cnt, e_next = [], [], [], []
    for i, text in enumerate(texts):
        if not text:
            continue
        runs = findall(text)
        n = len(runs)
        if n < 2:
            continue
        best: dict[str, int] = {}
        cnt: dict[str, int] = {}
        nxt: dict[str, dict] = {}   # token → its followers, in order
        prev = None
        for p, tok in enumerate(runs):
            if tok not in best:
                best[tok] = p
                cnt[tok] = 1
                nxt[tok] = {}
            else:
                cnt[tok] += 1
            if pairs and tok[0] not in seps:
                if prev is not None:
                    nxt[prev][tok] = None
                prev = tok
        e_row.append(i)
        e_k.append(len(best))
        e_n.append(n)
        e_tok.extend(best.keys())
        e_best.extend(best.values())
        e_cnt.extend(cnt.values())
        if pairs:
            e_next.extend(map(list, nxt.values()))
    rows = np.repeat(np.asarray(e_row, np.int64), e_k)
    return pa.table({
        "doc_id": doc_ids[rows],
        "token": pa.array(e_tok, pa.string()),
        "best_pos": pa.array(e_best, pa.int32()),
        "n_tokens": np.repeat(np.asarray(e_n, np.int32), e_k),
        "cnt": pa.array(e_cnt, pa.int32()),
        "pos": np.zeros(len(rows), np.int64) if vpos is None else vpos[rows],
        "field": pa.repeat(pa.scalar(field), len(rows)),
        "next_toks": (pa.array(e_next, pa.list_(pa.string())) if pairs
                      else pa.nulls(len(rows), pa.list_(pa.string()))),
    }, schema=_TOKENS_ARROW)


def _tokenize_batch(batch: pa.RecordBatch, fields: list) -> pa.Table:
    """The tokens stage's kernel on both tiers: the term entries, with
    their phrase pairs, of one record batch of an input relation, one
    tokenize pass per text. The relation is the doc store, with ``doc_id``
    and a string column per flat field of ``fields``, or a nested field's
    ``values/<path>`` (``doc_id``, ``pos``, ``value``). Only fields with
    ``phrase_pairs`` emit pairs."""
    ids = batch.column("doc_id").to_numpy()
    return pa.concat_tables([_TOKENS_ARROW.empty_table()] + [
        _tokenize_texts(
            fc.name, ids,
            batch.column("value" if fc.is_nested else fc.name).to_pylist(),
            fc.separators,
            vpos=batch.column("pos").to_numpy() if fc.is_nested else None,
            pairs=fc.phrase_pairs)
        for fc in fields])


def _spark_tokenize(relation: DataFrame, fields: list) -> DataFrame:
    """:func:`_tokenize_batch` over a Spark relation (``mapInArrow``)."""

    def kernel(batches):
        for batch in batches:
            yield from _tokenize_batch(batch, fields).to_batches()

    return relation.mapInArrow(kernel, _TOKENS_SCHEMA)


def _pairs(tokens: pa.Table) -> pa.Table:
    """The phrase pairs (field, doc_id, tok_a, tok_b) of ``_tokens/``
    entries; the Spark phrase stage explodes ``next_toks`` alike."""
    nxt = tokens["next_toks"].combine_chunks()
    rows = pc.list_parent_indices(nxt)
    return pa.table({"field": tokens["field"].take(rows),
                     "doc_id": tokens["doc_id"].take(rows),
                     "tok_a": tokens["token"].take(rows),
                     "tok_b": pc.list_flatten(nxt)})


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


def _pack_postings(pdf: pd.DataFrame, block_docs: int, segment_docs: int,
                   scoring: str, field_stats: dict, field_names: list,
                   nested_lut: np.ndarray) -> pd.DataFrame:
    """Score and pack one batch of entry rows sorted by (fidx, term_id,
    segment, doc_id, pos) into one posting row per (field, term_id,
    segment) group of the batch. ``nested_lut[fidx]`` marks 1:n fields."""
    # group consecutive runs vectorized
    fidx = pdf["fidx"].values
    tids = pdf["term_id"].values
    segs = pdf["segment"].values
    docs = pdf["doc_id"].values.astype(np.int64)
    poss = pdf["pos"].values.astype(np.int64)
    # index-time scores computed HERE (one Arrow pass instead of a
    # separate pandas_udf round trip over the full entry stream)
    if scoring == "bm25":
        scores = np.empty(len(pdf), dtype=np.uint64)
        for fi in pd.unique(fidx):
            m = fidx == fi
            st = field_stats.get(field_names[int(fi)],
                                 {"n_texts": 1, "avgdl": 1.0})
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
    return pd.DataFrame({
        "field": np.asarray(field_names, dtype=object)[fidx_d[starts]],
        "term_id": pd.Series(tids[iv][id_d][starts], dtype="int64"),
        "segment": pd.Series(segs_d[starts], dtype="int32"),
        "df": pd.Series(df, dtype="int32"),
        "max_score": pd.Series(max_score.astype(np.int64), dtype="int64"),
        "docs_bin": docs_bins,
        "scores_bin": scores_bins,
        "block_max": block_max,
    })


def _pack_partition_factory(index_dir: str, block_docs: int, segment_docs: int,
                            nested_fields: frozenset = frozenset(),
                            scoring: str = "veloci",
                            field_stats: dict | None = None,
                            field_names: list | None = None):
    """The pack stage over an iterator of sorted entry batches, with a
    per-task checkpoint. ``pack(iterator)`` is the ``mapInPandas`` function
    (task id = the Spark partition); the local build tier calls
    ``pack(iterator, task_id)`` in the driver, where there is no task."""
    field_names = list(field_names or [])
    nested_lut = np.zeros(max(len(field_names), 1), dtype=bool)
    for i, n in enumerate(field_names):
        nested_lut[i] = n in nested_fields

    def pack(iterator, task_id: int | None = None):
        if task_id is None:
            from pyspark import TaskContext

            task_id = TaskContext.get().partitionId()
        t0 = time.time()
        n_postings = 0
        n_bytes = 0
        for pdf in iterator:
            if pdf.empty:
                continue
            out = _pack_postings(pdf, block_docs, segment_docs, scoring,
                                 field_stats or {}, field_names, nested_lut)
            n_postings += int(out["df"].sum())
            n_bytes += (sum(map(len, out["docs_bin"]))
                        + sum(map(len, out["scores_bin"])))
            yield out
        dt = max(time.time() - t0, 1e-9)
        _write_checkpoint(index_dir, "pack", task_id, {
            "postings": int(n_postings),
            "postings_per_sec": n_postings / dt,
            "bytes_compressed": int(n_bytes),
            "wall_sec": dt,
        })

    return pack


def _pack_pairs(pdf: pd.DataFrame, segment_docs: int) -> pd.DataFrame:
    """Pack one batch of pair rows sorted by (field, tok_a, tok_b, segment,
    doc_id) into one row per (field, pair, segment) group of the batch.

    Fully vectorized: adjacent-dup drop (a group's duplicates are adjacent
    — equivalent to the per-group np.unique) + ONE batched delta+VByte
    encode sliced per group. A per-group pack_ids loop here paid one Python
    call per (pair, segment) group — tens of millions per 1M-doc build —
    and dominated the whole build (r5 measurement: phrase 1097 s of
    1408 s at 2 cores)."""
    ids = pdf["doc_id"].values.astype(np.int64)
    seg = pdf["segment"].values.astype(np.int64)
    keys = (pdf["field"].values, pdf["tok_a"].values, pdf["tok_b"].values, seg)
    change = np.zeros(len(ids), dtype=bool)
    change[0] = True
    for k in keys:
        change[1:] |= k[1:] != k[:-1]
    keep = change.copy()
    keep[1:] |= ids[1:] != ids[:-1]
    ids_u, seg_u, change_u = ids[keep], seg[keep], change[keep]
    starts = np.flatnonzero(change_u)
    ends = np.append(starts[1:], len(ids_u))
    return pd.DataFrame({
        "field": pdf["field"].values[keep][starts],
        "tok_a": pdf["tok_a"].values[keep][starts],
        "tok_b": pdf["tok_b"].values[keep][starts],
        "segment": seg_u[starts].astype(np.int32),
        "docs_bin": pack_ids_grouped(ids_u - seg_u * segment_docs, starts, ends),
    })


_PHRASE_SCHEMA = T.StructType([
    T.StructField("field", T.StringType()),
    T.StructField("tok_a", T.StringType()),
    T.StructField("tok_b", T.StringType()),
    T.StructField("segment", T.IntegerType()),
    T.StructField("docs_bin", T.BinaryType()),
])


# ---------------------------------------------------------------------------
# the Spark build tier


def _spark_stages(spark: SparkSession, index_dir: str, fp: str,
                  config: IndexConfig, num_partitions: int) -> tuple[int, int]:
    """The Spark build tier: values, tokens, dict, postings, tokentexts and
    phrase stages as Spark jobs over the doc store. Returns (n_docs,
    n_terms)."""
    docs_path = os.path.join(index_dir, "docs")
    segment_docs = config.segment_docs
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
    # one tokenize pass per input relation (the doc store for every flat
    # field, values/<path> per nested field) emitting per-(text, token)
    # aggregated entries with their phrase pairs: doc-local grouping inside
    # the kernel, no shuffle of raw occurrences. Written as the kernel
    # emits it, one file per tokenize task: a round-robin repartition of
    # every entry to num_partitions files took 6.6 of this stage's 16.7 s
    # (200k synthetic docs, local[4], 4-core VM), and Spark sizes the
    # readers' splits at bytes / default parallelism anyway. Flat fields
    # carry pos = 0 (the doc's single text); nested fields one pos per
    # value.
    tokens_path = os.path.join(index_dir, "_tokens")
    todo = _pending_stages(index_dir, fp, (
        "tokens", "dict", "postings", "phrase",
        *(("tokentexts",) if nested_fields else ())))
    if "tokens" in todo:
        t0 = time.time()
        tokenized = [fc for fc in config.fields if fc.tokenize]
        flat = [fc for fc in tokenized if not fc.is_nested]
        rows = _spark_tokenize(docs.select("doc_id", *(
            F.col(fc.name).cast("string").alias(fc.name) for fc in flat)), flat)
        for fc in tokenized:
            if fc.is_nested:
                rows = rows.unionByName(_spark_tokenize(
                    field_values(fc).select("doc_id", "pos", "value"), [fc]))
        rows.write.mode("overwrite").parquet(tokens_path)
        dt = time.time() - t0
        _write_checkpoint(index_dir, "tokenize", 0, {
            "docs": n_docs, "docs_per_sec": n_docs / max(dt, 1e-9), "wall_sec": dt})
        _mark_stage(index_dir, "tokens", fp, wall_sec=dt)
    tokens = (spark.read.parquet(tokens_path)
              if todo.intersection(_TOKENS_READERS) else None)

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
    if "dict" in todo:
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
        # per-text lengths (n_tokens repeats per entry; min() per text, as
        # the local tier, when caller-supplied doc ids repeat)
        text_lens = tokens.groupBy("field", "doc_id", "pos").agg(
            F.min("n_tokens").alias("dl"))
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
    if "postings" in todo:
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
    if "tokentexts" in todo:
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
    if "phrase" in todo:
        t0 = time.time()
        # PACKED storage, sorted by pair (v6): one row per
        # (field, pair, segment) holding the delta+VByte doc-id list
        # (segment-relative, like postings). Row-group min/max stats on
        # (tok_a, tok_b) still prune pair lookups; the pack removes the
        # query-side collect_list shuffle entirely — packed rows feed
        # the segment kernel directly — and shrinks the table vs flat
        # longs. A (pair, segment) group split across Arrow batches
        # yields two rows; every reader treats the id lists as sets, so
        # splits are benign.
        def pack_pairs(iterator):
            for pdf in iterator:
                if not pdf.empty:
                    yield _pack_pairs(pdf, segment_docs)

        (tokens.select("field", "doc_id", F.col("token").alias("tok_a"),
                       F.explode("next_toks").alias("tok_b"))
         .withColumn("segment", (F.col("doc_id") / F.lit(segment_docs)).cast("int"))
         .repartition(num_partitions, "tok_a", "tok_b")
         .sortWithinPartitions("field", "tok_a", "tok_b", "segment", "doc_id")
         .mapInPandas(pack_pairs, schema=_PHRASE_SCHEMA)
         .write.mode("overwrite").parquet(phrase_path))
        _mark_stage(index_dir, "phrase", fp, wall_sec=time.time() - t0)

    return n_docs, n_terms


# ---------------------------------------------------------------------------
# the local build tier

# Largest batch the local tier builds: the uncompressed bytes of the
# indexed columns' chunks in the doc store's parquet footers (~227 B per
# synthetic webtext doc, text + lang), or their Arrow buffers when the
# driver collected the batch (~232 B per doc). Measured on a 4-core VM,
# local[4], default shuffle partitions; tokens+dict+postings+phrase wall local vs
# Spark, the local build's rise in driver VmHWM, and the peak of driver +
# JVM local vs Spark: 3k docs (0.7 MB) 0.9 vs 16.6 s, +86 MB, 999 vs
# 1,455 MB; 30k (6.8 MB) 5.2 vs 23.4 s, +300 MB, 1,657 MB both; 100k
# (22.6 MB) 15.1 vs 31.6 s, +783 MB, 2,518 vs 1,814 MB. The driver grows
# ~33 MB per MB of text, so past ~8 MiB the local build's peak memory
# exceeds the Spark tier's while its wall gain shrinks.
LOCAL_BUILD_MAX_TEXT_BYTES = 8 << 20


def _local_dir(index_dir: str) -> "str | None":
    """Filesystem path of an index dir on the local disk; None for remote
    stores (hdfs://, s3a://, ...), which stay on the Spark tiers."""
    u = urlparse(index_dir)
    if u.scheme == "file":
        path = u.path
    elif u.scheme == "":
        path = index_dir
    else:
        return None
    return path if os.path.isdir(path) else None


# The driver-read bound of both tiers: the largest input the docs stage
# collects into the driver (the optimized plan's ``sizeInBytes``,
# :func:`_choose_docs_tier`), and, in veloci_spark.search, the most bytes a
# request's pyarrow reads may decode: the uncompressed chunks of the
# columns they read, in the row groups their predicates cannot skip
# (``search._scan_bytes``). The post-processing reads
# (FulltextIndex.read_docs / read_postings / read_phrase) follow the same
# bound. Set by the widest rows, the doc store; 4-core VM, local[4], a
# 10-id url+text fetch took, locally vs on Spark: 13 MiB 50 vs 184 ms, 29
# MiB 102 vs 185, 53 MiB (one 200k-row row group) 147 vs 251, 59 MiB (one
# 250k-row group) 221 vs 245, 133 MiB 144 vs 192, 209 MiB 241 vs 176, 651
# MiB 634 vs 165. The kernel's reads at 100k docs (postings 8-9 MiB, with
# phrase rows 27-31 MiB) ran 2-38x faster locally than the request on
# Spark.
LOCAL_TIER_MAX_SCAN_BYTES = 64 << 20

# Spark types (``simpleString``) whose Arrow collect, written with pyarrow,
# reads back through ``spark.read.parquet`` as the same type and values as
# Spark's own write; timestamps are written as Spark's INT96. Excluded:
# nested and map types, decimals, timestamp_ntz (INT96 would read back as
# timestamp), intervals, collated strings.
_DRIVER_DOCS_TYPES = {t.simpleString(): t for t in (
    T.StringType(), T.BinaryType(), T.BooleanType(), T.ByteType(),
    T.ShortType(), T.IntegerType(), T.LongType(), T.FloatType(),
    T.DoubleType(), T.DateType(), T.TimestampType())}
# the type name of each Arrow type pyarrow reads a doc-store column of
# those types as, from either tier's files: Spark's Arrow type, and naive
# nanoseconds for an INT96 timestamp
_ARROW_DOCS_TYPES = {to_arrow_type(t): name
                     for name, t in _DRIVER_DOCS_TYPES.items()}
_ARROW_DOCS_TYPES[pa.timestamp("ns")] = "timestamp"
# caller-supplied id column types whose ``cast("long")`` Arrow reproduces
# exactly
_ID_TYPES = frozenset({"tinyint", "smallint", "int", "bigint"})
# order_col types Arrow sorts as Spark does: strings in UTF-8 byte order,
# integers, dates and timestamps by value, nulls first either way
_ORDER_TYPES = _ID_TYPES | {"string", "date", "timestamp"}


def _indexed_columns(config: IndexConfig) -> list[str]:
    """Doc-store columns the tokens and dict stages read: tokenized fields
    and the exact texts of non-identity fields."""
    return [fc.name for fc in config.fields if fc.tokenize or not fc.identity]


def _docs_frame(df: DataFrame, config: IndexConfig
                ) -> "tuple[DataFrame, bool]":
    """(frame the driver docs stage collects, whether it assigns ids): the
    input as it is when it has the caller-supplied id column, else the
    input plus the ``_tb`` tie-break that orders rows tied on
    ``order_col``."""
    if config.doc_id_col and config.doc_id_col in df.columns:
        return df, False
    return df.withColumn("_tb", F.xxhash64(*df.columns)), True


def _plan_bytes(frame: DataFrame) -> int:
    """Spark's estimate of ``frame``'s size: its optimized plan's
    ``sizeInBytes``, with no Spark job."""
    return int(str(frame._jdf.queryExecution().optimizedPlan().stats()
                   .sizeInBytes()))


def _choose_docs_tier(frame: DataFrame, index_dir: str, config: IndexConfig,
                      assign: bool) -> "tuple[str, str | None]":
    """(tier of the docs stage, reason the rule fell back or None) for a
    Spark input, from the plan alone, with no Spark job:
    :func:`_docs_rule` over the frame's column types and its optimized
    plan's ``sizeInBytes`` — the rule Spark itself uses to decide whether
    to collect a broadcast side.

    Like that rule, it trusts Spark's estimate: exact for a cached frame,
    the compressed file size for a parquet scan, a per-type guess for
    local rows and for ``mapInPandas`` output (24,000 B for an uncached
    3,000-doc synthetic corpus whose Arrow collect is 1.6 MB), and
    unknown (Long.MaxValue, so Spark) for an RDD of Python rows. Spark's
    ``spark.driver.maxResultSize`` stays the backstop."""
    return _docs_rule(frame.dtypes, lambda: _plan_bytes(frame), index_dir,
                      config, assign)


def _docs_rule(dtypes: list, plan_bytes, index_dir: str, config: IndexConfig,
               assign: bool) -> "tuple[str, str | None]":
    """(tier of the docs stage, reason the rule fell back or None) for an
    input of columns ``dtypes`` — (name, Spark type name) pairs — whose
    size ``plan_bytes()`` gives, or which is in the driver already when
    ``plan_bytes`` is None. Local iff the index dir is on the local
    disk, no field is nested, ``order_col`` (when ids are assigned) is a
    string, integer, date or timestamp column, or else the caller-supplied
    id column an integer one, every column's type is one a pyarrow write
    stores as Spark's does, and the size, if any, is at most
    ``LOCAL_TIER_MAX_SCAN_BYTES``."""
    if _local_dir(index_dir) is None:
        return "spark", "remote dir"
    for fc in config.fields:
        if fc.is_nested:
            return "spark", f"nested field {fc.name}"
    types = dict(dtypes)
    if assign and types.get(config.order_col) not in _ORDER_TYPES:
        return ("spark", f"order column {config.order_col}: "
                f"{types.get(config.order_col)}")
    if not assign and types.get(config.doc_id_col) not in _ID_TYPES:
        return ("spark", f"doc id column {config.doc_id_col}: "
                f"{types.get(config.doc_id_col)}")
    for name, t in dtypes:
        if t not in _DRIVER_DOCS_TYPES:
            return "spark", f"column {name}: {t}"
    size = None if plan_bytes is None else plan_bytes()
    if size is not None and size > LOCAL_TIER_MAX_SCAN_BYTES:
        return "spark", f"plan bytes {size} > {LOCAL_TIER_MAX_SCAN_BYTES}"
    return "local", None


def _arrow_dtypes(schema: pa.Schema) -> list:
    """(name, Spark type name) of each column of a doc store that pyarrow
    reads as ``schema``: the type ``spark.read.parquet`` gives it, or the
    Arrow type's own name for a type outside ``_DRIVER_DOCS_TYPES``."""
    return [(f.name, _ARROW_DOCS_TYPES.get(f.type, str(f.type)))
            for f in schema]


def _spark_schema(schema: pa.Schema) -> T.StructType:
    """The Spark schema ``spark.read.parquet`` gives a doc store that
    pyarrow reads as ``schema`` (its types all in ``_DRIVER_DOCS_TYPES``):
    every column nullable, as Spark reads them."""
    return T.StructType([T.StructField(name, _DRIVER_DOCS_TYPES[t])
                         for name, t in _arrow_dtypes(schema)])


def _driver_docs(frame: DataFrame, path: str, config: IndexConfig,
                 assign: bool, id_base: int) -> pa.Table:
    """The local tier of the docs stage for a Spark input: one
    ``toArrow()`` collect of ``frame`` (:func:`_docs_frame`), numbered
    when ids are assigned — ``id_base`` + the rank in (``order_col``,
    ``_tb``) ascending order with nulls first, Spark's order, so they
    equal those of :func:`assign_doc_ids` — and written by
    :func:`_write_doc_store`."""
    table = frame.toArrow()
    if not assign:
        return _write_doc_store(table, frame.schema, path, config, id_base)
    table = table.take(pc.sort_indices(
        table, sort_keys=[(config.order_col, "ascending"),
                          ("_tb", "ascending")],
        null_placement="at_start")).drop_columns(["_tb"])
    schema = T.StructType([f for f in frame.schema.fields
                           if f.name != "_tb"])
    ids = pa.array(np.arange(id_base, id_base + table.num_rows,
                             dtype=np.int64))
    return _write_doc_store(table, schema, path, config, id_base, ids)


def _write_doc_store(table: pa.Table, schema: T.StructType, path: str,
                     config: IndexConfig, id_base: int,
                     ids: "pa.Array | None" = None) -> pa.Table:
    """The driver's doc-store writer: ``table``, whose Spark schema is
    ``schema``, with its doc ids — ``ids`` in row order, or else
    ``id_base`` + the caller's integer ``doc_id_col``, Spark's
    ``cast("long") + id_base``, with the rows sorted by them — as one
    parquet file at ``path`` in row groups of ``segment_docs`` rows,
    typed as Spark's Arrow types and timestamps written as Spark's INT96.
    Returns the written table (timestamps in Arrow microseconds)."""
    fields = list(schema.fields)
    if ids is None:
        ids = pc.add_checked(table[config.doc_id_col].cast(pa.int64()),
                             id_base)
        order = pc.sort_indices(ids, null_placement="at_start")
        table, ids = table.take(order), ids.take(order)
        doc_id = T.StructField("doc_id", T.LongType(),
                               schema[config.doc_id_col].nullable)
    else:
        doc_id = T.StructField("doc_id", T.LongType())
    # the Spark tier's withColumn("doc_id"): a payload column of that name
    # is replaced in place, otherwise doc_id is appended
    names = table.column_names
    if "doc_id" in names:
        i = names.index("doc_id")
        table = table.set_column(i, "doc_id", ids)
        fields[i] = doc_id
    else:
        table = table.append_column("doc_id", ids)
        fields.append(doc_id)
    table = table.cast(to_arrow_schema(T.StructType(fields)))
    # dictionary-encode only columns with repeats, as Spark's writer falls
    # back to plain for (nearly) unique ones; no stored Arrow schema, so
    # pyarrow reads the file as it reads Spark's (INT96 → timestamp[ns])
    repeats = [c for c in table.column_names
               if 2 * pc.count_distinct(table[c]).as_py() <= table.num_rows]
    _write_local(table, path, dictionary=repeats,
                 row_group_size=config.segment_docs,
                 use_deprecated_int96_timestamps=True, store_schema=False)
    return table


# read as pyarrow's default nanoseconds, an INT96 timestamp outside
# 1677-2262 overflows without an error; Spark's unit is microseconds
_INT96_US = ds.ParquetFileFormat(read_options=ds.ParquetReadOptions(
    coerce_int96_timestamp_unit="us"))


def doc_store_dataset(path: str) -> ds.Dataset:
    """pyarrow dataset over a doc store (``docs/`` or a ``values/<path>``
    relation) whose INT96 leaves — Spark's ``timestamp``, written so by
    both tiers, holding UTC instants — read as ``timestamp[us, UTC]``,
    the Arrow type of that Spark type, at any nesting depth. Which leaves
    are INT96 the footers say: by its Arrow type alone such a leaf, naive
    microseconds, would pass for a TimestampNTZ one."""
    dset = ds.dataset(path, format=_INT96_US)
    int96 = np.zeros(0, dtype=bool)
    for frag in dset.get_fragments():
        if frag.physical_schema.equals(dset.schema):
            meta = frag.metadata.schema
            flags = np.array([meta.column(i).physical_type == "INT96"
                              for i in range(len(meta))], dtype=bool)
            int96 = flags if not len(int96) else int96 | flags
    if not int96.any():
        return dset
    leaves = iter(int96.tolist())
    return ds.dataset(path, format=_INT96_US, schema=pa.schema(
        [f.with_type(_int96_leaves_utc(f.type, leaves)) for f in dset.schema]))


# a microsecond INT96 read of a negative nanosecond-of-day is this late
_INT96_LATE_US = (1 << 64) // 1000


def doc_store_table(dset: ds.Dataset, columns=None, filter=None) -> pa.Table:
    """``dset.to_table(columns=..., filter=...)`` of a
    :func:`doc_store_dataset`, each top-level INT96 column holding the
    instants written. pyarrow's microsecond INT96 read takes the
    nanosecond-of-day as unsigned, and pyarrow's INT96 writer (the driver
    docs stage's) stores a negative one for an instant before 1970 that
    is not at midnight: such a value reads 2^64 ns (~584 years) late. A
    nanosecond read of the column, exact modulo 2^64, tells the two
    apart: both writers store whole microseconds, so ``1000·us − ns`` is
    0 modulo 2^64 for a value read right and −616 for one read late.
    (Nested INT96 leaves come from Spark's writer only, whose
    nanosecond-of-day is never negative.)"""
    table = dset.to_table(columns=columns, filter=filter)
    utc = pa.timestamp("us", tz="UTC")
    names = [f.name for f in table.schema if f.type == utc]
    if not names:
        return table
    raw = ds.dataset(dset.files, format="parquet").to_table(
        columns=names, filter=filter)
    for name in names:
        if raw.schema.field(name).type != pa.timestamp("ns"):
            continue  # not INT96
        col = table[name]
        us = pc.cast(col, pa.int64()).fill_null(0).to_numpy()
        ns = pc.cast(raw[name], pa.int64()).fill_null(0).to_numpy()
        late = us * 1000 - ns == -616
        if late.any():
            fixed = pa.array(np.where(late, us - _INT96_LATE_US, us),
                             mask=col.is_null().to_numpy())
            table = table.set_column(table.schema.get_field_index(name),
                                     name, fixed.cast(utc))
    return table


def _int96_leaves_utc(t: pa.DataType, leaves) -> pa.DataType:
    """``t`` with each leaf column whose flag ``leaves`` yields typed
    ``timestamp[us, UTC]``; ``leaves`` holds one flag per parquet leaf
    column, in the footer's depth-first order."""
    if pa.types.is_struct(t):
        return pa.struct([f.with_type(_int96_leaves_utc(f.type, leaves))
                          for f in t])
    if pa.types.is_map(t):
        key = t.key_field.with_type(_int96_leaves_utc(t.key_type, leaves))
        return pa.map_(key, t.item_field.with_type(
            _int96_leaves_utc(t.item_type, leaves)))
    if pa.types.is_list(t):
        return pa.list_(t.value_field.with_type(
            _int96_leaves_utc(t.value_type, leaves)))
    return pa.timestamp("us", tz="UTC") if next(leaves) else t


class _DocStore(NamedTuple):
    path: str           # local index dir
    n_rows: int
    text_bytes: int     # bytes of the indexed columns


def _choose_build_tier(index_dir: str, config: IndexConfig,
                       docs: "pa.Table | None" = None
                       ) -> "tuple[str, str | None, _DocStore | None]":
    """(tier of stages 2-5, reason the rule fell back or None, doc-store
    stats). Local iff the index dir is on the local disk, no field is
    nested, every indexed column is a string column of the doc store (so
    the Spark tier's ``cast("string")`` has nothing to reproduce) and the
    indexed columns hold at most ``LOCAL_BUILD_MAX_TEXT_BYTES`` bytes:
    the Arrow buffers of ``docs``, the table the driver docs stage
    collected, or else the uncompressed chunks in the doc store's parquet
    footers."""
    path = _local_dir(index_dir)
    if path is None:
        return "spark", "remote dir", None
    for fc in config.fields:
        if fc.is_nested:
            return "spark", f"nested field {fc.name}", None
    if docs is None:
        dataset = ds.dataset(os.path.join(path, "docs"), format="parquet")
        schema = dataset.schema
    else:
        schema = docs.schema
    cols = _indexed_columns(config)
    for name in cols:
        i = schema.get_field_index(name)
        if i < 0 or not pa.types.is_string(schema.field(i).type):
            return "spark", f"non-string column {name}", None
    if docs is not None:
        n_rows = docs.num_rows
        text_bytes = sum(docs.column(name).nbytes for name in cols)
    else:
        n_rows = text_bytes = 0
        wanted = set(cols)
        for frag in dataset.get_fragments():
            md = frag.metadata
            n_rows += md.num_rows
            for g in range(md.num_row_groups):
                rg = md.row_group(g)
                for c in range(rg.num_columns):
                    chunk = rg.column(c)
                    if chunk.path_in_schema in wanted:
                        text_bytes += chunk.total_uncompressed_size
    if text_bytes > LOCAL_BUILD_MAX_TEXT_BYTES:
        return ("spark", f"text bytes {text_bytes} > "
                f"{LOCAL_BUILD_MAX_TEXT_BYTES}", None)
    return "local", None, _DocStore(path, n_rows, text_bytes)


def _arrow(frames: list, schema: T.StructType) -> pa.Table:
    """Kernel output frames as one Arrow table under the Spark schema (no
    pandas metadata); an empty table when there are none."""
    arrow = to_arrow_schema(schema)
    return pa.concat_tables(
        [arrow.empty_table()]
        + [pa.Table.from_pandas(f, schema=arrow, preserve_index=False)
           .replace_schema_metadata(None) for f in frames])


def _write_local(table: pa.Table, path: str, dictionary=True, **options
                 ) -> None:
    """Replace ``path`` with one parquet file of ``table``. ``dictionary``
    lists the dictionary-encoded columns: unique-valued columns are
    written plain, as Spark's writer falls back to, which keeps the files
    within 1% of Spark's size. ``options`` go to ``pq.write_table``."""
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    pq.write_table(table, os.path.join(path, "part-00000.parquet"),
                   use_dictionary=dictionary, compression="snappy",
                   **options)


def _group_batches(frame: pd.DataFrame, keys: list, size: int):
    """Slices of ``frame`` (sorted by ``keys`` first) of about ``size``
    rows, cut only where a key changes, so no group of equal keys is
    split; ``size`` ≤ 0 gives one slice."""
    n = len(frame)
    if n == 0:
        return
    size = size if size > 0 else n
    change = np.zeros(n, dtype=bool)
    change[0] = True
    for k in keys:
        v = frame[k].values
        change[1:] |= v[1:] != v[:-1]
    starts = np.append(np.flatnonzero(change), n)
    cuts = starts[np.searchsorted(starts, np.arange(size, n, size))]
    bounds = np.unique(np.concatenate([[0], cuts, [n]]))
    for lo, hi in zip(bounds[:-1], bounds[1:]):
        yield frame.iloc[lo:hi]


def _local_stages(index_dir: str, fp: str, config: IndexConfig,
                  n_docs: int, batch_rows: int,
                  docs: "pa.Table | None" = None) -> tuple[int, int]:
    """The local build tier: the tokens, dict, postings and phrase stages
    in the driver over ``docs``, the doc store the driver docs stage
    collected, or else a pyarrow read of ``docs/``, through the Spark
    tier's kernels (:func:`_tokenize_batch`, the pack kernel,
    :func:`_pack_pairs`); only the relational glue is new: pyarrow for
    the reads, unions, sums and the dictionary lookup, which keep strings
    in Arrow buffers rather than Python objects, and pandas for the sorts
    the kernels need.
    Writes the same files, schemas, markers and checkpoints as the Spark
    tier, so a build resumed on either tier reuses the other's stages.
    Returns (n_docs, n_terms); ``n_docs`` is the doc store's row count.
    The kernels take batches of about ``batch_rows`` rows, Spark's
    Arrow batch size, so their temporaries stay as small as on Spark; a
    packed group is never split across batches."""
    todo = _pending_stages(index_dir, fp,
                           ("tokens", "dict", "postings", "phrase"))
    tokens_path = os.path.join(index_dir, "_tokens")
    dict_path = os.path.join(index_dir, "dict")
    columns = ["doc_id", *_indexed_columns(config)]
    docs = docs.select(columns) if docs is not None else pq.read_table(
        os.path.join(index_dir, "docs"), columns=columns)

    # ---- tokens ----------------------------------------------------------
    # one kernel call per doc-store record batch, as the Spark stage calls
    # it per Arrow batch; its Python strings live for one batch only
    if "tokens" in todo:
        t0 = time.time()
        fields = [fc for fc in config.fields if fc.tokenize]
        tokens = pa.concat_tables([_TOKENS_ARROW.empty_table()] + [
            _tokenize_batch(batch, fields)
            for batch in docs.to_batches(max_chunksize=batch_rows)])
        _write_local(tokens, tokens_path)
        dt = time.time() - t0
        _write_checkpoint(index_dir, "tokenize", 0, {
            "docs": n_docs, "docs_per_sec": n_docs / max(dt, 1e-9),
            "wall_sec": dt})
        _mark_stage(index_dir, "tokens", fp, wall_sec=dt)
    elif todo.intersection(_TOKENS_READERS):
        tokens = pq.read_table(tokens_path)
    if "phrase" in todo:
        pairs = _pairs(tokens)

    # exact-text entries: non-null texts within the dictionary byte cutoff
    # of the non-identity fields, as (field, doc_id, term)
    if todo & {"dict", "postings"}:
        texts = [pa.table({"field": pa.array([], pa.string()),
                           "doc_id": pa.array([], pa.int64()),
                           "term": pa.array([], pa.string())})]
        for fc in config.fields:
            if fc.identity:
                continue
            col = docs.column(fc.name)
            keep = pc.less_equal(pc.binary_length(col), fc.max_text_store_bytes)
            term = pc.filter(col, keep)
            texts.append(pa.table({
                "field": pa.repeat(pa.scalar(fc.name), len(term)),
                "doc_id": pc.filter(docs.column("doc_id"), keep),
                "term": term}))
        texts = pa.concat_tables(texts)

    # ---- dict ------------------------------------------------------------
    if "dict" in todo:
        t0 = time.time()
        tok = tokens.group_by(["field", "token"]).aggregate(
            [("cnt", "sum"), ("cnt", "count")])
        exact = texts.group_by(["field", "term"]).aggregate(
            [("doc_id", "count")])
        counts = pa.concat_tables([
            pa.table({"field": tok["field"], "term": tok["token"],
                      "num_occurences": tok["cnt_sum"],
                      "doc_freq": tok["cnt_count"]}),
            pa.table({"field": exact["field"], "term": exact["term"],
                      "num_occurences": exact["doc_id_count"],
                      "doc_freq": exact["doc_id_count"]})])
        del tok, exact
        # sorted by (field, term) in UTF-8 byte order, Spark's string
        # order: term_id = the rank within the field's run
        summed = counts.group_by(["field", "term"]).aggregate(
            [("num_occurences", "sum"), ("doc_freq", "sum")]).sort_by(
            [("field", "ascending"), ("term", "ascending")])
        del counts
        field_code = pc.dictionary_encode(
            summed["field"].combine_chunks()).indices.to_numpy()
        rank = np.arange(len(field_code), dtype=np.int64)
        starts = np.flatnonzero(np.diff(field_code, prepend=-1) != 0)
        rank -= np.repeat(starts, np.diff(np.append(starts, len(rank))))
        term_dict = pa.table({
            "field": summed["field"], "term": summed["term"],
            "num_occurences": summed["num_occurences_sum"],
            "doc_freq": summed["doc_freq_sum"], "term_id": rank})
        del summed
        # per-field text stats (BM25 N + avgdl); a text's entries all carry
        # its n_tokens
        lens = tokens.group_by(["field", "doc_id", "pos"]).aggregate(
            [("n_tokens", "min")]).group_by("field").aggregate(
            [("n_tokens_min", "sum"), ("n_tokens_min", "count")])
        field_stats = {
            r["field"]: {"n_texts": r["n_tokens_min_count"],
                         "avgdl": r["n_tokens_min_sum"] / r["n_tokens_min_count"]}
            for r in lens.to_pylist()}
        with open(os.path.join(index_dir, "_field_stats.json"), "w") as fh:
            json.dump(field_stats, fh)
        t1 = time.time()
        _write_checkpoint(index_dir, "dict-occ", 0, {"wall_sec": t1 - t0})
        _write_local(term_dict, dict_path,
                     dictionary=["field", "num_occurences", "doc_freq"])
        _write_checkpoint(index_dir, "dict-ids", 0,
                          {"wall_sec": time.time() - t1})
        _mark_stage(index_dir, "dict", fp, wall_sec=time.time() - t0)
    elif "postings" in todo:
        term_dict = pq.read_table(dict_path)

    # ---- postings --------------------------------------------------------
    if "postings" in todo:
        t0 = time.time()
        field_names = [fc.name for fc in config.fields]
        score_cols = (["cnt", "doc_freq", "n_tokens"]
                      if config.scoring == "bm25"
                      else ["best_pos", "num_occurences", "n_tokens", "is_exact"])
        parts = []
        for fidx, name in enumerate(field_names):
            terms = term_dict.filter(pc.equal(term_dict["field"], name))
            tok = tokens.filter(pc.equal(tokens["field"], name))
            txt = texts.filter(pc.equal(texts["field"], name))
            for part in (
                    {"term": tok["token"], "doc_id": tok["doc_id"],
                     "pos": tok["pos"], "best_pos": tok["best_pos"],
                     "n_tokens": tok["n_tokens"], "cnt": tok["cnt"],
                     "is_exact": np.zeros(len(tok), bool)},
                    {"term": txt["term"], "doc_id": txt["doc_id"],
                     "pos": np.zeros(len(txt), np.int64),
                     "best_pos": np.zeros(len(txt), np.int32),
                     "n_tokens": np.ones(len(txt), np.int32),
                     "cnt": np.ones(len(txt), np.int32),
                     "is_exact": np.ones(len(txt), bool)}):
                # the dictionary join: a term's row in its field's terms
                row = pc.index_in(part.pop("term"),
                                  value_set=terms["term"].combine_chunks())
                part = pa.table(part).filter(pc.is_valid(row))
                row = row.filter(pc.is_valid(row))
                part = part.append_column(
                    "num_occurences", terms["num_occurences"].take(row))
                part = part.append_column("doc_freq", terms["doc_freq"].take(row))
                parts.append(pa.table({
                    "fidx": pa.array(np.full(len(part), fidx, np.int8)),
                    "term_id": terms["term_id"].take(row),
                    "segment": pc.divide(part["doc_id"], config.segment_docs)
                    .cast(pa.int32()),
                    "doc_id": part["doc_id"], "pos": part["pos"],
                    **{c: part[c] for c in score_cols}}))
        del tokens, texts, term_dict, terms, tok, txt
        keys = ["fidx", "term_id", "segment", "doc_id", "pos"]
        scored = pa.concat_tables(parts).to_pandas()
        del parts
        scored = scored.sort_values(keys, ignore_index=True)
        pack = _pack_partition_factory(
            index_dir, config.posting_block_docs, config.segment_docs,
            frozenset(), config.scoring, _load_field_stats(index_dir),
            field_names)
        packed = _arrow(list(pack(_group_batches(scored, keys[:3], batch_rows),
                                  task_id=0)), _POSTING_SCHEMA)
        del scored
        _write_local(packed, os.path.join(index_dir, "postings"),
                     dictionary=["field", "segment", "df", "max_score",
                                 "block_max"])
        del packed
        _mark_stage(index_dir, "postings", fp, wall_sec=time.time() - t0)

    # ---- phrase ----------------------------------------------------------
    if "phrase" in todo:
        t0 = time.time()
        keys = ["field", "tok_a", "tok_b", "segment", "doc_id"]
        # pandas, not Arrow, sorts the string keys: measured 3x faster here;
        # to_pandas shares one Python str per distinct value
        raw = pairs.to_pandas()
        del pairs
        raw["segment"] = (raw["doc_id"] // config.segment_docs).astype("int32")
        raw = raw.sort_values(keys, ignore_index=True)
        packed = [_pack_pairs(pdf, config.segment_docs)
                  for pdf in _group_batches(raw, keys[:4], batch_rows)]
        del raw
        _write_local(_arrow(packed, _PHRASE_SCHEMA),
                     os.path.join(index_dir, "phrase"))
        _mark_stage(index_dir, "phrase", fp, wall_sec=time.time() - t0)
    return n_docs, ds.dataset(dict_path, format="parquet").count_rows()


# ---------------------------------------------------------------------------
# the build driver


def build_index(spark: SparkSession, df: "DataFrame | pa.Table",
                config: IndexConfig, index_dir: str,
                num_partitions: int | None = None,
                input_fingerprint: str = "",
                token_values: dict | None = None, id_base: int = 0) -> dict:
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

    ``id_base`` offsets every doc id: assigned ids are ``id_base`` + rank,
    caller-supplied ones (``config.doc_id_col``) the column + ``id_base``.

    ``df`` is a Spark DataFrame, or a pyarrow Table with the caller's
    ``doc_id_col`` — a doc store already in the driver, as compaction
    reads it — which the driver docs stage writes as it writes its own
    collect; a table that stage cannot write (a remote ``index_dir``, a
    nested field, no integer id column, a column type outside
    ``_DRIVER_DOCS_TYPES``) raises ``ValueError``.
    """
    os.makedirs(index_dir, exist_ok=True)
    t_start = time.time()
    fp = index_fingerprint(config, input_fingerprint, id_base)
    if num_partitions is None:
        num_partitions = max(int(spark.conf.get("spark.sql.shuffle.partitions", "32")), 1)

    # ---- stage: docs (doc ids + doc store) -------------------------------
    docs_path = os.path.join(index_dir, "docs")
    docs = None   # the doc store, when the driver collected it
    if not _stage_done(index_dir, "docs", fp):
        t0 = time.time()
        if isinstance(df, pa.Table):
            docs_tier, docs_fallback = _docs_rule(
                _arrow_dtypes(df.schema), None, index_dir, config, False)
            if docs_tier != "local":
                raise ValueError("build_index: the driver docs stage cannot "
                                 f"write this Arrow input: {docs_fallback}")
            docs = _write_doc_store(df, _spark_schema(df.schema), docs_path,
                                    config, id_base)
        else:
            frame, assign = _docs_frame(df, config)
            docs_tier, docs_fallback = _choose_docs_tier(frame, index_dir,
                                                         config, assign)
            if docs_tier == "local":
                docs = _driver_docs(frame, docs_path, config, assign,
                                    id_base)
            elif assign:
                assign_doc_ids(df, docs_path, config.order_col,
                               num_partitions, id_base)
            else:
                df.withColumn("doc_id", F.col(config.doc_id_col).cast("long")
                              + F.lit(id_base)) \
                    .write.mode("overwrite").parquet(docs_path)
        _mark_stage(index_dir, "docs", fp, wall_sec=time.time() - t0,
                    tier=docs_tier, fallback=docs_fallback)

    # ---- tokens, dict, postings, phrase: one tier for all four -----------
    tier, fallback, store = _choose_build_tier(index_dir, config, docs)
    if tier == "local":
        batch_rows = int(spark.conf.get(
            "spark.sql.execution.arrow.maxRecordsPerBatch", "10000"))
        n_docs, n_terms = _local_stages(store.path, fp, config,
                                        store.n_rows, batch_rows, docs)
    else:
        n_docs, n_terms = _spark_stages(spark, index_dir, fp, config,
                                        num_partitions)
    # every stage that reads _tokens/ (or the Spark dict stage's _occ/) is
    # marked done: a resume that needs _tokens/ again reruns the tokens
    # stage (_pending_stages)
    for name in ("_tokens", "_occ"):
        shutil.rmtree(os.path.join(index_dir, name), ignore_errors=True)

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
        shutil.rmtree(tv_path, ignore_errors=True)
        marker = os.path.join(index_dir, "_stage_token_values.done")
        if os.path.exists(marker):
            os.remove(marker)

    # ---- manifest --------------------------------------------------------
    segment_docs = config.segment_docs
    n_segments = int(n_docs // segment_docs) + 1
    markers = {}
    for fn in os.listdir(index_dir):
        if fn.startswith("_stage_") and fn.endswith(".done"):
            with open(os.path.join(index_dir, fn)) as f:
                markers[fn[len("_stage_"):-len(".done")]] = json.load(f)
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
        "stages": sorted(markers),
        "docs_tier": markers["docs"].get("tier"),
        "docs_fallback": markers["docs"].get("fallback"),
        "build_tier": tier,
        "build_fallback": fallback,
        "stage_wall_s": {name: m.get("wall_sec")
                         for name, m in sorted(markers.items())},
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
