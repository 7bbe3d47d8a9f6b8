"""Query-side engine: term matching + segment-local request evaluation.

The reference executes a query as a DAG of channel-connected plan steps over
in-memory posting stores (reference src/plan_creator/execution_plan.rs,
SURVEY.md §3.1). The shape used here is **scatter-gather** over
doc-partitioned segments, in four steps:

1. *Plan* (:func:`_plan_search`, no Spark job) — the request tree is
   parsed, every leaf is matched against the sorted term dictionary
   (exact / length-banded vectorized Levenshtein / prefix / prefix-fuzzy
   / regex) by one driver-side selection (:func:`_select`) and one
   scoring tail (:func:`_matches`). Its values come from the driver-side
   dictionary (up to LOCAL_DICT_MAX_TERMS terms) or, for the two
   Spark-side sources — a larger dictionary and an identity column's doc
   store — from a capped collect behind a whole-stage-codegen pre-filter
   (:func:`_jvm_match_pred`). The whole tree (boolean ops, filters,
   boosts) plus the matched (field, term_id, leaf_id, term_score) rows
   become a small plan dict.
2. *Segment kernel* (:func:`_segment_kernel_factory`) — postings rows for
   the matched term_ids (``field``/``term_id`` predicates) are grouped by
   segment and the **entire** request tree is evaluated per segment with
   numpy over unpacked delta+VByte postings: leaf max-dedup (semantics of
   reference src/search/search_field.rs:449-463),
   OR = ``sum(max per distinct query term) × n_distinct²``
   (set_op.rs:166-186), AND = sum of leg scores (set_op.rs:414-417),
   ids-only filter (set_op.rs:311-326), phrase ×5.0
   (plan_steps.rs:267), term boost, text-locality 2n² (boost.rs:70-80).
   A plain top-k plan over a lone leaf or an unboosted OR/AND of leaves
   prunes posting rows WAND-style in one kernel
   (:func:`_wand_tree_segment`; the lone leaf is its one-leg case). Each
   segment emits its top (top+skip) hits plus its exact hit count, or its
   full hit set when facets, anchor boosts, nested post-locality or a
   caller that filters the hits need it (one rule, :func:`_plan_search`).
3. *Partition pre-merge* (:func:`_partition_topk_factory`) — one
   narrow pass per partition keeps its k best rows by (score DESC,
   doc_id DESC), the required tie-break (reference
   src/search.rs:128-135), sums the exact counts and, for fused facets,
   counts facet values from driver-resident doc→value maps; the driver
   merges partitions × (k+1) rows.
4. *Post-processing* — select, snippets, why-found, explain: bounded
   reads of the result docs (:meth:`FulltextIndex.read_docs`) and of
   their segments' posting / phrase rows (``read_postings``,
   ``read_phrase``), each under the same scan rule as the local tier
   (below), whichever tier ran the kernel.

Steps 2-3 run on one of two **execution tiers**, both with the same
kernel and merge functions:

* *spark* (:func:`_spark_hits`) — a ``repartition("segment")`` of the
  pruned posting rows feeds a ``mapInPandas`` kernel stage; the pre-merge
  is chained onto it, so a request is one Spark job. Because postings are
  doc-partitioned by segment, every per-doc operation is segment-local —
  no shuffle of hits; a 1000-executor cluster evaluates segments
  independently.
* *local* (:func:`_local_hits`) — the driver reads the same pruned rows
  with ``pyarrow.dataset`` and runs the kernel and the pre-merge
  in-process, as one partition. No Spark job: a selective request costs
  tens of ms instead of the ~0.7 s Spark scheduling floor.

The cost rule (:func:`_choose_tier`) runs a request locally when the index
dir is on the local disk, Σ doc_freq of its matched dictionary rows is
at most LOCAL_TIER_MAX_POSTINGS and its pyarrow reads decode at most
LOCAL_TIER_MAX_SCAN_BYTES bytes of parquet column chunks. Identity
leaves, per-leg field boosts (the composed path), anchor ``boost``, nested
post-locality and Spark-join facets stay on Spark, as does
:func:`search_df`. Each post-processing read is
decided on its own, by the scan-bytes part of the rule: a pyarrow read in
the driver, or the Spark ``where(...)``. Explain's per-leg boost values
(a collect; the nested ones ``_leg_nested_boost_vals`` joins) and the
identity-leaf doc-store scan keep their Spark reads — all in requests
already on Spark.

Steps 1-4 work on *parts* (:class:`_Part`): one index handle with its
plan, its tier, its kernel output and the doc ids it owns.
:func:`_search_part` plans a part and runs its kernel; :func:`_finish_parts`
merges any list of parts — pre-merge per part, one ranking, summed counts
and facets — and routes each result id to its part for post-processing.
:func:`search` is the one-part case; ``MultiIndex.search`` runs one part
per generation, each on its own tier, and the segment kernel drops the
generation's tombstoned docs, so everything after it sees live docs only.

All score arithmetic is float32 (veloci_spark.scoring) for rank-identical
parity with the reference formulas; the pure-Python model in
``veloci_spark.pyref`` is the differential-test oracle.
"""

from __future__ import annotations

import os
import re
import threading
import time
from functools import reduce
from typing import NamedTuple

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from veloci_spark.build import (LOCAL_TIER_MAX_SCAN_BYTES, _local_dir,
                                 load_manifest)
from veloci_spark.scoring import index_score_u32, levenshtein_batch, term_score
from veloci_spark.vbyte import unpack_ids, unpack_postings, vbyte_decode

_F32 = np.float32

# stored score of every identity-field entry: exact-text formula with
# num_occurences = 1 (values are unique by definition) — see
# FieldConfig.identity and /root/reference/src/search/search_field.rs:471-479
IDENTITY_STORED = int(index_score_u32([0], [1], [1], [True])[0])


# dictionaries up to this many terms are pulled to the driver once and term
# matching becomes a local vectorized operation (the reference mmaps its FST
# per-process the same way, /root/reference/src/persistence.rs:390-409);
# larger dictionaries stay distributed and matching runs as Spark jobs.
LOCAL_DICT_MAX_TERMS = 2_000_000

# largest matched-term-id set pushed down as an explicit In list; bigger
# sets (broad fuzzy/regex/prefix expansions, up to the 100k dict-match cap)
# switch to a (min,max) range predicate — a 100k-literal In expression makes
# Catalyst planning/codegen the bottleneck before a row is read, while the
# sorted term_id parquet layout serves a range from the same row-group
# stats. Exactness then comes from the broadcast join (scan sites) or an
# explicit broadcast semi-join (`_filter_term_ids`).
TID_PUSHDOWN_MAX_IN = 1_000


# local execution tier: a request whose matched dictionary rows promise at
# most this many posting entries (Σ doc_freq) runs the segment kernel in
# the driver over a pyarrow read of the pruned posting rows — no Spark job.
# Break-even, measured on a 4-core VM (local[4], 100k synthetic docs, 13
# segments): a Spark request pays a ~1 s floor; the driver kernel runs
# ~0.5 M entries/s on its slowest shape (emit-all with facets over a
# prefix expansion) and ~1.2 M/s on WAND top-k. At 1.09 M entries the
# facet request took 2.05 s local vs 2.38 s on Spark, the top-k one 0.91 s
# vs 1.81 s; with more executors the parallel decode wins sooner.
LOCAL_TIER_MAX_POSTINGS = 1_000_000
# ... and when its pyarrow reads decode at most LOCAL_TIER_MAX_SCAN_BYTES
# (veloci_spark.build, the driver-read bound the build's docs stage shares):
# the uncompressed chunks of the columns they read, in the row groups their
# predicates cannot skip (:func:`_scan_bytes`). The post-processing reads
# (FulltextIndex.read_docs / read_postings / read_phrase) follow the same
# bound.


def _tid_pushdown_pred(col, tids):
    """Row-group-prunable predicate for a matched term_id set. EXACT only
    when ≤ TID_PUSHDOWN_MAX_IN ids; past the cap it is a superset (range)
    predicate and the caller must re-filter exactly (broadcast join)."""
    if len(tids) <= TID_PUSHDOWN_MAX_IN:
        return col.isin([int(t) for t in tids])
    return (col >= int(min(tids))) & (col <= int(max(tids)))


def _filter_term_ids(spark: SparkSession, df: DataFrame, tids) -> DataFrame:
    """``df`` restricted to exactly the given term_ids: plain In pushdown
    when small, range pushdown + broadcast semi-join past the cap."""
    pred = _tid_pushdown_pred(F.col("term_id"), tids)
    df = df.where(pred)
    if len(tids) > TID_PUSHDOWN_MAX_IN:
        tdf = spark.createDataFrame([(int(t),) for t in set(tids)],
                                    "term_id long")
        df = df.join(F.broadcast(tdf), on="term_id", how="left_semi")
    return df


class FulltextIndex:
    """Handle on a built index directory."""

    def __init__(self, spark: SparkSession, index_dir: str,
                 local_dict_max_terms: int = LOCAL_DICT_MAX_TERMS):
        self.spark = spark
        self.index_dir = index_dir
        self.manifest = load_manifest(index_dir)
        from veloci_spark.build import LAYOUT_VERSION
        if self.manifest.get("version") != LAYOUT_VERSION:
            raise ValueError(
                f"index at {index_dir} has layout version "
                f"{self.manifest.get('version')}, engine expects {LAYOUT_VERSION}; "
                "rebuild the index (build_index invalidates stale stages "
                "automatically when re-run)")
        self.dict_df = spark.read.parquet(f"{index_dir}/dict")
        self.postings = spark.read.parquet(f"{index_dir}/postings")
        self.phrase = spark.read.parquet(f"{index_dir}/phrase")
        self.docs = spark.read.parquet(f"{index_dir}/docs")
        self.fields = {f["name"]: f for f in self.manifest["fields"]}
        # nested (1:n) fields: per-value relations + term→value index
        from veloci_spark.nested import safe_path_name

        self.values: dict[str, DataFrame] = {}
        for f in self.manifest["fields"]:
            if f.get("is_nested"):
                self.values[f["name"]] = spark.read.parquet(
                    f"{index_dir}/values/{safe_path_name(f['name'])}")
        self.tokentexts = (
            spark.read.parquet(f"{index_dir}/tokentexts")
            if self.values else None
        )
        # optional token_values boost side input (reference tests.rs:39-41)
        tv_path = f"{index_dir}/token_values"
        self.token_values = (
            spark.read.parquet(tv_path) if os.path.isdir(tv_path) else None
        )
        self._local_dict_max_terms = local_dict_max_terms
        self._local_dict: dict[str, pd.DataFrame] | None = None
        # per-field driver-resident facet stores (see facet_map)
        self._facet_maps: dict[str, "tuple | None"] = {}
        # filesystem path when the index lives on a local disk (the local
        # execution tier reads it with pyarrow in the driver), else None
        self.local_path = _local_dir(index_dir)
        self._datasets: dict[str, object] = {}
        # guards the lazy driver-side fills above: a fill is built into a
        # local and published whole, so a concurrent request under the
        # threaded server never sees a half-built dictionary or map
        self._lazy_lock = threading.Lock()

    def cache(self):
        """Pin the dictionary + postings (the reference's LoadingType=InMemory)."""
        self.dict_df.cache().count()
        self.postings.cache().count()
        return self

    def facet_map(self, fld: str) -> "tuple[np.ndarray, np.ndarray] | None":
        """Driver-resident (doc_ids_sorted, values) facet store for the
        fused single-job facet path — the same structure the reference keeps
        as a local doc_id→value-id token store for facet counting
        (/root/reference/src/facet/mod.rs:75-94 reads it mmap'd per shard).
        One row per (doc, value) — repeats for 1:n fields. None when the
        corpus exceeds the local threshold or values aren't strings; callers
        fall back to the Spark-join facet path. Built once per field,
        cached on the handle like :meth:`local_dict`."""
        if int(self.manifest["n_docs"]) > 1_000_000:
            return None
        if fld in self._facet_maps:
            return self._facet_maps[fld]
        with self._lazy_lock:
            if fld not in self._facet_maps:
                self._facet_maps[fld] = self._build_facet_map(fld)
            return self._facet_maps[fld]

    def _build_facet_map(self, fld: str):
        if fld in self.values:
            src = self.values[fld].select("doc_id", F.col("value").alias("_fv"))
        elif fld in self.docs.columns:
            src = self.docs.select("doc_id", F.col(fld).alias("_fv"))
        else:
            return None
        if dict(src.dtypes)["_fv"] != "string":
            return None
        pdf = src.orderBy("doc_id").toPandas()
        return (pdf["doc_id"].to_numpy(np.int64),
                pdf["_fv"].to_numpy(dtype=object))

    def local_dict(self, field: str) -> "pd.DataFrame | None":
        """Per-field driver-side dictionary (term, term_id, lower) sorted by
        term, or None when the dictionary exceeds the local threshold."""
        if self.manifest["n_terms"] > self._local_dict_max_terms:
            return None
        local = self._local_dict
        if local is None:
            with self._lazy_lock:
                if self._local_dict is None:
                    full = self.dict_df.toPandas()
                    built = {}
                    for fld, g in full.groupby("field"):
                        g = g.sort_values("term_id", kind="mergesort") \
                            .reset_index(drop=True)
                        g["lower"] = g["term"].str.lower()
                        built[fld] = g
                    self._local_dict = built
                local = self._local_dict
        return local.get(
            field, pd.DataFrame(columns=["field", "term", "num_occurences",
                                         "doc_freq", "term_id", "lower"]))

    def arrow_dataset(self, table: str):
        """pyarrow dataset over one parquet table of a local index dir
        (``postings`` / ``phrase``), opened once per handle."""
        dset = self._datasets.get(table)
        if dset is None:
            with self._lazy_lock:
                if table not in self._datasets:
                    self._datasets[table] = ds.dataset(
                        os.path.join(self.local_path, table), format="parquet")
                dset = self._datasets[table]
        return dset

    # -- bounded reads of post-processing (select, snippets, why-found,
    # explain). A read runs in the driver with pyarrow when the index dir
    # is local and the row groups it cannot skip hold at most
    # LOCAL_TIER_MAX_SCAN_BYTES bytes of the columns read — the local
    # tier's scan rule — and as the Spark ``where(...)`` otherwise; callers
    # get the same rows.

    def _reads_locally(self, table: str, flt, columns: list) -> bool:
        return (self.local_path is not None
                and _scan_bytes(self, {table: (flt, columns)})
                <= LOCAL_TIER_MAX_SCAN_BYTES)

    def read_docs(self, doc_ids, columns: "list[str] | None" = None,
                  path: "str | None" = None) -> list:
        """Rows of the doc store — or of the 1:n value relation
        ``values/<path>`` — for the given doc ids, as the pyspark Rows
        ``collect()`` returns (all columns when ``columns`` is None), in
        no particular order."""
        from veloci_spark.nested import safe_path_name

        ids = sorted({int(d) for d in doc_ids})
        sdf = self.docs if path is None else self.values[path]
        if columns is not None:
            columns = list(dict.fromkeys(columns))
        if not ids:
            return []
        table = "docs" if path is None else f"values/{safe_path_name(path)}"
        flt = _doc_id_filter(ids)
        # an unknown column keeps Spark's AnalysisException
        if ((columns is None or set(columns) <= set(sdf.columns))
                and self._reads_locally(table, flt,
                                        ["doc_id", *(columns or sdf.columns)])):
            schema = (sdf.schema if columns is None else
                      T.StructType([sdf.schema[c] for c in columns]))
            return _arrow_rows(self.arrow_dataset(table).to_table(
                columns=schema.names, filter=flt), schema)
        if columns is not None:
            sdf = sdf.select(*columns)
        return sdf.where(F.col("doc_id").isin(ids)).collect()

    def read_postings(self, keys: pd.DataFrame, segments) -> pd.DataFrame:
        """Posting rows (field, term_id, segment, docs_bin, scores_bin) of
        the (field, term_id) ``keys`` within ``segments``, sorted by
        (field, term_id, segment) so both reads list them alike (explain
        emits its term steps in row order). Past TID_PUSHDOWN_MAX_IN term
        ids the Spark read is a superset (range) — callers look rows up by
        key."""
        segs = sorted({int(s) for s in segments})
        cols = ["field", "term_id", "segment", "docs_bin", "scores_bin"]
        flt = _posting_filter(keys) & pc.field("segment").isin(segs)
        if self._reads_locally("postings", flt, cols):
            rows = self.arrow_dataset("postings").to_table(
                columns=cols, filter=flt).to_pandas()
        else:
            tids = sorted(set(keys["term_id"].tolist()))
            rows = (self.postings
                    .where(F.col("segment").isin(segs)
                           & F.col("field").isin(sorted(set(keys["field"])))
                           & _tid_pushdown_pred(F.col("term_id"), tids))
                    .select(*cols).toPandas())
        return rows.sort_values(["field", "term_id", "segment"],
                                kind="mergesort", ignore_index=True)

    def read_phrase(self, phrase_specs, segments) -> pd.DataFrame:
        """Phrase rows (field, tok_a, tok_b, segment, docs_bin) of the
        requested (field, tok_a, tok_b) pairs within ``segments`` — a
        superset over the tok_a × tok_b sets; callers match the pairs."""
        segs = sorted({int(s) for s in segments})
        cols = _PHRASE_READ_COLS
        flt = _phrase_filter(phrase_specs) & pc.field("segment").isin(segs)
        if self._reads_locally("phrase", flt, cols):
            return self.arrow_dataset("phrase").to_table(
                columns=cols, filter=flt).to_pandas()
        a_set = sorted({a for _f, a, _b in phrase_specs})
        b_set = sorted({b for _f, _a, b in phrase_specs})
        return (self.phrase
                .where(F.col("tok_a").isin(a_set) & F.col("tok_b").isin(b_set)
                       & F.col("segment").isin(segs))
                .select(*cols).toPandas())


def _doc_id_filter(ids: list):
    """pyarrow filter for sorted doc ids that skips row groups by their
    doc_id min/max (the doc store is range-partitioned by doc_id): an
    equality disjunction — pyarrow does not check an ``isin`` against
    statistics — or, past TID_PUSHDOWN_MAX_IN ids, range plus ``isin``."""
    col = pc.field("doc_id")
    if len(ids) > TID_PUSHDOWN_MAX_IN:
        return (col >= ids[0]) & (col <= ids[-1]) & col.isin(ids)
    terms = [col == i for i in ids]
    while len(terms) > 1:  # pairwise, so the expression stays shallow
        terms = ([a | b for a, b in zip(terms[::2], terms[1::2])]
                 + terms[len(terms) - len(terms) % 2:])
    return terms[0]


def _int96_as_utc(t):
    """``t`` with every INT96 timestamp — pyarrow reads them as naive ns
    values; they hold UTC instants — typed ``timestamp[us, UTC]``, at any
    nesting depth. (Spark writes TimestampNTZType as naive us.)"""
    if pa.types.is_timestamp(t):
        return (pa.timestamp("us", tz="UTC")
                if t.tz is None and t.unit == "ns" else t)
    if pa.types.is_struct(t):
        return pa.struct([f.with_type(_int96_as_utc(f.type)) for f in t])
    if pa.types.is_map(t):
        return pa.map_(t.key_field.with_type(_int96_as_utc(t.key_type)),
                       t.item_field.with_type(_int96_as_utc(t.item_type)))
    if pa.types.is_list(t):
        return pa.list_(t.value_field.with_type(_int96_as_utc(t.value_type)))
    return t


def _arrow_rows(table, schema: T.StructType) -> list:
    """pyspark Rows of a pyarrow table with the values ``collect()``
    gives (Spark Connect's Arrow→Row conversion). Spark writes
    TimestampType as INT96: marked UTC, the conversion shifts those
    instants to local time, as ``collect()`` does."""
    from pyspark.sql.conversion import ArrowTableToRowsConversion

    utc = pa.schema([f.with_type(_int96_as_utc(f.type)) for f in table.schema])
    return ArrowTableToRowsConversion.convert(table.cast(utc, safe=False),
                                              schema)


# ---------------------------------------------------------------------------
# term matching (Q1–Q4) — semantics documented at pyref.RefIndex.match_terms


class _MatchSpec(NamedTuple):
    """One dictionary leaf, normalized once (:func:`_match_spec`).
    ``lower`` is the query as compared: folded when ``ignore_case``, raw
    otherwise (reference RequestSearchPart.ignore_case,
    search_field.rs:75,87-88)."""

    term: str
    lower: str
    n_chars: int
    d_auto: int
    check_prefix: bool
    starts_with: bool
    is_regex: bool
    ignore_case: bool
    top: "int | None"
    skip: int


def _match_spec(term: str, *, levenshtein: int = 0, starts_with: bool = False,
                is_regex: bool = False, top: "int | None" = None,
                skip: int = 0, ignore_case: bool = True) -> _MatchSpec:
    """A leaf's match options (the keyword arguments of
    :func:`match_terms`, a leaf's ``opts``), normalized once."""
    lower = term.lower() if ignore_case else term
    n_chars = max(len(lower), 1)
    return _MatchSpec(term, lower, n_chars, min(levenshtein, n_chars - 1, 4),
                      starts_with or levenshtein != 0, starts_with, is_regex,
                      ignore_case, top, skip)


def match_terms(index: FulltextIndex, field: str, term: str, *,
                levenshtein: int = 0, starts_with: bool = False,
                is_regex: bool = False, top: int | None = None,
                skip: int = 0, ignore_case: bool = True) -> pd.DataFrame:
    """Match a query term against the dictionary.

    Returns a pandas DataFrame (term, term_id, distance, prefix, score) —
    small by construction (dictionary hits only). ``ignore_case=False``
    (reference RequestSearchPart.ignore_case, search_field.rs:87-88)
    matches raw against raw; regex sensitivity is scoped in-pattern
    upstream, so the flag only affects plain/fuzzy/prefix shapes here.

    Three sources, one selection (:func:`_select`) and one scoring tail
    (:func:`_matches`): the driver-side dictionary (up to
    LOCAL_DICT_MAX_TERMS terms), the distributed dictionary, and an
    identity column, whose doc store is the dictionary (term_id ≡ doc_id).
    On the two Spark-side sources :func:`_jvm_match_pred` is a
    whole-stage-codegen pre-filter and the capped collect of its rows is
    selected again in Python, so every source matches as the driver
    dictionary does.
    """
    spec = _match_spec(term, levenshtein=levenshtein, starts_with=starts_with,
                       is_regex=is_regex, top=top, skip=skip,
                       ignore_case=ignore_case)
    identity = index.fields.get(field, {}).get("identity")
    rows = None if identity else index.local_dict(field)
    if rows is not None:
        # the precomputed lower column: no query folds the whole dictionary
        folded = rows["lower" if ignore_case else "term"].values
    else:
        if identity:
            cand = _identity_candidates(index, field, spec).toDF("term_id",
                                                                 "term")
        else:
            cand = index.dict_df.where((F.col("field") == field)
                                       & _jvm_match_pred(F.col("term"), spec))
        # cap the driver collect: a match-everything regex over a
        # >2M-term dictionary (or a corpus-sized identity column) must not
        # stream it to the driver. Past the cap, the LOWEST term_ids win
        # (orderBy before limit → TakeOrderedAndProject, a bounded
        # per-partition top-N): deterministic across runs and cluster
        # layouts, unlike a bare limit() whose surviving subset is
        # Spark-placement-dependent. Documented approximation; the per-leaf
        # `top` truncation keeps at most top+skip anyway.
        rows = (cand.select("term", "term_id").orderBy("term_id")
                .limit(100_000).toPandas())
        folded = None
    pos, dist, prefix = _select(spec, rows["term"].values, folded)
    return _matches(spec, rows["term"].values[pos],
                    rows["term_id"].values[pos], dist, prefix)


def _select(spec: _MatchSpec, raw, folded=None):
    """The driver-side term selection, for every match source: the
    positions of the ``raw`` values that ``spec`` selects, with their edit
    distances and prefix flags. ``folded`` holds the values as compared
    (lower-cased when the match ignores case): the driver dictionary
    passes its precomputed column, whose terms are never None; without it
    the values are folded here and a None value never matches. A regex
    runs on the raw values, IGNORECASE (a case-sensitive one carries
    ``(?-i:…)``)."""
    raw = np.asarray(raw, dtype=object)
    if folded is None:
        pos = np.flatnonzero(np.not_equal(raw, None))
        raw = raw[pos]
        folded = (np.array([v.lower() for v in raw], dtype=object)
                  if spec.ignore_case else raw)
    else:
        pos = np.arange(len(raw))
        folded = np.asarray(folded, dtype=object)
    q, d, n = spec.lower, spec.d_auto, len(raw)
    if spec.is_regex:
        rx = re.compile(spec.term, re.IGNORECASE)
        fn = rx.match if spec.starts_with else rx.fullmatch
        sel = np.fromiter((fn(v) is not None for v in raw), bool, n)
    elif spec.starts_with and d:
        sel = levenshtein_batch(list(folded), q, d, prefix=True) <= d
    elif spec.starts_with:
        sel = np.fromiter((s.startswith(q) for s in folded), bool, n)
    elif d == 0:
        sel = folded == q
    else:
        lens = np.fromiter(map(len, folded), np.int64, n)
        band = np.flatnonzero(np.abs(lens - spec.n_chars) <= d)
        sel = np.zeros(n, dtype=bool)
        sel[band] = levenshtein_batch(list(folded[band]), q, d) <= d
    hit = folded[sel]
    dist = np.where(hit == q, 0,
                    levenshtein_batch(list(hit), q, 254)).astype(np.int64)
    prefix = np.fromiter((spec.check_prefix and s.startswith(q) for s in hit),
                         bool, len(hit))
    return pos[sel], dist, prefix


def _matches(spec: _MatchSpec, terms, term_ids, dist, prefix) -> pd.DataFrame:
    """The scoring tail of every match source: each selected term's
    term_score, then the leaf's matched-term ``top`` cut by (score,
    term_id) DESC (search_field.rs:292-331,373-376)."""
    out = pd.DataFrame({"term": terms, "term_id": term_ids, "distance": dist,
                        "prefix": prefix, "score": term_score(dist, prefix)})
    if spec.top is not None:
        out = out.sort_values(["score", "term_id"], ascending=[False, False],
                              kind="mergesort").head(spec.top + spec.skip)
    return out.reset_index(drop=True)


def _jvm_match_pred(col, spec: _MatchSpec):
    """Whole-stage-codegen pre-filter of the dictionary match over a string
    Column, on EVERY match shape — no interpreted per-key evaluation (the
    reference intersects an automaton with its FST, search_field.rs:68-99).
    The rows it passes are selected again by :func:`_select`, which decides.

    * regex → anchored ``rlike``: ``(?iu)`` reproduces the Python-path
      ``re.IGNORECASE`` (Unicode) compile; ``^(?:…)`` ≡ ``re.match``,
      ``^(?:…)\\z`` ≡ ``re.fullmatch`` (``\\z`` = true end-of-input — Java's
      bare ``$`` also matches before a trailing newline). Pattern-local
      ``(?-i:…)`` overrides the flag exactly like the compiled-flag path.
    * fuzzy → bounded ``levenshtein(lower(col), q, cap)`` (codegen'd since
      Spark 3.5; returns -1 past the cap) behind a length band that is
      parquet-pushdown-friendly pre-pruning.
    * prefix-fuzzy → the reference's ``.starts_with()`` Levenshtein
      automaton (search_field.rs:80,91-94) accepts a key when SOME prefix
      is within distance d of the query. Since lev(p, q) ≥ ||p| − |q||, an
      accepting prefix must have length within d of |q| — so the automaton
      reduces EXACTLY to an OR of 2d+1 bounded levenshtein calls over
      explicit prefix lengths (a too-short key contributes itself via the
      longer-L terms: substring past the end is just the key, still one of
      its own prefixes — no false positives possible, every conjunct tests
      a genuine prefix).

    ``ignore_case=False`` compares the raw column against the raw query
    (``spec.lower`` is then the unfolded term).
    """
    lower, n_chars, d_auto = spec.lower, spec.n_chars, spec.d_auto
    if spec.is_regex:
        jpat = ("(?iu)^(?:" + spec.term + ")"
                + ("" if spec.starts_with else "\\z"))
        return col.rlike(jpat)
    low = F.lower(col) if spec.ignore_case else col
    if spec.starts_with:
        if d_auto == 0:
            return low.startswith(F.lit(lower))
        pred = None
        for plen in range(max(1, n_chars - d_auto), n_chars + d_auto + 1):
            p = F.levenshtein(F.substring(low, 1, plen),
                              F.lit(lower), d_auto) >= 0
            pred = p if pred is None else (pred | p)
        return pred
    if d_auto == 0:
        return low == F.lit(lower)
    return (
        (F.length(col) >= n_chars - d_auto)
        & (F.length(col) <= n_chars + d_auto)
        & (F.levenshtein(low, F.lit(lower), d_auto) >= 0)
    )


def _identity_candidates(index: FulltextIndex, field: str,
                         spec: _MatchSpec) -> DataFrame:
    """(doc_id, value) rows of an identity column that can match ``spec``:
    non-null values within the field's store cutoff that pass
    :func:`_jvm_match_pred`. The doc store is the dictionary here, so the
    scan runs distributed and only the pre-filtered rows reach Python (the
    reference's identity shortcut, search_field.rs:471-479)."""
    return (index.docs.select("doc_id", F.col(field).alias("value"))
            .where(F.col("value").isNotNull()
                   & (F.octet_length("value")
                      <= index.fields[field]["max_text_store_bytes"])
                   & _jvm_match_pred(F.col("value"), spec)))


def _identity_scores(spec: _MatchSpec, values):
    """Positions of the identity ``values`` that ``spec`` selects, their
    term scores and their f32 final scores: term_score ×
    f16(IDENTITY_STORED)/100."""
    pos, dist, prefix = _select(spec, values)
    ts = term_score(dist, prefix)
    return pos, ts, (ts * (np.float16(IDENTITY_STORED).astype(_F32)
                           / _F32(100.0))).astype(_F32)


# ---------------------------------------------------------------------------
# request parsing → plan


class _Leaf:
    __slots__ = ("leaf_id", "field", "term", "opts", "tag", "boost",
                 "field_boosts", "matched")

    def __init__(self, leaf_id, field, term, opts, boost, field_boosts=None):
        self.leaf_id = leaf_id
        self.field = field
        self.term = term
        self.opts = opts
        # per-leg boost-by-field specs (reference RequestSearchPart
        # options.boost, tests.rs:843-871): applied to THIS leg's hits
        # before the tree combine — unlike request-level `boost`, which
        # applies to the combined result
        self.field_boosts = field_boosts
        # OR distinct-tag identity: lowercased query term (matching is
        # case-insensitive, set_op.rs per-term grouping) — EXCEPT regex
        # leaves, where lowercasing mutates the pattern itself (`\W` → `\w`,
        # `(?-i:Type1)` → `(?-i:type1)`): case-variant case-sensitive
        # patterns must stay distinct tags/leaves, so the raw pattern is the
        # identity (ADVICE r3). Case-SENSITIVE plain leaves likewise keep
        # the raw term (folding would merge case-distinct queries).
        self.tag = (term if opts.get("is_regex")
                    or opts.get("ignore_case", True) is False
                    else term.lower())
        self.boost = boost
        self.matched = None  # pandas df from match_terms


def _tree_children(sub):
    """Both serde forms of a SearchTree: the canonical object
    ``{"queries": [...], "options": ...}`` (search_request.rs:20-26) and the
    bare-list shorthand used throughout the reference's test corpus."""
    return sub["queries"] if isinstance(sub, dict) else sub


def _parse_tree(node: dict, leaves: list, dedup: dict):
    """Request subtree → plan node; identical leaf searches are deduped and
    executed once (reference plan dedup, execution_plan.rs:84-123)."""
    if "or" in node:
        return {"op": "or", "children": [_parse_tree(c, leaves, dedup)
                                         for c in _tree_children(node["or"])]}
    if "and" in node:
        return {"op": "and", "children": [_parse_tree(c, leaves, dedup)
                                          for c in _tree_children(node["and"])]}
    leaf_req = node.get("search", node)
    field = leaf_req["path"]
    terms = leaf_req.get("terms") or [leaf_req["term"]]
    opts = {
        "levenshtein": leaf_req.get("levenshtein_distance", 0),
        "starts_with": leaf_req.get("starts_with", False),
        "is_regex": leaf_req.get("is_regex", False),
        "top": leaf_req.get("top"),
        "skip": leaf_req.get("skip", 0),
        "ignore_case": leaf_req.get("ignore_case", True),
    }
    # case-SENSITIVE regex (reference ignore_case=Some(false)): every regex
    # compile site uses IGNORECASE, so sensitivity is scoped into the
    # pattern itself — no matcher plumbing, identical on every match path.
    # Plain-term sensitivity rides the opts flag through match_terms.
    if opts["is_regex"] and opts["ignore_case"] is False:
        terms = [f"(?-i:{t})" for t in terms]
        opts["ignore_case"] = True
    boost = leaf_req.get("boost")
    # per-leg field-boost specs: reference "options": {"boost": [...]}
    # (a LIST of boost-by-field specs, distinct from the scalar multiplier)
    field_boosts = (leaf_req.get("options") or {}).get("boost")
    if isinstance(boost, (list, tuple)):
        field_boosts = (list(field_boosts) if field_boosts else []) + list(boost)
        boost = None
    children = []
    for t in terms:
        # dedup identity mirrors the tag identity: regex patterns by RAW
        # pattern (lowering `\W` yields `\w`, and `(?-i:...)` patterns
        # differing only in case are distinct), and case-SENSITIVE plain
        # terms likewise raw — folding them merged case-variant terms of
        # one sensitive leaf (['Bago', 'bago']) into a single leaf and
        # silently dropped the variant that matches the corpus
        key = (field,
               t if (opts["is_regex"] or opts["ignore_case"] is False)
               else t.lower(),
               tuple(sorted(opts.items())), boost, repr(field_boosts))
        if key in dedup:
            leaf = dedup[key]
        else:
            leaf = _Leaf(len(leaves), field, t, opts, boost, field_boosts)
            leaves.append(leaf)
            dedup[key] = leaf
        children.append({"op": "leaf", "leaf_id": leaf.leaf_id, "tag": leaf.tag,
                         "boost": boost})
    if len(children) == 1:
        return children[0]
    return {"op": "or", "children": children}


def _tree_tag(node) -> str:
    if node["op"] == "leaf":
        return node["tag"]
    return node["op"] + "(" + ",".join(_tree_tag(c) for c in node["children"]) + ")"


# ---------------------------------------------------------------------------
# the segment kernel (pure numpy/pandas; shared by Spark and by unit tests)


def _dedup_max(ids: np.ndarray, scores: np.ndarray):
    order = np.argsort(ids, kind="stable")
    ids, scores = ids[order], scores[order]
    uniq, idx = np.unique(ids, return_index=True)
    return uniq, np.maximum.reduceat(scores.astype(_F32), idx)


def eval_tree(node, leaf_hits: dict):
    """Evaluate a scored plan tree. leaf_hits: leaf_id → (ids, f32 scores).
    Returns (ids sorted asc, f32 scores)."""
    if node["op"] == "leaf":
        ids, sc = leaf_hits.get(node["leaf_id"], (np.empty(0, np.int64), np.empty(0, _F32)))
        if node.get("boost") is not None:
            sc = (sc * _F32(node["boost"])).astype(_F32)
        return ids, sc
    kids = [(c, eval_tree(c, leaf_hits)) for c in node["children"]]
    if len(kids) == 1:
        return kids[0][1]
    if node["op"] == "and":
        # docs present in all legs; score = sum of leg scores in leg order
        # (set_op.rs:368-446)
        common = kids[0][1][0]
        for _, (ids, _sc) in kids[1:]:
            common = common[np.isin(common, ids)]
        total = np.zeros(len(common), dtype=_F32)
        for _, (ids, sc) in kids:
            pos = np.searchsorted(ids, common)
            total = (total + sc[pos]).astype(_F32)
        return common, total
    # OR (set_op.rs:87-220): per doc, max per distinct tag (sorted tag
    # order), sum those, × n_distinct² (tags with max ≥ 1e-5 count)
    tags = sorted({_tree_tag(c) for c, _ in kids})
    tag_ix = {t: i for i, t in enumerate(tags)}
    all_ids, all_tags, all_sc = [], [], []
    for c, (ids, sc) in kids:
        all_ids.append(ids)
        all_tags.append(np.full(len(ids), tag_ix[_tree_tag(c)], dtype=np.int64))
        all_sc.append(sc)
    ids = np.concatenate(all_ids)
    tgs = np.concatenate(all_tags)
    scs = np.concatenate(all_sc).astype(_F32)
    if len(ids) == 0:
        return ids.astype(np.int64), scs
    order = np.lexsort((tgs, ids))
    ids, tgs, scs = ids[order], tgs[order], scs[order]
    pair_change = np.empty(len(ids), dtype=bool)
    pair_change[0] = True
    pair_change[1:] = (ids[1:] != ids[:-1]) | (tgs[1:] != tgs[:-1])
    starts = np.flatnonzero(pair_change)
    gids = ids[starts]
    gmax = np.maximum.reduceat(scs, starts)
    doc_change = np.empty(len(gids), dtype=bool)
    doc_change[0] = True
    doc_change[1:] = gids[1:] != gids[:-1]
    dstarts = np.flatnonzero(doc_change)
    out_ids = gids[dstarts]
    # sequential f32 sum per doc in ascending tag order. np.add.reduceat is
    # NOT usable here: its f32 inner loop is SIMD-blocked, so the addition
    # tree differs from the reference's strict left-to-right f32 fold
    # (set_op.rs sum) for 3+ tags — one-ulp rank flips (found by the fuzz
    # battery: 9.3+9.3+10.0 → 28.6 sequential vs 28.599998 reduceat).
    # Instead add the k-th present tag of every doc in one vectorized step:
    # strict order per doc, vectorized across docs, ≤ n_distinct_tags steps.
    lengths = np.diff(np.append(dstarts, len(gmax)))
    sums = np.zeros(len(dstarts), dtype=_F32)
    for k in range(int(lengths.max())):
        m = lengths > k
        sums[m] = (sums[m] + gmax[dstarts[m] + k]).astype(_F32)
    counts = np.add.reduceat((gmax >= _F32(1e-5)).astype(_F32), dstarts).astype(_F32)
    return out_ids, (sums * counts * counts).astype(_F32)


def eval_id_tree(node, leaf_ids: dict) -> np.ndarray:
    """Ids-only filter tree (set_op.rs:222-258,468-509)."""
    if node["op"] == "leaf":
        return leaf_ids.get(node["leaf_id"], np.empty(0, np.int64))
    parts = [eval_id_tree(c, leaf_ids) for c in node["children"]]
    if node["op"] == "and":
        out = parts[0]
        for p in parts[1:]:
            out = out[np.isin(out, p)]
        return out
    return np.unique(np.concatenate(parts)) if parts else np.empty(0, np.int64)


def eval_segment(plan: dict, leaf_hits: dict, leaf_idsets: dict):
    """Full post-tree pipeline for one segment. Returns (ids, scores)."""
    ids, scores = eval_tree(plan["tree"], leaf_hits)
    if plan.get("filter") is not None:
        fids = eval_id_tree(plan["filter"], leaf_idsets)
        keep = np.isin(ids, fids)
        ids, scores = ids[keep], scores[keep]
    # phrase boost ×5.0 per matched distinct phrase (plan_steps.rs:267);
    # multiple phrases multiply (test_phrase.rs:130-219)
    for leaf_id in plan.get("phrase_leaves", ()):
        pids = leaf_idsets.get(leaf_id)
        if pids is not None and len(pids):
            hit = np.isin(ids, pids)
            scores = np.where(hit, scores * _F32(5.0), scores).astype(_F32)
    # term boost (boost.rs:89-195), default factor 2.0
    for leaf_id, factor in plan.get("term_boost_leaves", ()):
        pids = leaf_idsets.get(leaf_id)
        if pids is not None and len(pids):
            hit = np.isin(ids, pids)
            scores = np.where(hit, scores * _F32(factor), scores).astype(_F32)
    # text locality: docs hit by n ≥ 2 distinct query terms → × 2n²
    # (boost.rs:11-87; flat schema ⇒ text ≡ doc)
    if plan.get("locality"):
        tag_ids: dict[str, list] = {}
        for leaf_id, tag in plan.get("locality_leaves", ()):
            hit_ids = leaf_hits.get(leaf_id, (np.empty(0, np.int64), None))[0]
            tag_ids.setdefault(tag, []).append(hit_ids)
        per_tag = [np.unique(np.concatenate(v)) for v in tag_ids.values()]
        if per_tag:
            allh = np.concatenate(per_tag)
            uniq, cnt = np.unique(allh, return_counts=True)
            multi = uniq[cnt >= 2]
            ncnt = cnt[cnt >= 2].astype(_F32)
            pos = np.searchsorted(ids, multi)
            ok = (pos < len(ids))
            pos_ok = pos[ok]
            match = ids[pos_ok] == multi[ok]
            sel = pos_ok[match]
            factors = (_F32(2.0) * ncnt[ok][match] * ncnt[ok][match]).astype(_F32)
            scores[sel] = (scores[sel] * factors).astype(_F32)
    return ids, scores


# ---------------------------------------------------------------------------
# driver: request → result


def _collect_leaves(index: FulltextIndex, request: dict):
    leaves: list[_Leaf] = []
    dedup: dict = {}
    tree_req = request.get("search_req") or {
        k: request[k] for k in ("or", "and", "search") if k in request
    }
    tree = _parse_tree(tree_req, leaves, dedup)
    filter_tree = None
    if request.get("filter") is not None:
        filter_tree = _parse_tree(request["filter"], leaves, dedup)
    scored_leaf_ids = _id_tree_leaf_ids(tree)

    phrase_specs = []
    for pb in request.get("phrase_boosts", []):
        a = (pb.get("search1") or pb)["terms"][0]
        b = (pb.get("search2") or pb)["terms"][0]
        phrase_specs.append((pb["path"], a, b))

    term_boost_leaves = []
    for tb in request.get("boost_term", []):
        field = tb["path"]
        factor = tb.get("boost", 2.0)
        for t in tb.get("terms", []):
            key = (field, t.lower(), tuple(sorted({
                "levenshtein": 0, "starts_with": False, "is_regex": False,
                "top": None, "skip": 0}.items())), None, repr(None))
            if key in dedup:
                leaf = dedup[key]
            else:
                leaf = _Leaf(len(leaves), field, t,
                             {"levenshtein": 0, "starts_with": False,
                              "is_regex": False, "top": None, "skip": 0}, None)
                leaves.append(leaf)
                dedup[key] = leaf
            term_boost_leaves.append((leaf.leaf_id, float(factor)))

    # match all leaves against the dictionary; identity-field leaves stay
    # distributed (their "dictionary" is the doc store — matched=None)
    for leaf in leaves:
        if leaf.field not in index.fields:
            # reference behavior: querying an unindexed path is an error,
            # not an empty result (tests.rs:426-439 "field does not exist
            # {path}.textindex")
            raise KeyError(f"field does not exist {leaf.field}.textindex")
        if index.fields.get(leaf.field, {}).get("identity"):
            leaf.matched = None
        else:
            leaf.matched = match_terms(index, leaf.field, leaf.term, **leaf.opts)
    return tree, filter_tree, leaves, scored_leaf_ids, phrase_specs, term_boost_leaves


# kernel output: per-segment (truncated) hits + the segment's EXACT hit
# count carried on its first row (0 on the rest) — summing seg_hits over
# all rows gives the reference-true num_hits (search_result.rs:8-26)
# without materializing the full hit set
# per-task budget for the WAND kernel's dense scatter state: 5 B per
# (leg, segment doc) cell (f32 max + presence) plus the 1 B touched mask
# per segment doc; wider trees use the plain kernel whose state is
# hit-proportional (VERDICT r4 #4)
_WAND_DENSE_BUDGET_BYTES = 64 << 20

_HITS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("score", T.FloatType()),
    T.StructField("seg_hits", T.LongType()),
])

_TOPK_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("score", T.FloatType()),
])


def _common_array_levels(path_a: str, path_b: str) -> int:
    """Number of ``[]`` segments in the longest common SEGMENT prefix of two
    field paths — the array levels whose positions the paths share.
    ``meanings.ger[].text`` vs ``meanings.ger[].boost`` → 1 (siblings under
    the same array element); ``texts[]`` vs ``ratings[]`` → 0 (independent
    top-level arrays: only anchor-level association exists)."""
    sa, sb = path_a.split("."), path_b.split(".")
    k = 0
    for a, b in zip(sa, sb):
        if a != b:
            break
        if a.endswith("[]"):
            k += 1
    return k


def _apply_value_boost(index: FulltextIndex, hits: DataFrame, spec: dict,
                       leaves) -> DataFrame:
    """Value-relative boost-by-indexed-subfield (reference BoostToAnchor,
    plan_steps.rs:170-215 + boost.rs:255-281,421-456): a matched 1:n value
    boosts its anchor by the value of a SIBLING subfield of the same array
    element. Dataflow (all joins, no driver loop):

    token hits of each scored nested leaf (tokentexts: doc → packed pos)
      → decode the shared array-prefix positions (shift/mask, JVM-side)
      → join the boost path's value relation on (doc, shared prefix)
      → distinct (doc, boost-value id) pairs
      → per doc: boost values sorted by pos, applied sequentially in f32
        (the reference streams pairs in value-id order — same order).
    """
    from veloci_spark.nested import path_depth, pos_level_cols
    from veloci_spark.scoring import boost_value_score, eval_boost_expression

    bpath = spec["path"]
    fun = spec.get("boost_fun", "Log10")
    param = float(spec.get("param", 0.0))
    expression = spec.get("expression")

    pair_parts = []
    for leaf in leaves or []:
        if leaf.matched is None or leaf.field not in index.values:
            continue
        k = _common_array_levels(leaf.field, bpath)
        if k == 0:
            continue
        tids = [int(t) for t in leaf.matched["term_id"]]
        if not tids:
            continue
        ldepth = path_depth(leaf.field)
        lvl = pos_level_cols(F.col("pos"), ldepth)[:k]
        matched = (
            _filter_term_ids(index.spark,
                             index.tokentexts.where(F.col("field") == leaf.field),
                             tids)
            .select("doc_id", *[lvl[i].alias(f"_k{i}") for i in range(k)])
            .distinct()
        )
        bvals = index.values[bpath].select(
            "doc_id", F.col("pos").alias("_bpos"),
            F.col("value").cast("double").alias("_bv"),
            *[F.col(f"pos_{i}").alias(f"_k{i}") for i in range(k)])
        pair_parts.append(
            matched.join(bvals, on=["doc_id"] + [f"_k{i}" for i in range(k)])
            .select("doc_id", "_bpos", "_bv"))
    if not pair_parts:
        return hits
    pairs = pair_parts[0]
    for p in pair_parts[1:]:
        pairs = pairs.unionByName(p)
    # each boost VALUE applies once per anchor (dedup across leaves), values
    # ordered by pos = the reference's value-id stream order
    agg = (
        pairs.dropDuplicates(["doc_id", "_bpos"])
        .groupBy("doc_id")
        .agg(F.transform(F.sort_array(F.collect_list(F.struct("_bpos", "_bv"))),
                         lambda s: s["_bv"]).alias("_bvs"))
    )

    @F.pandas_udf("float")
    def seq_boosted(score: pd.Series, bvs: pd.Series) -> pd.Series:
        out = score.values.astype(_F32).copy()
        lens = np.fromiter((0 if v is None else len(v) for v in bvs.values),
                           dtype=np.int64, count=len(bvs))
        # dominant case — exactly one boost value per hit — runs as ONE
        # vectorized kernel call over the whole batch (elementwise f32 ops
        # are bit-identical to the 1-element-array sequential form); only
        # multi-value docs pay the per-doc sequential loop the reference's
        # value-id stream order requires (VERDICT r3 #4)
        one = np.flatnonzero(lens == 1)
        if len(one):
            vals = np.fromiter((bvs.values[i][0] for i in one),
                               dtype=np.float64, count=len(one))
            if expression is not None:
                out[one] = eval_boost_expression(expression, out[one], vals)
            else:
                out[one] = boost_value_score(out[one], vals, fun, param)
        for i in np.flatnonzero(lens > 1):
            s = np.array([out[i]], dtype=_F32)
            for v in bvs.values[i]:
                if expression is not None:
                    s = eval_boost_expression(
                        expression, s, np.array([v], dtype=np.float64))
                else:
                    s = boost_value_score(
                        s, np.array([v], dtype=np.float64), fun, param)
            out[i] = s[0]
        return pd.Series(out.astype(np.float32))

    return (
        hits.join(agg, on="doc_id", how="left")
        .withColumn("score", seq_boosted(F.col("score"), F.col("_bvs")))
        .drop("_bvs")
    )


def _apply_anchor_boosts(index: FulltextIndex, hits: DataFrame,
                         request: dict, leaves=None) -> DataFrame:
    """Boost-by-field (Q13): join the boost column from the doc store (flat
    anchor-level path) or through the value relation (nested sibling-subfield
    path → :func:`_apply_value_boost`) and combine per the boost function /
    expression DSL — float32 pandas UDF. Applied after the kernel, before
    the global ranking."""
    from veloci_spark.scoring import boost_value_score, eval_boost_expression

    def make_udf(fun: str, param: float, expression):
        @F.pandas_udf("float")
        def boosted(score: pd.Series, value: pd.Series) -> pd.Series:
            vals = value.astype("float64").values  # NaN where missing
            if expression is not None:
                out = eval_boost_expression(expression, score.values, vals)
            else:
                out = boost_value_score(score.values, vals, fun, param)
            return pd.Series(out)

        return boosted

    for spec in request.get("boost", []):
        col = spec["path"]
        if col in index.values:
            hits = _apply_value_boost(index, hits, spec, leaves)
            continue
        boosted = make_udf(spec.get("boost_fun", "Log10"),
                           float(spec.get("param", 0.0)), spec.get("expression"))
        boost_df = index.docs.select("doc_id", F.col(col).cast("double").alias("_bv"))
        # INNER join, not left: every hit doc_id exists in the doc store
        # (missing boost values are NULL in the row, not missing rows), and
        # a left-outer join could only ever broadcast the corpus-sized doc
        # store — inner lets AQE broadcast the small HIT side instead, so a
        # selective query's boost is a map-side hash join over the doc
        # store rather than a full docs shuffle.
        hits = (
            hits.join(boost_df, on="doc_id", how="inner")
            .withColumn("score", boosted(F.col("score"), F.col("_bv")))
            .drop("_bv")
        )
    return hits


def _apply_post_locality(index: FulltextIndex, hits: DataFrame,
                         leaves, scored_ids: set) -> DataFrame:
    """Text-locality boost with per-VALUE grouping (nested fields involved).

    Reference semantics (boost.rs:11-87 + 10-32): per field path, texts hit
    by n ≥ 2 distinct query terms yield factor 2n²; an anchor's boost is the
    MAX factor over all its qualifying texts across paths, applied once.
    Implemented as DataFrame joins: tokentexts rows (nested: term → (doc,
    pos)) ∪ decoded posting docs (flat: text ≡ doc) → per-group distinct-tag
    counts → per-doc max — fully distributed, no driver loop.
    """
    spark = index.spark
    segment_docs = int(index.manifest["segment_docs"])
    group_parts = []  # DataFrames of (field, doc_id, pos, tag)
    for leaf in leaves:
        if leaf.leaf_id not in scored_ids:
            continue
        fc = index.fields.get(leaf.field, {})
        if leaf.matched is None:
            # identity column: text ids ARE anchor ids (boost.rs:61-74) —
            # the doc-store match gives (doc, pos=0)
            irows = _identity_leaf_rows(index, leaf)
            group_parts.append(
                irows.select(F.explode("doc_ids").alias("doc_id"))
                .withColumn("field", F.lit(leaf.field))
                .withColumn("pos", F.lit(0).cast("long"))
                .withColumn("tag", F.lit(leaf.tag)))
            continue
        tids = [int(t) for t in leaf.matched["term_id"]]
        if not tids:
            continue
        if fc.get("is_nested"):
            group_parts.append(
                _filter_term_ids(
                    spark,
                    index.tokentexts.where(F.col("field") == leaf.field), tids)
                .select("field", "doc_id", "pos")
                .withColumn("tag", F.lit(leaf.tag)))
        else:
            rows = (
                _filter_term_ids(
                    spark,
                    index.postings.where(F.col("field") == leaf.field), tids)
                .select("segment", "docs_bin")
            )

            def decode(iterator, _tag=leaf.tag, _field=leaf.field):
                from veloci_spark.vbyte import vbyte_decode, delta_decode

                for pdf in iterator:
                    outs = []
                    for seg, b in zip(pdf["segment"].values, pdf["docs_bin"].values):
                        ids = delta_decode(vbyte_decode(b)).astype(np.int64) \
                            + int(seg) * segment_docs
                        outs.append(pd.DataFrame({
                            "field": _field, "doc_id": ids,
                            "pos": np.zeros(len(ids), dtype=np.int64),
                            "tag": _tag}))
                    yield pd.concat(outs) if outs else pd.DataFrame(
                        {"field": [], "doc_id": [], "pos": [], "tag": []})

            group_parts.append(rows.mapInPandas(
                decode, schema="field string, doc_id long, pos long, tag string"))
    if not group_parts:
        return hits
    groups = group_parts[0]
    for p in group_parts[1:]:
        groups = groups.unionByName(p)
    factors = (
        groups.groupBy("field", "doc_id", "pos")
        .agg(F.countDistinct("tag").alias("n"))
        .where(F.col("n") >= 2)
        .groupBy("doc_id").agg(F.max("n").alias("n"))
    )

    @F.pandas_udf("float")
    def boosted(score: pd.Series, n: pd.Series) -> pd.Series:
        s = score.values.astype(_F32)
        nn = n.values
        valid = ~pd.isna(nn)
        nf = np.where(valid, nn, 0).astype(_F32)
        # kernel rounding order: factor = (2·n)·n, then one multiply
        f = ((_F32(2.0) * nf) * nf).astype(_F32)
        out = np.where(valid, (s * f).astype(_F32), s)
        return pd.Series(out.astype(np.float32))

    return (
        hits.join(factors, on="doc_id", how="left")
        .withColumn("score", boosted(F.col("score"), F.col("n")))
        .drop("n")
    )


def search_df(index: FulltextIndex, request: dict) -> DataFrame:
    """Evaluate a request; returns ranked DataFrame (doc_id, score) — already
    sorted (score DESC, doc_id DESC) with top/skip applied."""
    hits, _plan, _leaves = _search_hits(index, request)
    if _plan.get("post_locality"):
        hits = _apply_post_locality(index, hits, _leaves,
                                    _plan["scored_leaf_ids"])
    hits = _apply_anchor_boosts(index, hits, request, _leaves)
    hits = hits.select("doc_id", "score")
    top = request.get("top", 10)
    skip = request.get("skip", 0)
    ranked = hits.orderBy(F.desc("score"), F.desc("doc_id"))
    if skip:
        w_rows = ranked.limit(top + skip).collect()[skip:]
        return index.spark.createDataFrame(w_rows or [], schema=_TOPK_SCHEMA)
    return ranked.limit(top)


def _leaf_kernel_rows(index: FulltextIndex, leaf):
    """Kernel input rows (postings or identity) for ONE leaf, or None when
    the leaf matched nothing."""
    if leaf.matched is None:
        return _identity_leaf_rows(index, leaf)
    if leaf.matched.empty:
        return None
    return _posting_kernel_rows(index, _matched_rows([leaf]))


_MATCHED_SCHEMA = "field string, term_id long, leaf_id int, term_score float"


def _matched_rows(leaves) -> pd.DataFrame:
    """Kernel input keys of the dictionary-matched leaves, one row per
    (leaf, matched term): (field, term_id, leaf_id, term_score f32)."""
    ms = [l for l in leaves if l.matched is not None and len(l.matched)]
    n = [len(l.matched) for l in ms]
    return pd.DataFrame({
        "field": np.repeat(np.array([l.field for l in ms], dtype=object), n),
        "term_id": np.concatenate(
            [l.matched["term_id"].to_numpy(np.int64) for l in ms]
            or [np.empty(0, np.int64)]),
        "leaf_id": np.repeat(np.array([l.leaf_id for l in ms], dtype=np.int32), n),
        "term_score": np.concatenate(
            [l.matched["score"].to_numpy(_F32) for l in ms]
            or [np.empty(0, _F32)]),
    })


def _posting_kernel_rows(index: FulltextIndex, matched: pd.DataFrame) -> DataFrame:
    """Spark kernel-input rows: the posting rows of the matched terms,
    tagged with their leaf and term score (broadcast join)."""
    matched_df = index.spark.createDataFrame(
        list(zip(matched["field"].tolist(), matched["term_id"].tolist(),
                 matched["leaf_id"].tolist(), matched["term_score"].tolist())),
        _MATCHED_SCHEMA)
    fields = sorted(set(matched["field"]))
    tids = sorted(set(matched["term_id"].tolist()))
    return (
        index.postings
        .where(F.col("field").isin(fields)
               & _tid_pushdown_pred(F.col("term_id"), tids))
        .join(F.broadcast(matched_df), on=["field", "term_id"])
        .select("segment", "leaf_id", "term_score", "max_score",
                "docs_bin", "scores_bin")
        .withColumn("doc_ids", F.lit(None).cast("array<long>"))
        .withColumn("phrase_leaf", F.lit(-1))
    )


def _combine_plan_factory(cplan: dict):
    """mapInPandas kernel over doc_id-partitioned (leaf_id, doc_id, score)
    rows: per partition, rebuild each leaf's (ids asc, f32 scores) arrays
    and run :func:`eval_segment` — the exact post-tree pipeline the segment
    kernel uses (tree combine → filter ∩ → phrase ×5 → term boost →
    flat locality), so composed evaluation is bit-identical to in-kernel
    evaluation. Sound per-partition because every eval_segment step is
    per-doc independent (isin keeps/multiplies, locality counts tags per
    doc) and the repartition hashes by doc_id — all of a doc's leg AND
    ids-leg rows land together."""
    scored = set(cplan["scored_leaf_ids"])

    def fn(iterator):
        parts = []
        for pdf in iterator:
            parts.append(pdf)
        if not parts:
            yield _hits_pdf(np.empty(0, np.int64), np.empty(0, _F32), 0)
            return
        allp = pd.concat(parts, ignore_index=True)
        leaf_hits = {}
        leaf_idsets = {}
        for lid, g in allp.groupby("leaf_id"):
            ids = g["doc_id"].values.astype(np.int64)
            if int(lid) in scored:
                sc = g["score"].values.astype(_F32)
                order = np.argsort(ids)
                ids = ids[order]
                leaf_hits[int(lid)] = (ids, sc[order])
                leaf_idsets[int(lid)] = ids  # scored legs are pre-deduped
            else:
                leaf_idsets[int(lid)] = np.unique(ids)
        ids, sc = eval_segment(cplan, leaf_hits, leaf_idsets)
        yield _hits_pdf(ids, sc, len(ids))

    return fn


_LEG_SCHEMA = "leaf_id int, doc_id long, score float"


def _leg_ids_kernel_factory(segment_docs: int):
    """mapInPandas kernel turning packed kernel-input rows (postings /
    phrase / identity) into flat ids-only leg rows (leaf_id, doc_id, 0.0)
    for the composed combine's ``leaf_idsets`` (filter legs, term-boost
    legs, phrase legs need doc-id SETS, never scores)."""

    def fn(iterator):
        for pdf in iterator:
            if pdf.empty:
                continue
            out_lids, out_ids = [], []
            docs_col = pdf.columns.get_loc("docs_bin")
            for i in range(len(pdf)):
                if pdf.iat[i, docs_col] is not None:
                    ids = (unpack_ids(pdf.iat[i, docs_col])
                           + int(pdf["segment"].values[i]) * segment_docs)
                elif pdf["doc_ids"].values[i] is not None:
                    # identity rows carry absolute doc ids
                    ids = np.asarray(pdf["doc_ids"].values[i], dtype=np.int64)
                else:
                    continue
                out_ids.append(ids)
                out_lids.append(np.full(len(ids), int(pdf["leaf_id"].values[i]),
                                        dtype=np.int32))
            if out_ids:
                ids = np.concatenate(out_ids)
                yield pd.DataFrame({"leaf_id": np.concatenate(out_lids),
                                    "doc_id": ids,
                                    "score": np.zeros(len(ids), dtype=np.float32)})

    return fn


def _id_tree_leaf_ids(node: dict) -> set:
    if node["op"] == "leaf":
        return {node["leaf_id"]}
    out: set = set()
    for c in node["children"]:
        out |= _id_tree_leaf_ids(c)
    return out


def _strip_leaf_boosts(node: dict) -> dict:
    """Deep copy of a plan tree with every leaf's scalar boost nulled — the
    composed path applies each leaf's scalar boost in its OWN leg kernel
    (before the per-leg field boosts, matching the reference's leaf-level
    order and the pyref model: scalar first, then options.boost specs), so
    the combine must not apply it a second time."""
    if node["op"] == "leaf":
        return {**node, "boost": None}
    return {**node, "children": [_strip_leaf_boosts(c) for c in node["children"]]}


def _composed_search_hits(index: FulltextIndex, cplan: dict, leaves,
                          phrase_rows=None) -> DataFrame:
    """Per-leg-boost evaluation (reference options.boost, tests.rs:843-871):
    one emit-all segment-kernel pass per scored leaf — the leaf's scalar
    boost applied in-kernel, then its field boosts via the existing
    request-level machinery (:func:`_apply_anchor_boosts`) — plus ids-only
    leg passes for filter / term-boost / phrase legs, then one doc_id-hash
    exchange into :func:`_combine_plan_factory` for the full post-tree
    pipeline (combine → filter → phrase → term boost → flat locality).

    Scale shape: kernel passes are per-leaf (like the reference's
    per-RequestSearchPart plan steps); the single extra shuffle moves only
    the per-leg HIT/ID sets (not postings, not documents) — the unavoidable
    price of reordering boosts applied below the combine."""
    scored = set(cplan["scored_leaf_ids"])
    need_ids: set = set()
    if cplan.get("filter") is not None:
        need_ids |= _id_tree_leaf_ids(cplan["filter"])
    for lid, _factor in cplan.get("term_boost_leaves", ()):
        need_ids.add(lid)
    segment_docs = cplan["segment_docs"]
    legs = []
    for leaf in leaves:
        if leaf.leaf_id not in scored and leaf.leaf_id not in need_ids:
            continue
        rows = _leaf_kernel_rows(index, leaf)
        if rows is None:
            continue
        if leaf.leaf_id not in scored:
            # ids-only leg (filter-only / term-boost leaf): no scoring, no
            # boosts — just its doc-id set for the combine's leaf_idsets
            legs.append(rows.mapInPandas(
                _leg_ids_kernel_factory(segment_docs), schema=_LEG_SCHEMA))
            continue
        plan = _kernel_plan(index, {"op": "leaf", "leaf_id": leaf.leaf_id,
                                    "tag": leaf.tag, "boost": leaf.boost},
                            cplan["seg_deleted"])
        kernel = _segment_kernel_factory(plan, {leaf.leaf_id})
        h = rows.repartition("segment").mapInPandas(kernel, schema=_HITS_SCHEMA)
        if leaf.field_boosts:
            h = _apply_anchor_boosts(index, h, {"boost": leaf.field_boosts},
                                     [leaf])
        legs.append(h.select(F.lit(leaf.leaf_id).alias("leaf_id"),
                             "doc_id", "score"))
    if phrase_rows is not None:
        legs.append(phrase_rows.mapInPandas(
            _leg_ids_kernel_factory(segment_docs), schema=_LEG_SCHEMA))
    if not legs:
        return index.spark.createDataFrame([], schema=_HITS_SCHEMA)
    union = legs[0]
    for df in legs[1:]:
        union = union.unionByName(df)
    return (union.repartition("doc_id")
            .mapInPandas(_combine_plan_factory(cplan), schema=_HITS_SCHEMA))


def _phrase_rows(index: FulltextIndex, phrase_specs, next_leaf_id: int):
    """Kernel-input rows for the requested phrase pairs, tagged with
    synthetic leaf ids ``next_leaf_id + i`` (the plan's phrase_leaves).

    Explicit isin predicates reach the parquet row-group stats (the phrase
    table is sorted by pair); rows are already packed per (pair, segment) —
    they feed the kernel directly with no shuffle of their own."""
    spark = index.spark
    specs_df = spark.createDataFrame(
        [(f, a, b, next_leaf_id + i) for i, (f, a, b) in enumerate(phrase_specs)],
        "field string, tok_a string, tok_b string, phrase_leaf int")
    a_set = list({a for _f, a, _b in phrase_specs})
    b_set = list({b for _f, _a, b in phrase_specs})
    prows = (
        index.phrase
        .where(F.col("tok_a").isin(a_set) & F.col("tok_b").isin(b_set))
        .join(F.broadcast(specs_df), on=["field", "tok_a", "tok_b"])
        .select("segment",
                F.col("phrase_leaf").alias("leaf_id"),
                F.lit(0.0).cast("float").alias("term_score"),
                F.lit(0).cast("long").alias("max_score"),
                "docs_bin",
                F.lit(None).cast("binary").alias("scores_bin"),
                F.lit(None).cast("array<long>").alias("doc_ids"),
                "phrase_leaf")
    )
    return prows


class _SearchPlan(NamedTuple):
    """Spark-free product of :func:`_plan_search`. Either executor takes
    it: :func:`_spark_hits` (a DataFrame over the segment kernel) or
    :func:`_local_hits` (the same kernel in the driver)."""

    plan: dict                 # kernel plan (or the composed path's cplan)
    leaves: list
    matched: pd.DataFrame      # (field, term_id, leaf_id, term_score f32)
    phrase_specs: list
    identity_leaves: list
    composed: bool             # per-leg field boosts: the composed path
    tree: dict                 # the request tree, leaf boosts intact


def _kernel_plan(index: FulltextIndex, tree: dict, seg_deleted=None,
                 **steps) -> dict:
    """The segment kernel's plan: the scored ``tree``, the post-tree
    ``steps`` of :func:`eval_segment` (``filter``, ``phrase_leaves``,
    ``term_boost_leaves``, ``locality`` and its ``locality_leaves``;
    ``post_locality`` moves it after the kernel), the per-segment ``top``
    (None: every hit), ``wand`` (:func:`_wand_tree_segment`) and the
    index's segment layout. ``seg_deleted`` ({segment: segment-relative
    ids}) carries a streamed generation's tombstones: the kernel drops
    those docs and widens each segment's top-k by their count."""
    return {"tree": tree, "filter": None, "phrase_leaves": [],
            "term_boost_leaves": [], "locality": False,
            "locality_leaves": [], "post_locality": False, "top": None,
            "scored_leaf_ids": _id_tree_leaf_ids(tree),
            "seg_deleted": seg_deleted or {},
            "segment_docs": int(index.manifest["segment_docs"]),
            # veloci mode quantizes stored scores through f16 on read
            # (reference parity); bm25 scores skip the lossy round-trip
            "quantize_f16":
                index.manifest.get("scoring", "veloci") == "veloci",
            **steps}


def _plan_search(index: FulltextIndex, request: dict, need_all: bool = False,
                 *, seg_deleted=None) -> _SearchPlan:
    """Parse the request, match every leaf against the dictionary and
    build the kernel plan (:func:`_kernel_plan`) — no Spark job and no
    DataFrame.

    The one rule for emitting every hit instead of a per-segment top-k:
    the caller needs them all (``need_all``: it filters or joins the hits
    afterwards), or a step after the kernel does — facets, anchor
    ``boost`` (it reorders scores) and nested post-locality. Counts are
    exact either way, and ``why_found`` reads postings for the result ids
    only. ``seg_deleted`` is only ever passed by ``MultiIndex``, never
    taken from a request."""
    (tree, filter_tree, leaves, scored_ids, phrase_specs,
     term_boost_leaves) = _collect_leaves(index, request)
    # text locality over any NESTED leaf needs per-VALUE grouping, which the
    # segment kernel cannot see (postings are doc-level) → move the whole
    # locality boost post-kernel (reference boost_text_locality_all merges
    # per-path text groups and takes the max factor per anchor)
    post_locality = bool(request.get("text_locality")) and any(
        index.fields.get(l.field, {}).get("is_nested")
        for l in leaves if l.leaf_id in scored_ids)
    locality = bool(request.get("text_locality")) and not post_locality
    plan = _kernel_plan(
        index, tree, seg_deleted, filter=filter_tree,
        # phrase legs carry synthetic leaf ids after the real leaves
        phrase_leaves=list(range(len(leaves), len(leaves) + len(phrase_specs))),
        term_boost_leaves=term_boost_leaves, locality=locality,
        locality_leaves=[(l.leaf_id, l.tag) for l in leaves
                         if l.leaf_id in scored_ids],
        post_locality=post_locality)
    # kernel input keys: postings rows of the matched terms, tagged with
    # leaf_id; identity-field leaves read the doc store instead
    sp = _SearchPlan(plan, leaves, _matched_rows(leaves), phrase_specs,
                     [l for l in leaves if l.matched is None],
                     composed=False, tree=tree)
    if any(l.field_boosts for l in leaves):
        # per-leg boost-by-field (reference options.boost inside a search
        # part, tests.rs:843-871): each leg's hits must be boosted BEFORE
        # the tree combine, which the in-kernel combined evaluation cannot
        # express — switch to the composed path (one kernel pass per leaf,
        # boost per leg, then a distributed eval_segment combine running
        # the same post-tree pipeline). Scalar leaf boosts are applied in
        # the LEG kernels (leaf-level, before the per-leg field boosts —
        # reference order); strip them so the combine doesn't re-apply.
        return sp._replace(plan={**plan, "tree": _strip_leaf_boosts(tree)},
                           composed=True)
    if (need_all or request.get("facets") or request.get("boost")
            or post_locality):
        return sp
    # top+skip == 0 still keeps k=1 so every non-empty segment emits a
    # row to carry its exact hit count
    plan["top"] = max(request.get("top", 10) + request.get("skip", 0), 1)
    # WAND-style pruning (_wand_tree_segment): a lone unboosted leaf, or an
    # unboosted OR/AND of unboosted dictionary leaves, with no post-tree
    # step. AND legs are its children: a repeated child would count one
    # leg twice in the score but once in the bound — left to the plain
    # kernel. Dense-state budget (VERDICT r4 #4): the scatter state is
    # (5 × legs + 1) B per segment doc (f32 max and presence per leg, the
    # touched mask); a wide fuzzy OR expanding to dozens of tags would
    # allocate hundreds of MB per task at the default 2²⁰-doc segment, so
    # past the budget the plain kernel, whose state is hit-proportional,
    # runs instead.
    kids = [tree] if tree["op"] == "leaf" else tree["children"]
    legs = (_wand_legs(tree) if all(
        c["op"] == "leaf" and c.get("boost") is None
        and leaves[c["leaf_id"]].matched is not None for c in kids) else {})
    n_legs = len(set(legs.values()))
    plan["wand"] = bool(
        legs and filter_tree is None and not term_boost_leaves
        and not locality and not phrase_specs
        and (tree["op"] != "and" or n_legs == len(kids))
        and (5 * n_legs + 1) * plan["segment_docs"]
        <= _WAND_DENSE_BUDGET_BYTES)
    return sp


def _spark_hits(index: FulltextIndex, sp: _SearchPlan):
    """Spark executor: the kernel-input DataFrame (postings ⋈ matched
    terms, identity rows, phrase rows) through the segment kernel, one
    ``repartition("segment")``. Returns (hits DataFrame, plan, leaves)."""
    plan, leaves = sp.plan, sp.leaves
    if sp.composed:
        phrase_rows = (_phrase_rows(index, sp.phrase_specs, len(leaves))
                       if sp.phrase_specs else None)
        return (_composed_search_hits(index, plan, leaves, phrase_rows),
                plan, leaves)
    if sp.matched.empty and not sp.identity_leaves:
        return index.spark.createDataFrame([], schema=_HITS_SCHEMA), plan, leaves
    rows = None
    if not sp.matched.empty:
        rows = _posting_kernel_rows(index, sp.matched)
    for leaf in sp.identity_leaves:
        irows = _identity_leaf_rows(index, leaf)
        rows = irows if rows is None else rows.unionByName(irows)
    # phrase legs: segment-local doc-id lists from the phrase index
    if sp.phrase_specs:
        rows = rows.unionByName(_phrase_rows(index, sp.phrase_specs, len(leaves)))
    kernel = _segment_kernel_factory(plan, plan["scored_leaf_ids"])
    hits = rows.repartition("segment").mapInPandas(kernel, schema=_HITS_SCHEMA)
    return hits, plan, leaves


def _search_hits(index: FulltextIndex, request: dict, need_all: bool = False):
    """Plan + Spark executor. Returns (hits DataFrame, plan, leaves); see
    :func:`_plan_search` for ``need_all``."""
    return _spark_hits(index, _plan_search(index, request, need_all))


# ---------------------------------------------------------------------------
# local execution tier: the segment kernel in the driver over a pyarrow
# read of the pruned posting / phrase rows (no Spark job)


def _posting_estimate(index: FulltextIndex, sp: _SearchPlan) -> "int | None":
    """Posting entries the request's kernel input holds at most: Σ doc_freq
    of the matched dictionary rows. None when a field's dictionary is not
    driver-resident (no cheap estimate)."""
    total = 0
    for field, g in sp.matched.groupby("field", sort=False):
        local = index.local_dict(field)
        if local is None or "doc_freq" not in local:
            return None
        pos = np.searchsorted(local["term_id"].to_numpy(np.int64),
                              g["term_id"].to_numpy(np.int64))
        total += int(local["doc_freq"].to_numpy(np.int64)[pos].sum())
    return total


def _posting_filter(matched: pd.DataFrame):
    """The Spark scan's ``field``/``term_id`` predicates as a pyarrow
    filter; the term_id range lets a read skip row groups by statistics
    (an ``isin`` alone does not)."""
    tids = matched["term_id"].to_numpy(np.int64)
    return (pc.field("field").isin(sorted(set(matched["field"])))
            & (pc.field("term_id") >= int(tids.min()))
            & (pc.field("term_id") <= int(tids.max()))
            & pc.field("term_id").isin(np.unique(tids)))


def _phrase_filter(phrase_specs):
    """The Spark scan's ``tok_a``/``tok_b`` predicates as a pyarrow filter
    (the phrase table is sorted by pair: the tok_a range prunes)."""
    a_set = sorted({a for _f, a, _b in phrase_specs})
    b_set = sorted({b for _f, _a, b in phrase_specs})
    return ((pc.field("tok_a") >= a_set[0]) & (pc.field("tok_a") <= a_set[-1])
            & pc.field("tok_a").isin(a_set) & pc.field("tok_b").isin(b_set))


_POSTING_READ_COLS = ["field", "term_id", "segment", "max_score",
                      "docs_bin", "scores_bin"]
_PHRASE_READ_COLS = ["field", "tok_a", "tok_b", "segment", "docs_bin"]


def _local_reads(sp: _SearchPlan) -> dict:
    """{table: (pyarrow filter, columns)} of the reads the local tier
    makes."""
    if sp.matched.empty:
        return {}
    reads = {"postings": (_posting_filter(sp.matched), _POSTING_READ_COLS)}
    if sp.phrase_specs:
        reads["phrase"] = (_phrase_filter(sp.phrase_specs), _PHRASE_READ_COLS)
    return reads


def _scan_bytes(index: FulltextIndex, reads: dict) -> int:
    """Uncompressed bytes of the column chunks the ``{table: (filter,
    columns)}`` reads decode: those columns' chunks (the filter's columns
    among them) in the row groups the filters cannot skip by statistics —
    what pyarrow decodes, whatever the filter keeps. (Spark's reader also
    skips pages by column index; pyarrow decodes whole column chunks, so a
    big row group costs a full scan of the columns read.)"""
    total = 0
    for table, (flt, columns) in reads.items():
        for frag in index.arrow_dataset(table).get_fragments(filter=flt):
            meta = frag.metadata
            paths = [meta.schema.column(j).path for j in range(meta.num_columns)]
            chunks = [j for j, p in enumerate(paths)
                      if any(p == c or p.startswith(c + ".") for c in columns)]
            total += sum(meta.row_group(rg.id).column(j).total_uncompressed_size
                         for part in frag.split_by_row_group(flt)
                         for rg in part.row_groups for j in chunks)
    return total


def _choose_tier(index: FulltextIndex, request: dict, sp: _SearchPlan,
                 fused_facets: bool) -> "tuple[str, int | None, int | None]":
    """("local" | "spark", posting estimate, scan bytes). The local tier
    runs only for an index on the local disk, a posting estimate within
    LOCAL_TIER_MAX_POSTINGS, reads within LOCAL_TIER_MAX_SCAN_BYTES, and a
    plan shape it evaluates identically: identity leaves, the composed
    per-leg field-boost path, anchor ``boost``, nested post-locality and
    Spark-join facets stay on Spark. The scan bytes are only counted when
    everything else allows the local tier."""
    est = _posting_estimate(index, sp)
    scan = None
    if (index.local_path is not None
            and est is not None and est <= LOCAL_TIER_MAX_POSTINGS
            and not sp.composed and not sp.identity_leaves
            and not request.get("boost")
            and not sp.plan.get("post_locality")
            and (fused_facets or not request.get("facets"))):
        scan = _scan_bytes(index, _local_reads(sp))
    local = scan is not None and scan <= LOCAL_TIER_MAX_SCAN_BYTES
    return ("local" if local else "spark"), est, scan


_LOCAL_KERNEL_COLS = ["segment", "leaf_id", "term_score", "max_score",
                      "docs_bin", "scores_bin", "doc_ids"]


def _local_posting_rows(index: FulltextIndex, matched: pd.DataFrame,
                        read) -> pd.DataFrame:
    """Kernel-input rows of the matched terms, read in the driver, then the
    exact join on (field, term_id) that tags each row with its leaf and
    term score."""
    flt, cols = read
    table = index.arrow_dataset("postings").to_table(columns=cols, filter=flt)
    rows = table.to_pandas().merge(matched, on=["field", "term_id"])
    rows["doc_ids"] = None
    return rows[_LOCAL_KERNEL_COLS]


def _local_phrase_rows(index: FulltextIndex, phrase_specs, next_leaf_id: int,
                       read) -> pd.DataFrame:
    """Driver-side :func:`_phrase_rows`: the pruned read, joined exactly
    with the requested (field, a, b) pairs."""
    specs = pd.DataFrame(
        [(f, a, b, next_leaf_id + i) for i, (f, a, b) in enumerate(phrase_specs)],
        columns=["field", "tok_a", "tok_b", "leaf_id"])
    flt, cols = read
    table = index.arrow_dataset("phrase").to_table(columns=cols, filter=flt)
    rows = table.to_pandas().merge(specs, on=["field", "tok_a", "tok_b"])
    rows["leaf_id"] = rows["leaf_id"].astype(np.int32)
    rows["term_score"] = _F32(0.0)
    rows["max_score"] = np.int64(0)
    rows["scores_bin"] = None
    rows["doc_ids"] = None
    return rows[_LOCAL_KERNEL_COLS]


def _local_hits(index: FulltextIndex, sp: _SearchPlan) -> list:
    """Local executor: the segment kernel of :func:`_spark_hits`, run in
    the driver over every matched segment at once. Returns the kernel's
    output frames (doc_id, score, seg_hits) — the input the partition
    merge functions take on the Spark tier."""
    reads = _local_reads(sp)
    if not reads:
        return []
    parts = [_local_posting_rows(index, sp.matched, reads["postings"])]
    if "phrase" in reads:
        parts.append(_local_phrase_rows(index, sp.phrase_specs, len(sp.leaves),
                                        reads["phrase"]))
    data = pd.concat(parts, ignore_index=True)
    kernel = _segment_kernel_factory(sp.plan, sp.plan["scored_leaf_ids"])
    return list(kernel(iter([data])))


def _stored_to_f32(stored: np.ndarray, quantize_f16: bool) -> np.ndarray:
    if quantize_f16:
        return stored.astype(np.float16).astype(_F32) / _F32(100.0)
    return stored.astype(_F32) / _F32(100.0)


def _wand_legs(node: dict) -> dict:
    """leaf_id → leg of a WAND node (:func:`_wand_tree_segment`). An OR
    leg is one distinct tag of its children (eval_tree maxes same-tag
    children together); an AND leg is one child; a lone leaf is one leg."""
    kids = [node] if node["op"] == "leaf" else node["children"]
    keys = [_tree_tag(c) if node["op"] == "or" else c["leaf_id"] for c in kids]
    legs = list(dict.fromkeys(keys))
    return {c["leaf_id"]: legs.index(key) for c, key in zip(kids, keys)}


def _wand_tree_segment(g: pd.DataFrame, node: dict, k: int, base: int,
                       seg_docs: int, quantize_f16: bool = True,
                       deleted: "np.ndarray | None" = None):
    """Top-k of one segment for a WAND node — a lone unboosted leaf, or an
    unboosted OR/AND of unboosted leaves — with block-max row pruning.

    A leaf's doc score is the max over its term rows (search_field.rs:
    449-463); OR scores ``(Σ per-leg max) × n²`` (set_op.rs:87-220), AND
    ``Σ per-leg max`` over docs present in every leg (set_op.rs:368-446).
    All are MONOTONE in adding contributions, so the running kth partial
    score θ is a valid lower bound on the kth final score. Rows are
    processed in descending upper-bound order (upper = term_score ×
    f16(max_score)/100); a row of leg t is skipped — never score-decoded —
    when even with the best possible contribution of every OTHER leg it
    cannot reach θ:

        (upper_row + Σ_{t'≠t} U_{t'}) × factor × 1.0001 < θ   (factor = L² | 1)

    where U_t is the segment's max upper of leg t and L the leg count
    (≥ any doc's n). A doc whose leg-t max lives in a skipped row scores
    below θ ≤ kth, so every true top-k doc is scored from decoded rows
    only. The final scores are replayed through :func:`eval_tree` on
    ``node`` itself, each leaf reading its leg's (ids, max) — bit-identical
    to the plain kernel; the 1e-4 slack dwarfs the f32/f64 summation noise
    between the θ estimate and the replay.

    Per decoded row the kernel only scatters the leg's max and presence
    and the ``touched`` mask, and keeps the newly touched ids as a chunk.
    θ is refreshed LAZILY and AMORTIZED: only when a row survives the
    stale θ, a decode happened since the last refresh and the posting
    entries decoded since then cover its O(touched × legs) cost (entries ≥
    touched/2). The θ partials are computed there, over the touched docs:
    the sum over legs, × (legs ≥ 1e-5)² for OR, and for AND only the docs
    present in every leg. θ only grows, so a stale θ is a sound, merely
    weaker, bound. Skipped rows get an ids-only decode for the count.

    The finish costs O(hits): the sorted touched ids feed the replay, and
    the exact hit count is taken over the union of decoded and skipped
    ids (per leg, intersected for AND), minus the ``deleted``
    (segment-relative tombstoned ids) among them. The returned top-k
    still holds tombstoned docs: the calling kernel drops them, and its
    per-segment k widening leaves k live survivors.

    Returns (ids, scores, n_hits)."""
    leg_of = _wand_legs(node)
    n_legs = len(set(leg_of.values()))
    # a one-child node passes its child through (eval_tree)
    op = node["op"] if len(node.get("children", ())) > 1 else "leaf"
    ts = g["term_score"].values.astype(_F32)
    upper = (ts * _stored_to_f32(
        g["max_score"].values.astype(np.uint32), quantize_f16)).astype(np.float64)
    leg_arr = np.array([leg_of[int(l)] for l in g["leaf_id"].values],
                       dtype=np.int64)
    seg_u = np.zeros(n_legs, dtype=np.float64)
    np.maximum.at(seg_u, leg_arr, upper)
    other = seg_u.sum() - seg_u  # Σ of the OTHER legs' max uppers
    factor = float(n_legs) * float(n_legs) if op == "or" else 1.0
    order = np.argsort(-upper, kind="stable")

    maxes = np.zeros((n_legs, seg_docs), dtype=_F32)
    present = np.zeros((n_legs, seg_docs), dtype=bool)
    touched = np.zeros(seg_docs, dtype=bool)
    cand: list = []  # newly touched id chunks
    n_cand = 0
    skipped: list = [[] for _ in range(n_legs)]  # ids of skipped rows
    thresh = None
    dirty = False
    entries = 1 << 62  # posting entries decoded since the last refresh
    docs_col = g.columns.get_loc("docs_bin")
    scores_col = g.columns.get_loc("scores_bin")

    def refresh():
        nonlocal thresh, dirty, cand, entries
        docs = cand[0] if len(cand) == 1 else np.concatenate(cand)
        cand = [docs]
        m = maxes[:, docs]
        vals = m.sum(axis=0, dtype=np.float64)
        if op == "or":
            c = (m >= _F32(1e-5)).sum(axis=0)
            vals = vals * (c * c)
        elif op == "and":
            vals = vals[present[:, docs].all(axis=0)]
        if len(vals) >= k:
            thresh = float(np.partition(vals, len(vals) - k)[len(vals) - k])
        dirty = False
        entries = 0

    for i in order:
        t = int(leg_arr[i])
        bound = (upper[i] + other[t]) * factor * 1.0001
        if thresh is not None and bound < thresh:
            skip = True
        elif dirty and n_cand >= k and 2 * entries >= n_cand:
            refresh()
            skip = thresh is not None and bound < thresh
        else:
            skip = False
        if skip:
            skipped[t].append(unpack_ids(g.iat[i, docs_col]))
            continue
        ids, stored = unpack_postings(g.iat[i, docs_col], g.iat[i, scores_col])
        fin = (ts[i] * _stored_to_f32(stored, quantize_f16)).astype(_F32)
        # a posting row holds each doc once: a plain scatter keeps the max
        row = maxes[t]
        row[ids] = np.maximum(row[ids], fin)
        present[t, ids] = True
        nt = ids[~touched[ids]]
        touched[ids] = True
        if len(nt):
            cand.append(nt)
            n_cand += len(nt)
        dirty = True
        entries += len(ids)
    docs = np.sort(np.concatenate(cand)) if cand else np.empty(0, np.int64)
    leg_ids = [docs[present[t, docs]] for t in range(n_legs)]
    ids, sc = eval_tree(node, {l: (leg_ids[t], maxes[t, leg_ids[t]])
                               for l, t in leg_of.items()})
    hit = ids
    if any(skipped):
        hit = reduce(np.intersect1d if op == "and" else np.union1d,
                     [np.union1d(d, np.concatenate(s)) if s else d
                      for d, s in zip(leg_ids, skipped)])
    n_hits = len(hit)
    if deleted is not None and len(deleted):
        n_hits -= int(np.isin(hit, deleted).sum())
    gids = ids + base
    sel = np.lexsort((-gids, -sc.astype(np.float64)))[:k]
    return gids[sel], sc[sel], n_hits


def phrase_doc_rows(index: FulltextIndex, a_set: list, b_set: list) -> DataFrame:
    """Decode the packed phrase index back to per-doc rows
    ``(field, tok_a, tok_b, doc_id)`` for the given pair candidates — the
    (tok_a, tok_b) predicates prune parquet row groups before the
    distributed decode. Used by the contract oracle and the tests; the
    search path and explain read the packed rows directly."""
    segment_docs = int(index.manifest["segment_docs"])

    def dec(iterator):
        for pdf in iterator:
            outs = []
            for fld, a, b, seg, docs_bin in zip(
                    pdf["field"].values, pdf["tok_a"].values,
                    pdf["tok_b"].values, pdf["segment"].values,
                    pdf["docs_bin"].values):
                ids = unpack_ids(docs_bin) + int(seg) * segment_docs
                outs.append(pd.DataFrame({
                    "field": fld, "tok_a": a, "tok_b": b, "doc_id": ids}))
            yield (pd.concat(outs) if outs else
                   pd.DataFrame({"field": [], "tok_a": [], "tok_b": [],
                                 "doc_id": []}))

    return (
        index.phrase
        .where(F.col("tok_a").isin(list(a_set)) & F.col("tok_b").isin(list(b_set)))
        .mapInPandas(dec, schema="field string, tok_a string, tok_b string, "
                                 "doc_id long")
    )


def _identity_leaf_rows(index: FulltextIndex, leaf) -> DataFrame:
    """Kernel-input rows for an identity-field leaf: the doc-store scan of
    :func:`_identity_candidates`, the pre-filtered rows selected and scored
    in a vectorized UDF (:func:`_identity_scores`), docs grouped by
    (segment, score) — few distinct scores (one per matched distance) so
    the grouped rows are compact doc-id arrays.

    Per-leaf ``top`` truncates the matched VALUES to the best top+skip by
    (term score DESC, term_id DESC) — and on an identity field term_id ≡
    doc_id, so the order matches :func:`match_terms` exactly. The
    truncation is a distributed TakeOrderedAndProject (bounded collect)."""
    spec = _match_spec(leaf.term, **leaf.opts)
    segment_docs = index.manifest["segment_docs"]

    def score_filter(iterator):
        # ONE Arrow pass selects and scores the pre-filtered rows — a
        # withColumn + isnan filter would make Catalyst evaluate the Python
        # UDF twice
        for pdf in iterator:
            pos, _ts, s = _identity_scores(spec, pdf["value"].values)
            yield pd.DataFrame({"doc_id": pdf["doc_id"].values[pos], "s": s})

    scored = _identity_candidates(index, leaf.field, spec).mapInPandas(
        score_filter, schema="doc_id long, s float")
    if spec.top is not None:
        scored = (scored.orderBy(F.desc("s"), F.desc("doc_id"))
                  .limit(int(spec.top) + int(spec.skip)))
    return (
        scored
        .withColumn("segment", (F.col("doc_id") / F.lit(segment_docs)).cast("int"))
        .groupBy("segment", "s")
        .agg(F.collect_list("doc_id").alias("doc_ids"))
        .select("segment",
                F.lit(leaf.leaf_id).alias("leaf_id"),
                F.col("s").alias("term_score"),
                F.lit(0).cast("long").alias("max_score"),
                F.lit(None).cast("binary").alias("docs_bin"),
                F.lit(None).cast("binary").alias("scores_bin"),
                "doc_ids",
                F.lit(-1).alias("phrase_leaf"))
    )


def _hits_pdf(ids: np.ndarray, scores: np.ndarray, n_hits: int) -> pd.DataFrame:
    seg_hits = np.zeros(len(ids), dtype=np.int64)
    if len(ids) and n_hits > 0:
        seg_hits[0] = n_hits
    return pd.DataFrame({"doc_id": ids.astype(np.int64),
                         "score": scores.astype(np.float32),
                         "seg_hits": seg_hits})


def _partition_topk_factory(k: int, count_col: str | None = None,
                            facet_maps=()):
    """mapInPandas kernel: one output group per partition carrying the
    partition's exact row count (``cnt`` on the first row, seg_hits-style)
    plus its k best rows by (score DESC, doc_id DESC). Running it over a
    just-cached hit set materializes the cache AND replaces both the
    count() pass and the TakeOrdered ranking pass with a single job; the
    driver merge over partitions × k rows is the same bounded shape as the
    plain top-k path's.

    With ``count_col`` the reported count is the SUM of that input column
    instead of the row count — the plain top-k path runs this directly over
    the segment kernel's output (doc_id, score, seg_hits), collapsing the
    driver collect from segments × (k+1) rows to partitions × (k+1)
    (VERDICT r4 #2: at 2²⁰-doc segments and 10¹² docs the per-segment
    collect was ~10⁷ rows for a top-10 query). A narrow map chained onto
    the kernel stage — no extra job, no shuffle.

    ``facet_maps`` ([(field, doc_ids_sorted, values)] from
    :meth:`FulltextIndex.facet_map`, one row per (doc, value), repeats for
    1:n fields) also counts facet values of every input row, so a faceted
    request is ONE Spark job — kernel stage → this narrow map → driver
    merge — instead of a top-k job plus per-facet join jobs (q11 was
    q01+69% even with the jobs running concurrently). The reference counts
    facets from a local doc_id→value-id store during hit collection
    (facet/mod.rs:75-94) rather than joining a second relation. Rows then
    carry (ff, fv, fcnt): NULL ``ff`` on hit rows, partial counts the
    driver sums on facet rows."""
    k = max(k, 1)

    def fn(iterator):
        ids_parts, sc_parts, n = [], [], 0
        pending = 0
        fcounts: list[dict] = [dict() for _ in facet_maps]
        for pdf in iterator:
            n += int(pdf[count_col].sum()) if count_col else len(pdf)
            if not len(pdf):
                continue
            ids_parts.append(pdf["doc_id"].to_numpy(np.int64))
            sc_parts.append(pdf["score"].to_numpy(_F32))
            for d, (_fld, mids, mvals) in zip(fcounts, facet_maps):
                lo = np.searchsorted(mids, ids_parts[-1], side="left")
                hi = np.searchsorted(mids, ids_parts[-1], side="right")
                sel = np.flatnonzero(hi > lo)
                if not len(sel):
                    continue
                gath = np.concatenate([np.arange(lo[i], hi[i]) for i in sel])
                vc = pd.Series(mvals[gath]).value_counts(dropna=False)
                for v, c in vc.items():
                    key = None if pd.isna(v) else v
                    d[key] = d.get(key, 0) + int(c)
            pending += len(pdf)
            if pending > 4 * k and len(ids_parts) > 1:
                # compact the running state so memory stays O(k + batch)
                ids = np.concatenate(ids_parts)
                sc = np.concatenate(sc_parts)
                order = np.lexsort((-ids, -sc.astype(np.float64)))[:k]
                ids_parts, sc_parts = [ids[order]], [sc[order]]
                pending = len(order)
        if not ids_parts:
            return
        ids = np.concatenate(ids_parts)
        sc = np.concatenate(sc_parts)
        order = np.lexsort((-ids, -sc.astype(np.float64)))[:k]
        cnt = np.zeros(len(order), dtype=np.int64)
        cnt[0] = n
        tag = {"ff": None, "fv": None, "fcnt": np.int64(0)} if facet_maps else {}
        yield pd.DataFrame({"doc_id": ids[order], "score": sc[order],
                            "cnt": cnt, **tag})
        for (fld, _m, _v), d in zip(facet_maps, fcounts):
            if d:
                yield pd.DataFrame({
                    "doc_id": np.int64(0), "score": _F32(0.0),
                    "cnt": np.int64(0), "ff": fld,
                    "fv": np.array(list(d.keys()), dtype=object),
                    "fcnt": np.array(list(d.values()), dtype=np.int64)})

    return fn


def _segment_kernel_factory(plan: dict, scored_leaf_ids: set):
    # per-segment tombstoned ids (segment-relative, streamed indexes): each
    # path subtracts them from the segment's reported hit count, and the
    # one filter below drops them from the emitted candidates, so seg_hits
    # and every row are live (VERDICT r4 #3). A segment's top-k widens by
    # its tombstone count: WAND's θ stays a sound bound and at
    # least k live rows survive the drop. So when every candidate of a
    # segment is tombstoned, the segment has no live hit at all — its live
    # count is 0 and no first-row count is lost with the rows.
    seg_deleted = {int(s): np.asarray(v, dtype=np.int64)
                   for s, v in (plan.get("seg_deleted") or {}).items()}

    def kernel(iterator):
        # a task may hold several segments; concat then group by segment
        pdfs = [pdf for pdf in iterator if not pdf.empty]
        if not pdfs:
            return
        data = pd.concat(pdfs, ignore_index=True)
        for _seg, g in data.groupby("segment", sort=False):
            seg_base = int(_seg) * plan["segment_docs"]
            k = plan.get("top")
            dl = seg_deleted.get(int(_seg))
            if k is not None and dl is not None:
                k += len(dl)
            if plan.get("wand"):
                ids, scores, n_hits = _wand_tree_segment(
                    g, plan["tree"], k, seg_base, plan["segment_docs"],
                    plan.get("quantize_f16", True), dl)
            else:
                ids, scores, n_hits = _plain_segment(
                    g, plan, scored_leaf_ids, k, seg_base, dl)
            if dl is not None and len(dl) and len(ids):
                live = ~np.isin(ids - seg_base, dl)
                ids, scores = ids[live], scores[live]
            yield _hits_pdf(ids, scores, n_hits)

    return kernel


def _plain_segment(g: pd.DataFrame, plan: dict, scored_leaf_ids: set,
                   k: "int | None", seg_base: int, deleted):
    """The whole plan over one segment's kernel rows: every row decoded,
    each leaf max-deduped, then :func:`eval_segment`. Returns its top k
    (all hits when k is None) and the exact hit count minus ``deleted``."""
    quantize_f16 = plan.get("quantize_f16", True)
    leaf_hits: dict = {}
    leaf_idsets: dict = {}
    for leaf_id, rows in g.groupby("leaf_id", sort=False):
        all_ids, all_sc = [], []
        for docs_bin, scores_bin, term_score, doc_ids in zip(
                rows["docs_bin"].values, rows["scores_bin"].values,
                rows["term_score"].values, rows["doc_ids"].values):
            if docs_bin is not None and scores_bin is not None:
                ids, stored = unpack_postings(docs_bin, scores_bin)
                ids = ids + seg_base  # stored segment-relative
                fin = (_F32(term_score)
                       * _stored_to_f32(stored, quantize_f16)).astype(_F32)
                all_ids.append(ids)
                all_sc.append(fin)
            elif docs_bin is not None:
                # ids-only packed row (phrase leg): no scores
                ids = unpack_ids(docs_bin) + seg_base
                all_ids.append(ids)
                all_sc.append(np.zeros(len(ids), dtype=_F32))
            elif doc_ids is not None:
                # identity-leaf rows carry the per-group f32 score in
                # term_score; phrase rows carry 0.0 (ids-only use)
                all_ids.append(np.asarray(doc_ids, dtype=np.int64))
                all_sc.append(np.full(len(doc_ids), _F32(term_score),
                                      dtype=_F32))
        if not all_ids:
            continue
        ids = np.concatenate(all_ids)
        sc = np.concatenate(all_sc)
        if leaf_id in scored_leaf_ids:
            # dedup keep MAX (search_field.rs:449-463)
            leaf_hits[leaf_id] = _dedup_max(ids, sc)
        leaf_idsets[leaf_id] = np.unique(ids)
    ids, scores = eval_segment(plan, leaf_hits, leaf_idsets)
    n_hits = len(ids)  # exact, pre-truncation — free on this path
    if deleted is not None and len(deleted) and len(ids):
        n_hits -= int(np.isin(ids - seg_base, deleted).sum())
    if k is not None and len(ids) > k:
        # per-segment top-k with the (score DESC, doc_id DESC) order
        order = np.lexsort((-ids, -scores.astype(np.float64)))[:k]
        ids, scores = ids[order], scores[order]
    return ids, scores, n_hits


# ---------------------------------------------------------------------------
# full search result (facets, docs, why-found)


class _Part(NamedTuple):
    """One index's share of a search: the handle, its plan, the tier its
    kernel ran on with the estimates behind that choice, the kernel output
    (``frames``, the local tier's driver frames, or ``hits``, the Spark
    DataFrame) and the doc ids ``[lo, hi)`` it owns."""

    index: FulltextIndex
    sp: _SearchPlan
    tier: str
    posting_estimate: "int | None"
    scan_bytes: "int | None"
    frames: "list | None"
    hits: "DataFrame | None"
    lo: int = 0
    hi: int = 1 << 63


def _fused_facets(indexes, request: dict) -> bool:
    """Facets are counted in the merge pass (fused) when every requested
    facet field has a driver-resident doc→value map (≤1M-doc corpus) on
    every index; otherwise they take the Spark-join path."""
    fields = {s["field"] for s in request.get("facets") or []}
    return bool(fields) and all(idx.facet_map(f) is not None
                                for idx in indexes for f in fields)


def _search_part(index: FulltextIndex, request: dict, fused_facets: bool,
                 lo: int = 0, hi: int = 1 << 63, *, filtered: bool = False,
                 seg_deleted=None) -> _Part:
    """Plan ``request`` on one index, choose its tier and run its kernel;
    on Spark, the post-kernel nested locality and anchor boosts are
    chained on. ``filtered``: the caller filters the hits afterwards (a
    Spark join), so the part runs on Spark and emits every hit, and the
    merge counts the rows that survive. See :func:`_plan_search` for
    ``seg_deleted``."""
    sp = _plan_search(index, request, filtered, seg_deleted=seg_deleted)
    tier, est, scan = (("spark", None, None) if filtered else
                       _choose_tier(index, request, sp, fused_facets))
    if tier == "local":
        return _Part(index, sp, tier, est, scan, _local_hits(index, sp), None,
                     lo, hi)
    hits = _spark_hits(index, sp)[0]
    if sp.plan.get("post_locality"):
        hits = _apply_post_locality(index, hits, sp.leaves,
                                    sp.plan["scored_leaf_ids"])
    hits = _apply_anchor_boosts(index, hits, request, sp.leaves)
    return _Part(index, sp, tier, est, scan, None, hits, lo, hi)


def search(index: FulltextIndex, request: dict) -> dict:
    """Evaluate a request and collect the reference-shaped result:
    {"num_hits", "num_hits_exact", "data": [{"doc_id","score"}...],
    "facets": {...}}.

    ``num_hits`` is ALWAYS the exact total hit count, like the reference
    (search_result.rs:8-26): the segment kernel emits each segment's exact
    count alongside its truncated top-k (skipped WAND rows pay an ids-only
    decode), so no path needs a full materialization for the count.
    ``exact_count`` is accepted and ignored.
    """
    t_start = time.monotonic()
    fused = _fused_facets([index], request)
    part = _search_part(index, request, fused)
    out = _finish_parts(request, [part], fused, t_start)
    if request.get("explain"):
        plan = part.sp.plan
        # the reference renders its plan DAG as dot (search.rs:137-146);
        # ours is the parsed tree + per-leaf matched dictionary terms
        out["explain"] = {
            "tree": plan["tree"],
            "filter": plan["filter"],
            # request-level boost specs belong in the plan dump (the
            # reference's dot plan includes its boost steps, tests.rs:1153)
            "boost": request.get("boost") or [],
            "wand": bool(plan.get("wand")),
            # execution tier and the estimates behind it
            "tier": part.tier,
            "posting_estimate": part.posting_estimate,
            "scan_bytes": part.scan_bytes,
            "leaves": [
                {"leaf_id": l.leaf_id, "field": l.field, "term": l.term,
                 "opts": l.opts,
                 "identity": l.matched is None,
                 "matched": [] if l.matched is None else
                            list(zip(l.matched["term"].tolist(),
                                     l.matched["score"].to_numpy(_F32).tolist()))}
                for l in part.sp.leaves
            ],
        }
    return out


def _finish_parts(request: dict, parts: list, fused_facets: bool,
                  t_start: float) -> dict:
    """The result of ``request`` over ``parts`` (disjoint doc ids): each
    part's partition merge, then one ranking by (score DESC, doc_id DESC),
    the summed hit and facet counts, and post-processing (select,
    why_found, explain_hits, snippets) of each result id by the part that
    owns it."""
    top = request.get("top", 10)
    skip = request.get("skip", 0)
    facet_specs = request.get("facets") or []
    ufields = list(dict.fromkeys(s["field"] for s in facet_specs))
    # cache the hit set ONLY when several facet jobs will re-read it.
    # With 0-1 re-readers, recomputing is measurably cheaper than an
    # InMemoryRelation between two Python stages (profiled r5 at sf0.1:
    # cache+topk+facet 1.85 s vs uncached 1.20 s — the columnar cache
    # write/read between Arrow stages added ~0.9 s). Scale note: the
    # repartition("segment") SHUFFLE output is reused across the topk and
    # facet jobs either way (same RDD lineage), so an uncached re-run only
    # re-pays the post-shuffle segment-kernel decode — and skipping the
    # cache also removes the unbounded memory of materializing a
    # match-everything hit set. (Spark-join facets run every part on Spark.)
    cache_hits = len(facet_specs) >= 2 and not fused_facets
    if cache_hits:
        parts = [p._replace(hits=p.hits.cache()) for p in parts]

    def _merge_pass(p: _Part, fn, schema: str, kernel_cols: bool = False):
        """Run a partition-merge function over one part's kernel output:
        chained onto the kernel stage on the Spark tier (one job,
        partitions × (k+1) rows collected), or over the local kernel frames
        as ONE partition in the driver. Returns row records."""
        if p.hits is None:
            return [r for pdf in fn(iter(p.frames))
                    for r in pdf.to_dict("records")]
        src = p.hits if kernel_cols else p.hits.select("doc_id", "score")
        return src.mapInPandas(fn, schema=schema).collect()

    # fused facet counts ride on the merge rows as (ff, fv, fcnt)
    schema = "doc_id long, score float, cnt long" + (
        ", ff string, fv string, fcnt long" if fused_facets else "")

    def _collect_rows():
        rows = []
        for p in parts:
            full = p.sp.plan.get("top") is None
            # full hit set (every faceted part): ONE job returns each
            # partition's exact row count + its (top+skip) best rows and
            # facet counts — the separate count() pass and the TakeOrdered ranking pass
            # collapse into it (r4). Plain top-k: a partition-level
            # pre-merge (narrow map chained onto the kernel stage — same
            # job, no shuffle) reduces each partition's kernel output
            # (≤ k hits + exact count per SEGMENT) to its k best rows +
            # summed count, so the driver collects partitions × (k+1) rows
            # instead of segments × (k+1) (VERDICT r4 #2: ~10⁶ segments at
            # 10¹² docs).
            rows += _merge_pass(p, _partition_topk_factory(
                top + skip, None if full else "seg_hits",
                [(f, *p.index.facet_map(f)) for f in ufields]
                if fused_facets else ()), schema, kernel_cols=not full)
        return rows

    def _ranked(rows):
        if not rows:
            return []
        ids = np.fromiter((r["doc_id"] for r in rows), np.int64, len(rows))
        sc = np.array([r["score"] for r in rows], dtype=_F32)
        order = np.lexsort((-ids, -sc.astype(np.float64)))[:top + skip]
        return [rows[j] for j in order]

    facets: dict = {}
    # try/finally so a failing collect/facet job can't leak the cached hit
    # sets (ADVICE r4)
    try:
        if facet_specs and not fused_facets:
            # facet counting = hits⋈(doc→value) join + count, over the
            # union of the parts' hits and value sources (doc ids are
            # disjoint). The broadcast decision keys on the CORPUS size,
            # not the materialized hit count: not depending on num_hits
            # lets the facet jobs launch CONCURRENTLY with the count+top-k
            # job instead of serializing two Spark jobs back-to-back (the
            # profiled ~0.5 s second-job floor was the whole q11−q01 gap,
            # BENCH/BASELINE.md §3).
            small_corpus = sum(int(p.index.manifest["n_docs"])
                               for p in parts) <= 1_000_000
            bhits = reduce(DataFrame.unionByName,
                           [p.hits.select("doc_id") for p in parts])

            def _values(idx, fld):
                if fld in idx.values:
                    # 1:n facet (reference facet.rs:75-94): count VALUES of
                    # the hit docs — one value row per (doc, pos)
                    return idx.values[fld].select("doc_id",
                                                  F.col("value").alias("_fv"))
                return idx.docs.select("doc_id", F.col(fld).alias("_fv"))

            def _facet(spec):
                fld = spec["field"]
                ftop = spec.get("top", 10)
                src = reduce(DataFrame.unionByName,
                             [_values(p.index, fld) for p in parts])
                if small_corpus:
                    # broadcast the doc→value MAP and chain the join + agg
                    # directly onto the kernel output: ONE job (kernel stage
                    # → map-side hash join → partial agg → tiny shuffle →
                    # TakeOrdered) instead of materializing the hit lineage
                    # twice (once for a hit-side broadcast, once to scan).
                    # ≤1M docs ⇒ the map is ≤ a few MB even 1:n.
                    joined = bhits.join(F.broadcast(src), on="doc_id")
                else:
                    # at corpus scale the doc→value map cannot broadcast;
                    # join the (usually far smaller) hit side against the
                    # value store with no hint — AQE picks broadcast at
                    # runtime from the actual materialized hit size,
                    # correct for both a selective query (broadcasts) and
                    # a match-everything scan over 10¹² docs (shuffles).
                    joined = src.join(bhits, on="doc_id")
                fc = (
                    joined
                    .groupBy("_fv").count()
                    .orderBy(F.desc("count"), F.asc("_fv"))
                    .limit(ftop).collect()
                )
                return fld, [(r["_fv"], r["count"]) for r in fc]

            # ALL jobs — the count+top-k collect and every facet — run
            # concurrently from separate driver threads (wall time = the
            # slowest job, not the sum; the facet jobs recompute the hit
            # lineage in parallel rather than waiting to reuse the top-k
            # job's cache, a deliberate work-for-latency trade measured
            # worthwhile at every scale where the second-job floor is
            # visible). The driver-side rank merge overlaps the facet jobs.
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=len(facet_specs) + 1) as ex:
                fut_rows = ex.submit(_collect_rows)
                futs = [ex.submit(_facet, s) for s in facet_specs]
                rows = fut_rows.result()
                num_hits = int(sum(r["cnt"] for r in rows))
                ranked = _ranked(rows)
                for f in futs:
                    fld, vals = f.result()
                    facets[fld] = vals
        else:
            rows = _collect_rows()
            if fused_facets:
                agg: dict = {}
                for r in rows:
                    if r["ff"] is not None:
                        key = (r["ff"], r["fv"])
                        agg[key] = agg.get(key, 0) + r["fcnt"]
                rows = [r for r in rows if r["ff"] is None]
                for spec in facet_specs:
                    fld = spec["field"]
                    vals = [(v, c) for (f2, v), c in agg.items() if f2 == fld]
                    # (count DESC, value ASC nulls-first) — byte-identical
                    # to the Spark-join path's orderBy
                    vals.sort(key=lambda t: (-t[1], t[0] is not None,
                                             t[0] or ""))
                    facets[fld] = vals[:spec.get("top", 10)]
            num_hits = int(sum(r["cnt"] for r in rows))
            ranked = _ranked(rows)
    finally:
        if cache_hits:
            for p in parts:
                p.hits.unpersist()
    ranked = ranked[skip:]
    out = {
        "num_hits": num_hits,
        "num_hits_exact": True,
        # reference SearchResult.execution_time_ns (tests.rs:283-293)
        "execution_time_ms": (time.monotonic() - t_start) * 1000.0,
        "data": [{"doc_id": r["doc_id"], "score": float(np.float32(r["score"]))}
                 for r in ranked],
    }
    if facet_specs:
        out["facets"] = facets
    # each result id goes to the part that owns it
    ids = [d["doc_id"] for d in out["data"]]
    owned = [(p, own) for p in parts
             if (own := [i for i in ids if p.lo <= i < p.hi])]

    def _attach(key: str, per_part, default):
        got: dict = {}
        for p, own in owned:
            got.update(per_part(p, own))
        for d in out["data"]:
            d[key] = got.get(d["doc_id"], default)

    if request.get("select"):
        _attach("doc", lambda p, own: select_docs(p.index, own,
                                                 request["select"]), {})
    if request.get("why_found"):
        from veloci_spark.highlight import why_found as _why

        _attach("why_found", lambda p, own: _why(p.index, own, p.sp.leaves),
                {})
    if request.get("explain_hits"):
        # per-document score derivation (reference explain.rs steps)
        from veloci_spark.explain import explain_hits as _explain_hits

        _attach("explain", lambda p, own: _explain_hits(
            p.index, request, own,
            collected=(p.sp.tree, p.sp.leaves, p.sp.plan["scored_leaf_ids"],
                       p.sp.phrase_specs, p.sp.plan["term_boost_leaves"])),
            [])
    if request.get("snippets"):
        from veloci_spark.highlight import (HIGHLIGHT_POST, HIGHLIGHT_PRE,
                                            SNIPPET_CONNECTOR, SNIPPET_WINDOW,
                                            highlight_text)

        spec = request["snippets"]
        fld = spec.get("field", "text")
        # custom SnippetInfo (reference snippet_info.rs:15-39): the spec may
        # override window / tags / connector / snippet count
        si = spec.get("snippet_info") or {}
        kw = dict(
            window=int(si.get("num_words_around_snippet", SNIPPET_WINDOW)),
            max_snippets=si.get("max_snippets"),
            pre=si.get("snippet_start_tag", HIGHLIGHT_PRE),
            post=si.get("snippet_end_tag", HIGHLIGHT_POST),
            connector=si.get("snippet_connector", SNIPPET_CONNECTOR))

        def _snippets(p, own):
            terms = [t for leaf in p.sp.leaves
                     if leaf.field == fld and leaf.matched is not None
                     for t in leaf.matched["term"].tolist()]
            sep = p.index.fields[fld]["separators"]
            texts = {r["doc_id"]: r[fld]
                     for r in p.index.read_docs(own, ["doc_id", fld])}
            return {i: highlight_text(texts.get(i) or "", terms, sep, **kw)
                    for i in own}

        _attach("snippet", _snippets, "")
    return out


def select_docs(index: FulltextIndex, ids: list, cols: list) -> dict:
    """Per-doc ``select`` projection: flat columns straight from the doc
    store, 1:n paths reconstructed in DFS (pos) order, nested per ``[]``
    level (the reference read-tree, read_document.rs:8-59). Returns
    {doc_id: {col: value}} for the requested ids."""
    flat_cols = [c for c in cols if c not in index.values]
    nested_cols = [c for c in cols if c in index.values]
    by_id: dict[int, dict] = {int(i): {} for i in ids}
    if not ids:
        return by_id
    if flat_cols:
        for r in index.read_docs(ids, ["doc_id", *flat_cols]):
            by_id[r["doc_id"]].update({c: r[c] for c in flat_cols})
    for c in nested_cols:
        vrows = sorted(index.read_docs(ids, path=c),
                       key=lambda r: (r["doc_id"], r["pos"]))
        from itertools import groupby

        depth = c.count("[]")
        for did, g in groupby(vrows, key=lambda r: r["doc_id"]):
            by_id[did][c] = _nest_value_rows(list(g), depth)
    return by_id


# ---------------------------------------------------------------------------
# doc fetch (Q23) — the source table IS the doc store; fetch by id is a
# pruned scan (reference binary-searches LZ4 blocks, doc_store/src/lib.rs:19-53)


def get_docs(index: FulltextIndex, doc_ids: list[int],
             columns: list[str] | None = None) -> list[dict]:
    """Fetch documents by id, in the requested id order."""
    if not doc_ids:
        return []
    rows = {r["doc_id"]: r.asDict() for r in index.read_docs(
        doc_ids, ["doc_id", *columns] if columns else None)}
    return [rows[d] for d in doc_ids if d in rows]


def get_doc(index: FulltextIndex, doc_id: int,
            columns: list[str] | None = None) -> dict | None:
    out = get_docs(index, [doc_id], columns)
    return out[0] if out else None


# ---------------------------------------------------------------------------
# suggest (Q19) — dictionary-only prefix/fuzzy match, no posting scan
# (/root/reference/src/search/search_field.rs:158-230)


def suggest(index: FulltextIndex, field: str, prefix: str, *, top: int = 10,
            levenshtein: int = 0,
            token_value: dict | None = None) -> list[tuple[str, float]]:
    """Dictionary-only suggestions. ``token_value`` boosts candidates whose
    EXACT text carries an entry in the index's token_values side input
    (reference RequestSearchPart.token_value, search_field.rs suggest path;
    golden tests.rs:1077-1099): {"path": field, "boost_fun": ..., "param"}.
    """
    m = match_terms(index, field, prefix, levenshtein=levenshtein, starts_with=True)
    if m.empty:
        return []
    if token_value is not None and index.token_values is not None:
        from veloci_spark.scoring import boost_value_score

        tv_field = token_value.get("path", field)
        cand = [str(t) for t in m["term"]]
        tv_df = index.token_values.where(F.col("field") == tv_field)
        if len(cand) <= TID_PUSHDOWN_MAX_IN:
            tv_df = tv_df.where(F.col("text").isin(cand))
        else:
            # a wide fuzzy prefix can match the 100k-term cap — an In
            # expression that size blows up Catalyst analysis/codegen;
            # broadcast semi-join like _filter_term_ids
            cdf = index.spark.createDataFrame([(c,) for c in set(cand)],
                                              "text string")
            tv_df = tv_df.join(F.broadcast(cdf), on="text", how="left_semi")
        tv_rows = tv_df.collect()
        tv = {r["text"]: r["value"] for r in tv_rows}
        if tv:
            vals = np.array([tv.get(t, np.nan) for t in m["term"]],
                            dtype=np.float64)
            boosted = boost_value_score(
                m["score"].values, vals, token_value.get("boost_fun", "Log10"),
                float(token_value.get("param", 0.0)))
            m = m.assign(score=boosted)
    return _suggestions([m], top)


def suggest_multi(index: FulltextIndex, fields: list[str], prefix: str, *,
                  top: int = 10, levenshtein: int = 0) -> list[tuple[str, float]]:
    """Suggestions across several fields, merged by score
    (/root/reference/src/search/search_field.rs:194-230 suggest_multi:
    per-field dictionary matches, same lowercased text deduped keep-max,
    global score-descending order)."""
    return _suggestions([match_terms(index, f, prefix, levenshtein=levenshtein,
                                     starts_with=True) for f in fields], top)


def _suggestions(frames, top: int, tie: str = "term_id") -> list:
    """The suggest tail: the match frames' terms, same lower-cased text
    deduped keep-max, ranked by (score DESC, ``tie``) — ``term_id`` DESC
    within one index, the text ``lower`` ASC across generations (term ids
    are per-generation dictionary ranks) — as the top (lower-cased text,
    f32 score) pairs."""
    frames = [f for f in frames if not f.empty]
    if not frames:
        return []
    m = pd.concat(frames, ignore_index=True)
    m = m.assign(lower=m["term"].str.lower())
    best = (m.sort_values(["score", tie], ascending=[False, tie == "lower"],
                          kind="mergesort")
            .drop_duplicates("lower").head(top))
    return [(t, float(np.float32(s)))
            for t, s in zip(best["lower"].tolist(), best["score"].tolist())]


def read_data(index: FulltextIndex, doc_id: int,
              fields: list[str] | None = None) -> dict | None:
    """Reconstruct a document from the INDEX structures (not the raw source)
    — the reference's ``/_idtree/<id>`` read-tree
    (/root/reference/src/search/read_document.rs:8-59). For flat fields the
    doc-store column is the value relation; nested ``a[].b`` paths resolve
    through :mod:`veloci_spark.nested` value rows when the index was built
    from a nested corpus (each path column holds the flattened values)."""
    if fields is None:
        fields = [f["name"] for f in index.manifest["fields"]]
    flat = [f for f in fields if f not in index.values and f in index.docs.columns]
    row = get_doc(index, doc_id, flat) if flat else {"doc_id": doc_id}
    # fields the document does not carry are SKIPPED, not emitted as null
    # (reference read_document.rs none-value behavior, tests.rs:1290-1296)
    out: dict = {k: v for k, v in dict(row).items() if v is not None} \
        if row else {}
    for f in fields:
        if f in index.values:
            vrows = sorted(index.read_docs([doc_id], path=f),
                           key=lambda r: r["pos"])
            if vrows:
                out[f] = _nest_value_rows(vrows, f.count("[]"))
    if len(out) <= 1 and row is None:
        return None
    return out


def _nest_value_rows(rows, depth: int, level: int = 0):
    """Value rows (sorted by packed ``pos``) → nested python lists, one list
    level per ``[]`` segment: depth 1 → ``[v, …]``, depth 2 → ``[[v, …], …]``.
    Grouping keys are the stored per-level ``pos_i`` columns; absent
    intermediate elements (null arrays emit no rows) are skipped, matching
    the visitor's nothing-for-missing behavior."""
    if depth <= 1:
        return [r["value"] for r in rows]
    from itertools import groupby

    if level == depth - 1:
        return [r["value"] for r in rows]
    return [
        _nest_value_rows(list(g), depth, level + 1)
        for _, g in groupby(rows, key=lambda r: r[f"pos_{level}"])
    ]
