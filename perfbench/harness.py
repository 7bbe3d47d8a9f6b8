"""Set-up, timed loop, output checks and metrics of one benchmark run.

Every run, whatever the workload, builds its index the way a streamed
deployment does: ``ingest_batch`` of the corpus as a generation,
``delete_docs`` tombstones, a fresh ``MultiIndex`` query, then ``compact``
into the single index the timed loop searches. So every run measures the
write path (ingest, delete, compact) next to the read path it was chosen
for.
"""

from __future__ import annotations

import json
import os
import random
import re
import statistics
import time

import numpy as np

import pools
from tracer import Tracer, layer_self_ms, request_layers

N_DOCS = 3000
N_DELETES = 60      # random tombstoned ids
SEGMENT_DOCS = 1024
DRIVER_MEMORY = "1g"
# separators the synthetic corpus puts between words
_WORD_SPLIT = re.compile(r"[ ,.]+")


def host_probe() -> dict:
    """Spark-free probe of page-zeroing throughput and single-thread ALU
    speed, taken before the JVM starts, so a noisy host window shows in
    the output."""
    t0 = time.perf_counter()
    buf = bytearray(128 * 1024 * 1024)
    page_mb_s = 128 / max(time.perf_counter() - t0, 1e-9)
    del buf
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc += i * i
    return {"page_zero_mb_s": round(page_mb_s, 1),
            "alu_loop_s": round(time.perf_counter() - t0, 4)}


def make_session(work_dir: str, nproc: int):
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(f"local[{nproc}]")
        .appName("perfbench")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.retainedJobs", "5000")
        .config("spark.ui.retainedStages", "5000")
        .config("spark.sql.shuffle.partitions", str(nproc))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", DRIVER_MEMORY)
        # fixed heap: the JVM's share of peak RSS does not depend on when
        # G1 decides to grow the heap
        .config("spark.driver.extraJavaOptions", f"-Xms{DRIVER_MEMORY}")
        .config("spark.local.dir", os.path.join(work_dir, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(work_dir, "warehouse"))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


def _median(xs):
    return statistics.median(xs) if xs else float("nan")


def _f32_pairs(resp: dict) -> list:
    return [(int(d["doc_id"]), np.float32(d["score"])) for d in resp["data"]]


class Run:
    """One process: a SparkSession, the write phase, and a timed loop."""

    def __init__(self, spark, work_dir: str, seed: int, trace: bool):
        self.spark = spark
        self.sc = spark.sparkContext
        self.work_dir = work_dir
        self.seed = seed
        self.trace = trace
        self.tracer = Tracer()
        self.attempted = 0
        self.failures: list[str] = []
        self.layer: dict[str, float] = {}
        self.e2e: dict[str, float] = {}
        self.info: dict = {}
        self.deleted: frozenset = frozenset()
        self.check_req = pools.check_request(seed)
        self.live_hits = None
        self._rid = 0

    # ---- bookkeeping -----------------------------------------------------

    def fail(self, msg: str):
        self.failures.append(msg)

    def check(self, ok: bool, msg: str):
        self.attempted += 1
        if not ok:
            self.fail(msg)

    def _group(self, name: str) -> str:
        self.sc.setJobGroup(name, name)
        return name

    def jobs_of(self, group: str) -> tuple[int, int, int]:
        """(jobs, stages run, tasks run) Spark recorded under a job group."""
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in (info.stageIds if info else []):
                si = st.getStageInfo(s)
                if si is not None and si.numCompletedTasks > 0:
                    stages += 1
                    tasks += si.numCompletedTasks
        return len(jobs), stages, tasks

    # ---- set-up ----------------------------------------------------------

    def make_corpus(self):
        from veloci_spark.synth import generate_df_distributed

        t0 = time.perf_counter()
        df = generate_df_distributed(self.spark, N_DOCS, seed=self.seed,
                                     num_partitions=self.sc.defaultParallelism)
        df.cache().count()
        self.layer["setup.corpus_s"] = time.perf_counter() - t0
        return df

    def _build_stats(self, index_dir: str):
        from veloci_spark.build import load_manifest

        m = load_manifest(index_dir)
        self._add("build.index_s", float(m["build_wall_sec"]))
        for stage in ("docs", "tokens", "dict", "postings", "phrase"):
            with open(os.path.join(index_dir, f"_stage_{stage}.done")) as f:
                self._add(f"build.{stage}_s", float(json.load(f)["wall_sec"]))

    def _add(self, key: str, value: float):
        self.layer[key] = self.layer.get(key, 0.0) + value

    def write_phase(self, corpus, config) -> str:
        """Ingest the corpus as a generation, tombstone ids, query it
        through a fresh MultiIndex, compact. Returns the compacted index dir.

        The builds run with ONE shuffle partition. ``build._assign_term_ids``
        counts terms per range partition in one job and numbers them in
        another, and each job samples its own range bounds: with more than
        one partition the two samplings disagree and distinct terms share a
        term id (on a 4,000-doc corpus every multi-partition build had
        20-150 duplicate ids, and searches returned a neighbouring term's
        postings). One partition has no bounds to disagree on."""
        conf = self.spark.conf
        parts = conf.get("spark.sql.shuffle.partitions")
        conf.set("spark.sql.shuffle.partitions", "1")
        try:
            return self._write_phase(corpus, config)
        finally:
            conf.set("spark.sql.shuffle.partitions", parts)

    def _write_phase(self, corpus, config) -> str:
        import pyarrow.parquet as pq

        from veloci_spark import streaming

        root = os.path.join(self.work_dir, "stream")
        g = self._group("ingest")
        t0 = time.perf_counter()
        rec = streaming.ingest_batch(self.spark, corpus, config, root)
        wall = time.perf_counter() - t0
        self.attempted += 1
        self.e2e["ingest_p50_s"] = wall
        self.e2e["ingest_docs_per_s"] = rec["n_docs"] / wall
        self._build_stats(rec["dir"])
        if self.trace:
            self._add("build.spark_jobs", self.jobs_of(g)[0])

        # tombstone random ids plus docs holding the check term, found in
        # the generation's doc store without a Spark job: the check that
        # tombstoned ids never come back is then not vacuous, and the live
        # hit count is known exactly
        term = self.check_req["search"]["terms"][0]
        docs = pq.read_table(os.path.join(rec["dir"], "docs"),
                             columns=["doc_id", "text"]).to_pydict()
        holders = [d for d, text in zip(docs["doc_id"], docs["text"])
                   if term in _WORD_SPLIT.split(text)]
        rng = random.Random(f"deletes:{self.seed}")
        self.deleted = frozenset(holders[:3]) | frozenset(
            rng.sample(docs["doc_id"], N_DELETES))
        expected = len(set(holders) - self.deleted)
        self._group("delete")
        t0 = time.perf_counter()
        streaming.delete_docs(self.spark, root, sorted(self.deleted))
        self.layer["streaming.delete_ms"] = (time.perf_counter() - t0) * 1000.0
        self.attempted += 1

        self._group("open")
        t0 = time.perf_counter()
        mi = streaming.MultiIndex(self.spark, root)
        self.layer["streaming.open_ms"] = (time.perf_counter() - t0) * 1000.0
        self.layer["streaming.generations"] = len(mi.gens)
        t0 = time.perf_counter()
        resp = mi.search(self.check_req)
        self.layer["streaming.first_query_ms"] = (time.perf_counter() - t0) * 1000.0
        self.check_response("multiindex", self.check_req, resp)
        self.live_hits = resp["num_hits"]
        self.check(self.live_hits == expected,
                   f"multiindex: {self.live_hits} live hits for {term!r}, "
                   f"{expected} docs hold it")

        g = self._group("compact")
        t0 = time.perf_counter()
        rec = streaming.compact(self.spark, root, config)
        self.e2e["compact_s"] = time.perf_counter() - t0
        self.attempted += 1
        self._build_stats(rec["dir"])
        if self.trace:
            self._add("build.spark_jobs", self.jobs_of(g)[0])
        return rec["dir"]

    def check_compacted(self, idx):
        """The compacted index reports the live hit count the tombstoned
        generation reported."""
        from veloci_spark.search import search

        self._group("check")
        resp = search(idx, self.check_req)
        self.check_response("compacted", self.check_req, resp)
        self.check(resp["num_hits"] == self.live_hits,
                   f"compacted: {resp['num_hits']} hits, {self.live_hits} "
                   "live before compaction")

    def index_sizes(self, index_dir: str):
        from pyspark.sql import functions as F

        text_bytes = (self.spark.read.parquet(os.path.join(index_dir, "docs"))
                      .agg(F.sum(F.octet_length("text"))).first()[0])
        self.e2e["index_bytes_per_input_byte"] = dir_bytes(index_dir) / text_bytes
        for part in ("docs", "dict", "postings", "phrase"):
            self.layer[f"build.{part}_bytes"] = dir_bytes(
                os.path.join(index_dir, part))

    def open_index(self, index_dir: str):
        """Make the index query-ready: cache, driver-side dictionary and
        facet map."""
        from veloci_spark.search import FulltextIndex

        self._group("open_index")
        idx = FulltextIndex(self.spark, index_dir).cache()
        idx.local_dict("text")
        idx.facet_map("lang")
        return idx

    # ---- requests and checks ---------------------------------------------

    def check_response(self, name: str, req: dict, resp: dict):
        """Invariants every response must hold."""
        data = resp["data"]
        top, skip = req.get("top", 10), req.get("skip", 0)
        self.check(len(data) == min(top, max(resp["num_hits"] - skip, 0)),
                   f"{name}: {len(data)} rows for num_hits "
                   f"{resp['num_hits']}, top {top}, skip {skip}")
        keys = [(-np.float32(d["score"]), -int(d["doc_id"])) for d in data]
        self.check(keys == sorted(keys),
                   f"{name}: not ordered by (score DESC, doc_id DESC)")
        gone = [d["doc_id"] for d in data if d["doc_id"] in self.deleted]
        self.check(not gone, f"{name}: tombstoned ids returned {gone}")

    def same_response(self, name: str, want: dict, got: dict):
        self.check(got["num_hits"] == want["num_hits"],
                   f"{name}: num_hits {got['num_hits']} != {want['num_hits']}")
        self.check(_f32_pairs(got) == _f32_pairs(want),
                   f"{name}: doc order or f32 scores differ from warm-up")
        self.check(got.get("facets") == want.get("facets"),
                   f"{name}: facets differ from warm-up")

    def _call(self, idx, entry: dict, traced: bool):
        """One request, end to end: query-string parse (if any) + search."""
        from veloci_spark.search import search

        self._rid += 1
        rid = f"r{self._rid}"
        tr = self.tracer
        if self.trace:
            tr.enabled = traced
            tr.request_id = rid
            self._group(rid)
        t0 = time.perf_counter()
        with tr.span("request", entry=entry["name"]):
            if "query" in entry:
                with tr.span("parse"):
                    req = pools.to_request(entry)
            else:
                req = entry["request"]
            with tr.span("search"):
                resp = search(idx, req)
        wall = time.perf_counter() - t0
        tr.enabled = False
        return rid, req, resp, wall

    def warm_up(self, idx, pool: list[dict]) -> dict:
        """Run every pool entry once, untimed; the responses are the
        reference the timed responses must repeat."""
        ref = {}
        for entry in pool:
            self.attempted += 1
            try:
                rid, req, resp, _ = self._call(idx, entry, traced=True)
            except Exception as e:  # a failed request is counted, not fatal
                self.fail(f"{entry['name']}: warm-up raised {e!r}")
                continue
            self.check_response(entry["name"], req, resp)
            ref[entry["name"]] = (rid, resp)
        return ref

    def timed_loop(self, idx, pool: list[dict], ref: dict, seconds: float):
        """Closed loop, one client: whole passes over the pool until
        ``seconds`` have elapsed, so every entry is timed equally often.
        In a traced run every step runs the request twice, untraced and
        traced in alternating order, so the run measures its own overhead."""
        lat, traced_lat, timed = [], [], []
        t_start = time.perf_counter()
        i = 0
        while i % len(pool) or time.perf_counter() - t_start < seconds:
            entry = pool[i % len(pool)]
            modes = [False] if not self.trace else (
                [False, True] if i % 2 == 0 else [True, False])
            for traced in modes:
                self.attempted += 1
                try:
                    rid, req, resp, wall = self._call(idx, entry, traced)
                except Exception as e:
                    self.fail(f"{entry['name']}: raised {e!r}")
                    continue
                (traced_lat if traced else lat).append(wall)
                if not traced:
                    self.info.setdefault("entry_ms", {}).setdefault(
                        entry["name"], []).append(round(wall * 1000.0, 1))
                if traced:
                    timed.append((rid, entry["name"]))
                self.check_response(entry["name"], req, resp)
                if entry["name"] in ref:
                    self.same_response(entry["name"], ref[entry["name"]][1], resp)
            i += 1
        elapsed = time.perf_counter() - t_start
        self.info["timed_requests"] = len(lat)
        self.info["pool_size"] = len(pool)
        if not self.trace:
            self.e2e["query_p50_ms"] = _median(lat) * 1000.0
            self.e2e["query_qps"] = len(lat) / elapsed
        else:
            self.info["untraced_p50_ms"] = _median(lat) * 1000.0
            self.info["traced_p50_ms"] = _median(traced_lat) * 1000.0
            self.info["trace_overhead_ms"] = (self.info["traced_p50_ms"]
                                              - self.info["untraced_p50_ms"])
        return timed

    # ---- per-layer figures (traced run) ----------------------------------

    def posting_work(self, index_dir: str, ref: dict) -> dict:
        """Posting rows and bytes behind each pool entry's matched term ids,
        read with pyarrow (outside the timed loop)."""
        import pyarrow.compute as pc
        import pyarrow.dataset as ds

        dset = ds.dataset(os.path.join(index_dir, "postings"), format="parquet",
                          partitioning="hive")
        out = {}
        for name, (rid, resp) in ref.items():
            rows = nbytes = 0
            by_field: dict[str, set] = {}
            for field, tids in self.tracer.matched.get(rid, []):
                by_field.setdefault(field, set()).update(tids)
            for field, tids in by_field.items():
                if not tids:
                    continue
                t = dset.to_table(
                    columns=["docs_bin", "scores_bin"],
                    filter=(pc.field("field") == field)
                    & pc.field("term_id").isin(sorted(tids)))
                rows += t.num_rows
                for col in ("docs_bin", "scores_bin"):
                    nbytes += int(pc.sum(pc.binary_length(t[col])).as_py() or 0)
            out[name] = (rows, nbytes, len(resp["data"]))
        return out

    def layer_metrics(self, index_dir: str, ref: dict, timed: list) -> dict:
        spans = self.tracer.spans
        by_req: dict[str, list] = {}
        for s in spans:
            by_req.setdefault(s["request"], []).append(s)
        work = self.posting_work(index_dir, ref)
        rows: dict[str, list] = {}
        for rid, name in timed:
            fig = request_layers(by_req[rid])
            fig["spark.jobs"], fig["spark.stages"], fig["spark.tasks"] = \
                self.jobs_of(rid)
            prow, pbytes, nres = work.get(name, (0, 0, 0))
            fig["search.posting_rows"] = prow
            fig["search.posting_bytes"] = pbytes
            fig["search.results_per_posting_row"] = nres / prow if prow else 0.0
            for k, v in fig.items():
                if k in ("query.parse_ms", "search.post_ms") and not v:
                    continue  # the layer did not run for this request
                rows.setdefault(k, []).append(v)
        out = {k: _median(v) for k, v in rows.items()}
        timed_ids = {rid for rid, _ in timed}
        self.info["self_ms"] = {
            k: round(v, 2) for k, v in layer_self_ms(
                [s for s in spans if s["request"] in timed_ids]).items()}
        return out

    def peak_rss_mb(self) -> float:
        jvm = self.sc._gateway.proc.pid
        return _vm_hwm_mb(os.getpid()) + _vm_hwm_mb(jvm)
