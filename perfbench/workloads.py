"""The benchmark's workloads: set-up, the timed phase, the output check.

One closed-loop client in one process drives the engine through its
public functions only: ``session.get_spark``, ``segments.build_segments``,
``SegmentIndex.load``/``search``/``phrase_search``/``count`` and
``ingest.apply_upserts``/``maybe_compact``/``fold_deltas``.
Every call sits in a span named ``<layer>.<call>``.
"""

from __future__ import annotations

import itertools
import os
import random
import statistics
import time
from contextlib import contextmanager

import pandas as pd

from check import expected_in_child, same
from gen import Generator
from probe import MemSampler, dir_snapshot

# (docs, vocabulary) per workload. Ingest is smaller because a fold
# re-encodes every term's blocks: its cost grows with the vocabulary.
SIZES = {"search": (20_000, 40_000), "ingest": (10_000, 10_000)}
BATCH_DOCS = 500
BATCHES_PER_CYCLE = 2
QUERIES_PER_BATCH = 4
WARMUP_S = 2
SEARCH_CLASSES = ["term_rare", "term_mid", "term_hot", "and_skewed",
                  "and_hot", "or", "or_msm", "page2", "phrase"]
# one query of each per cycle; the ingest index is non-positional
INGEST_CLASSES = ["term_mid", "and_skewed", "or_msm", "count"]
ALL_CLASSES = SEARCH_CLASSES + ["count"]


class Run:
    """State of one benchmark run: the session, inputs, index, the
    tracer and every timed sample."""

    def __init__(self, workload: str, seed: int, seconds: int, work: str,
                 tracer, spark_conf: dict):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.tr = tracer
        self.spark_conf = spark_conf
        self.index_dir = os.path.join(work, "index")
        self.classes = SEARCH_CLASSES if workload == "search" \
            else INGEST_CLASSES
        self.queries: list[dict] = []   # every timed query, with result
        self.attempted = 0
        self.failed = 0
        self.mismatches: list[str] = []
        self.rng = random.Random(seed)
        self.check_per_class = 2 if workload == "search" else 1
        self.writes: list[dict] = []   # ingest's timed write calls
        self.fresh: list[float] = []   # write call + reload, seconds
        # (document set, count queries run against it) on live deltas
        self.delta_counts: list[tuple[pd.DataFrame, list[dict]]] = []
        self.mem = MemSampler()
        self.live_gens_max = 0
        self.ingested_docs = 0
        self.ingested_text_bytes = 0

    # -- calls ---------------------------------------------------------
    def call(self, name: str, fn, *args, index_dir=None, cpu=True, **kw):
        """One engine call in a span; an exception counts as a failure
        and returns None."""
        self.attempted += 1
        with self.tr.span(name, index_dir=index_dir, cpu=cpu) as rec:
            try:
                rec["result"] = fn(*args, **kw)
            except Exception as e:  # a failed operation is reported
                self.failed += 1
                rec["error"] = f"{type(e).__name__}: {e}"
                rec["result"] = None
        return rec

    def query(self, idx, q: dict) -> dict:
        """One query of the stream (see gen.queries), results collected
        inside its span."""
        c = q["cls"]
        if c == "phrase":
            name, fn = "wand.phrase_search", lambda: [
                (r[0], r[1]) for r in
                idx.phrase_search(q["query"], slop=q["slop"]).collect()]
        elif c == "count":
            name, fn = "wand.count", lambda: int(
                idx.count(q["query"], mode=q["mode"]).collect()[0][0])
        else:
            name, fn = "wand.search", lambda: [
                (r["doc_id"], r["score"]) for r in idx.search(
                    q["query"], k=q["k"], mode=q["mode"],
                    min_should_match=q.get("msm"),
                    after=q.get("after")).collect()]
        rec = self.call(name, fn, cpu=False)
        rec["cls"] = c
        rec["q"] = q
        return rec

    # -- set-up --------------------------------------------------------
    def setup(self) -> None:
        t0 = time.perf_counter()
        with self.tr.span("setup"):
            with self.tr.span("session.start"):
                from content_rw_elasticsearch_spark.session import get_spark

                self.spark = get_spark(
                    app_name=f"perfbench-{self.workload}", master="local[4]",
                    extra_conf=self.spark_conf)
                self.spark.sparkContext.setLogLevel("ERROR")
            self.tr.attach(self.spark)
            self.mem.watch_heap(self.spark)
            from content_rw_elasticsearch_spark.operators.segments import \
                build_segments
            from content_rw_elasticsearch_spark.operators.wand import \
                SegmentIndex

            self.SegmentIndex = SegmentIndex
            # the generator's memory is the benchmark's, not the engine's
            with self.mem.paused(), self.tr.span("inputs.corpus"):
                n_docs, n_terms = SIZES[self.workload]
                self.gen = Generator(self.seed, n_docs, n_terms)
                corpus = self.gen.corpus()
                self.corpus_text_bytes = int(
                    corpus["text"].str.len().sum())
                path = os.path.join(self.work, "corpus.parquet")
                corpus.to_parquet(path, index=False)
            self.build = self.call(
                "segments.build_segments", lambda: build_segments(
                    self.spark.read.parquet(path), self.index_dir,
                    text_col="text", doc_col="doc_id", n_buckets=8,
                    with_positions=self.workload == "search"),
                index_dir=self.index_dir)
            if self.build["result"] is None:
                raise RuntimeError(f"base build failed: {self.build['error']}")
            files = dir_snapshot(self.index_dir)
            self.index_bytes = sum(size for size, _ in files.values())
            self.index_files = len(files)
            load = self.load()
            idx = load["result"]
            if self.workload == "search":  # the corpus is searchable
                self.fresh.append(self.tr.dur(self.build)
                                  + self.tr.dur(load))
            self.stats = pd.read_parquet(
                os.path.join(self.index_dir, "stats.parquet"),
                columns=["term", "df"])
            df = dict(zip(self.stats["term"], self.stats["df"]))
            pool = self.gen.queries(self.stats, self.classes,
                                    600 if self.workload == "search" else 40)
            for q in pool:
                q["postings"] = sum(int(df.get(t, 0)) for t in
                                    _terms(q["query"]))
                if q["cls"] == "page2":
                    rows = self.query(idx, dict(q, cls="page1"))["result"]
                    # search_after cursor = (score, doc_id) of page 1's last
                    q["after"] = (rows[-1][1], rows[-1][0]) if rows \
                        else (1e9, -1)
            self.pool = pool
            self.stream = itertools.cycle(pool)
            # untimed warm-up: on search, WARMUP_S of the stream (the
            # JVM is still compiling the fast path's hot code for the
            # first seconds); on ingest, one distributed query
            if self.workload == "search":
                t = time.perf_counter()
                while time.perf_counter() - t < WARMUP_S:
                    self.query(idx, next(self.stream))
            else:
                idx.driver_max_postings = 0
                self.query(idx, pool[0])
        self.setup_s = time.perf_counter() - t0
        self.idx = idx

    def load(self) -> dict:
        rec = self.call("wand.load", self.SegmentIndex.load, self.spark,
                        self.index_dir)
        if rec["result"] is None:
            raise RuntimeError(f"index load failed: {rec['error']}")
        return rec

    # -- timed phase ---------------------------------------------------
    def measure(self) -> None:
        with self.tr.span("measure") as m:
            if self.workload == "search":
                self._search()
            else:
                self._ingest()
        self.measure_rec = m
        self.heap_retained = self.mem.retained_heap()

    def _search(self) -> None:
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < self.seconds:
            self.queries.append(self.query(self.idx, next(self.stream)))
        with self.checking():
            self.check([(self.gen.documents(), self._sample(self.queries))])

    def _ingest(self) -> None:
        from content_rw_elasticsearch_spark.streaming import ingest

        t0 = time.perf_counter()
        qi = 0
        cycle = 0
        cycle_s = 0.0
        # whole cycles only: start another while it is expected to end
        # within the run length
        while cycle == 0 or time.perf_counter() - t0 + cycle_s < self.seconds:
            c0 = time.perf_counter()
            cycle += 1
            for b in range(BATCHES_PER_CYCLE):
                batch = self.gen.upsert_batch(BATCH_DOCS)
                path = os.path.join(self.work, f"batch{cycle}_{b}.parquet")
                batch.to_parquet(path, index=False)
                self.ingested_docs += len(batch)
                self.ingested_text_bytes += int(
                    batch["text"].str.len().sum())
                apply = self.call(
                    "ingest.apply_upserts", ingest.apply_upserts, self.spark,
                    self.index_dir, self.spark.read.parquet(path),
                    text_col="text", doc_col="doc_id", deleted_col="deleted",
                    index_dir=self.index_dir)
                self.writes.append(apply)
                load = self.load()
                self.fresh.append(self.tr.dur(apply) + self.tr.dur(load))
                idx = load["result"]
                self.live_gens_max = max(self.live_gens_max,
                                         len(idx.generations))
                counts = []
                for _ in range(QUERIES_PER_BATCH):
                    q = self.pool[qi % len(self.pool)]
                    qi += 1
                    rec = self.query(idx, q)
                    self.queries.append(rec)
                    if q["cls"] == "count":
                        counts.append(rec)
                # a count does not depend on df, so it is exact over live
                # delta generations and tombstones: check it later
                # against this document set
                if counts:
                    self.delta_counts.append((self.gen.documents(), counts))
                self.writes.append(self.call(
                    "ingest.maybe_compact", ingest.maybe_compact, self.spark,
                    self.index_dir, max_gens=BATCHES_PER_CYCLE,
                    index_dir=self.index_dir))
            self.writes.append(self.call(
                "ingest.fold_deltas", ingest.fold_deltas, self.spark,
                self.index_dir, index_dir=self.index_dir))
            cycle_s = time.perf_counter() - c0
            # ranked results match the oracle only once a fold has made
            # df exact again: check here, through the driver fast path
            # and through the distributed plan, and check the counts
            # taken over live deltas
            idx = self.load()["result"]
            with self.checking():
                qs = self._sample(self.pool)
                recs = [self.query(idx, q) for q in qs]
                idx.driver_max_postings = 0
                for q in qs:
                    rec = self.query(idx, q)
                    rec["distributed"] = True
                    recs.append(rec)
                self.check([(self.gen.documents(), recs)]
                           + self.delta_counts)
                self.delta_counts = []

    # -- output check (untimed) ---------------------------------------
    def _sample(self, items: list[dict]) -> list[dict]:
        """A seeded sample of up to ``check_per_class`` of every class."""
        by_cls: dict[str, list] = {}
        for r in items:
            by_cls.setdefault(r["cls"], []).append(r)
        out = []
        for c in sorted(by_cls):
            xs = by_cls[c]
            out += self.rng.sample(xs, min(self.check_per_class, len(xs)))
        return out

    @contextmanager
    def checking(self):
        """The untimed check: its own span, memory sampling paused."""
        with self.mem.paused(), self.tr.span("check"):
            yield

    def check(self, groups: list[tuple[pd.DataFrame, list[dict]]]) -> None:
        """Compare query records with the oracle's answers over the
        document set each group of records ran against."""
        with self.tr.span("oracle.expected"):
            wants = expected_in_child(
                [(docs, [r["q"] for r in recs]) for docs, recs in groups])
        for (_, recs), ws in zip(groups, wants):
            for rec, want in zip(recs, ws):
                if rec["result"] is None:
                    continue  # already counted as failed
                q = rec["q"]
                if not same(q, rec["result"], want):
                    self.failed += 1
                    plan = " distributed" if rec.get("distributed") else ""
                    self.mismatches.append(
                        f"{q['cls']}{plan} {q['query']!r}: engine "
                        f"{rec['result']!r:.200} oracle {want!r:.200}")

    # -- results -------------------------------------------------------
    def end_to_end(self) -> dict[str, tuple[float, str, int]]:
        """name -> (value, unit, samples)."""
        lat = [self.tr.dur(r) * 1e3 for r in self.queries]
        self.tail_p, tail = tail_percentile(lat)
        build_s = self.tr.dur(self.build)
        if self.workload == "search":
            write_docs, write_s, n_w = SIZES["search"][0], build_s, 1
        else:
            write_s = sum(self.tr.dur(r) for r in self.writes)
            write_docs, n_w = self.ingested_docs, len(self.writes)
        # the tail and the rate are end-to-end too, but steal moves them
        # more than any bound <= 25% holds: they are reported unbounded,
        # with the per-layer metrics
        self.unbounded = {
            "query_tail_ms": (tail, "ms", len(lat)),
            "query_qps": (len(lat) / (sum(lat) / 1e3), "1/s", len(lat)),
        }
        return {
            "setup_s": (self.setup_s, "s", 1),
            "cold_build_s": (build_s, "s", 1),
            "query_p50_ms": (statistics.median(lat), "ms", len(lat)),
            "freshness_s": (statistics.median(self.fresh), "s",
                            len(self.fresh)),
            "write_docs_per_s": (write_docs / write_s, "docs/s", n_w),
            "index_bytes_per_input_byte": (
                self.index_bytes / self.corpus_text_bytes, "ratio", 1),
            "peak_rss_mb": (self.mem.peak_rss / 2**20, "MB", 1),
        }


def _terms(query: str) -> set[str]:
    from content_rw_elasticsearch_spark.functions.analyzer import \
        analyze_query_py

    return set(analyze_query_py(query, "simple"))


def tail_percentile(xs: list[float]) -> tuple[int, float]:
    """The highest of p99/p95/p90/p75 with at least ten samples above it
    (nearest rank); the median when there are fewer than forty samples."""
    ys = sorted(xs)
    n = len(ys)
    for p in (99, 95, 90, 75):
        if n * (100 - p) / 100 >= 10:
            return p, ys[min(n - 1, int(p / 100 * n))]
    return 50, statistics.median(ys)



NCPU = 4
LAYERS = ("session", "inputs", "segments", "wand", "ingest", "oracle",
          "harness")


def _p50(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _mean(xs: list[float]) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(run: Run) -> dict[str, tuple[float, str, int]]:
    """name -> (value, unit, samples) from a traced run's spans, after
    ``end_to_end``. A layer a workload does not exercise reports 0."""
    tr = run.tr
    dur = tr.dur
    b = run.build
    bm = b["result"]["build_metrics"]
    s1 = bm["stage1"]
    out: dict[str, tuple[float, str, int]] = {
        **run.unbounded,
        "session.start_s": (dur(_named(tr, "session.start")[0]), "s", 1),
        "segments.stage1_s": (s1["secs"], "s", 1),
        "segments.staging_write_s": (s1["staging_write"], "s", 1),
        "segments.stats_write_s": (s1["stats_write"], "s", 1),
        "segments.docs_write_s": (s1["docs_write"], "s", 1),
        "segments.corpus_stats_s": (s1["corpus_stats"], "s", 1),
        "segments.stage2_s": (bm["stage2_secs"], "s", 1),
        "segments.spark_jobs": (b["jobs"], "count", 1),
        "segments.spark_tasks": (b["tasks"], "count", 1),
        "segments.task_cpu_s": (b["task_cpu_s"], "s", 1),
        "segments.shuffle_write_bytes": (b["shuffle_write_bytes"], "bytes", 1),
        "segments.cpu_util": (b["cpu_s"] / (dur(b) * NCPU), "ratio", 1),
        "segments.postings": (int(run.stats["df"].sum()), "count", 1),
        "segments.blocks": (b["result"]["block_count"], "count", 1),
    }
    loads = [dur(r) * 1e3 for r in _named(tr, "wand.load")]
    out["wand.load_ms"] = (_p50(loads), "ms", len(loads))
    for c in ALL_CLASSES:
        xs = [dur(r) * 1e3 for r in run.queries if r["cls"] == c]
        out[f"wand.{c}_p50_ms"] = (_p50(xs), "ms", len(xs))
    qs = run.queries
    n = len(qs)
    secs = sum(dur(r) for r in qs)
    postings = sum(r["q"]["postings"] for r in qs)
    out.update({
        "wand.spark_jobs_per_query": (_mean([r["jobs"] for r in qs]),
                                      "count", n),
        "wand.spark_tasks_per_query": (_mean([r["tasks"] for r in qs]),
                                       "count", n),
        "wand.fast_path_frac": (_mean([r["jobs"] == 0 for r in qs]),
                                "ratio", n),
        "wand.candidate_postings_per_query": (postings / n, "count", n),
        "wand.postings_per_s": (postings / secs, "1/s", n),
        "wand.task_cpu_s_per_query": (_mean([r["task_cpu_s"] for r in qs]),
                                      "s", n),
        "wand.shuffle_bytes_per_query": (
            _mean([r["shuffle_write_bytes"] for r in qs]), "bytes", n),
    })
    applies = _named(tr, "ingest.apply_upserts")
    merges = [r for r in _named(tr, "ingest.maybe_compact") if r["result"]]
    folds = _named(tr, "ingest.fold_deltas")
    writes = applies + merges + folds
    out.update({
        "ingest.batch_p50_s": (_p50([dur(r) for r in applies]), "s",
                               len(applies)),
        "ingest.apply_spark_jobs": (_mean([r["jobs"] for r in applies]),
                                    "count", len(applies)),
        "ingest.bytes_written_per_batch": (
            _mean([r["bytes_written"] for r in applies]), "bytes",
            len(applies)),
        "ingest.tier_merge_s": (_p50([dur(r) for r in merges]), "s",
                                len(merges)),
        "ingest.fold_s": (_p50([dur(r) for r in folds]), "s", len(folds)),
        "ingest.fold_bytes_rewritten": (
            _mean([r["bytes_written"] for r in folds]), "bytes", len(folds)),
        "ingest.write_amp": (
            sum(r["bytes_written"] for r in writes) / run.ingested_text_bytes
            if run.ingested_text_bytes else 0.0, "ratio", len(writes)),
        "ingest.live_gens_max": (run.live_gens_max, "count", 1),
        "storage.index_bytes": (run.index_bytes, "bytes", 1),
        "storage.index_files": (run.index_files, "count", 1),
    })
    out["jvm.heap_peak_mb"] = (run.mem.peak_heap / 2**20, "MB", 1)
    out["jvm.heap_retained_mb"] = (run.heap_retained / 2**20, "MB", 1)
    # the timed phase without the checks inside it
    m = run.measure_rec
    checks = [r for r in _named(tr, "check") if r["parent"] == m["id"]]
    cpu_s = m["cpu_s"] - sum(r["cpu_s"] for r in checks)
    wall_s = dur(m) - sum(dur(r) for r in checks)
    out["proc.cpu_s"] = (cpu_s, "s", 1)
    out["proc.cpu_util"] = (cpu_s / (wall_s * NCPU), "ratio", 1)
    self_s = tr.self_times()
    for layer in LAYERS:
        names = ("setup", "measure", "check") if layer == "harness" \
            else (layer,)
        out[f"trace.self_s.{layer}"] = (
            sum(self_s.get(x, 0.0) for x in names), "s", 1)
    out["trace.probe_s"] = (tr.probe_s, "s", 1)
    return out


def _named(tr, name: str) -> list[dict]:
    return [r for r in tr.spans if r["name"] == name]
