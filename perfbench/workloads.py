"""The benchmark's workloads. Each is a closed loop with one client thread:
the next request goes out only when the previous one has returned.

A workload runs in three phases. ``setup`` builds the index and warms the
session up until per-operation latency stops falling. ``window`` is the
measured closed loop. ``check`` compares every result, warm-up results
included, against the independent reference once the window is over.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback

import numpy as np

import inputs
from reference import Reference, close, topk_ok
from meter import SparkMeter, Tracer

from pyspark.sql import functions as F

from sparktext.aggs import CountAgg, StatsAgg, agg_search, collect_results
from sparktext.build import build_index
from sparktext.manifest import (append_documents, build_persistent_index,
                                compact_index, load_index)
from sparktext.query import matched_docs, parse_query
from sparktext.topk import top_k


class Harness:
    """Times operations, records their outputs and, when tracing, their
    spans and Spark metrics."""

    def __init__(self, spark, traced: bool):
        self.spark = spark
        self.tracer = Tracer(traced)
        self.meter = SparkMeter(spark) if traced else None
        self.ops: list[dict] = []
        self.phase = "setup"
        self.current: dict | None = None

    def op(self, kind: str, fn, decode: bool = False, **info) -> dict:
        """Run ``fn`` as one timed operation. A raised exception marks the
        operation failed; the loop goes on."""
        rec = {"kind": kind, "phase": self.phase, "ok": True, **info}
        self.tracer.op_id = len(self.ops)
        # Warm-up requests are not metered: only the build and the window.
        meter = self.meter if self.phase == "window" or kind == "build" else None
        group = meter.begin() if meter else None
        self.current = rec
        t_epoch, t0 = time.time(), time.perf_counter()
        try:
            with self.tracer.span(f"op.{kind}"):
                rec["out"] = fn()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            rec["ok"] = False
        rec["s"] = time.perf_counter() - t0
        self.tracer.op_id = self.current = None
        if meter:
            with self.tracer.span("trace.meter"):
                rec["spark"] = meter.end(group, t_epoch, t_epoch + rec["s"], decode)
        self.ops.append(rec)
        return rec

    def window_ops(self, kind: str | None = None) -> list[dict]:
        return [o for o in self.ops if o["phase"] == "window"
                and (kind is None or o["kind"] == kind)]

    def latencies(self, kind: str) -> list[float]:
        return [o["s"] for o in self.window_ops(kind) if o["ok"]]

    def drift(self, kind: str) -> float | None:
        """Median latency of the second half of the window's ``kind``
        operations over that of the first half: below 1 when the session
        was still speeding up after the warm-up."""
        xs = self.latencies(kind)
        half = len(xs) // 2
        return _median(xs[-half:]) / _median(xs[:half]) if half else None


def _rows(df) -> list[tuple[int, float]]:
    return [(int(r["doc_id"]), float(r["score"])) for r in df.collect()]


def _search(h: Harness, index, q: str, k: int):
    with h.tracer.span("query.plan"):
        df = top_k(matched_docs(index, parse_query(q), k=k), k)
    with h.tracer.span("topk.collect"):
        return _rows(df)


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else float("nan")


class FixtureInteractive:
    """Interactive search over an in-memory index of 5,000 documents."""

    N_DOCS = 5000
    OP_KIND = "search"
    AGG_K = 10

    def __init__(self, h: Harness, rng: np.random.Generator, workdir: str):
        self.h, self.rng = h, rng
        self.ref = Reference()

    def setup(self) -> None:
        h, spark = self.h, self.h.spark
        docs = inputs.documents(self.rng, 0, self.N_DOCS)
        self.ref.add(docs)
        self.texts = docs["content"]

        def build():
            with h.tracer.span("build.build_index"):
                idx = build_index(spark, spark.createDataFrame(docs))
                idx.postings.count()
                idx.doc_meta.count()
                idx.term_dict.count()
            return idx

        self.index = h.op("build", build)["out"]
        if h.meter:
            self.blocks = dict(self.index.postings.groupBy("term").count().collect())
        # Fixed-length warm-up: every search and one aggregation once. The
        # first run of each plan shape compiles it; later aggregations
        # share the compiled code.
        for qid in sorted(inputs.FIXTURE_QUERIES):
            self.request(("search", qid))
        self.request(("agg", inputs.AGG_QUERIES[0]))

    def request(self, req) -> dict:
        kind, arg = req
        if kind == "search":
            q, k = inputs.FIXTURE_QUERIES[arg]["q"], inputs.FIXTURE_QUERIES[arg]["k"]
            rec = self.h.op("search", lambda: _search(self.h, self.index, q, k),
                            decode=True, qid=arg, q=q, k=k)
        else:
            q = arg
            rec = self.h.op("agg", lambda: self._agg(q), decode=True, q=q)
        if self.h.meter:
            rec["blocks_total"] = sum(self.blocks.get(t, 0) for t in _terms(q))
        return rec

    def _agg(self, q: str) -> dict:
        with self.h.tracer.span("aggs.plan"):
            out = agg_search(
                self.index, q, k=self.AGG_K,
                metric_aggs=[CountAgg(), StatsAgg("n_chars")],
                bucket_aggs={
                    "by_lang": ("terms", "lang", inputs.TERMS_SIZE, []),
                    "hist": ("histogram", "n_chars", inputs.HIST_INTERVAL, 0.0, []),
                })
        with self.h.tracer.span("aggs.collect"):
            return collect_results(out)

    def passes(self):
        """Endless passes; each sends every fixture search once, in seeded
        order, and an aggregation after every fourth, so 1 request in 5
        aggregates."""
        while True:
            batch = []
            for i, qid in enumerate(self.rng.permutation(sorted(inputs.FIXTURE_QUERIES))):
                batch.append(("search", str(qid)))
                if i % 4 == 3:
                    batch.append(("agg", inputs.AGG_QUERIES[i // 4]))
            yield batch

    def check(self, rec: dict) -> bool:
        if rec["kind"] == "build":
            return rec["out"].stats.num_docs == self.N_DOCS
        if rec["kind"] == "search":
            return topk_ok(rec["out"], self.ref.scores(rec["q"]), rec["k"])
        want = self.ref.agg(rec["q"], inputs.TERMS_SIZE, inputs.HIST_INTERVAL)
        got = rec["out"]
        hits = [(int(r["doc_id"]), float(r["score"])) for r in got["hits"]]
        m = got["metrics"][0]
        stats = (m["n_chars_count"], m["n_chars_sum"], m["n_chars_min"], m["n_chars_max"])
        return (
            topk_ok(hits, self.ref.scores(rec["q"]), self.AGG_K)
            and m["count"] == want["count"] and stats == want["n_chars"]
            and (want["count"] == 0 or close(m["n_chars_avg"], want["n_chars"][1] / want["count"]))
            and [(r["lang"], r["count"]) for r in got["by_lang"]] == want["by_lang"]
            and sorted((float(r["bucket"]), r["count"]) for r in got["hist"]) == want["hist"]
        )

    def named(self) -> dict:
        h = self.h
        search = h.latencies("search")
        return {
            "search_p50_s": _median(search),
            "search_p90_s": float(np.percentile(search, 90)) if search else float("nan"),
            "search_samples": len(search),
            "agg_p50_s": _median(h.latencies("agg")),
            "agg_samples": len(h.latencies("agg")),
        }

    def storage_ratio(self) -> float:
        return 0.0  # the index lives in executor memory only

    def end_to_end(self, elapsed: float) -> dict:
        h = self.h
        done = [o for o in h.window_ops() if o["ok"]]
        return {
            "op_p50_s": _median(h.latencies("search")),
            "aux_p50_s": _median(h.latencies("agg")),
            "throughput_per_s": len(done) / elapsed,
        }


class IngestMixed:
    """Appends beside uncached reads on a persisted index."""

    N_BASE = 500
    OP_KIND = "append"
    #: Fixed batch size: a window holds few appends, so a seeded size would
    #: move docs/s with the seed rather than with the engine.
    BATCH = 200
    READ_K = 10

    def __init__(self, h: Harness, rng: np.random.Generator, workdir: str):
        self.h, self.rng = h, rng
        self.ref = Reference()
        self.dir = os.path.join(workdir, "index")
        self.n_docs = 0
        self.batch_no = 0
        self.input_bytes = 0
        self.queries: list[str] = []
        self.last_reads: list[dict | None] = [None, None]

    def setup(self) -> None:
        h, spark = self.h, self.h.spark
        base = inputs.documents(self.rng, 0, self.N_BASE)
        self.texts = base["content"]

        def build():
            with h.tracer.span("build.build_persistent_index"):
                return build_persistent_index(
                    spark, spark.createDataFrame(base), self.dir, num_groups=1)

        self._grow(base)
        h.op("build", build, n_docs=self.n_docs)
        # Fixed-length warm-up: one append with its reads, so the window's
        # appends and reads are none of them the session's first.
        self.request("append")

    def _grow(self, docs) -> None:
        self.ref.add(docs)
        self.n_docs += len(docs)
        self.input_bytes += int(docs["content"].str.len().sum())

    def passes(self):
        """Endless cycles of an append, then a compaction (one append per
        compaction keeps a run near a minute). Each write is followed by two
        reads, each ``load_index`` plus one query: after an append, one
        query looks for a term of the new batch and one for a common word;
        after a compaction both queries repeat."""
        while True:
            yield ["cycle"]

    def request(self, kind: str) -> dict:
        """``append`` or ``compact``: one write and the reads after it,
        returning the write's record; ``cycle``: an append, then a
        compaction."""
        if kind == "cycle":
            self.request("append")
            return self.request("compact")
        rec = self._append() if kind == "append" else self._compact()
        self.last_reads = [self._read(q, rec["kind"], prior)
                           for q, prior in zip(self.queries, self.last_reads)]
        return rec

    def _append(self) -> dict:
        h = self.h
        self.batch_no += 1
        marker = f"append{self.batch_no}"
        docs = inputs.documents(self.rng, self.n_docs, self.BATCH)
        docs["content"] = docs["content"] + " " + marker
        docs["n_chars"] = docs["content"].str.len()
        before = _dir_bytes(self.dir) if h.meter else 0
        # The engine numbers appended documents from its own next id, so
        # the batch carries ids local to the batch.
        batch = docs.assign(doc_id=docs["doc_id"] - self.n_docs)
        self._grow(docs)
        words = self.rng.choice(inputs.VOCAB, 2)
        self.queries = [f"{marker} {words[0]}", str(words[1])]

        def append():
            with h.tracer.span("manifest.append_documents"):
                append_documents(h.spark, self.dir, h.spark.createDataFrame(batch),
                                 commit_token=marker)

        rec = h.op("append", append, n_docs=len(docs))
        if h.meter:
            rec["bytes_written"] = _dir_bytes(self.dir) - before
            rec["input_bytes"] = int(docs["content"].str.len().sum())
        return rec

    def _compact(self) -> dict:
        h = self.h

        def compact():
            with h.tracer.span("manifest.compact_index"):
                compact_index(h.spark, self.dir,
                              num_segments=h.spark.sparkContext.defaultParallelism)

        rec = h.op("compact", compact)
        if h.meter:
            rec["bytes_rewritten"] = _dir_bytes(self.dir)
        return rec

    def _read(self, q: str, after: str, prior: dict | None) -> dict:
        """``load_index`` plus one query. After a compaction the result must
        equal ``prior``, the same query's result before it."""
        h = self.h

        def read():
            with h.tracer.span("manifest.load_index"):
                idx = load_index(h.spark, self.dir)
            return idx.stats.num_docs, _search(h, idx, q, self.READ_K), idx

        rec = h.op("read", read, decode=True, q=q, n=self.n_docs, after=after,
                   same_as=prior if after == "compact" else None)
        if "spark" in rec and rec["ok"]:
            rec["live_files"] = sum(len(fs) for _, _, fs in os.walk(self.dir))
            rec["blocks_total"] = rec["out"][2].postings.filter(
                F.col("term").isin(_terms(q))).count()
            h.meter.skip_to_now()
        return rec

    def check(self, rec: dict) -> bool:
        if rec["kind"] != "read":
            return True  # writes are checked by the reads that follow them
        n_docs, rows, _ = rec["out"]
        ok = n_docs == rec["n"] and topk_ok(rows, self.ref.scores(rec["q"], rec["n"]), self.READ_K)
        prior = rec.get("same_as")
        if prior is not None and prior["ok"]:
            ok = ok and len(rows) == len(prior["out"][1]) and all(
                a[0] == b[0] and close(a[1], b[1]) for a, b in zip(rows, prior["out"][1]))
        return ok

    def named(self) -> dict:
        h = self.h
        appended = sum(o["n_docs"] for o in h.window_ops("append") if o["ok"])
        return {
            "append_p50_s": _median(h.latencies("append")),
            "append_samples": len(h.latencies("append")),
            "read_after_append_p50_s": _median(
                [o["s"] for o in h.window_ops("read") if o["ok"] and o["after"] == "append"]),
            "read_samples": len(h.latencies("read")),
            "compact_p50_s": _median(h.latencies("compact")),
            "compact_samples": len(h.latencies("compact")),
            "docs_appended": appended,
        }

    def storage_ratio(self) -> float:
        return _dir_bytes(self.dir) / self.input_bytes

    def end_to_end(self, elapsed: float) -> dict:
        h = self.h
        appended = sum(o["n_docs"] for o in h.window_ops("append") if o["ok"])
        return {
            "op_p50_s": _median(h.latencies("append")),
            "aux_p50_s": _median(h.latencies("read")),
            "throughput_per_s": appended / elapsed,
        }


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def _terms(q: str) -> list[str]:
    """The terms whose posting blocks the engine decodes for ``q``."""
    parsed = parse_query(q)
    return parsed.scored_terms + parsed.must_not


def trace_term_stats(h: Harness) -> None:
    """Time the engine's term-statistics lookups and count their memo
    misses, by wrapping the function ``sparktext.query`` calls."""
    import sparktext.query as query

    inner = query.term_stats

    def traced(index, terms):
        known = set(getattr(index, "_tstats", {}))
        with h.tracer.span("score.term_stats"):
            out = inner(index, terms)
        if h.current is not None:
            misses = len({t for t in terms if t} - known)
            h.current["tstats_misses"] = h.current.get("tstats_misses", 0) + misses
        return out

    query.term_stats = traced


WORKLOADS = {"fixture_interactive": FixtureInteractive, "ingest_mixed": IngestMixed}

END_TO_END_UNITS = {"setup_s": "s", "op_p50_s": "s", "aux_p50_s": "s",
                    "throughput_per_s": "1/s"}

PER_LAYER_UNITS = {
    "tokenizer.docs_per_s": "1/s", "codec.encode_mb_per_s": "MB/s",
    "codec.decode_mb_per_s": "MB/s", "query.plan_s": "s",
    "score.term_stats_s": "s", "score.term_stats_misses": "count",
    "spark.jobs_per_op": "count", "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count", "spark.driver_gap_s": "s",
    "spark.executor_cpu_s": "s", "spark.executor_run_s": "s",
    "spark.shuffle_bytes": "bytes", "spark.gc_s": "s",
    "python.total_s": "s", "python.boot_s": "s", "python.init_s": "s",
    "python.bytes_sent": "bytes", "blocks_decoded": "count",
    "blocks_decoded_frac": "ratio", "aggs.collect_s": "s",
    "build.build_s": "s", "build.jobs": "count",
    "manifest.append_jobs": "count",
    "manifest.bytes_written_per_input_byte": "ratio", "manifest.load_s": "s",
    "manifest.live_files": "count", "manifest.compact_bytes_rewritten": "bytes",
    "storage.index_bytes_per_input_byte": "ratio",
    "self.query_s": "s", "self.score_s": "s", "self.topk_s": "s",
    "self.aggs_s": "s", "self.manifest_s": "s", "self.build_s": "s",
    "trace.meter_s_per_op": "s", "trace.op_p50_s": "s",
}
