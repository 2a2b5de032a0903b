"""sparktext benchmark: one workload, one seed, one measured window.

Usage, from the root of a checkout::

    python3 perfbench/run.py --workload fixture_interactive --seed 1 \\
        --seconds 12 --trace 0

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer ones. The line
before it carries the workload's own metric names, the warm-up length and
the host context. See ``perfbench/README.md`` for what each metric means.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time

def cpu_probe_s() -> float:
    """Median time of a fixed single-threaded Python loop: the host's speed
    at that moment, so that runs made under different contention can be
    told apart."""
    def once() -> float:
        t = time.perf_counter()
        x = 0
        for i in range(300_000):
            x += i * i % 7
        return time.perf_counter() - t

    return statistics.median(once() for _ in range(5))


def host_context() -> dict:
    from meter import cpu_jiffies

    return {"nproc": len(os.sched_getaffinity(0)), "loadavg_1m": os.getloadavg()[0],
            "cpu_probe_s": cpu_probe_s(), "jiffies": cpu_jiffies()}


def steal_frac(j0: list[int], j1: list[int]) -> float:
    d = [b - a for a, b in zip(j0, j1)]
    return d[7] / sum(d) if len(d) > 7 and sum(d) else 0.0


def start_spark(root: str, run_dir: str, cores: int):
    from sparktext import get_spark

    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Python workers inherit the JVM's environment, which inherits ours.
    os.environ["TMPDIR"] = tmp
    spark = get_spark(
        app_name="sparktext-perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # Workers import sparktext from the checkout, wherever the
            # command was started.
            "spark.executorEnv.PYTHONPATH": root,
            "spark.local.dir": os.path.join(run_dir, "spark-local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    worker daemon) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def run_window(h, wl, seconds: float) -> float:
    """The measured closed loop: whole passes until ``seconds`` have gone
    by, so every window holds the same requests and a traced run's counts
    repeat exactly. Returns the window's elapsed time."""
    h.phase = "window"
    if h.meter:
        h.meter.skip_to_now()
    t0 = time.perf_counter()
    for batch in wl.passes():
        for req in batch:
            wl.request(req)
        if time.perf_counter() - t0 >= seconds:
            return time.perf_counter() - t0


def layer_metrics(h, wl) -> dict:
    """Per-layer numbers of a traced run, averaged per window operation."""
    import layers

    ops = h.window_ops()
    ids = {i for i, o in enumerate(h.ops) if o["phase"] == "window"}
    reads = [o for o in ops if o["kind"] in ("search", "agg", "read")]
    n = max(len(ops), 1)

    def spark_sum(key, sel=ops):
        return sum(o["spark"][key] for o in sel)

    def span_s(names, op_ids):
        return sum(s[2] - s[1] for s in h.tracer.spans
                   if s[0] in names and s[4] in op_ids)

    build = h.ops[0]
    appends = [o for o in ops if o["kind"] == "append"]
    compacts = [o for o in ops if o["kind"] == "compact"]
    n_aggs = sum(o["kind"] == "agg" for o in ops)
    blocks_total = sum(o.get("blocks_total", 0) for o in reads)
    self_s = h.tracer.self_seconds(ids)
    meter_s = sum(s[2] - s[1] for s in h.tracer.spans if s[0] == "trace.meter")
    out = layers.measure(wl.texts)
    out.update({
        "query.plan_s": span_s({"query.plan", "aggs.plan"}, ids) / max(len(reads), 1),
        "score.term_stats_s": span_s({"score.term_stats"}, ids) / max(len(reads), 1),
        "score.term_stats_misses": sum(o.get("tstats_misses", 0) for o in reads) / max(len(reads), 1),
        "spark.jobs_per_op": spark_sum("spark.jobs") / n,
        "spark.stages_per_op": spark_sum("spark.stages") / n,
        "spark.tasks_per_op": spark_sum("spark.tasks") / n,
        "spark.driver_gap_s": spark_sum("spark.driver_gap_s") / n,
        "spark.executor_cpu_s": spark_sum("spark.executor_cpu_s") / n,
        "spark.executor_run_s": spark_sum("spark.executor_run_s") / n,
        "spark.shuffle_bytes": spark_sum("spark.shuffle_bytes") / n,
        "spark.gc_s": spark_sum("spark.gc_s") / n,
        "python.total_s": spark_sum("python.total_s") / n,
        "python.boot_s": spark_sum("python.boot_s") / n,
        "python.init_s": spark_sum("python.init_s") / n,
        "python.bytes_sent": spark_sum("python.bytes_sent") / n,
        "blocks_decoded": spark_sum("blocks_decoded", reads) / max(len(reads), 1),
        "blocks_decoded_frac": (spark_sum("blocks_decoded", reads) / blocks_total
                                if blocks_total else 0.0),
        "aggs.collect_s": span_s({"aggs.collect"}, ids) / max(n_aggs, 1),
        "build.build_s": build["s"],
        "build.jobs": build["spark"]["spark.jobs"],
        "manifest.append_jobs": (spark_sum("spark.jobs", appends) / len(appends)
                                 if appends else 0.0),
        "manifest.bytes_written_per_input_byte": (
            sum(o["bytes_written"] for o in appends) / sum(o["input_bytes"] for o in appends)
            if appends else 0.0),
        "manifest.load_s": span_s({"manifest.load_index"}, ids) / max(
            sum(o["kind"] == "read" for o in ops), 1),
        "manifest.live_files": ops[-1].get("live_files", 0),
        "manifest.compact_bytes_rewritten": (
            statistics.median(o["bytes_rewritten"] for o in compacts) if compacts else 0.0),
        "storage.index_bytes_per_input_byte": wl.storage_ratio(),
        # The build and the window's operations are metered.
        "trace.meter_s_per_op": meter_s / (n + 1),
        "trace.op_p50_s": wl.end_to_end(1.0)["op_p50_s"],
    })
    for layer in ("query", "score", "topk", "aggs", "manifest"):
        out[f"self.{layer}_s"] = self_s.get(layer, 0.0) / n
    out["self.build_s"] = h.tracer.self_seconds({0}).get("build", 0.0)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_start = time.perf_counter()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "sparktext", "__init__.py")):
        print("perfbench: no sparktext package in the current directory; "
              "run from the root of a sparktext checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    import numpy as np

    import workloads
    from meter import RssSampler, cpu_jiffies

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    traced = bool(args.trace)
    run_dir = os.path.join(root, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    host = host_context()
    rng = np.random.default_rng(args.seed)
    try:
        with RssSampler() as rss:
            t0 = time.perf_counter()
            spark = start_spark(root, run_dir, host["nproc"])
            session_s = time.perf_counter() - t0
            try:
                h = workloads.Harness(spark, traced)
                wl = workloads.WORKLOADS[args.workload](h, rng, run_dir)
                if traced:
                    workloads.trace_term_stats(h)
                wl.setup()
                setup_s = time.perf_counter() - t0
                elapsed = run_window(h, wl, args.seconds)
                h.phase = "check"
                wrong = [o for o in h.ops if o["ok"] and not wl.check(o)]
                if traced:
                    h.tracer.dump(os.path.join(root, ".perfbench", f"trace-{args.workload}-{args.seed}.json"))
                    metrics = layer_metrics(h, wl)
                    units = workloads.PER_LAYER_UNITS
                else:
                    metrics = {"setup_s": setup_s, **wl.end_to_end(elapsed)}
            finally:
                stop_spark(spark)
        if not traced:
            units = workloads.END_TO_END_UNITS
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    attempted = len(h.ops)
    failed = sum(not o["ok"] for o in h.ops) + len(wrong)
    info = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "named": {**wl.named(), "setup_s": setup_s, "peak_rss_mb": rss.peak_bytes / 2 ** 20,
                  "failed_frac": failed / attempted},
        "setup": {"session_s": session_s, "build_s": h.ops[0]["s"], "seconds": setup_s},
        "warmup": {"ops": sum(o["phase"] == "setup" for o in h.ops) - 1,
                   "seconds": setup_s - session_s - h.ops[0]["s"]},
        "window": {"seconds": elapsed, "ops": len(h.window_ops()),
                   "drift": h.drift(wl.OP_KIND)},
        "host": {"nproc": host["nproc"], "loadavg_1m_at_start": host["loadavg_1m"],
                 "steal_frac": steal_frac(host["jiffies"], cpu_jiffies()),
                 "cpu_probe_s_at_start": host["cpu_probe_s"], "cpu_probe_s_at_end": cpu_probe_s()},
        "wrong": [{k: o.get(k) for k in ("kind", "phase", "q")} for o in wrong][:10],
    }
    bad = sorted(k for k, v in metrics.items() if not math.isfinite(v))
    if bad:  # e.g. every request of a kind failed
        print(f"perfbench: no value for {bad}", file=sys.stderr)
        return 1
    info["wall_s"] = time.perf_counter() - t_start
    info["ops"] = [(o["phase"], o["kind"], o.get("qid") or o.get("q"), round(o["s"], 3)) for o in h.ops]
    print(json.dumps(info))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
