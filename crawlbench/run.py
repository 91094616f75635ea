#!/usr/bin/env python3
"""Run one crawlbench workload with one seed and print its metrics.

    python3 crawlbench/run.py --workload crawl_polite --seed 1 --seconds 15 --trace 0

Workloads: crawl_polite, frontier_wave, crawl_images (see README.md in
this directory).  With ``--trace 0`` the timed loop runs untraced and the
last stdout line is a JSON object holding the end-to-end metrics; with
``--trace 1`` untraced and traced iterations alternate and the JSON holds
the per-layer table plus the tracing overhead.  Lines before the last
one are a readable summary; progress goes to stderr.

Everything the run writes stays under ``.crawlbench/`` at the repository
root: the input cache (kept between runs) and one scratch directory per
run (shuffle files, JVM temp files, snapshot catalogs; removed at exit).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ("crawl_polite", "frontier_wave", "crawl_images")
MAX_CPUS = 4
DRIVER_MEMORY = "2g"


def log(msg: str) -> None:
    print(f"[crawlbench] {msg}", file=sys.stderr, flush=True)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def prepare_env(work: str) -> int:
    """Environment the driver JVM and its Python workers inherit; must be
    set before the first SparkSession starts."""
    cpus = min(MAX_CPUS, len(os.sched_getaffinity(0)))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(os.path.join(work, "spark-local"), exist_ok=True)
    # workers import crawl4ai_spark by module path, from any launch dir
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    return cpus


def start_session(work: str, cpus: int):
    from crawl4ai_spark.session import get_spark

    jvm_opts = f"-Xlog:disable -XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    return get_spark(
        master=f"local[{cpus}]",
        app_name="crawlbench",
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": jvm_opts,
            "spark.executor.extraJavaOptions": jvm_opts,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # keep every job and stage of the run in the status store
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark, then the JVM, and wait until every child process ended."""
    from pyspark import SparkContext

    from crawlbench.procs import wait_children_gone

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
            proc.wait(timeout=60)
    left = wait_children_gone()
    if left:
        log(f"processes still alive after shutdown: {left}")


def failed_job_times(spark, lo: float, hi: float) -> list[float]:
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = store.jobsList(None)
    out = []
    for k in range(jobs.size()):
        j = jobs.apply(k)
        if j.status().toString() == "FAILED" and j.submissionTime().isDefined():
            t = j.submissionTime().get().getTime() / 1000.0
            if lo <= t <= hi:
                out.append(t)
    return out


def timed_loop(wl, seconds: float, tracer=None):
    """Iterations back to back until ``seconds`` have passed (at least
    one).  With a tracer, untraced and traced iterations alternate."""
    plain, traced, raised = [], [], 0
    start = time.time()
    while True:
        try:
            plain.append(wl.iterate())
            if tracer is not None:
                wl.tracer = tracer
                wl.patch(tracer)
                try:
                    with tracer.iteration():
                        traced.append(wl.iterate())
                finally:
                    tracer.unpatch()
                    wl.tracer = None
        except Exception:
            traceback.print_exc()
            raised = 1
            break
        if time.time() - start >= seconds:
            break
    return plain, traced, raised, start, time.time()


def main(argv=None) -> int:
    args = parse_args(argv)
    # a TERM (e.g. a timeout) unwinds through the clean-up below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, "crawl4ai_spark", "pipeline.py")):
        log(f"no crawl4ai_spark package next to {HERE}; run from a checkout of the repository")
        return 2
    base = os.path.join(ROOT, ".crawlbench")
    cache = os.path.join(base, "cache")
    work = os.path.join(base, f"run-{os.getpid()}")
    os.makedirs(cache, exist_ok=True)
    cpus = prepare_env(work)
    sys.path.insert(0, ROOT)

    from crawlbench.procs import RssSampler
    from crawlbench.trace import Tracer
    from crawlbench.workloads import WORKLOADS

    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(work, cpus)
        session_s = time.perf_counter() - t0
        wl = WORKLOADS[args.workload](spark, work, cache, args.seed)
        t0 = time.perf_counter()
        wl.generate()
        log(f"{args.workload} seed {args.seed}: inputs ready in {time.perf_counter() - t0:.1f}s")
        setup_s = session_s + wl.setup()
        log(f"set-up {setup_s:.2f}s: session {session_s:.2f}s, "
            + ", ".join(f"{k} {v:.2f}s" for k, v in wl.setup_parts.items()))

        tracer = Tracer(spark, session_s) if args.trace else None
        sampler = RssSampler()
        sampler.start()
        plain, traced, raised, lo, hi = timed_loop(wl, args.seconds, tracer)
        peak_rss_mb = sampler.stop()
        log(f"timed loop: {len(plain) + len(traced)} {wl.unit}(s) in {hi - lo:.1f}s; untraced "
            + ", ".join(f"{it['wall_s']:.2f}s" for it in plain))

        if not plain or (tracer is not None and not traced):
            log("no timed iteration completed; no result")
            return 1
        its = plain + traced
        windows = [w for it in its for w in it["waves"]]
        bad = failed_job_times(spark, lo, hi)
        failed_waves = sum(1 for a, b in windows if any(a <= t <= b for t in bad)) + raised
        attempted = len(windows) + raised
        result = wl.check()
        correct = all(result["checks"].values()) and failed_waves == 0
        summary = summarize(wl, plain, setup_s, peak_rss_mb, failed_waves, attempted, result)
        for line in summary["lines"]:
            print(line)
        if tracer is not None:
            metrics = tracer.layer_table(per=len(traced))
            metrics.update(wl.counts(traced, tracer))
            t_plain = statistics.median(it["wall_s"] for it in plain)
            t_traced = statistics.median(it["wall_s"] for it in traced)
            metrics["trace.untraced_iter_s"] = t_plain
            metrics["trace.traced_iter_s"] = t_traced
            metrics["trace.overhead_frac"] = t_traced / t_plain - 1.0
            out = with_units(metrics, "per_layer")
            for line in layer_lines(metrics, declared_units("per_layer")):
                print(line)
        else:
            out = with_units(summary["metrics"], "end_to_end")
        print(json.dumps({"correct": bool(correct), "attempted": attempted,
                          "failed": failed_waves, "metrics": out}), flush=True)
        return 0
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)


def summarize(wl, plain, setup_s, peak_rss_mb, failed, attempted, result) -> dict:
    """End-to-end metrics of the untraced iterations."""
    total_s = sum(it["wall_s"] for it in plain)
    wave_s = [b - a for it in plain for a, b in it["waves"]]
    named = {"setup_s": (setup_s, "s")}
    if wl.name == "frontier_wave":
        rate = wl.n_urls / statistics.median(wave_s)  # the median wave's rate
        named["frontier_urls_per_s"] = (rate, "1/s")
    else:
        named["crawl_pages_per_s"] = (sum(it["pages"] for it in plain) / total_s, "1/s")
        if wl.name == "crawl_images":
            rate = sum(it["images"] for it in plain) / total_s
            named["image_rows_per_s"] = (rate, "1/s")
        else:
            rate = named["crawl_pages_per_s"][0]
    named["wave_s_p50"] = (statistics.median(wave_s), "s")
    named["peak_rss_mb"] = (peak_rss_mb, "MB")
    named["failed_frac"] = (failed / attempted if attempted else 1.0, "1")
    named["parity_mismatch_rows"] = (result["parity_mismatch_rows"], "rows")
    lines = [
        f"crawlbench {wl.name} seed={wl.seed}: {len(plain)} {wl.unit}(s), {len(wave_s)} wave(s)",
        "  " + "  ".join(f"{k}={v:.6g} {u}" for k, (v, u) in named.items()),
        "  checks: " + "  ".join(f"{k}={v}" for k, v in result["checks"].items()),
    ]
    metrics = {
        "throughput_per_s": rate,
        "wave_s_p50": named["wave_s_p50"][0],
        "peak_rss_mb": peak_rss_mb,
        "setup_s": setup_s,
    }
    return {"lines": lines, "metrics": metrics}


def declared_units(section: str) -> dict[str, str]:
    """Metric name → unit, as BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


def with_units(metrics: dict[str, float], section: str) -> dict:
    units = declared_units(section)
    if set(units) != set(metrics):
        raise RuntimeError(f"metrics differ from BENCHMARK.json {section}: {set(units) ^ set(metrics)}")
    return {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}


def layer_lines(metrics: dict, units: dict) -> list[str]:
    from crawlbench.trace import LAYERS

    cols = ["wall_s", "jobs", "executor_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
            "task_skew", "failed_tasks"]
    lines = ["  layer       " + " ".join(f"{c:>16}" for c in cols)]
    for L in LAYERS:
        lines.append(f"  {L:<11} " + " ".join(f"{metrics[f'{L}.{c}']:>16.4g}" for c in cols))
    extra = [k for k in metrics if k.split(".")[1] not in cols]
    lines.append("  " + "  ".join(f"{k}={metrics[k]:.4g} {units[k]}" for k in extra))
    return lines


if __name__ == "__main__":
    sys.exit(main())
