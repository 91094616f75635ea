"""Phase spans around the layers' public entry points, and the per-layer
table built from them and Spark's in-process status store.

A span opens when an entry point is called and closes when the next one
is called.  DataFrames are lazy, so the Spark work an entry point sets up
usually runs later, inside whichever span is open when an action fires:
that work is charged to that span's layer.  Each span also sets a Spark
job group, so a job submitted from the driver thread is charged by its
group; a job submitted from another thread (the catalog writes its
tables from a thread pool) carries no group and is charged to the span
that was open when it was submitted.

Spans stay in memory.  Stage metrics are read from the status store once,
after the measured loop.
"""

from __future__ import annotations

import bisect
import statistics
import time
from contextlib import contextmanager

LAYERS = (
    "pipeline",
    "scheduler",
    "urls",
    "dedup",
    "scrape",
    "traversal",
    "multimodal",
    "catalog",
    "session",
)
GROUP_PREFIX = "crawlbench:"
UNCHARGED = "crawlbench-uncharged"  # the tracer's own counting jobs
MB = 1 << 20


class Tracer:
    def __init__(self, spark, session_s: float):
        self.spark = spark
        self.session_s = session_s  # get_spark's wall time, from set-up
        self.spans: list[list] = []  # [layer, name, start, end, seconds not charged]
        self.waves: list[tuple[float, float]] = []  # (start, end) of each crawl wave
        self.iterations: list[tuple[float, float]] = []
        self.pinned_peak = 0.0
        self._pinned_base = 0.0
        self.counts: dict[str, float] = {}
        self._patches: list[tuple] = []

    # -------------------------------------------------------------- spans
    def enter(self, layer: str, name: str) -> None:
        now = time.time()
        if self.spans and self.spans[-1][3] is None:
            self.spans[-1][3] = now
        self.spans.append([layer, name, now, None, 0.0])
        self.spark.sparkContext.setJobGroup(f"{GROUP_PREFIX}{len(self.spans) - 1}", name)

    def close(self) -> None:
        if self.spans and self.spans[-1][3] is None:
            self.spans[-1][3] = time.time()
        # jobs of the untraced iterations that follow stay out of the table
        self.spark.sparkContext.setJobGroup(UNCHARGED, "between iterations")

    def uncharged_count(self, df) -> int:
        """Count rows under a job group the layer table skips; the time
        it takes is part of the tracing overhead."""
        sc = self.spark.sparkContext
        group = f"{GROUP_PREFIX}{len(self.spans) - 1}"
        sc.setJobGroup(UNCHARGED, "tracer count")
        t0 = time.time()
        try:
            return df.count()
        finally:
            self.spans[-1][4] += time.time() - t0
            sc.setJobGroup(group, self.spans[-1][1])

    def stored_mb(self) -> float:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / MB

    def mark_wave(self, start: float, end: float) -> None:
        self.waves.append((start, end))
        self.pinned_peak = max(self.pinned_peak, self.stored_mb() - self._pinned_base)

    @contextmanager
    def iteration(self):
        self._pinned_base = self.stored_mb()
        start = time.time()
        try:
            yield
        finally:
            self.close()
            self.iterations.append((start, time.time()))

    # ------------------------------------------------------------ patches
    def wrap(
        self, owner, attr: str, layer: str, after: str | None = None, count: str | None = None
    ) -> None:
        """Replace ``owner.attr`` so each call opens a ``layer`` span.  With
        ``after``, the call is eager and a span of that layer opens when it
        returns; with ``count``, the rows of the call's first argument are
        added to that counter."""
        orig = getattr(owner, attr)
        tracer = self
        name = f"{layer}.{attr}"

        def traced(*args, **kwargs):
            tracer.enter(layer, name)
            if count is not None:
                tracer.counts[count] = tracer.counts.get(count, 0) + tracer.uncharged_count(args[0])
            try:
                return orig(*args, **kwargs)
            finally:
                if after is not None:
                    tracer.enter(after, f"{after}.after_{attr}")

        traced.__wrapped__ = orig
        self._patches.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def unpatch(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # -------------------------------------------------------------- table
    def _layer_of_time(self, t: float) -> str | None:
        starts = [s[2] for s in self.spans]
        i = bisect.bisect_right(starts, t) - 1
        if i < 0:
            return None
        end = self.spans[i][3]
        return self.spans[i][0] if end is None or t < end else None

    def layer_table(self, per: float) -> dict[str, float]:
        """Per-layer metrics over the traced iterations, each divided by
        ``per`` (the number of crawls or waves traced)."""
        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        gw = sc._gateway
        quant = gw.new_array(gw.jvm.double, 2)
        quant[0], quant[1] = 0.5, 1.0
        lo = min(s for s, _ in self.iterations)
        hi = max(e for _, e in self.iterations)

        jobs = []  # (job_id, layer, submit_s, complete_s, stage_ids)
        spans_of_jobs = []  # (submit_s, complete_s) of every job, the tracer's own too
        jl = store.jobsList(None)
        for k in range(jl.size()):
            j = jl.apply(k)
            if not j.submissionTime().isDefined():
                continue
            sub = j.submissionTime().get().getTime() / 1000.0
            if sub < lo or sub > hi:
                continue
            done = j.completionTime().get().getTime() / 1000.0 if j.completionTime().isDefined() else hi
            spans_of_jobs.append((sub, done))
            group = j.jobGroup().get() if j.jobGroup().isDefined() else None
            if group == UNCHARGED:
                continue
            if group and group.startswith(GROUP_PREFIX):
                layer = self.spans[int(group[len(GROUP_PREFIX):])][0]
            else:
                layer = self._layer_of_time(sub)
            if layer is None:
                continue
            ids = j.stageIds()
            stage_ids = [int(ids.apply(i)) for i in range(ids.size())]
            jobs.append((int(j.jobId()), layer, sub, done, stage_ids))

        stage_layer: dict[int, str] = {}
        for _id, layer, _s, _d, stage_ids in sorted(jobs):
            for sid in stage_ids:
                stage_layer.setdefault(sid, layer)

        acc = {
            L: {"wall_s": 0.0, "jobs": 0, "executor_s": 0.0, "shuffle_read_mb": 0.0,
                "shuffle_write_mb": 0.0, "spill_mb": 0.0, "failed_tasks": 0, "bytes": 0,
                "skew_w": 0.0, "skew_t": 0.0}
            for L in LAYERS
        }
        for layer, _name, start, end, uncharged in self.spans:
            acc[layer]["wall_s"] += (end or start) - start - uncharged
        for _id, layer, *_rest in jobs:
            acc[layer]["jobs"] += 1
        sl = store.stageList(None, False, True, quant, None)
        for k in range(sl.size()):
            s = sl.apply(k)
            layer = stage_layer.get(int(s.stageId()))
            if layer is None:
                continue
            a = acc[layer]
            run_s = s.executorRunTime() / 1000.0
            a["executor_s"] += run_s
            a["shuffle_read_mb"] += s.shuffleReadBytes() / MB
            a["shuffle_write_mb"] += s.shuffleWriteBytes() / MB
            a["spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / MB
            a["failed_tasks"] += int(s.numFailedTasks())
            a["bytes"] += int(s.outputBytes())
            dist = s.taskMetricsDistributions()
            if s.numTasks() >= 2 and dist.isDefined():
                q = dist.get().executorRunTime()
                med, mx = float(q.apply(0)), float(q.apply(1))
                if med > 0:
                    # stage skew (max/median task time), weighted by the
                    # stage's executor time so tiny stages do not dominate
                    a["skew_w"] += run_s * mx / med
                    a["skew_t"] += run_s

        out: dict[str, float] = {}
        for L in LAYERS:
            a = acc[L]
            out[f"{L}.wall_s"] = a["wall_s"] / per
            out[f"{L}.jobs"] = a["jobs"] / per
            out[f"{L}.executor_s"] = a["executor_s"] / per
            out[f"{L}.shuffle_read_mb"] = a["shuffle_read_mb"] / per
            out[f"{L}.shuffle_write_mb"] = a["shuffle_write_mb"] / per
            out[f"{L}.spill_mb"] = a["spill_mb"] / per
            out[f"{L}.task_skew"] = a["skew_w"] / a["skew_t"] if a["skew_t"] else 0.0
            out[f"{L}.failed_tasks"] = a["failed_tasks"] / per
        out["session.wall_s"] = self.session_s
        out["catalog.bytes_written"] = acc["catalog"]["bytes"] / per

        # per-wave orchestration: jobs, and wall time no Spark job covers
        if self.waves:
            n_jobs, gaps = 0, []
            for ws, we in self.waves:
                n_jobs += sum(1 for _i, _l, s, _d, _ids in jobs if ws <= s < we)
                ivs = sorted((s, min(d, we)) for s, d in spans_of_jobs if ws <= s < we)
                covered, cur_s, cur_e = 0.0, None, None
                for s, e in ivs:
                    if cur_e is None or s > cur_e:
                        if cur_e is not None:
                            covered += cur_e - cur_s
                        cur_s, cur_e = s, e
                    else:
                        cur_e = max(cur_e, e)
                if cur_e is not None:
                    covered += cur_e - cur_s
                gaps.append((we - ws) - covered)
            out["pipeline.jobs_per_wave"] = n_jobs / len(self.waves)
            out["pipeline.driver_gap_s"] = statistics.fmean(gaps)
        else:
            out["pipeline.jobs_per_wave"] = 0.0
            out["pipeline.driver_gap_s"] = 0.0
        out["pipeline.pinned_mb"] = self.pinned_peak
        return out
