"""The three workloads.  Each one is a closed loop driven by this process:
the next crawl (or frontier wave) starts when the previous one ends.

Every workload has the same life cycle (run.py drives it); only the
timed loop counts toward the throughput and wave figures:

    session start → generate inputs (cached; not timed) → load and cache
    inputs (LOAD_ROUNDS times, median) → warm-up → timed loop → checks
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from collections import Counter

from pyspark.sql import functions as F

from crawl4ai_spark import pipeline
from crawl4ai_spark.functions import urls
from crawl4ai_spark.operators import dedup, multimodal, scheduler, scrape
from crawl4ai_spark.operators.traversal import canonical_corpus_fetcher
from crawl4ai_spark.pipeline import CrawlJob, JobConfig
from crawl4ai_spark.sources.catalog import SnapshotCatalog

from . import inputs
from .trace import Tracer

LOAD_ROUNDS = 3


class TimedCrawlJob(CrawlJob):
    """CrawlJob that records when each wave ends, so a wave's wall time
    runs from the end of the previous commit (or the start of ``run``) to
    its own commit: snapshot read, the wave, and the snapshot commit."""

    def __init__(self, *args, tracer: Tracer | None = None, **kwargs):
        super().__init__(*args, **kwargs)
        self.tracer = tracer
        self.marks: list[float] = []

    def run(self, max_waves=None):
        self.marks = [time.time()]
        return super().run(max_waves)

    def _wave(self, snap, frontier):
        if self.tracer is not None:
            self.tracer.enter("pipeline", "pipeline.wave")
        out = super()._wave(snap, frontier)
        self.marks.append(time.time())
        if self.tracer is not None:
            self.tracer.mark_wave(self.marks[-2], self.marks[-1])
            self.tracer.enter("pipeline", "pipeline.run_loop")
        return out

    def wave_windows(self) -> list[tuple[float, float]]:
        return list(zip(self.marks, self.marks[1:]))


class Workload:
    name = ""
    unit = ""  # what one timed iteration is

    def __init__(self, spark, work_dir: str, cache_dir: str, seed: int):
        self.spark = spark
        self.work_dir = work_dir
        self.cache_dir = cache_dir
        self.seed = seed
        self.tracer: Tracer | None = None

    # hooks ---------------------------------------------------------------
    def generate(self) -> None: ...

    def load(self) -> None: ...

    def unload(self) -> None: ...

    def warm_up(self) -> None: ...

    def iterate(self) -> dict: ...

    def check(self) -> dict: ...

    def patch(self, tracer: Tracer) -> None: ...

    def counts(self, its: list[dict], tracer: Tracer) -> dict: ...

    # shared --------------------------------------------------------------
    def setup(self) -> float:
        """Load inputs LOAD_ROUNDS times (median kept), then warm up."""
        loads = []
        for i in range(LOAD_ROUNDS):
            if i:
                self.unload()
            t0 = time.perf_counter()
            self.load()
            loads.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        self.warm_up()
        warm = time.perf_counter() - t0
        self.setup_parts = {"load_s": statistics.median(loads), "warm_up_s": warm}
        return statistics.median(loads) + warm


# ---------------------------------------------------------------------------
# crawls
# ---------------------------------------------------------------------------


class CrawlWorkload(Workload):
    unit = "crawl"
    shape: dict = {}
    job: dict = {}
    emit_images = False
    warm_waves = 1
    last: dict | None = None  # the latest timed crawl; check() reads its catalog

    def generate(self) -> None:
        self.world = inputs.crawl_world(self.cache_dir, self.name, self.seed, self.shape, self.job)
        self.oracle_rows = self.world["oracle_rows"]

    def config(self) -> JobConfig:
        j = self.job
        return JobConfig(
            max_depth=j["max_depth"], max_waves=j["max_waves"], wave_budget=j["wave_budget"],
            default_delay=j["default_delay"], emit_images=self.emit_images,
        )

    def load(self) -> None:
        c = self.world["corpus"]
        spark = self.spark
        n = spark.sparkContext.defaultParallelism
        self.pages = spark.createDataFrame(c["pages"]).repartition(2 * n).cache()
        self.robots = spark.createDataFrame(c["robots"]).cache()
        self.seeds = spark.createDataFrame(c["seeds"]).cache()
        self.store = None
        frames = [self.pages, self.robots, self.seeds]
        if self.emit_images:
            self.store = spark.createDataFrame(
                c["images"][["image_id", "bytes", "w", "h", "fmt", "phash"]]
            ).repartition(n).cache()
            frames.append(self.store)
        for df in frames:
            df.count()
        self.fetch = canonical_corpus_fetcher(self.pages)

    def unload(self) -> None:
        for df in (self.pages, self.robots, self.seeds, self.store):
            if df is not None:
                df.unpersist()

    def _crawl(self, max_waves: int | None, tracer: Tracer | None = None) -> dict:
        root = os.path.join(self.work_dir, f"catalog-{time.time_ns()}")
        fetch = self.fetch
        if tracer is not None:
            inner = self.fetch

            def fetch(admitted):
                tracer.enter("traversal", "traversal.fetch")
                return inner(admitted)

        job = TimedCrawlJob(
            self.spark, fetch, catalog_root=root, config=self.config(), robots=self.robots,
            image_store=self.store, tracer=tracer,
        )
        t0 = time.time()
        if tracer is not None:
            tracer.enter("pipeline", "pipeline.seed")
        job.seed(self.seeds)
        summary = job.run(max_waves=max_waves)
        wall = time.time() - t0
        return {"job": job, "root": root, "wall_s": wall, "waves": job.wave_windows(),
                "stats": summary["stats"], "pages": summary["pages_crawled"],
                "images": sum(s["images"] for s in summary["stats"])}

    def warm_up(self) -> None:
        # the first waves of the real world, discarded: Python workers
        # start and import, the JVM compiles, the fetcher's canonical
        # index of the world is built and cached
        it = self._crawl(self.warm_waves)
        shutil.rmtree(it["root"], ignore_errors=True)

    def iterate(self) -> dict:
        it = self._crawl(None, self.tracer)
        if self.last is not None:
            shutil.rmtree(self.last["root"], ignore_errors=True)
        self.last = it
        return it

    def patch(self, tracer: Tracer) -> None:
        tracer.wrap(pipeline, "robots_gate", "scheduler")
        tracer.wrap(pipeline, "schedule_wave", "scheduler")
        tracer.wrap(pipeline, "update_host_state", "scheduler")
        tracer.wrap(pipeline, "salted_range_partition", "scheduler")
        tracer.wrap(pipeline, "normalize_deep_udf", "urls")
        tracer.wrap(pipeline, "anti_join_seen", "dedup")
        tracer.wrap(pipeline, "build_bloom", "dedup")
        tracer.wrap(pipeline, "bloom_version_ok", "dedup")
        tracer.wrap(scrape, "extract_links", "scrape")
        tracer.wrap(scrape, "extract_image_refs", "scrape")
        tracer.wrap(SnapshotCatalog, "commit_wave", "catalog", after="pipeline")
        tracer.wrap(multimodal, "decode_and_validate", "multimodal", count="image_candidates")

    def counts(self, its: list[dict], tracer: Tracer) -> dict:
        stats = [s for it in its for s in it["stats"]]
        sched = sum(s["scheduled"] for s in stats)
        cand = sum(s["discovered"] + s["dedup_hits"] for s in stats)
        ok = sum(s["fetched_ok"] for s in stats)
        images = sum(s["images"] for s in stats)
        img_cand = tracer.counts.get("image_candidates", 0.0)
        return {
            "scheduler.admit_ratio": sum(s["admitted"] for s in stats) / sched if sched else 0.0,
            "dedup.dup_ratio": sum(s["dedup_hits"] for s in stats) / cand if cand else 0.0,
            "scrape.links_per_page": cand / ok if ok else 0.0,
            "multimodal.valid_ratio": images / img_cand if img_cand else 0.0,
        }

    def check(self) -> dict:
        """The last timed crawl against the sequential oracle."""
        job = self.last["job"]
        cols = ["url", "host", "depth", "status_code", "success", "wave_id"]
        got = [tuple(r) for r in job.results().select(*cols).collect()]
        exp = [tuple(r) for r in self.oracle_rows]
        g, e = Counter(got), Counter(exp)
        mismatch = sum(((g - e) + (e - g)).values())
        # what the standing parity defect cannot move: which URLs were
        # seen, and each one's fetch outcome
        seen = {r["url"] for r in job.seen_urls().select("url").distinct().collect()}
        outcome = lambda rows: Counter((u, h, s, ok) for u, h, _d, s, ok, _w in rows)  # noqa: E731
        checks = {
            "seen_set_equal": seen == {r[0] for r in exp},
            "fetch_outcomes_equal": outcome(got) == outcome(exp),
            "pages_equal": self.last["pages"] == sum(1 for r in exp if r[4]),
        }
        if self.emit_images:
            ids = sorted(r["image_id"] for r in job.images().select("image_id").collect())
            checks["image_ids_equal"] = ids == self.world["oracle_image_ids"]
        return {"checks": checks, "parity_mismatch_rows": mismatch}


class CrawlPolite(CrawlWorkload):
    """Politeness binds: a host's queue outgrows what one wave's budget
    admits, so rows carry and age across many small waves."""

    name = "crawl_polite"
    shape = {"n_hosts": 100, "pages_per_host": 12, "with_images": False}
    job = {"max_depth": 10, "max_waves": 100, "wave_budget": 2.0, "default_delay": 1.0}


class CrawlImages(CrawlWorkload):
    """Few heavy waves over the mixed-codec corpus; every commit appends
    image payload rows next to the frontier rows."""

    name = "crawl_images"
    shape = {"n_hosts": 20, "pages_per_host": 13, "with_images": True}
    job = {"max_depth": 2, "max_waves": 100, "wave_budget": 1000.0, "default_delay": 1.0}
    emit_images = True


# ---------------------------------------------------------------------------
# frontier wave
# ---------------------------------------------------------------------------


class FrontierWave(Workload):
    """One large scheduling wave: canonicalize → seen-set anti-join through
    the persisted shard bloom → politeness schedule → salted range
    partition, every column written to a noop sink."""

    name = "frontier_wave"
    unit = "wave"
    n_urls = 200_000
    seen_every = 3
    # 100 admits per host: binds on typical hosts (~125 fresh URLs) and
    # on the 8 hot hosts (~1,000 each)
    wave_budget = 5.0
    default_delay = 0.05

    def generate(self) -> None:
        self.paths = inputs.frontier_world(
            self.spark, self.cache_dir, self.seed, self.n_urls, self.seen_every
        )
        self.n_parts = self.spark.sparkContext.defaultParallelism
        cfg = JobConfig()
        self.bloom_parts, self.bloom_bits = cfg.bloom_partitions, cfg.bloom_bits

    def load(self) -> None:
        spark = self.spark
        self.frontier = spark.read.parquet(self.paths["frontier"]).cache()
        self.seen = spark.read.parquet(self.paths["seen"]).cache()
        self.blooms = dedup.build_bloom(
            self.seen, n_partitions=self.bloom_parts, m_bits=self.bloom_bits
        ).cache()
        for df in (self.frontier, self.seen, self.blooms):
            df.count()

    def unload(self) -> None:
        for df in (self.frontier, self.seen, self.blooms):
            df.unpersist()

    def wave(self, pin):
        """The wave's plan.  ``pin`` runs between layers: identity when
        timing, an eager local checkpoint when tracing (so each layer's
        Spark work runs inside its own span)."""
        canon = pin(self.frontier.withColumn(
            "canon", urls.normalize_deep_udf(F.col("url"), F.col("url"))
        ))
        fresh = pin(dedup.anti_join_seen(
            canon, self.seen, url_col="canon", blooms=self.blooms, n_partitions=self.bloom_parts
        ))
        sched_in = fresh.select(
            F.col("canon").alias("url"), "host", "score", "depth",
            scheduler.priority_bucket_expr(F.col("retry_count"), F.lit(0)).alias("priority_bucket"),
        )
        sched = scheduler.schedule_wave(
            sched_in, None, wave_start=0.0, wave_budget=self.wave_budget,
            default_delay=self.default_delay,
        )
        return scheduler.salted_range_partition(pin(sched), self.n_parts)

    def _run_wave(self) -> tuple[float, float]:
        pin = (lambda df: df.localCheckpoint(eager=True)) if self.tracer else (lambda df: df)
        t0 = time.time()
        self.wave(pin).write.format("noop").mode("overwrite").save()
        return t0, time.time()

    def warm_up(self) -> None:
        # two discarded waves: the first writes every column to parquet
        # instead of the noop sink, and its output is what check() reads;
        # the second warms the noop plan the timed loop runs
        self.check_out = os.path.join(self.work_dir, "frontier-check")
        self.wave(lambda df: df).write.mode("overwrite").parquet(self.check_out)
        self._run_wave()

    def iterate(self) -> dict:
        t0, t1 = self._run_wave()
        return {"wall_s": t1 - t0, "waves": [(t0, t1)], "stats": []}

    def patch(self, tracer: Tracer) -> None:
        tracer.wrap(urls, "normalize_deep_udf", "urls")
        tracer.wrap(dedup, "anti_join_seen", "dedup")
        tracer.wrap(scheduler, "schedule_wave", "scheduler")
        tracer.wrap(scheduler, "salted_range_partition", "scheduler")

    def check(self) -> dict:
        """The warm-up wave's admitted set against DuckDB running the same
        queue discipline over the same parquet inputs."""
        import duckdb

        out = self.check_out
        con = duckdb.connect()
        fr = f"read_parquet('{self.paths['frontier']}/*.parquet')"
        seen = f"read_parquet('{self.paths['seen']}/*.parquet')"
        got = f"read_parquet('{out}/*.parquet')"
        # the synthetic URLs are canonical already (lower-case https host,
        # no query, fragment or trailing slash), so canonicalization is the
        # identity on them: checked here, not assumed
        non_canonical = con.execute(
            f"SELECT count(*) FROM {fr} WHERE NOT regexp_full_match(url, "
            r"'https://host[0-9]+\.example\.com/[a-z0-9]+/p[0-9]+')"
        ).fetchone()[0]
        oracle = f"""
            WITH fresh AS (
              SELECT f.* FROM {fr} f ANTI JOIN (SELECT DISTINCT url FROM {seen}) s ON f.url = s.url
            ), ranked AS (
              SELECT url, host, row_number() OVER (
                PARTITION BY host ORDER BY score DESC, depth ASC, url ASC) AS rn
              FROM fresh
            )
            SELECT url, host, rn FROM ranked
            WHERE (rn - 1) * CAST({self.default_delay} AS DOUBLE) < CAST({self.wave_budget} AS DOUBLE)
        """
        diff = con.execute(f"""
            WITH o AS ({oracle}),
                 g AS (SELECT url, host, rank_in_host AS rn FROM {got} WHERE admitted)
            SELECT (SELECT count(*) FROM (SELECT * FROM o EXCEPT ALL SELECT * FROM g))
                 + (SELECT count(*) FROM (SELECT * FROM g EXCEPT ALL SELECT * FROM o))
        """).fetchone()[0]
        n_fresh, n_admit = con.execute(f"SELECT count(*), count(*) FILTER (WHERE admitted) FROM {got}").fetchone()
        n_seen = con.execute(f"SELECT count(*) FROM {fr} f SEMI JOIN {seen} s ON f.url = s.url").fetchone()[0]
        con.close()
        self.check_counts = {"fresh": n_fresh, "admitted": n_admit, "seen_hits": n_seen}
        return {
            "checks": {
                "urls_canonical": non_canonical == 0,
                "fresh_count_equal": n_fresh == self.n_urls - n_seen,
                "admitted_set_equal": diff == 0,
            },
            "parity_mismatch_rows": int(diff),
        }

    def counts(self, its: list[dict], tracer: Tracer) -> dict:
        c = getattr(self, "check_counts", None) or {"fresh": 0, "admitted": 0, "seen_hits": 0}
        return {
            "scheduler.admit_ratio": c["admitted"] / c["fresh"] if c["fresh"] else 0.0,
            "dedup.dup_ratio": c["seen_hits"] / self.n_urls,
            "scrape.links_per_page": 0.0,
            "multimodal.valid_ratio": 0.0,
        }


WORKLOADS = {w.name: w for w in (CrawlPolite, FrontierWave, CrawlImages)}
