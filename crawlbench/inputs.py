"""Generated inputs and their expected outputs, cached on disk.

The generators are the load generator, not the program under test, so
their cost is kept out of every timed figure: each (workload, seed) is
generated once per checkout and read back from the cache after that.
"""

from __future__ import annotations

import os
import pickle
import shutil

from crawl4ai_spark.functions.urls import normalize_url_for_deep_crawl
from crawl4ai_spark.oracles import corpus_fetch_fn, job_rows
from crawl4ai_spark.sources import corpus as corpus_mod


def _atomic_pickle(obj, path: str) -> None:
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "wb") as f:
        pickle.dump(obj, f, protocol=pickle.HIGHEST_PROTOCOL)
    os.replace(tmp, path)


def _load_pickle(path: str):
    # only files this benchmark wrote into its own cache directory
    with open(path, "rb") as f:
        return pickle.load(f)


class _PayloadMemo:
    """Memo for the corpus's image encoder.  Image pixels and format are a
    function of the image id alone (not of the corpus seed), and the
    pure-Python encoders cost ~40 ms an image, so encoded payloads are
    shared by every seed's world."""

    def __init__(self, path: str):
        self.path = path
        self.memo = _load_pickle(path) if os.path.exists(path) else {}
        self.dirty = False
        self.orig = corpus_mod._encode_payload

    def __call__(self, image_id, rgb, pick=None):
        if pick is not None:
            return self.orig(image_id, rgb, pick)
        if image_id not in self.memo:
            self.memo[image_id] = self.orig(image_id, rgb)
            self.dirty = True
        return self.memo[image_id]

    def __enter__(self):
        corpus_mod._encode_payload = self
        return self

    def __exit__(self, *exc):
        corpus_mod._encode_payload = self.orig
        if self.dirty:
            _atomic_pickle(self.memo, self.path)


def crawl_world(cache_dir: str, workload: str, seed: int, shape: dict, job: dict) -> dict:
    """The corpus for one crawl workload and seed, plus what the
    sequential CrawlJob oracle (``oracles.job_rows``) says a crawl of it
    must produce under the same job settings."""
    tag = f"{shape['n_hosts']}x{shape['pages_per_host']}-b{job['wave_budget']:g}-d{job['max_depth']}"
    path = os.path.join(cache_dir, f"{workload}-{seed}-{tag}.pkl")
    if os.path.exists(path):
        return _load_pickle(path)
    with_images = shape["with_images"]
    kwargs = dict(
        seed=seed, n_hosts=shape["n_hosts"], pages_per_host=shape["pages_per_host"],
        images_per_page=1, with_images=with_images,
    )
    if with_images:
        with _PayloadMemo(os.path.join(cache_dir, "image-payloads.pkl")):
            corpus = corpus_mod.generate_corpus(**kwargs)
    else:
        corpus = corpus_mod.generate_corpus(**kwargs)
    seeds = list(zip(corpus["seeds"]["url"], corpus["seeds"]["priority"]))
    robots = dict(zip(corpus["robots"]["host"], corpus["robots"]["rules"]))
    rows = job_rows(
        seeds, corpus_fetch_fn(corpus, canonical=True), robots=robots,
        max_depth=job["max_depth"], max_waves=job["max_waves"], wave_budget=job["wave_budget"],
        default_delay=job["default_delay"],
    )
    world = {"corpus": corpus, "oracle_rows": rows}
    if with_images:
        crawled = {r[0] for r in rows if r[4]}
        world["oracle_image_ids"] = sorted(
            image_id
            for image_id, page in zip(corpus["images"]["image_id"], corpus["images"]["page_url"])
            if normalize_url_for_deep_crawl(page, page) in crawled
        )
    _atomic_pickle(world, path)
    return world


def frontier_world(spark, cache_dir: str, seed: int, n_urls: int, seen_every: int) -> dict:
    """Parquet inputs of the frontier wave: ``synth_frontier`` rows (1/16
    on 8 hot hosts) and the seen set carried from earlier waves (every
    ``seen_every``-th URL by a seeded hash)."""
    from pyspark.sql import functions as F

    base = os.path.join(cache_dir, f"frontier_wave-{seed}-{n_urls}")
    if not os.path.isdir(base):
        tmp = f"{base}.{os.getpid()}.tmp"
        fr = corpus_mod.synth_frontier(spark, n_urls, seed=seed)
        fr.write.mode("overwrite").parquet(os.path.join(tmp, "frontier"))
        fr = spark.read.parquet(os.path.join(tmp, "frontier"))
        seen = fr.filter(F.pmod(F.xxhash64("url", F.lit(seed)), F.lit(seen_every)) == 0).select("url")
        seen.write.mode("overwrite").parquet(os.path.join(tmp, "seen"))
        try:
            os.rename(tmp, base)  # publish whole; a concurrent run may have won
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)
    return {"frontier": os.path.join(base, "frontier"), "seen": os.path.join(base, "seen")}
