"""Politeness scheduler, robots gate, priority aging, bloom seen-set."""

import pytest
from pyspark.sql import functions as F

from crawl4ai_spark.operators import dedup, scheduler


# ---------------------------------------------------------------------------
# robots
# ---------------------------------------------------------------------------


def test_robots_gate(spark):
    frontier = spark.createDataFrame(
        [
            ("https://a.com/ok", "a.com"),
            ("https://a.com/admin/x", "a.com"),
            ("https://b.com/anything", "b.com"),
            ("https://c.com/x", "c.com"),  # no robots row → allow
        ],
        "url string, host string",
    )
    robots = spark.createDataFrame(
        [
            ("a.com", "User-agent: *\nDisallow: /admin/"),
            ("b.com", "User-agent: *\nDisallow: /"),
        ],
        "host string, rules string",
    )
    got = {r["url"]: r["robots_allowed"] for r in scheduler.robots_gate(frontier, robots).collect()}
    assert got["https://a.com/ok"]
    assert not got["https://a.com/admin/x"]
    assert not got["https://b.com/anything"]
    assert got["https://c.com/x"]


# ---------------------------------------------------------------------------
# priority + aging
# ---------------------------------------------------------------------------


def test_priority_bucket(spark):
    df = spark.createDataFrame(
        [(0, 0), (2, 0), (0, 11), (1, 12)], "retry_count int, wait_waves int"
    )
    got = df.select(
        scheduler.priority_bucket_expr(F.col("retry_count"), F.col("wait_waves")).alias("p")
    ).collect()
    assert [r["p"] for r in got] == [0, 2, -11, -12]


# ---------------------------------------------------------------------------
# wave scheduling
# ---------------------------------------------------------------------------


def _frontier(spark, rows):
    return spark.createDataFrame(
        rows, "url string, host string, depth int, score double, priority_bucket int"
    )


def test_schedule_wave_spacing_and_budget(spark):
    rows = [
        (f"https://h1.com/p{i}", "h1.com", 0, float(10 - i), 0) for i in range(5)
    ] + [(f"https://h2.com/p{i}", "h2.com", 0, 1.0, 0) for i in range(2)]
    frontier = _frontier(spark, rows)
    out = scheduler.schedule_wave(frontier, None, wave_start=0.0, wave_budget=3.0, default_delay=1.0)
    got = {r["url"]: (r["rank_in_host"], r["scheduled_offset"], r["admitted"]) for r in out.collect()}
    # h1: 5 urls ranked by score desc → offsets 0,1,2,3,4; budget 3 admits first 3
    assert got["https://h1.com/p0"] == (1, 0.0, True)
    assert got["https://h1.com/p1"] == (2, 1.0, True)
    assert got["https://h1.com/p2"] == (3, 2.0, True)
    assert got["https://h1.com/p3"][2] is False
    assert got["https://h1.com/p4"][2] is False
    # h2 schedules independently (per-host token bucket)
    assert got["https://h2.com/p0"][1] == 0.0 and got["https://h2.com/p1"][1] == 1.0


def test_schedule_wave_carries_host_state(spark):
    frontier = _frontier(spark, [("https://h1.com/a", "h1.com", 0, 1.0, 0)])
    host_state = spark.createDataFrame(
        [("h1.com", 9.0, 2.0, 0)], scheduler.HOST_STATE_SCHEMA
    )
    out = scheduler.schedule_wave(frontier, host_state, wave_start=10.0, wave_budget=60.0)
    r = out.collect()[0]
    # ready at last(9.0) + delay(2.0) = 11.0 → offset 1.0 into this wave
    assert r["scheduled_offset"] == pytest.approx(1.0)


def test_update_host_state_backoff_and_recovery(spark):
    results = spark.createDataFrame(
        [
            ("h1.com", 429, 0.0),
            ("h1.com", 429, 1.0),
            ("h2.com", 200, 0.0),
        ],
        "host string, status_code int, scheduled_offset double",
    )
    state = scheduler.update_host_state(results, None, wave_start=100.0, base_delay=(1.0, 1.0))
    got = {r["host"]: r for r in state.collect()}
    # h1: delay 1 → *2 → 2 → *2 → 4; fail_count 2
    assert got["h1.com"]["current_delay"] == pytest.approx(4.0)
    assert got["h1.com"]["fail_count"] == 2
    assert got["h1.com"]["last_request_time"] == pytest.approx(101.0)
    # h2: success → delay max(1.0, 1*0.75)=1.0, fail 0
    assert got["h2.com"]["current_delay"] == pytest.approx(1.0)
    assert got["h2.com"]["fail_count"] == 0


def test_update_host_state_preserves_untouched_hosts(spark):
    results = spark.createDataFrame(
        [("h1.com", 200, 0.0)], "host string, status_code int, scheduled_offset double"
    )
    prev = spark.createDataFrame(
        [("h1.com", 1.0, 8.0, 1), ("h9.com", 5.0, 3.0, 2)], scheduler.HOST_STATE_SCHEMA
    )
    state = scheduler.update_host_state(results, prev, wave_start=50.0, base_delay=(1.0, 1.0))
    got = {r["host"]: r for r in state.collect()}
    assert got["h1.com"]["current_delay"] == pytest.approx(6.0)  # 8*0.75
    assert got["h1.com"]["fail_count"] == 0
    assert got["h9.com"]["current_delay"] == pytest.approx(3.0)  # untouched


def test_per_host_topk_skew_proof(spark):
    # one hot host with 500 rows, one cold with 3 — top-5 per host
    rows = [(f"https://hot.com/p{i}", "hot.com", 0, float(i % 97), 0) for i in range(500)]
    rows += [(f"https://cold.com/p{i}", "cold.com", 0, 1.0, 0) for i in range(3)]
    frontier = _frontier(spark, rows)
    out = scheduler.per_host_topk(frontier, 5).collect()
    hot = sorted(
        [(r["rank_in_host"], r["url"]) for r in out if r["host"] == "hot.com"]
    )
    assert len(hot) == 5
    # rank 1 must be the max score (96.0), ties by url asc
    expected_top = sorted(
        [(f"https://hot.com/p{i}", float(i % 97)) for i in range(500)],
        key=lambda x: (-x[1], x[0]),
    )[:5]
    assert [u for _, u in hot] == [u for u, _ in expected_top]
    assert len([r for r in out if r["host"] == "cold.com"]) == 3


# ---------------------------------------------------------------------------
# bloom seen-set
# ---------------------------------------------------------------------------


def test_bloom_no_false_negatives_and_prefilter(spark):
    seen_urls = [(f"https://h{i % 7}.com/seen{i}",) for i in range(2000)]
    new_urls = [(f"https://h{i % 7}.com/new{i}",) for i in range(2000)]
    seen = spark.createDataFrame(seen_urls, "url string")
    blooms = dedup.build_bloom(seen, n_partitions=8, m_bits=1 << 16)
    cands = spark.createDataFrame(seen_urls + new_urls, "url string")
    tagged = dedup.bloom_maybe_seen(cands, blooms, n_partitions=8)
    rows = tagged.collect()
    fn = [r for r in rows if "seen" in r["url"] and not r["maybe_seen"]]
    assert not fn  # bloom never misses a seen URL
    fp_rate = len([r for r in rows if "new" in r["url"] and r["maybe_seen"]]) / 2000
    assert fp_rate < 0.05

    # end-to-end anti-join equivalence with and without bloom
    got_bloom = {
        r["url"]
        for r in dedup.anti_join_seen(cands, seen, blooms=blooms, n_partitions=8).collect()
    }
    got_exact = {r["url"] for r in dedup.anti_join_seen(cands, seen).collect()}
    assert got_bloom == got_exact == {u for (u,) in new_urls}


def test_bloom_merge(spark):
    a = spark.createDataFrame([(f"https://x.com/a{i}",) for i in range(100)], "url string")
    b = spark.createDataFrame([(f"https://x.com/b{i}",) for i in range(100)], "url string")
    blooms = dedup.merge_blooms(
        dedup.build_bloom(a, n_partitions=4, m_bits=1 << 14).unionByName(
            dedup.build_bloom(b, n_partitions=4, m_bits=1 << 14)
        )
    )
    both = a.unionByName(b)
    tagged = dedup.bloom_maybe_seen(both, blooms, n_partitions=4)
    assert tagged.filter(~F.col("maybe_seen")).count() == 0
    assert blooms.count() <= 4


def test_bloom_broadcast_equals_cogroup(spark):
    """anti_join_seen must produce identical survivors whether the bloom
    test broadcasts (small bloom) or cogroups (big bloom) — for a merged
    bloom, for unmerged multi-delta shards, and for a bloom missing a shard
    id — and the broadcast path must add no columns."""
    from pyspark.sql import functions as F

    from crawl4ai_spark.operators.dedup import anti_join_seen, build_bloom

    cand = spark.range(2000).select(
        F.concat(F.lit("https://h"), (F.col("id") % 7).cast("string"),
                 F.lit(".com/p"), F.col("id").cast("string")).alias("url"),
        F.col("id").alias("n"),
    )
    seen = cand.filter(F.col("url").rlike("p[0-9]*[02468]$")).select("url")
    shard = F.pmod(F.hash("url"), F.lit(8))
    seen_no3 = seen.filter(shard != 3)
    h1 = F.col("url").contains("h1")

    def bloom(df):
        return build_bloom(df, n_partitions=8, m_bits=1 << 16)

    cases = {
        "merged": (seen, bloom(seen)),
        "multi_delta": (seen, bloom(seen.filter(h1)).unionByName(bloom(seen.filter(~h1)))),
        "absent_shard": (seen_no3, bloom(seen_no3)),
    }
    assert cases["multi_delta"][1].groupBy("bloom_part").count().filter("count > 1").count() > 0
    assert 3 not in {r["bloom_part"] for r in cases["absent_shard"][1].collect()}
    assert cand.filter(shard == 3).count() > 0
    for name, (s, blooms) in cases.items():
        via_bcast = anti_join_seen(
            cand, s, blooms=blooms, n_partitions=8, bloom_broadcast_max_bytes=1 << 30
        )
        via_cogroup = anti_join_seen(
            cand, s, blooms=blooms, n_partitions=8, bloom_broadcast_max_bytes=0
        )
        exact = cand.join(s, "url", "left_anti")
        assert via_bcast.columns == cand.columns, name
        a = sorted(tuple(r) for r in via_bcast.collect())
        b = sorted(tuple(r) for r in via_cogroup.select(*cand.columns).collect())
        c = sorted(tuple(r) for r in exact.collect())
        assert a == b == c, name


def test_frontier_wave_plan_shape(spark, monkeypatch):
    """Canonicalize → bloom anti-join keeps its hot path out of Python:
    no MapInPandas, the canonicalization Project is whole-stage codegen'd,
    and every ArrowEvalPython input is either a masked (CASE WHEN … THEN
    col END) href/base or an int64 bloom key that reads the canonical URL
    as a column instead of recomputing it.  Guards against a plan that
    silently falls back to interpreted or per-row-Python execution."""
    import re

    from crawl4ai_spark.functions.urls import normalize_deep_udf

    frontier = spark.range(3000).select(
        F.concat(F.lit("https://Host"), (F.col("id") % 9).cast("string"),
                 F.lit(".example.com/p"), F.col("id").cast("string")).alias("url"),
        (F.col("id") % 5).cast("double").alias("score"),
    )
    seen = frontier.filter(F.col("url").endswith("0")).select("url")
    blooms = dedup.build_bloom(seen, n_partitions=8, m_bits=1 << 16)
    # anti_join_seen pins the tagged frame: record what it pins so the
    # plan under the pin can be inspected after it has run
    pinned = []
    cls = type(frontier)
    orig = cls.localCheckpoint

    def spy(self, *args, **kwargs):
        pinned.append(self)
        return orig(self, *args, **kwargs)

    monkeypatch.setattr(cls, "localCheckpoint", spy)
    canon = frontier.withColumn("canon", normalize_deep_udf(F.col("url"), F.col("url")))
    out = dedup.anti_join_seen(canon, seen, url_col="canon", blooms=blooms, n_partitions=8)
    out.write.format("noop").mode("overwrite").save()
    assert pinned

    def nodes(p):
        yield p
        name = p.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            yield from nodes(p.executedPlan())
        elif name.endswith("QueryStageExec"):
            yield from nodes(p.plan())
        else:
            ch = p.children()
            for i in range(ch.size()):
                yield from nodes(ch.apply(i))

    plans = [d._jdf.queryExecution().executedPlan() for d in pinned + [out]]
    text = "\n".join(p.toString() for p in plans)
    assert "MapInPandas" not in text
    assert re.search(r"\*\(\d+\) Project \[[^\n]*RLIKE[^\n]* AS canon#", text), text
    n_udf_inputs = 0
    for p in plans:
        for node in nodes(p):
            if node.getClass().getSimpleName() != "ArrowEvalPythonExec":
                continue
            udfs = node.udfs()
            for i in range(udfs.size()):
                args = udfs.apply(i).children()
                for j in range(args.size()):
                    e = args.apply(j)
                    n_udf_inputs += 1
                    if e.dataType().typeName() == "long":
                        assert "RLIKE" not in e.toString(), e.toString()
                        continue
                    masked = e.getClass().getSimpleName() == "CaseWhen" and e.elseValue().isEmpty()
                    value = e.branches().apply(0)._2() if masked else None
                    assert masked and value.getClass().getSimpleName() == "AttributeReference", \
                        e.toString()
    assert n_udf_inputs == 5  # masked href + base, three int64 bloom keys


def test_schedule_wave_keeps_tail(spark):
    """Hosts with more queued URLs than the per-wave K keep their tail
    rows (NULL rank, unadmitted) — nothing is dropped."""
    from pyspark.sql import functions as F

    from crawl4ai_spark.operators.scheduler import schedule_wave

    fr = spark.range(12).select(
        F.concat(F.lit("https://hot.com/p"), F.col("id").cast("string")).alias("url"),
        F.lit("hot.com").alias("host"),
        (F.col("id") % 5).cast("double").alias("score"),
        F.lit(0).alias("depth"),
        F.lit(0).alias("priority_bucket"),
    )
    # budget 2.0, delay 1.0 → K = 8, admitted = 2
    out = schedule_wave(fr, None, wave_start=0.0, wave_budget=2.0, default_delay=1.0)
    rows = out.collect()
    assert len(rows) == 12
    ranked = [r for r in rows if r["rank_in_host"] is not None]
    tail = [r for r in rows if r["rank_in_host"] is None]
    assert len(ranked) == 8 and len(tail) == 4
    assert sum(1 for r in rows if r["admitted"]) == 2
    assert all(not r["admitted"] and r["scheduled_offset"] is None for r in tail)


def test_bucketed_seen_anti_join_has_no_shuffle(spark):
    """The 10^10-scale seen-set design: frontier and seen bucketed on the
    canonical URL ⇒ the per-wave anti-join is co-located — ZERO exchanges
    in the executed plan (the seen table is never shuffled again)."""
    import re
    import shutil

    from pyspark.sql import functions as F

    spark.sql("DROP TABLE IF EXISTS frontier_b")
    spark.sql("DROP TABLE IF EXISTS seen_b")
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        urls = spark.range(5000).select(
            F.concat(F.lit("https://h"), (F.col("id") % 7).cast("string"),
                     F.lit(".com/p"), F.col("id").cast("string")).alias("url")
        )
        urls.write.bucketBy(8, "url").sortBy("url").mode("overwrite").saveAsTable("frontier_b")
        urls.filter(F.xxhash64("url") % 2 == 0).write.bucketBy(8, "url").sortBy("url").mode(
            "overwrite"
        ).saveAsTable("seen_b")
        fresh = spark.table("frontier_b").join(spark.table("seen_b"), "url", "left_anti")
        n = fresh.count()
        assert 0 < n < 5000
        ep = fresh._jdf.queryExecution().executedPlan().toString()
        assert len(re.findall(r"Exchange hashpartitioning", ep)) == 0, ep[:2000]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.sql("DROP TABLE IF EXISTS frontier_b")
        spark.sql("DROP TABLE IF EXISTS seen_b")
        shutil.rmtree("spark-warehouse", ignore_errors=True)


def test_hot_host_skew_stress(spark):
    """One host owns 80% of a 100k frontier: the salted two-phase top-K
    must neither lose rows nor put the hot host's queue in one partition's
    window (completes fast; ranks correct)."""
    import time

    from pyspark.sql import functions as F

    from crawl4ai_spark.operators.scheduler import schedule_wave

    n = 100_000
    host = F.when(F.col("id") % 5 < 4, F.lit("hot.example.com")).otherwise(
        F.concat(F.lit("cold"), (F.col("id") % 997).cast("string"), F.lit(".example.com"))
    )
    fr = spark.range(n).select(
        F.concat(F.lit("https://x/p"), F.col("id").cast("string")).alias("url"),
        host.alias("host"),
        (F.col("id") % 1000).cast("double").alias("score"),
        F.lit(0).alias("depth"),
        F.lit(0).alias("priority_bucket"),
    )
    t0 = time.time()
    out = schedule_wave(fr, None, wave_start=0.0, wave_budget=30.0, default_delay=1.0)
    agg = out.groupBy("host").agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("rank_in_host").isNotNull(), 1).otherwise(0)).alias("ranked"),
        F.max("rank_in_host").alias("max_rank"),
        F.sum(F.when(F.col("admitted"), 1).otherwise(0)).alias("admitted"),
    )
    rows = {r["host"]: r for r in agg.collect()}
    dt = time.time() - t0
    hot = rows["hot.example.com"]
    k = 120  # budget 30 / (delay*0.25)
    assert hot["n"] == 80_000          # no row lost
    assert hot["ranked"] == k          # exactly K ranked
    assert hot["max_rank"] == k
    assert hot["admitted"] == 30       # offsets < budget
    assert sum(r["n"] for r in rows.values()) == n
    assert dt < 120, dt


def test_robots_ttl_cache_refresh_semantics(spark):
    """Reference RobotsParser cache semantics (utils.py:252-311): fresh
    rows skip the fetch, changed content replaces with a new fetch_time,
    unchanged content keeps the OLD row (the write-on-hash-change quirk:
    an unchanged robots.txt goes stale again immediately)."""
    from pyspark.sql import functions as F

    from crawl4ai_spark.operators.scheduler import (
        ROBOTS_CACHE_TTL,
        robots_cache_refresh,
        robots_stale_hosts,
    )

    now = 1_000_000.0
    cache = spark.createDataFrame(
        [
            ("fresh.test", "Disallow: /a", now - 50.0),
            ("stale-same.test", "Disallow: /b", now - ROBOTS_CACHE_TTL - 1),
            ("stale-changed.test", "Disallow: /c", now - ROBOTS_CACHE_TTL - 1),
        ],
        ["host", "rules", "fetch_time"],
    ).withColumn("hash", F.md5(F.col("rules")))
    hosts = spark.createDataFrame(
        [("fresh.test",), ("stale-same.test",), ("stale-changed.test",), ("new.test",)],
        ["host"],
    )
    stale = {r["host"] for r in robots_stale_hosts(cache, hosts, now).collect()}
    assert stale == {"stale-same.test", "stale-changed.test", "new.test"}
    # no cache at all → every host fetches
    assert {r["host"] for r in robots_stale_hosts(None, hosts, now).collect()} == {
        r["host"] for r in hosts.collect()
    }

    fetched = spark.createDataFrame(
        [("stale-same.test", "Disallow: /b"),      # byte-identical content
         ("stale-changed.test", "Disallow: /C2"),  # changed
         ("new.test", "Disallow: /n")],
        ["host", "rules"],
    )
    out = {r["host"]: r for r in robots_cache_refresh(cache, fetched, now).collect()}
    assert set(out) == {"fresh.test", "stale-same.test", "stale-changed.test", "new.test"}
    assert out["fresh.test"]["fetch_time"] == now - 50.0          # untouched
    assert out["stale-same.test"]["rules"] == "Disallow: /b"
    assert out["stale-same.test"]["fetch_time"] == now - ROBOTS_CACHE_TTL - 1  # quirk
    assert out["stale-changed.test"]["rules"] == "Disallow: /C2"
    assert out["stale-changed.test"]["fetch_time"] == now
    assert out["new.test"]["rules"] == "Disallow: /n"
    assert out["new.test"]["fetch_time"] == now


def test_robots_refresh_null_hash_row_is_refreshed(spark):
    """ADVICE r4: a legacy cached row with a NULL hash must count as
    "changed" — the plain `hash != _new_hash` comparison is NULL there,
    which silently pinned the stale rules forever."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from crawl4ai_spark.operators.scheduler import robots_cache_refresh

    now = 2_000_000.0
    schema = T.StructType(
        [
            T.StructField("host", T.StringType()),
            T.StructField("rules", T.StringType()),
            T.StructField("fetch_time", T.DoubleType()),
            T.StructField("hash", T.StringType()),
        ]
    )
    cache = spark.createDataFrame(
        [("legacy.test", "Disallow: /old", now - 9e6, None),
         ("legacy-null-rules.test", None, now - 9e6, None)],
        schema,
    )
    fetched = spark.createDataFrame(
        [("legacy.test", "Disallow: /old"),  # same content, but hash was NULL
         ("legacy-null-rules.test", "Disallow: /r")],
        ["host", "rules"],
    )
    out = {r["host"]: r for r in robots_cache_refresh(cache, fetched, now).collect()}
    assert out["legacy.test"]["fetch_time"] == now
    assert out["legacy.test"]["hash"] is not None
    assert out["legacy-null-rules.test"]["rules"] == "Disallow: /r"
    assert out["legacy-null-rules.test"]["fetch_time"] == now
