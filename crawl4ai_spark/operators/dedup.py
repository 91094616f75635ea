"""URL-seen set: partitioned bloom filter + exact anti-join.

North-rule component: the 10^10-URL frontier needs a dedup test whose
cheap path avoids shuffling every candidate against the full seen table.
Design:

* **Truth** = exact ``left_anti`` join of candidates against the ``seen``
  table on the canonical URL (the reference's ``visited`` set,
  bfs_strategy.py:119-120 — the final seen set must match exactly, so the
  bloom filter is only ever a pre-filter).
* **Pre-filter** = a partitioned bloom filter keyed by murmur3_32 of the
  canonical URL (``F.hash``): the hash space is split into
  ``n_partitions`` shards; each shard is an independent bloom bit array
  built per-partition with ``applyInPandas`` (numpy bit ops, no Python
  loops).  Shards are **mergeable** (bitwise OR), so each wave appends a
  delta bloom and readers OR deltas per shard — same append-only pattern
  as the seen table itself.
* Candidates are routed to their shard by ``pmod(hash, n_partitions)``
  and tested shard-locally via a cogrouped ``applyInPandas`` — the shard
  join replaces a broadcast (the full bloom at 10^10 x 10 bits ≈ 12 GB —
  too big to broadcast; a shard is a few MB).

Rows that the bloom says are *definitely new* skip the anti-join against
the giant seen table entirely; only the "maybe seen" minority (true
dupes + ~1% false positives) pays the exact join.  No false negatives by
construction — verified property in tests.

When the pipeline needs recrawl invalidation (un-seeing URLs), use the
deletion-capable cuckoo variant in :mod:`.cuckoo` — same shard layout and
anti-join contract, O(1) fingerprint deletes.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Bloom hash-scheme version, stamped into every persisted shard.  Blooms
# are consulted on resume from catalog snapshots: a shard built by an
# older hash scheme would silently produce false NEGATIVES (rows tagged
# not-maybe-seen bypass the exact anti-join), so readers must check
# ``bloom_version_ok`` and rebuild from the seen table on mismatch.
# v2 = seeded-xxhash64 double hashing (v1 was md5-derived keys).
BLOOM_FORMAT_VERSION = 2

BLOOM_SCHEMA = T.StructType(
    [
        T.StructField("bloom_part", T.IntegerType()),
        T.StructField("bits", T.BinaryType()),
        T.StructField("n_items", T.LongType()),
        T.StructField("fmt_version", T.IntegerType()),
        # geometry stamp: shards built with a different shard count (or
        # bit-array size) route candidates to the WRONG shard on resume —
        # silent false negatives that bypass the exact anti-join.  Readers
        # must verify geometry via ``bloom_version_ok`` and rebuild on
        # mismatch, exactly like the hash-scheme fmt_version.
        T.StructField("n_partitions", T.IntegerType()),
        T.StructField("m_bits", T.LongType()),
    ]
)

_K = 4  # hash functions (double hashing)


def _positions(h1: np.ndarray, h2: np.ndarray, m_bits: int) -> np.ndarray:
    """k positions per item via double hashing: (h1 + i*h2) mod m."""
    idx = np.arange(_K, dtype=np.uint64)[None, :]
    return (h1[:, None] + idx * h2[:, None]) % np.uint64(m_bits)


def _bloom_keys(url: Column, n_partitions: int) -> tuple[Column, Column, Column]:
    """Shard id + the two 64-bit double-hashing keys, all JVM-side:
    murmur3 routes to the shard (the north rule's murmur3-of-canonical-URL
    key) and two seeded xxhash64 values drive the k probe positions.  No
    Python touches a URL string anywhere in the bloom build/test path —
    the Python stages below only do numpy bit arithmetic on int64s."""
    part = F.pmod(F.hash(url), F.lit(n_partitions))
    return part, F.xxhash64(url), F.xxhash64(F.lit("bloom2"), url)


def _with_bloom_keys(df: DataFrame, url_col: str, n_partitions: int) -> DataFrame:
    part, h1, h2 = _bloom_keys(F.col(url_col), n_partitions)
    return df.withColumns({"bloom_part": part, "_h1": h1, "_h2": h2})


def _key_arrays(h1, h2) -> tuple[np.ndarray, np.ndarray]:
    """uint64 double-hashing keys from int64 columns (pandas or numpy)."""
    k1 = np.asarray(h1, np.int64).view(np.uint64)
    return k1, np.asarray(h2, np.int64).view(np.uint64) | np.uint64(1)


def _probe(bits: np.ndarray, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
    """Per item: are all k bits set?  (shard is self-describing: m_bits =
    array size)"""
    pos = _positions(h1, h2, len(bits) * 8)
    return ((bits[(pos >> 3).astype(np.int64)] >> (pos & 7).astype(np.uint8)) & 1).all(axis=1)


def build_bloom(
    df: DataFrame, url_col: str = "url", n_partitions: int = 32, m_bits: int = 1 << 20
) -> DataFrame:
    """Build per-shard bloom bit arrays for the URLs in ``df``."""

    def build(key, pdf: pd.DataFrame) -> pd.DataFrame:
        bits = np.zeros(m_bits // 8, np.uint8)
        h1, h2 = _key_arrays(pdf["_h1"], pdf["_h2"])
        pos = _positions(h1, h2, m_bits).ravel()
        np.bitwise_or.at(bits, (pos >> 3).astype(np.int64), (1 << (pos & 7)).astype(np.uint8))
        return pd.DataFrame(
            {
                "bloom_part": [key[0]],
                "bits": [bits.tobytes()],
                "n_items": [len(pdf)],
                "fmt_version": [BLOOM_FORMAT_VERSION],
                "n_partitions": [n_partitions],
                "m_bits": [m_bits],
            }
        )

    with_part = _with_bloom_keys(df, url_col, n_partitions)
    return with_part.groupBy("bloom_part").applyInPandas(build, BLOOM_SCHEMA)


def _merged_geom(col: pd.Series) -> int:
    """Single agreed geometry value, or -1 for NULL/mixed (reject)."""
    vals = col.dropna().unique()
    if len(vals) != 1 or col.isna().any():
        return -1
    return int(vals[0])


def merge_blooms(blooms: DataFrame) -> DataFrame:
    """OR together per-shard deltas from multiple waves."""

    def merge(key, pdf: pd.DataFrame) -> pd.DataFrame:
        acc = None
        for b in pdf["bits"]:
            arr = np.frombuffer(b, np.uint8)
            acc = arr.copy() if acc is None else (acc | arr)
        return pd.DataFrame(
            {
                "bloom_part": [key[0]],
                "bits": [acc.tobytes()],
                "n_items": [int(pdf["n_items"].sum())],
                # NULL-poisoning everywhere: a shard set mixing
                # pre-version (NULL) deltas with current ones must NOT
                # merge into a "current" stamp (pandas min skips NaN) —
                # -1 fails bloom_version_ok, forcing the rebuild
                "fmt_version": [
                    -1 if pdf["fmt_version"].isna().any() else int(pdf["fmt_version"].min())
                ],
                "n_partitions": [_merged_geom(pdf["n_partitions"])],
                "m_bits": [_merged_geom(pdf["m_bits"])],
            }
        )

    return blooms.groupBy("bloom_part").applyInPandas(merge, BLOOM_SCHEMA)


def bloom_version_ok(
    blooms: DataFrame | None,
    n_partitions: int | None = None,
    m_bits: int | None = None,
) -> bool:
    """True iff every persisted shard was built by the CURRENT hash
    scheme AND (when expected values are given) the CURRENT geometry.

    A missing/older fmt_version means the shard's bit positions no
    longer correspond to today's hashes; a differing ``n_partitions``
    routes candidates to the WRONG shard (pmod with a different modulus);
    a differing ``m_bits`` probes the wrong bit offsets (and unequal
    shard byte-sizes crash the OR-merge).  All three produce silent
    false negatives that bypass the exact anti-join — callers must
    rebuild from the seen table on any mismatch."""
    if blooms is None:
        return True
    cols = blooms.columns
    if "fmt_version" not in cols:
        return False
    if (n_partitions is not None or m_bits is not None) and (
        "n_partitions" not in cols or "m_bits" not in cols
    ):
        return False  # pre-geometry-stamp shards: geometry unverifiable
    # NULL-safe: a MIXED shard set (new deltas + column-less/pre-version
    # files read as NULL) must fail — min/max skip NULLs, which is
    # exactly the false-negative case this guard exists to catch
    checks = [(F.col("fmt_version"), BLOOM_FORMAT_VERSION)]  # (column, expected)
    if n_partitions is not None:
        checks.append((F.col("n_partitions"), int(n_partitions)))
    if m_bits is not None:
        checks.append((F.col("m_bits").cast("long"), int(m_bits)))
    aggs = [F.count("*").alias("n")]
    for i, (c, _) in enumerate(checks):
        v = F.coalesce(c, F.lit(-1))
        aggs += [F.min(v).alias(f"lo{i}"), F.max(v).alias(f"hi{i}")]
    row = blooms.agg(*aggs).first()
    if int(row["n"]) == 0:
        return True  # empty bloom table
    return all(
        int(row[f"lo{i}"]) == int(row[f"hi{i}"]) == exp
        for i, (_, exp) in enumerate(checks)
    )


def bloom_maybe_seen(
    candidates: DataFrame, blooms: DataFrame, url_col: str = "url", n_partitions: int = 32,
) -> DataFrame:
    """Tag candidates with ``maybe_seen`` by testing each row against its
    shard's bit array (cogrouped shard-local test — no broadcast)."""
    cand = _with_bloom_keys(candidates, url_col, n_partitions)
    out_schema = T.StructType(
        cand.schema.fields + [T.StructField("maybe_seen", T.BooleanType())]
    )

    def test(key, cdf: pd.DataFrame, bdf: pd.DataFrame) -> pd.DataFrame:
        if len(cdf) == 0:
            return cdf.assign(maybe_seen=pd.Series([], dtype=bool))
        if len(bdf) == 0:
            return cdf.assign(maybe_seen=False)
        bits = np.frombuffer(bdf["bits"].iloc[0], np.uint8)
        if len(bdf) > 1:  # unmerged deltas: OR on the fly
            bits = bits.copy()
            for b in bdf["bits"].iloc[1:]:
                bits |= np.frombuffer(b, np.uint8)
        return cdf.assign(maybe_seen=_probe(bits, *_key_arrays(cdf["_h1"], cdf["_h2"])))

    return (
        cand.groupBy("bloom_part")
        .cogroup(blooms.groupBy("bloom_part"))
        .applyInPandas(test, out_schema)
        .drop("bloom_part", "_h1", "_h2")
    )


def anti_join_seen(
    candidates: DataFrame,
    seen: DataFrame | None,
    url_col: str = "url",
    blooms: DataFrame | None = None,
    seen_col: str = "url",
    n_partitions: int = 32,
    bloom_broadcast_max_bytes: int = 256 << 20,
) -> DataFrame:
    """Candidates not yet in the seen set.

    With a bloom pre-filter: definitely-new rows bypass the exact join;
    only maybe-seen rows shuffle against the seen table. Without: plain
    left_anti (Spark's runtime bloom-filter join still kicks in via
    spark.sql.optimizer.runtime.bloomFilter.enabled).

    The bloom test itself picks its physical strategy by size: a bloom
    under ``bloom_broadcast_max_bytes`` broadcasts (no shuffle at all for
    definitely-new rows); a bigger one routes candidates to their shard
    via the cogrouped test.
    """
    if seen is None:
        return candidates
    seen_keys = seen.select(F.col(seen_col).alias(url_col)).distinct()
    if blooms is None:
        return candidates.join(seen_keys, url_col, "left_anti")
    total = blooms.agg(F.sum(F.length("bits"))).first()[0] or 0
    if total <= bloom_broadcast_max_bytes:
        tagged = _bloom_tag_broadcast(candidates, blooms, url_col, n_partitions)
        # no shuffle boundary below the mapInPandas → the fresh/maybe
        # branch split would re-run the whole upstream twice; pin it once
        tagged = tagged.localCheckpoint(eager=False)
    else:
        # the cogroup's own groupBy exchange is reused by both branches
        tagged = bloom_maybe_seen(candidates, blooms, url_col, n_partitions=n_partitions)
    fresh = tagged.filter(~F.col("maybe_seen")).drop("maybe_seen")
    maybe = tagged.filter(F.col("maybe_seen")).drop("maybe_seen")
    return fresh.unionByName(maybe.join(seen_keys, url_col, "left_anti"))


def _bloom_tag_broadcast(
    candidates: DataFrame, blooms: DataFrame, url_col: str, n_partitions: int
) -> DataFrame:
    """Shuffle-free bloom tag: merged shards broadcast to executors and a
    scalar Arrow UDF probes them (vectorized numpy).  Only the shard id and
    the two hash keys cross into Python, never the row or its strings.
    ``n_partitions`` must be the shard count the bloom was built with —
    routing uses the identical pmod(murmur3(url)) expression."""
    shards: dict[int, np.ndarray] = {}
    for r in blooms.collect():
        arr = np.frombuffer(r["bits"], np.uint8)
        p = int(r["bloom_part"])
        shards[p] = arr.copy() if p not in shards else (shards[p] | arr)
    bc = candidates.sparkSession.sparkContext.broadcast(shards)

    # an Arrow (not pandas) UDF: besides skipping pandas, its eval type
    # differs from the canonicalizer's, so Catalyst does not inline an
    # upstream ``normalize_deep_udf`` column into these three inputs
    @F.arrow_udf(T.BooleanType())
    def probe(part: pa.Array, h1: pa.Array, h2: pa.Array) -> pa.Array:
        local = bc.value
        parts = part.to_numpy()
        k1, k2 = _key_arrays(h1.to_numpy(), h2.to_numpy())
        maybe = np.zeros(len(parts), dtype=bool)
        for p in np.unique(parts):
            bits = local.get(int(p))
            if bits is not None:
                sel = parts == p
                maybe[sel] = _probe(bits, k1[sel], k2[sel])
        return pa.array(maybe)

    part, h1, h2 = _bloom_keys(F.col(url_col), n_partitions)
    return candidates.withColumn("maybe_seen", probe(part.cast("long"), h1, h2))
