"""URL-seen set at scale: exact anti-join + bloom/cuckoo prefilters (D2).

The reference keeps an exact in-memory hash of MD5 digests
(Queue/Memory.pm:10,37-46). At 10^10 URLs a single hash set is impossible;
the engine layers:

1. **broadcast counting-bloom prefilter** — built distributively (partial
   numpy bit-arrays per partition, OR-merged on the driver, ~MBs for 1e8+
   digests at 1% fpp), broadcast to executors; definite-negatives skip the
   join entirely. Hash indexes are derived from two JVM-side xxhash64
   columns (Kirsch–Mitzenmacher double hashing) so no Python touches the
   hot rows until the vectorized membership test.
2. **exact left-anti join backstop** against the ``seen(digest)`` table —
   the bloom only thins the probe side; correctness never depends on it.

A deletable :class:`CuckooFilter` is provided as the second
approximate-membership structure the north rule names; see its docstring
for why the append-only crawl paths don't use it.

PySpark exposes no bloom builder (DataFrameStatFunctions.bloomFilter is
Scala-only), hence the numpy implementation.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["NumpyBloom", "CuckooFilter", "with_bloom_hashes", "build_bloom", "seen_anti_join"]

_H1 = "__bh1"
_H2 = "__bh2"

# seen-set size (digests) up to which seen_anti_join broadcasts seen; past
# it the bloom-prefiltered shuffle path runs, and only then does a crawl
# need its bloom (~128MB of 32-char digests at 4M)
ANTI_JOIN_BROADCAST_MAX = 4_000_000


class NumpyBloom:
    """Vectorized bloom filter over uint64 double hashes."""

    def __init__(self, n_bits: int, n_hashes: int = 5, bits: np.ndarray | None = None):
        assert n_bits % 8 == 0
        self.n_bits = n_bits
        self.n_hashes = n_hashes
        self.bits = bits if bits is not None else np.zeros(n_bits // 8, dtype=np.uint8)

    @classmethod
    def sized(cls, capacity: int, fpp: float = 0.01) -> "NumpyBloom":
        n_bits = max(1024, int(-capacity * math.log(fpp) / (math.log(2) ** 2)))
        n_bits = (n_bits + 7) // 8 * 8
        k = max(1, round(n_bits / max(capacity, 1) * math.log(2)))
        return cls(n_bits, min(k, 8))

    def _indexes(self, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
        h1 = h1.astype(np.uint64)
        h2 = h2.astype(np.uint64)
        idx = np.empty((self.n_hashes, h1.shape[0]), dtype=np.uint64)
        for i in range(self.n_hashes):
            idx[i] = (h1 + np.uint64(i) * h2) % np.uint64(self.n_bits)
        return idx

    def add(self, h1: np.ndarray, h2: np.ndarray) -> None:
        idx = self._indexes(h1, h2).ravel()
        np.bitwise_or.at(self.bits, (idx // 8).astype(np.int64), (1 << (idx % 8)).astype(np.uint8))

    def contains(self, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
        idx = self._indexes(h1, h2)
        hits = (self.bits[(idx // 8).astype(np.int64)] >> (idx % 8).astype(np.uint8)) & 1
        return hits.all(axis=0)

    def merge(self, other: "NumpyBloom") -> "NumpyBloom":
        assert self.n_bits == other.n_bits and self.n_hashes == other.n_hashes
        self.bits |= other.bits
        return self


class CuckooFilter:
    """Bucketed cuckoo filter (4-slot buckets, 16-bit fingerprints).

    The deletable approximate-membership building block the north rule
    names alongside the counting bloom. Property-tested
    (tests/test_properties.py, test_components.py) but deliberately NOT on
    the crawl hot path: the URL-seen set is append-only (deletion support
    buys nothing there), and intra-partition duplicate suppression before
    the first-emit-wins shuffle already happens for free in Catalyst's
    map-side partial aggregation of the digest groupBy. Reach for it when
    a deployment needs membership WITH deletes (e.g. a recrawl frontier
    that retires expired URLs). numpy storage, scalar kick loop (bounded)."""

    MAX_KICKS = 500

    def __init__(self, n_buckets: int):
        self.n_buckets = 1 << (n_buckets - 1).bit_length()  # power of two
        self.table = np.zeros((self.n_buckets, 4), dtype=np.uint16)

    def _fp(self, h: int) -> int:
        fp = (h >> 32) & 0xFFFF
        return fp if fp != 0 else 1

    def _b1(self, h: int) -> int:
        return h & (self.n_buckets - 1)

    def _b2(self, b1: int, fp: int) -> int:
        # partial-key cuckoo: alt bucket = b1 xor hash(fp)
        return (b1 ^ (fp * 0x5BD1E995)) & (self.n_buckets - 1)

    def add(self, h: int) -> bool:
        fp = self._fp(h)
        b1 = self._b1(h)
        b2 = self._b2(b1, fp)
        for b in (b1, b2):
            row = self.table[b]
            free = np.where(row == 0)[0]
            if free.size:
                row[free[0]] = fp
                return True
        b = b1 if (h & 1) else b2
        for _ in range(self.MAX_KICKS):
            slot = (h >> 48) & 3
            fp, self.table[b, slot] = int(self.table[b, slot]), fp
            b = self._b2(b, fp)
            row = self.table[b]
            free = np.where(row == 0)[0]
            if free.size:
                row[free[0]] = fp
                return True
        return False  # table full — callers fall back to the exact path

    def contains(self, h: int) -> bool:
        fp = self._fp(h)
        b1 = self._b1(h)
        b2 = self._b2(b1, fp)
        return bool((self.table[b1] == fp).any() or (self.table[b2] == fp).any())

    def delete(self, h: int) -> bool:
        fp = self._fp(h)
        b1 = self._b1(h)
        for b in (b1, self._b2(b1, fp)):
            hit = np.where(self.table[b] == fp)[0]
            if hit.size:
                self.table[b, hit[0]] = 0
                return True
        return False


def with_bloom_hashes(df: DataFrame, digest_col: str = "digest") -> DataFrame:
    """Attach the two JVM-side base hashes used by every bloom op."""
    return df.withColumn(_H1, F.xxhash64(F.col(digest_col))).withColumn(
        _H2, F.xxhash64(F.col(digest_col), F.lit("wcm-bloom-salt"))
    )


def build_bloom(df: DataFrame, bloom: NumpyBloom, digest_col: str = "digest") -> NumpyBloom:
    """Distributed bloom build: per-partition partial bit arrays, OR-merged.

    Each partition ships ``n_bits/8`` bytes to the driver — independent of
    row count — so the build is one narrow pass over the data."""
    hashed = with_bloom_hashes(df, digest_col).select(_H1, _H2)
    n_bits, n_hashes = bloom.n_bits, bloom.n_hashes

    def partial(batches):
        part = NumpyBloom(n_bits, n_hashes)
        for pdf in batches:
            if len(pdf):
                part.add(pdf[_H1].to_numpy(), pdf[_H2].to_numpy())
        yield pd.DataFrame({"bits": [part.bits.tobytes()]})

    pieces = hashed.mapInPandas(partial, schema="bits binary").collect()
    for row in pieces:
        bloom.bits |= np.frombuffer(row["bits"], dtype=np.uint8)
    return bloom


def bloom_prefilter(df: DataFrame, bloom: NumpyBloom, digest_col: str = "digest"):
    """Split candidates into (maybe_seen, definitely_fresh) via the bloom.

    ``definitely_fresh`` rows skip the anti-join shuffle entirely; only
    ``maybe_seen`` rows (true hits + fpp false positives) pay the join."""
    spark = df.sparkSession
    b = spark.sparkContext.broadcast((bloom.n_bits, bloom.n_hashes, bloom.bits.tobytes()))

    @F.pandas_udf("boolean")
    def maybe(h1: pd.Series, h2: pd.Series) -> pd.Series:
        n_bits, n_hashes, raw = b.value
        bf = NumpyBloom(n_bits, n_hashes, np.frombuffer(raw, dtype=np.uint8))
        if not len(h1):
            return pd.Series([], dtype=bool)
        return pd.Series(bf.contains(h1.to_numpy(), h2.to_numpy()))

    hashed = with_bloom_hashes(df, digest_col).withColumn("__maybe", maybe(F.col(_H1), F.col(_H2)))
    maybe_seen = hashed.filter("__maybe").drop(_H1, _H2, "__maybe")
    fresh = hashed.filter("NOT __maybe").drop(_H1, _H2, "__maybe")
    return maybe_seen, fresh


def seen_anti_join(
    candidates: DataFrame,
    seen: DataFrame,
    bloom: NumpyBloom | None = None,
    digest_col: str = "digest",
    seen_count: int | None = None,
    broadcast_threshold: int | None = None,
) -> DataFrame:
    """Exact unseen-candidates: anti-join on digest, plan picked by scale.

    - seen small enough (``seen_count`` <= ``broadcast_threshold``, default
      ANTI_JOIN_BROADCAST_MAX):
      broadcast-hash anti-join — candidates never shuffle, the whole
      parse→dedup pipeline stays one stage.
    - otherwise: bloom-prefiltered shuffle anti-join — definite-negatives
      skip the shuffle; only bloom-positives (true hits + fpp) pay it.
    This mirrors what a 10^10-frontier deployment does: broadcast while the
    seen set fits, degrade to the bloom+shuffle path when it doesn't.
    """
    if broadcast_threshold is None:
        broadcast_threshold = ANTI_JOIN_BROADCAST_MAX
    if seen_count is not None and seen_count <= broadcast_threshold:
        return candidates.join(F.broadcast(seen), digest_col, "left_anti")
    if bloom is None:
        return candidates.join(seen, digest_col, "left_anti")
    # the prefilter fans candidates into two branches that are unioned —
    # without materialization the whole upstream (scrape+resolve) would
    # execute once PER BRANCH; a lazy local checkpoint computes it once
    candidates = candidates.localCheckpoint(eager=False)
    maybe_seen, fresh = bloom_prefilter(candidates, bloom, digest_col)
    survivors = maybe_seen.join(seen, digest_col, "left_anti")
    return fresh.unionByName(survivors)
