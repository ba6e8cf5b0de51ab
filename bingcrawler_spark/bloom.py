"""Sharded Bloom-filter seen-set prefilter (north-rule; SURVEY.md §4.1).

Replaces the reference's per-URL B-tree probe (UrlsDbManager.java:550-568)
with a set-oriented two-step dedup:

  1. each distinct candidate url is probed once against a Bloom filter of
     the seen-set — Bloom NEGATIVES are *definitely new*;
  2. the exact ``left_anti`` join carries the probe flag in its condition,
     so only Bloom POSITIVES (true hits + fpp false positives) can match.

The state side of that join is still scanned and shuffled once, as on the
exact path (frontier.dedup_insert); the probe runs over the candidates
only, never over the state.

Build is fully distributed: ``mapInPandas`` emits one partial bitmap per
partition per shard; the driver ORs them (bitmaps, not rows, cross the
wire) and broadcasts the result. Hashing is pandas' 64-bit siphash
(``pd.util.hash_array`` — vectorized, deterministic across processes) with
two independent keys; the k probe indices use the standard Kirsch-
Mitzenmacher double-hashing construction h1 + i*h2 mod m.

Sharding: urls are routed to ``shard = h1 % n_shards``; each shard is an
independent bitmap. At 10^10 urls / fpp 1e-2 the total is ~12 GiB — one
bitmap cannot broadcast, but shards can be sized to ~128 MiB and either
broadcast per-shard against hash-clustered candidate partitions or kept as
files and mapped side-per-shard; locally the shard dict broadcasts whole.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_KEY1 = "bingcrawlerbloom"  # 16 bytes each — pd.util.hash_array requirement
_KEY2 = "bloombingcrawler"


def _remix(h: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer — decorrelates probe positions from the shard
    index (shard = h1 % n_shards; without the remix, n_shards | m_bits makes
    every first probe land in 1/n_shards of the bitmap)."""
    h = (h ^ (h >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    h = (h ^ (h >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return h ^ (h >> np.uint64(31))


def _hashes(values: pd.Series) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(shard_hash, probe1, probe2) — 64-bit siphash via pandas, vectorized
    and process-independent; probe2 forced odd (Kirsch-Mitzenmacher)."""
    arr = values.to_numpy(dtype=object)
    h1 = pd.util.hash_array(arr, hash_key=_KEY1)
    h2 = pd.util.hash_array(arr, hash_key=_KEY2)
    return h1, _remix(h1), _remix(h2) | np.uint64(1)


def _probe_bloom(
    matrix: np.ndarray, values: pd.Series, n_shards: int, m_bits: int, k: int
) -> pd.Series:
    """k-probe membership test against the (n_shards × n_bytes) bitmap
    matrix — module-level so the pandas UDFs in might_contain_udf close
    over only a broadcast handle (or, in the sessionless fallback, the
    matrix) and never both."""
    if values.empty:
        return pd.Series([], dtype=bool)
    hs, p1, p2 = _hashes(values.fillna(""))
    shard = (hs % np.uint64(n_shards)).astype(np.int64)
    out = np.ones(len(values), dtype=bool)
    for i in range(k):
        idx = (p1 + np.uint64(i) * p2) % np.uint64(m_bits)
        byte_i = (idx >> np.uint64(3)).astype(np.int64)
        bit = np.left_shift(np.uint8(1), (idx & np.uint64(7)).astype(np.uint8))
        out &= (matrix[shard, byte_i] & bit) != 0
    return pd.Series(out)


def _params(n_items: int, fpp: float) -> tuple[int, int]:
    """(m_bits per expected item set, k hashes) — standard Bloom sizing."""
    n = max(n_items, 1)
    m = max(64, int(math.ceil(-n * math.log(fpp) / (math.log(2) ** 2))))
    m = ((m + 63) // 64) * 64
    k = max(1, min(8, round(m / n * math.log(2))))
    return m, k


class ShardedBloom:
    """Sharded Bloom filter of a url column.

    Supports INCREMENTAL growth (`add_df`): the crawl's existing-url set
    (frontier ∪ seen) only ever grows by each wave's new rows, so the
    engine builds the filter once and ORs in the O(wave)-sized delta per
    wave instead of re-scanning the O(state) seen-set — the per-wave-cost
    invariant holds for the prefilter too.  `capacity` records the sizing
    assumption; the caller rebuilds (amortized, on doubling) when the
    inserted count outgrows it, restoring the target fpp."""

    def __init__(self, shards: list[bytes], m_bits: int, k: int, capacity: int = 0):
        self.shards = shards
        self.n_shards = len(shards)
        self.m_bits = m_bits
        self.k = k
        self.capacity = capacity
        # cached sc.broadcast of the bitmap matrix (see might_contain_udf);
        # invalidated whenever add_df mutates the shards, or when the
        # SparkContext that created it is no longer the active one (a
        # handle from a stopped context fails at task execution time)
        self._bc = None
        self._bc_ctx = None

    def _invalidate_broadcast(self) -> None:
        if self._bc is not None:
            try:
                self._bc.unpersist()
            except Exception:
                pass  # session may already be gone
            self._bc = None
            self._bc_ctx = None

    @staticmethod
    def _partial_bitmaps(
        df: DataFrame, col: str, n_shards: int, n_bytes: int, m_bits: int, k: int
    ) -> list:
        """Distributed bitmap build: one partial per partition per shard,
        OR-merged driver-side (bitmaps cross the wire, never rows)."""

        def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            bitmaps = np.zeros((n_shards, n_bytes), dtype=np.uint8)
            touched = False
            for pdf in batches:
                vals = pdf[col].dropna()
                if vals.empty:
                    continue
                touched = True
                hs, p1, p2 = _hashes(vals)
                shard = (hs % np.uint64(n_shards)).astype(np.int64)
                for i in range(k):
                    idx = (p1 + np.uint64(i) * p2) % np.uint64(m_bits)
                    byte_i = (idx >> np.uint64(3)).astype(np.int64)
                    bit = np.left_shift(
                        np.uint8(1), (idx & np.uint64(7)).astype(np.uint8)
                    )
                    for s in range(n_shards):
                        sel = shard == s
                        if sel.any():
                            np.bitwise_or.at(bitmaps[s], byte_i[sel], bit[sel])
            if touched:
                yield pd.DataFrame(
                    {"shard": range(n_shards), "bitmap": [b.tobytes() for b in bitmaps]}
                )

        return df.select(col).mapInPandas(
            partial,
            T.StructType(
                [
                    T.StructField("shard", T.IntegerType()),
                    T.StructField("bitmap", T.BinaryType()),
                ]
            ),
        ).collect()

    def add_df(self, df: DataFrame, col: str) -> None:
        """OR a delta of urls into the existing bitmaps — O(delta) work,
        same hash family, no resize (caller manages capacity)."""
        n_bytes = self.m_bits // 8
        parts = self._partial_bitmaps(
            df, col, self.n_shards, n_bytes, self.m_bits, self.k
        )
        if not parts:
            return
        shards = [
            np.frombuffer(b, dtype=np.uint8).copy() for b in self.shards
        ]
        for row in parts:
            shards[row["shard"]] |= np.frombuffer(row["bitmap"], dtype=np.uint8)
        self.shards = [s.tobytes() for s in shards]
        self._invalidate_broadcast()

    @staticmethod
    def build(
        df: DataFrame,
        col: str,
        expected_items: int,
        fpp: float = 0.01,
        n_shards: int = 4,
    ) -> "ShardedBloom":
        m_bits, k = _params(max(expected_items // n_shards, 1), fpp)
        n_bytes = m_bits // 8
        parts = ShardedBloom._partial_bitmaps(df, col, n_shards, n_bytes, m_bits, k)
        shards = [np.zeros(n_bytes, dtype=np.uint8) for _ in range(n_shards)]
        for row in parts:
            shards[row["shard"]] |= np.frombuffer(row["bitmap"], dtype=np.uint8)
        return ShardedBloom(
            [s.tobytes() for s in shards], m_bits, k, capacity=expected_items
        )

    # -- membership test ----------------------------------------------------
    def might_contain_udf(self) -> "F.pandas_udf":
        """Vectorized membership probe.

        The (n_shards × n_bytes) bitmap matrix rides an ``sc.broadcast``,
        NOT the task closure: a closure ships with EVERY task, and at the
        design scale (10^10 urls, 1% fpp ⇒ ~12 GiB of bitmaps) closure
        shipping breaks outright, while a broadcast torrents once per
        executor.  The broadcast is cached on the filter and re-created
        only after ``add_df`` mutates the shards."""
        from pyspark.sql import SparkSession

        n_shards, m_bits, k = self.n_shards, self.m_bits, self.k
        sc = SparkSession.active().sparkContext
        # Stack the 2-D (n_shards × n_bytes) matrix ONLY when a fresh
        # broadcast is needed — at the 10^10-url design point the matrix
        # is multi-GiB and an unconditional stack would pay that driver
        # allocation on every probe call.
        if self._bc is None or self._bc_ctx is not sc:
            self._invalidate_broadcast()
            matrix = np.stack([np.frombuffer(b, dtype=np.uint8) for b in self.shards])
            self._bc = sc.broadcast(matrix)
            self._bc_ctx = sc
        bc = self._bc

        @F.pandas_udf(T.BooleanType())
        def might_contain(values: pd.Series) -> pd.Series:
            return _probe_bloom(bc.value, values, n_shards, m_bits, k)

        return might_contain

    def might_contain_col(self, c: Column) -> Column:
        return self.might_contain_udf()(c)
