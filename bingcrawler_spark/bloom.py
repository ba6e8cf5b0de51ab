"""Sharded Bloom-filter seen-set prefilter (north-rule; SURVEY.md §4.1).

Replaces the reference's per-URL B-tree probe (UrlsDbManager.java:550-568)
with a set-oriented two-step dedup:

  1. each distinct candidate url is probed once against a Bloom filter of
     the seen-set — Bloom NEGATIVES are *definitely new*;
  2. the wave's one existence join (a left outer join,
     frontier.resolve_attempts) carries the probe flag in its condition,
     so only Bloom POSITIVES (true hits + fpp false positives) can match.

The state side of that join is still scanned and shuffled once, as on the
exact path; the probe runs over the candidates only, never over the
state.

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
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
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


def _bit_positions(
    values: pd.Series, n_shards: int, m_bits: int, k: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(shard (n,), byte_i (k, n), bit (k, n)) — the k probe positions of
    each value, shared by the build (OR in) and the probe (AND test)."""
    hs, p1, p2 = _hashes(values)
    shard = (hs % np.uint64(n_shards)).astype(np.int64)
    i = np.arange(k, dtype=np.uint64)[:, None]
    idx = (p1 + i * p2) % np.uint64(m_bits)
    byte_i = (idx >> np.uint64(3)).astype(np.int64)
    bit = np.left_shift(np.uint8(1), (idx & np.uint64(7)).astype(np.uint8))
    return shard, byte_i, bit


def _probe_bloom(
    matrix: np.ndarray, values: pd.Series, n_shards: int, m_bits: int, k: int
) -> pd.Series:
    """k-probe membership test against the (n_shards × n_bytes) bitmap
    matrix — module-level so the pandas UDF closes over only a broadcast
    handle and scalars (SeenFilter.might_contain_udf)."""
    if values.empty:
        return pd.Series([], dtype=bool)
    shard, byte_i, bit = _bit_positions(values.fillna(""), n_shards, m_bits, k)
    return pd.Series(((matrix[shard, byte_i] & bit) != 0).all(axis=0))


def _params(n_items: int, fpp: float) -> tuple[int, int]:
    """(m_bits per expected item set, k hashes) — standard Bloom sizing."""
    n = max(n_items, 1)
    m = max(64, int(math.ceil(-n * math.log(fpp) / (math.log(2) ** 2))))
    m = ((m + 63) // 64) * 64
    k = max(1, min(8, round(m / n * math.log(2))))
    return m, k


class SeenFilter:
    """A url seen-set prefilter: no false negatives, bounded false
    positives.  ShardedBloom and cuckoo.ShardedCuckoo are the two kinds.

    Each subclass supplies ``build``/``add_df``, its broadcast payload
    (``_payload``) and its module-level probe function with the small
    scalar arguments it takes (``_probe``).  The base owns the rest:

    * load — ``items`` counts the urls inserted (the count rides the rows
      the driver collects anyway, no extra job); the filter is ``full``
      once that outgrows ``capacity``, the sizing assumption, and the
      caller rebuilds (amortized, on doubling) to restore the target fpp;
    * broadcast lifetime — the payload rides an ``sc.broadcast`` cached on
      the filter, dropped whenever ``add_df`` mutates the filter and
      re-created when the SparkContext that made it is no longer the
      active one (a handle from a stopped context fails at task time);
    * the vectorized membership probe."""

    def __init__(self, capacity: int, items: int):
        self.capacity = capacity
        self.items = items
        self._bc = None
        self._bc_ctx = None

    @property
    def full(self) -> bool:
        return self.items > self.capacity

    def _payload(self) -> np.ndarray:
        raise NotImplementedError

    def _probe(self) -> tuple[Callable, tuple]:
        raise NotImplementedError

    def _invalidate_broadcast(self) -> None:
        if self._bc is not None:
            try:
                self._bc.unpersist()
            except Exception:
                pass  # session may already be gone
            self._bc = None
            self._bc_ctx = None

    def might_contain_udf(self) -> "F.pandas_udf":
        """Vectorized membership probe.

        The payload rides an ``sc.broadcast``, NOT the task closure: a
        closure ships with EVERY task, and at the design scale (10^10 urls,
        1% fpp ⇒ ~12 GiB of Bloom bitmaps) closure shipping breaks
        outright, while a broadcast torrents once per executor.  The UDF
        closes over the broadcast handle and the probe's scalars only,
        never ``self``.  The payload is assembled only when a fresh
        broadcast is needed — at the design point it is multi-GiB, and an
        unconditional stack would pay that driver allocation per call."""
        sc = SparkSession.active().sparkContext
        if self._bc is None or self._bc_ctx is not sc:
            self._invalidate_broadcast()
            self._bc = sc.broadcast(self._payload())
            self._bc_ctx = sc
        bc = self._bc
        probe, args = self._probe()

        @F.pandas_udf(T.BooleanType())
        def might_contain(values: pd.Series) -> pd.Series:
            return probe(bc.value, values, *args)

        return might_contain

    def might_contain_col(self, c: Column) -> Column:
        return self.might_contain_udf()(c)


def _or_in(shards: list[np.ndarray], parts: list) -> int:
    """OR collected partial bitmaps into ``shards`` in place; returns the
    number of urls the partials cover."""
    for row in parts:
        shards[row["shard"]] |= np.frombuffer(row["bitmap"], dtype=np.uint8)
    return sum(row["n"] for row in parts)


class ShardedBloom(SeenFilter):
    """Sharded Bloom filter of a url column.

    Supports INCREMENTAL growth (`add_df`): the crawl's existing-url set
    (frontier ∪ seen) only ever grows by each wave's new rows, so the
    engine builds the filter once and ORs in the O(wave)-sized delta per
    wave instead of re-scanning the O(state) seen-set — the per-wave-cost
    invariant holds for the prefilter too."""

    def __init__(
        self, shards: list[bytes], m_bits: int, k: int, capacity: int = 0, items: int = 0
    ):
        super().__init__(capacity, items)
        self.shards = shards
        self.n_shards = len(shards)
        self.m_bits = m_bits
        self.k = k

    def _payload(self) -> np.ndarray:
        return np.stack([np.frombuffer(b, dtype=np.uint8) for b in self.shards])

    def _probe(self) -> tuple[Callable, tuple]:
        return _probe_bloom, (self.n_shards, self.m_bits, self.k)

    @staticmethod
    def _partial_bitmaps(
        df: DataFrame, col: str, n_shards: int, m_bits: int, k: int
    ) -> list:
        """Distributed bitmap build: one partial per partition per shard,
        with the count of urls it covers, OR-merged driver-side (bitmaps
        cross the wire, never rows)."""

        def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            bitmaps = np.zeros((n_shards, m_bits // 8), dtype=np.uint8)
            counts = np.zeros(n_shards, dtype=np.int64)
            for pdf in batches:
                vals = pdf[col].dropna()
                if vals.empty:
                    continue
                shard, byte_i, bit = _bit_positions(vals, n_shards, m_bits, k)
                np.bitwise_or.at(bitmaps, (shard, byte_i), bit)
                counts += np.bincount(shard, minlength=n_shards)
            if counts.any():
                yield pd.DataFrame(
                    {
                        "shard": range(n_shards),
                        "bitmap": [b.tobytes() for b in bitmaps],
                        "n": counts,
                    }
                )

        return df.select(col).mapInPandas(
            partial, "shard int, bitmap binary, n long"
        ).collect()

    def add_df(self, df: DataFrame, col: str) -> None:
        """OR a delta of urls into the existing bitmaps — O(delta) work,
        same hash family, no resize (the caller rebuilds when ``full``)."""
        parts = self._partial_bitmaps(df, col, self.n_shards, self.m_bits, self.k)
        if not parts:
            return
        shards = [np.frombuffer(b, dtype=np.uint8).copy() for b in self.shards]
        self.items += _or_in(shards, parts)
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
        shards = [np.zeros(m_bits // 8, dtype=np.uint8) for _ in range(n_shards)]
        n = _or_in(shards, ShardedBloom._partial_bitmaps(df, col, n_shards, m_bits, k))
        return ShardedBloom(
            [s.tobytes() for s in shards], m_bits, k, capacity=expected_items, items=n
        )
