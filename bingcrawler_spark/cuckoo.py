"""Sharded cuckoo-filter seen-set prefilter — the north rule names a
"bloom/cuckoo URL-seen set"; this is the cuckoo half (partial-key
cuckoo hashing per Fan et al., CoNEXT'14), complementing
``bloom.ShardedBloom`` with two properties Bloom cannot offer:

* **deletion** — a fingerprint can be removed, so state rollbacks
  (mid-wave kill recovery) can retract exactly the URLs whose deltas
  were rolled back instead of living with stale positives;
* **~2 orders lower fpp per bit at the same size class** — 16-bit
  fingerprints in 4-slot buckets give fpp ≈ 2·4/2^16 ≈ 1.2e-4.

Layout: urls shard by ``h1 mod n_shards`` (same hash family as the
Bloom — pandas 64-bit siphash + splitmix remix); each shard is an
independent ``(n_buckets × 4)`` uint16 table, n_buckets a power of two
so the partner bucket ``i2 = i1 XOR remix(fp)`` stays in range by
masking.  A per-shard victim list absorbs the rare insert that still
fails after the kick budget, preserving the no-false-negative
contract unconditionally.

Distributed build: stage 1 (``mapInPandas``) reduces each url to a
narrow ``(shard, fp, i1)`` triple map-side; stage 2 shuffles ONLY those
triples by shard and builds each shard's table inside one
``applyInPandas`` group — the 100 TB text never moves, parallelism =
n_shards, and at 10^10 urls each shard task streams its triples into a
~128 MiB table exactly as a cluster shard-builder would.  Increments
and deletes move the same narrow triples driver-side (O(wave) rows).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bingcrawler_spark.bloom import _hashes, _remix

BUCKET_SLOTS = 4
MAX_KICKS = 128
TARGET_LOAD = 0.84  # standard 4-slot cuckoo capacity before kicks degrade

_TRIPLE_SCHEMA = T.StructType(
    [
        T.StructField("shard", T.IntegerType()),
        T.StructField("fp", T.IntegerType()),
        T.StructField("i1", T.LongType()),
    ]
)


def _triples_of(values: pd.Series, n_shards: int, mask: int) -> pd.DataFrame:
    """url series → (shard, fp∈[1,2^16), i1) — everything lookup/insert
    needs; i2 is recomputed from (fp, i1) wherever the table lives."""
    hs, p1, p2 = _hashes(values)
    fp = (p1 >> np.uint64(48)).astype(np.uint16)
    fp[fp == 0] = 1
    i1 = (p2 & np.uint64(mask)).astype(np.int64)
    shard = (hs % np.uint64(n_shards)).astype(np.int32)
    return pd.DataFrame({"shard": shard, "fp": fp.astype(np.int32), "i1": i1})


def _alt_bucket(fp: np.ndarray, i: np.ndarray, mask: int) -> np.ndarray:
    return (i ^ (_remix(fp.astype(np.uint64)) & np.uint64(mask)).astype(np.int64)) & mask


_M64 = (1 << 64) - 1


def _alt_bucket_int(fp: int, i: int, mask: int) -> int:
    """Scalar twin of _alt_bucket (same splitmix64 finalizer on plain
    Python ints) for the kick path — per-key np.array construction in the
    insert loop costs more than the hash itself at 10^10-URL builds."""
    h = ((fp ^ (fp >> 30)) * 0xBF58476D1CE4E5B9) & _M64
    h = ((h ^ (h >> 27)) * 0x94D049BB133111EB) & _M64
    h ^= h >> 31
    return (i ^ (h & mask)) & mask


def _probe_cuckoo(
    stack: np.ndarray,
    victim_keys: set,
    values: pd.Series,
    n_shards: int,
    mask: int,
) -> pd.Series:
    """Two-bucket + victim-stash membership test — module-level so the
    pandas UDFs in might_contain_udf close over only a broadcast handle
    (or, in the sessionless fallback, the stacked tables) and never
    both."""
    if values.empty:
        return pd.Series([], dtype=bool)
    t = _triples_of(values.fillna(""), n_shards, mask)
    fp = t["fp"].to_numpy(np.int32).astype(np.uint16)
    i1 = t["i1"].to_numpy(np.int64)
    sh = t["shard"].to_numpy(np.int32)
    i2 = _alt_bucket(fp, i1, mask)
    hit = (stack[sh, i1] == fp[:, None]).any(axis=1) | (
        stack[sh, i2] == fp[:, None]
    ).any(axis=1)
    if victim_keys:
        k1 = (sh.astype(np.int64) << 48) | (i1 << 16) | fp
        k2 = (sh.astype(np.int64) << 48) | (i2 << 16) | fp
        hit |= np.array(
            [a in victim_keys or b in victim_keys for a, b in zip(k1, k2)]
        )
    return pd.Series(hit)


def _insert_into(
    table: np.ndarray, victims: list, fp: np.ndarray, i1: np.ndarray, mask: int
) -> int:
    """Sequential cuckoo insert of a triple batch into one shard table.
    Returns the number inserted into buckets (the rest joined victims —
    still positive at lookup, so never a false negative)."""
    rng_state = 0x9E3779B97F4A7C15  # deterministic kick-slot selector
    ok = 0
    # the whole batch's alt buckets come from ONE vectorized pass; the
    # python loop below never constructs arrays (the kick path uses the
    # scalar hash twin) — same placements, order-of-magnitude less
    # per-key overhead on the seen-set build path
    alts = _alt_bucket(np.asarray(fp), np.asarray(i1), mask)
    for f, b, a in zip(fp.tolist(), i1.tolist(), alts.tolist()):
        placed = False
        for idx in (b, a):
            row = table[idx]
            empty = np.nonzero(row == 0)[0]
            if empty.size:
                row[empty[0]] = f
                placed = True
                break
        if placed:
            ok += 1
            continue
        # kick loop: evict a deterministic slot, relocate the evictee
        cur_f, cur_b = f, b
        for _ in range(MAX_KICKS):
            rng_state = (rng_state * 6364136223846793005 + 1442695040888963407) % (
                1 << 64
            )
            slot = rng_state % BUCKET_SLOTS
            cur_f, table[cur_b][slot] = int(table[cur_b][slot]), cur_f
            cur_b = _alt_bucket_int(cur_f, cur_b, mask)
            row = table[cur_b]
            empty = np.nonzero(row == 0)[0]
            if empty.size:
                row[empty[0]] = cur_f
                placed = True
                break
        if placed:
            ok += 1
        else:
            victims.append((int(cur_b), int(cur_f)))
    return ok


class ShardedCuckoo:
    """Sharded cuckoo filter with the ShardedBloom engine interface
    (build / add_df / capacity / might_contain_col) plus delete_df."""

    def __init__(
        self,
        tables: list[np.ndarray],
        victims: list[list],
        n_buckets: int,
        capacity: int = 0,
    ):
        self.tables = tables
        self.victims = victims
        self.n_shards = len(tables)
        self.n_buckets = n_buckets
        self.mask = n_buckets - 1
        self.capacity = capacity
        # cached sc.broadcast of the stacked tables (see might_contain_udf);
        # invalidated whenever add_df/delete_df mutate the tables, or when
        # the SparkContext that created it is no longer the active one (a
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

    # -- construction --------------------------------------------------------
    @staticmethod
    def build(
        df: DataFrame,
        col: str,
        expected_items: int,
        n_shards: int = 4,
    ) -> "ShardedCuckoo":
        per_shard = max(expected_items // n_shards, 1)
        n_buckets = 1
        while n_buckets * BUCKET_SLOTS * TARGET_LOAD < per_shard:
            n_buckets *= 2
        n_buckets = max(n_buckets, 8)
        mask = n_buckets - 1

        def to_triples(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                vals = pdf[col].dropna()
                if not vals.empty:
                    yield _triples_of(vals, n_shards, mask)

        def build_shard(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
            table = np.zeros((n_buckets, BUCKET_SLOTS), dtype=np.uint16)
            victims: list = []
            _insert_into(
                table,
                victims,
                pdf["fp"].to_numpy(np.int32),
                pdf["i1"].to_numpy(np.int64),
                mask,
            )
            return pd.DataFrame(
                {
                    "shard": [int(key[0])],
                    "table": [table.tobytes()],
                    "victims": [
                        np.array(victims, dtype=np.int64).tobytes()
                    ],
                }
            )

        rows = (
            df.select(col)
            .mapInPandas(to_triples, _TRIPLE_SCHEMA)
            .groupBy("shard")
            .applyInPandas(
                build_shard, "shard int, table binary, victims binary"
            )
            .collect()
        )
        tables = [
            np.zeros((n_buckets, BUCKET_SLOTS), dtype=np.uint16)
            for _ in range(n_shards)
        ]
        victims: list[list] = [[] for _ in range(n_shards)]
        for r in rows:
            tables[r["shard"]] = (
                np.frombuffer(r["table"], dtype=np.uint16)
                .reshape(n_buckets, BUCKET_SLOTS)
                .copy()
            )
            v = np.frombuffer(r["victims"], dtype=np.int64).reshape(-1, 2)
            victims[r["shard"]] = [(int(a), int(b)) for a, b in v]
        return ShardedCuckoo(tables, victims, n_buckets, capacity=expected_items)

    def _collect_triples(self, df: DataFrame, col: str) -> pd.DataFrame:
        n_shards, mask = self.n_shards, self.mask

        def to_triples(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                vals = pdf[col].dropna()
                if not vals.empty:
                    yield _triples_of(vals, n_shards, mask)

        pdf = (
            df.select(col).mapInPandas(to_triples, _TRIPLE_SCHEMA).toPandas()
        )
        return pdf

    def add_df(self, df: DataFrame, col: str) -> None:
        """Insert an O(wave) url delta: triples computed distributed,
        applied to the resident tables (same locality story as the
        Bloom delta OR-in)."""
        pdf = self._collect_triples(df, col)
        for s, grp in pdf.groupby("shard"):
            _insert_into(
                self.tables[s],
                self.victims[s],
                grp["fp"].to_numpy(np.int32),
                grp["i1"].to_numpy(np.int64),
                self.mask,
            )
        self._invalidate_broadcast()

    def delete_df(self, df: DataFrame, col: str) -> int:
        """Remove ONE stored copy per url (cuckoo's structural advantage
        over Bloom — lets rollback retract retracted URLs).  Returns how
        many were found and removed."""
        pdf = self._collect_triples(df, col)
        removed = 0
        for s, grp in pdf.groupby("shard"):
            table, victims = self.tables[s], self.victims[s]
            for f, b in zip(
                grp["fp"].to_numpy(np.int32).tolist(),
                grp["i1"].to_numpy(np.int64).tolist(),
            ):
                f16 = np.uint16(f)
                b2 = _alt_bucket_int(f, b, self.mask)
                done = False
                for idx in (b, b2):
                    slots = np.nonzero(table[idx] == f16)[0]
                    if slots.size:
                        table[idx][slots[0]] = 0
                        removed += 1
                        done = True
                        break
                if not done:
                    for pair in ((b, int(f16)), (b2, int(f16))):
                        if pair in victims:
                            victims.remove(pair)
                            removed += 1
                            break
        self._invalidate_broadcast()
        return removed

    # -- membership ----------------------------------------------------------
    def might_contain_udf(self):
        """Vectorized membership probe.  Same broadcast contract as
        ShardedBloom.might_contain_udf: the stacked (n_shards, n_buckets, 4)
        fingerprint tables ride an ``sc.broadcast`` cached on the filter
        (invalidated by add_df/delete_df), never the task closure — at the
        10^10-url design scale the tables are GiB-sized and closure
        shipping pays that per TASK instead of once per executor.  Only
        the victim-key set (an overflow stash, a handful of entries) stays
        in the closure."""
        from pyspark.sql import SparkSession

        victim_keys = set()
        for s, vs in enumerate(self.victims):
            for b, f in vs:
                victim_keys.add((s << 48) | (b << 16) | f)
        n_shards, mask = self.n_shards, self.mask
        sc = SparkSession.active().sparkContext
        if self._bc is None or self._bc_ctx is not sc:
            self._invalidate_broadcast()
            self._bc = sc.broadcast(np.stack(self.tables))  # (n_shards, n_buckets, 4)
            self._bc_ctx = sc
        bc = self._bc

        @F.pandas_udf(T.BooleanType())
        def might_contain(values: pd.Series) -> pd.Series:
            return _probe_cuckoo(bc.value, victim_keys, values, n_shards, mask)

        return might_contain

    def might_contain_col(self, c: Column) -> Column:
        return self.might_contain_udf()(c)
