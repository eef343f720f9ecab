"""Sharded, executor-side CUCKOO URL-seen set — the deletable alternative to
kernels/bloom_shards.ShardedBloom, drop-in behind the same interface
(``add_dataframe`` / ``make_probe_udf`` / ``rebuild_from`` / ``prune`` /
``to_manifest``/``from_manifest``), selected by
``SparkCrawler(seen_filter="cuckoo")``.

Identical distribution story to the bloom (see bloom_shards' module
docstring — the shard files stand in for a DFS/object store; the driver
holds only the O(K) shard→version map): keys route to shard ``hash mod K``,
updates run one-writer-per-shard via ``groupBy(shard).applyInPandas`` under
a MONOTONIC write-counter version (paths are never rewritten), probes read
immutable versioned files through a per-worker LRU cache.

What the cuckoo adds over the bloom: ``remove_dataframe`` — deleting a
URL's fingerprint (recrawl eviction, frontier purges) without rebuilding
the set, which a plain bloom cannot do.  What it costs: inserts are an
eviction loop instead of a vectorized bit-OR, so the bloom stays the
default for pure append-only crawls (the bench path).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

from .cuckoo import CuckooFilter
from .sharded_store import ShardedSeenStore, load_shard, shard_path


def _read_filter(path: str) -> CuckooFilter:
    with open(path, "rb") as f:
        return CuckooFilter.from_bytes(f.read())


class ShardedCuckoo(ShardedSeenStore):
    KIND = "cuckoo"
    # session-scope eviction gauge (CacheMetrics.scala:53-69 parity):
    # cumulative kick-chain displacements reported by shard writers.
    # Class default covers the from_manifest path; resume starts at 0
    # (counters are per-process, the metrics table is the durable record).
    n_kicks = 0

    def __init__(self, directory: str, capacity: int, fpp: float = 0.01,
                 n_shards: int = 16):
        # fpp accepted for interface parity; the 16-bit-fingerprint 4-way
        # table's bound (~1.2e-4) is far below any fpp a bloom would get
        self.per_shard_capacity = max(int(capacity) // int(n_shards), 64)
        self._init_store(directory, n_shards)

    # ------------------------------------------------------------- metadata
    def to_manifest(self) -> dict:
        return dict(
            self._manifest_common(),
            per_shard_capacity=self.per_shard_capacity,
        )

    @classmethod
    def from_manifest(cls, directory: str, m: dict) -> "ShardedCuckoo":
        sc = cls.__new__(cls)
        sc.per_shard_capacity = int(m["per_shard_capacity"])
        sc._restore_common(directory, m)
        return sc

    # ------------------------------------------------------------- update
    def _apply_dataframe(self, df, hash_col: str, op: str) -> int:
        """Shared add/remove plumbing: group keys by shard, one writer task
        per shard loads the current version, mutates, writes a fresh
        monotonic version.  Returns rows touched."""
        from pyspark.sql import functions as F

        self.wseq += 1
        wv = self.wseq
        directory, n_shards = self.dir, self.n_shards
        cap = self.per_shard_capacity
        versions = dict(self.versions)

        def write_shard(key, pdf: pd.DataFrame) -> pd.DataFrame:
            shard = int(key[0])
            hashes = pdf["_h"].to_numpy(dtype=np.int64)
            cur = versions.get(shard)
            if cur is None and op == "remove":
                # never-written shard: nothing to remove, and writing an
                # empty filter would defeat the probe's "no version →
                # provably never inserted" short-circuit
                return pd.DataFrame({"shard": [], "n": [], "kicks": []}).astype(
                    {"shard": "int32", "n": "int64", "kicks": "int64"}
                )
            if cur is not None:
                cf = _read_filter(shard_path(directory, shard, cur))
            else:
                cf = CuckooFilter.for_capacity(cap)
            if op == "add":
                # dedup before insert: CuckooFilter.add_hashes stores a
                # fingerprint PER CALL, so repeated keys in one batch would
                # inflate the load factor and need matching repeated
                # removes.  np.unique also sorts, making per-shard insert
                # order (and thus eviction chains) deterministic regardless
                # of upstream partition order.
                hashes = np.unique(hashes)
                cf.add_hashes(hashes)
                n = len(hashes)
            else:
                n = cf.remove_hashes(hashes)
            # kick counter starts 0 on every load, so cf.n_kicks IS this
            # batch's eviction-displacement delta (CacheMetrics eviction
            # parity, aggregated driver-side)
            kicks = int(cf.n_kicks)
            cf.n_kicks = 0  # the cached filter object must not double-count
            out = shard_path(directory, shard, wv)
            os.makedirs(os.path.dirname(out), exist_ok=True)
            tmp = out + f".tmp{os.getpid()}"
            with open(tmp, "wb") as f:
                f.write(cf.to_bytes())
            os.replace(tmp, out)
            return pd.DataFrame({"shard": [shard], "n": [n], "kicks": [kicks]})

        rows = (
            df.select(F.col(hash_col).alias("_h"))
            .withColumn("_shard", F.pmod(F.col("_h"), F.lit(n_shards)))
            .groupBy("_shard")
            .applyInPandas(write_shard, "shard int, n long, kicks long")
            .collect()
        )
        touched = 0
        for r in rows:
            self.versions[int(r.shard)] = wv
            touched += int(r.n)
            self.n_kicks += int(r.kicks)
        return touched

    def add_dataframe(self, df, hash_col: str) -> int:
        added = self._apply_dataframe(df, hash_col, "add")
        self.n_added += added
        return added

    def remove_dataframe(self, df, hash_col: str) -> int:
        """The capability the bloom lacks: drop fingerprints executor-side.
        Only remove keys previously added (cuckoo deletion caveat — see
        kernels/cuckoo.remove_hashes)."""
        removed = self._apply_dataframe(df, hash_col, "remove")
        self.n_added -= removed
        return removed

    # ------------------------------------------------------------- probe
    def make_probe_udf(self):
        from pyspark.sql import functions as F
        from pyspark.sql.types import BooleanType

        directory, n_shards = self.dir, self.n_shards
        versions = dict(self.versions)

        @F.pandas_udf(BooleanType())
        def probe(hashes: pd.Series) -> pd.Series:
            h = hashes.to_numpy(dtype=np.int64)
            out = np.zeros(len(h), dtype=bool)
            shards = h % n_shards
            for shard in np.unique(shards):
                v = versions.get(int(shard))
                if v is None:
                    continue  # empty shard: provably never inserted
                cf = load_shard(shard_path(directory, int(shard), v),
                                _read_filter)
                mask = shards == shard
                out[mask] = cf.might_contain(h[mask])
            return pd.Series(out, index=hashes.index)

        return probe
    # rebuild_from() and prune() inherited from ShardedSeenStore
