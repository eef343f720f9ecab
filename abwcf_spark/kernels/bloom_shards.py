"""Sharded, executor-side bloom URL-seen set — the 10^10-key scale path.

Round 1 kept the bloom bit array ON THE DRIVER: every round `.toPandas()`'d
all newly inserted url_hash values to mutate it, then re-broadcast the whole
array (up to ~12 GB at 10^10-key capacity).  This module removes the driver
from the data path entirely (reference analogue: the URL-seen state lives
sharded across PageManager entities, ``/root/reference/src/main/scala/abwcf/
actors/PageManager.scala:47-59``, never on one node):

- the bit array is split into K shards by ``url_hash mod K`` (matches
  ``F.pmod``: python's floored ``%`` is non-negative for positive K);
- **update**: the round's inserted hashes are grouped by shard with
  ``groupBy(shard).applyInPandas`` — each executor task ORs its shard's new
  bit positions into the shard file and atomically renames a new version
  into place (one writer per shard per round, guaranteed by the groupBy).
  Only shard METADATA (id, row count) returns to the driver: O(K), not
  O(rows);
- **probe**: a pandas UDF whose closure carries only the tiny
  ``{shard: version}`` map; executors read (and LRU-cache) immutable
  versioned shard files from shared storage.  A negative probe proves the
  URL was never inserted; positives fall through to the exact anti-join.

Shard files live under ``<dir>/shard=S/v=W.bin`` where W is a MONOTONIC
write counter (never the round number: two writes in the same round — e.g.
a restore-rebuild followed by that round's insert batch — must produce two
distinct immutable files, or a long-lived python worker that cached the
first file would serve stale bits and the resulting bloom false negatives
would re-insert already-seen URLs).  Every write allocates a fresh W, so a
path, once written, is never written again; worker caches additionally key
on (mtime, size) as a defense-in-depth check.  A killed run resumes from
whatever version map its manifest recorded, and the write counter re-syncs
past any orphaned on-disk versions from the crashed run.  The local
filesystem stands in for the cluster's shared store (DFS/object store) —
on a real cluster each executor pulls only the shards its tasks touch
(12 GB / 1024 shards ≈ 12 MB per shard at the design point).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

from .bloom import BloomFilter
from .sharded_store import ShardedSeenStore, load_shard, shard_path


def _read_words(path: str) -> np.ndarray:
    return np.fromfile(path, dtype=np.uint64)


def _shard_view(words: np.ndarray, n_hashes: int) -> BloomFilter:
    bf = BloomFilter(len(words) * 64, n_hashes)
    bf.words = words
    return bf


class ShardedBloom(ShardedSeenStore):
    KIND = "bloom"
    def __init__(self, directory: str, capacity: int, fpp: float = 0.01,
                 n_shards: int = 16):
        per_shard = max(int(capacity) // int(n_shards), 64)
        proto = BloomFilter.for_capacity(per_shard, fpp)
        self.n_bits = proto.n_bits
        self.n_hashes = proto.n_hashes
        self.n_words = self.n_bits // 64
        # monotonic write counter, version map, prune keep-set semantics:
        # shared with the cuckoo store (kernels/sharded_store.py) so the
        # crash-safety invariants live in exactly one place
        self._init_store(directory, n_shards)

    # ------------------------------------------------------------- metadata
    def to_manifest(self) -> dict:
        return dict(
            self._manifest_common(), n_bits=self.n_bits, n_hashes=self.n_hashes,
        )

    @classmethod
    def from_manifest(cls, directory: str, m: dict) -> "ShardedBloom":
        sb = cls.__new__(cls)
        sb.n_bits = int(m["n_bits"])
        sb.n_hashes = int(m["n_hashes"])
        sb.n_words = sb.n_bits // 64
        sb._restore_common(directory, m)
        return sb

    # ------------------------------------------------------------- update
    def add_dataframe(self, df, hash_col: str) -> int:
        """OR the hashes of ``df[hash_col]`` into the shard files, executor-
        side, under a freshly allocated write-counter version (paths are
        never rewritten — see module docstring).  Returns rows added; driver
        traffic is one (shard, count) row per touched shard."""
        from pyspark.sql import functions as F

        self.wseq += 1
        wv = self.wseq
        directory, n_shards = self.dir, self.n_shards
        n_bits, n_hashes, n_words = self.n_bits, self.n_hashes, self.n_words
        versions = dict(self.versions)

        def write_shard(key, pdf: pd.DataFrame) -> pd.DataFrame:
            shard = int(key[0])
            hashes = pdf["_h"].to_numpy(dtype=np.int64)
            cur = versions.get(shard)
            bf = BloomFilter(n_bits, n_hashes)
            if cur is not None:
                bf.words = _read_words(shard_path(directory, shard, cur))
            bf.add_hashes(hashes)
            out = shard_path(directory, shard, wv)
            os.makedirs(os.path.dirname(out), exist_ok=True)
            tmp = out + f".tmp{os.getpid()}"
            bf.words.tofile(tmp)
            os.replace(tmp, out)
            return pd.DataFrame({"shard": [shard], "n": [len(hashes)]})

        rows = (
            df.select(F.col(hash_col).alias("_h"))
            .withColumn("_shard", F.pmod(F.col("_h"), F.lit(n_shards)))
            .groupBy("_shard")
            .applyInPandas(write_shard, "shard int, n long")
            .collect()
        )
        added = 0
        for r in rows:
            self.versions[int(r.shard)] = wv
            added += int(r.n)
        self.n_added += added
        return added

    # ------------------------------------------------------------- probe
    def make_probe_udf(self):
        """pandas UDF over signed-64 hash values → boolean maybe-seen.
        Closure state: the O(K) version map only — no bit-array broadcast."""
        from pyspark.sql import functions as F
        from pyspark.sql.types import BooleanType

        directory, n_shards = self.dir, self.n_shards
        n_hashes, n_words = self.n_hashes, self.n_words
        versions = dict(self.versions)

        @F.pandas_udf(BooleanType())
        def probe(hashes: pd.Series) -> pd.Series:
            h = hashes.to_numpy(dtype=np.int64)
            out = np.zeros(len(h), dtype=bool)
            shards = h % n_shards  # signed floored mod == pmod (non-negative)
            for shard in np.unique(shards):
                v = versions.get(int(shard))
                if v is None:
                    continue  # empty shard: provably never inserted
                path = shard_path(directory, int(shard), v)
                words = load_shard(path, _read_words)
                assert len(words) == n_words, (
                    f"shard file {path}: {len(words)} != {n_words}"
                )
                mask = shards == shard
                out[mask] = _shard_view(words, n_hashes).might_contain(h[mask])
            return pd.Series(out, index=hashes.index)

        return probe
    # rebuild_from() and prune() inherited from ShardedSeenStore
