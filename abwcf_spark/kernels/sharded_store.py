"""Shared plumbing for the sharded executor-side URL-seen stores
(bloom_shards.ShardedBloom, cuckoo_shards.ShardedCuckoo).

The crash-safety invariants live HERE, once, so the two filter kinds
cannot drift:

- **monotonic write counter** (``wseq``): every write allocates a fresh
  version, so a shard file path, once written, is never written again —
  a long-lived python worker that cached a path can never be served
  stale bits (see bloom_shards' module docstring for the full argument);
- **resync past orphans**: a resume must bump ``wseq`` past BOTH the
  manifested value and anything on disk (a crashed run's post-manifest
  writes would otherwise collide);
- **prune keep-set**: deleting unreferenced versions must keep the
  previously-MANIFESTED map too, so a crash between prune and the next
  manifest write can never orphan a referenced version.

Subclasses own the filter-specific parts only: file payload
(de)serialization, the per-shard mutate ops, and the probe UDF.  The
worker-side shard cache (``load_shard``) and the frontier rebuild are
shared here too.
"""

from __future__ import annotations

import os
from collections import OrderedDict

# per-worker cache of decoded shard files, keyed on (path, mtime_ns, size):
# versions are never rewritten (monotonic write counter), and the stat key
# makes even an out-of-protocol rewrite impossible to serve stale
_SHARD_CACHE: OrderedDict[tuple, object] = OrderedDict()
_SHARD_CACHE_MAX = 64


def shard_path(directory: str, shard: int, version: int) -> str:
    return os.path.join(directory, f"shard={shard:05d}", f"v={version:06d}.bin")


def load_shard(path: str, decode):
    """The decoded shard file at ``path`` through the per-worker LRU;
    ``decode(path)`` runs only on a miss."""
    st = os.stat(path)
    key = (path, st.st_mtime_ns, st.st_size)
    val = _SHARD_CACHE.get(key)
    if val is None:
        val = _SHARD_CACHE[key] = decode(path)
        while len(_SHARD_CACHE) > _SHARD_CACHE_MAX:
            _SHARD_CACHE.popitem(last=False)
    else:
        _SHARD_CACHE.move_to_end(key)
    return val


class ShardedSeenStore:
    KIND = "?"

    def _init_store(self, directory: str, n_shards: int) -> None:
        self.dir = directory
        self.n_shards = int(n_shards)
        self.versions: dict[int, int] = {}   # shard -> write-counter version
        self.n_added = 0
        self.wseq = self._disk_max_version()

    def _disk_max_version(self) -> int:
        mx = 0
        if os.path.isdir(self.dir):
            for ent in os.listdir(self.dir):
                if not ent.startswith("shard="):
                    continue
                sd = os.path.join(self.dir, ent)
                for f in os.listdir(sd):
                    if f.startswith("v=") and f.endswith(".bin"):
                        mx = max(mx, int(f[2:-4]))
        return mx

    # ------------------------------------------------------------- metadata
    def _manifest_common(self) -> dict:
        return dict(
            kind=self.KIND, n_shards=self.n_shards,
            n_added=self.n_added, wseq=self.wseq,
            versions={str(s): v for s, v in self.versions.items()},
        )

    def _restore_common(self, directory: str, m: dict) -> None:
        """Shared half of from_manifest: versions/counters + the wseq
        resync past any post-manifest orphans a crashed run left."""
        self.dir = directory
        self.n_shards = int(m["n_shards"])
        self.versions = {int(s): int(v) for s, v in m["versions"].items()}
        self.n_added = int(m["n_added"])
        self.wseq = max(int(m.get("wseq", 0)),
                        max(self.versions.values(), default=0),
                        self._disk_max_version())

    # ------------------------------------------------------------- cleanup
    def prune(self, keep_versions: dict[int, set[int]] | None = None) -> None:
        """Delete shard file versions not referenced by the current map nor
        by ``keep_versions`` (the last manifested map) — called at
        checkpoint time so a crash can never orphan a referenced version."""
        keep_versions = keep_versions or {}
        if not os.path.isdir(self.dir):
            return
        for ent in os.listdir(self.dir):
            if not ent.startswith("shard="):
                continue
            shard = int(ent.split("=", 1)[1])
            keep = {self.versions.get(shard)} | set(keep_versions.get(shard, ()))
            sd = os.path.join(self.dir, ent)
            for f in os.listdir(sd):
                if f.startswith("v=") and f.endswith(".bin"):
                    v = int(f[2:-4])
                    if v not in keep:
                        os.unlink(os.path.join(sd, f))

    # ------------------------------------------------------------- rebuild
    def rebuild_from(self, frontier) -> int:
        """Coherence repair: reconstruct the whole set from a frontier
        url_hash scan (restore-without-filter-state, or external appends
        that bypassed the round loop).  The rebuild gets its own write-
        counter version, so a subsequent same-round add can never overwrite
        it."""
        self.versions = {}
        self.n_added = 0
        return self.add_dataframe(frontier.select("url_hash"), "url_hash")
