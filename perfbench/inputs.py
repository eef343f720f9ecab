"""Input generator for the perfbench workloads (run as its own process).

Every crawl input comes from here, so the Spark process under measurement
receives only generated parquet tables:

- the corpus table (one row per fetchable URL) depends only on ``SPEC``,
  never on the seed, so it is generated once per size and cached under the
  work directory;
- the small ``robots`` and ``seeds`` tables are drawn from ``--seed``: which
  hosts are unavailable, unreachable or robots-redirected (a fixed count of
  each) and the seed-list order;
- the expected crawl (pure-Python oracle ``abwcf_spark.testing.oracle``)
  is reduced to a digest of the crawl order and the URL-seen set, cached per
  (size, seed).

Usage: python3 perfbench/inputs.py <workload> <seed> <work_dir>
Prints one JSON object with the table paths and the oracle digest.
"""

from __future__ import annotations

import dataclasses
import hashlib
import json
import os
import random
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from abwcf_spark.config import CrawlConfig  # noqa: E402
from abwcf_spark.testing.corpus import CorpusSpec, gen_corpus, page_url  # noqa: E402

# The crawl workload's corpus: a wide, leafless fanout-200 link tree whose
# pages carry 96x64 image payloads.  Rows depend only on this spec.
SPEC = CorpusSpec(
    n_hosts=16, urls_per_host=400, seed_hosts=16, with_images=True,
    image_size=(96, 64), fanout=200, leaf_links=False,
)
# Crawl delay 0 on every robots-ok host, so the per-host budget is the cap
# and the crawl takes 3 fetch rounds (each crawlable host's root, then its
# pages 1-200, then pages 201-399: 5600 fetches).  A round spans
# 1000 virtual seconds, so an unavailable host (default 1 s delay) may
# still fetch 1000 pages a round and never adds rounds.
CFG = CrawlConfig(round_seconds=1000.0, max_fetches_per_host_per_round=100_000,
                  max_rounds=64)
# delta chains compact once they hold more than this many rounds: every
# 3-round crawl crosses one compaction (the engine default is 8)
COMPACT_AFTER = 2
# hosts the seed places in each robots role
UNAVAILABLE, UNREACHABLE, REDIRECTED = 2, 2, 2

CORPUS_FIELDS = [
    ("url", "string"), ("image_id", "string"),
    ("bytes", "binary"), ("content_length", "int64"),
    ("w", "int64"), ("h", "int64"), ("fmt", "string"),
    ("caption", "string"), ("phash", "int64"),
    ("status_code", "int64"), ("content_type", "string"),
    ("redirect_to", "string"), ("x_robots_tag", "string"),
    ("meta_robots", "string"), ("out_links", "list<string>"),
]
ROBOTS_FIELDS = [
    ("scheme_and_authority", "string"), ("fetch_outcome", "string"),
    ("robots_body", "string"), ("robots_body2", "string"),
    ("switch_ms", "int64"), ("robots_redirect_to", "string"),
]
SEEDS_FIELDS = [("url", "string"), ("seq", "int64")]
ROWS_PER_FILE = 512


def _schema(fields):
    import pyarrow as pa

    types = {
        "string": pa.string(), "binary": pa.binary(), "int64": pa.int64(),
        "list<string>": pa.list_(pa.string()),
    }
    return pa.schema([(n, types[t]) for n, t in fields])


def _write(pdf, fields, path: str, rows_per_file: int | None = None) -> None:
    """Write ``pdf`` under one explicit schema.  Columns the frame lacks
    (``robots_redirect_to`` when no host redirects) are written as typed
    nulls, never dropped, so every file of a table has the same schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = _schema(fields)
    for name, _ in fields:
        if name not in pdf.columns:
            pdf[name] = None
    table = pa.Table.from_pandas(
        pdf[[n for n, _ in fields]], schema=schema, preserve_index=False
    )
    if rows_per_file is None:
        pq.write_table(table, path)
        return
    os.makedirs(path, exist_ok=True)
    for i, start in enumerate(range(0, max(table.num_rows, 1), rows_per_file)):
        pq.write_table(table.slice(start, rows_per_file),
                       os.path.join(path, f"part-{i:04d}.parquet"))


def size_key() -> str:
    blob = json.dumps(dataclasses.asdict(SPEC), sort_keys=True, default=str)
    return f"corpus-{hashlib.sha256(blob.encode()).hexdigest()[:12]}"


def seeded_spec(seed: int) -> CorpusSpec:
    """SPEC with the seed-drawn robots roles: which hosts are unavailable,
    unreachable or robots-redirected (to a robots-ok host)."""
    rng = random.Random(f"robots:{seed}")
    hosts = list(range(SPEC.n_hosts))
    rng.shuffle(hosts)
    k1, k2, k3 = UNAVAILABLE, UNAVAILABLE + UNREACHABLE, UNAVAILABLE + UNREACHABLE + REDIRECTED
    ok_hosts = hosts[k3:]
    return dataclasses.replace(
        SPEC,
        unavailable_hosts=tuple(sorted(hosts[:k1])),
        unreachable_hosts=tuple(sorted(hosts[k1:k2])),
        robots_redirects={h: rng.choice(ok_hosts) for h in hosts[k2:k3]},
        crawl_delays={h: 0.0 for h in range(SPEC.n_hosts)},
    )


def seeded_tables(seed: int) -> dict:
    """robots + seeds for this seed; the seed list is a seeded permutation
    of the hosts' root pages, numbered in list order."""
    import pandas as pd

    spec = seeded_spec(seed)
    small = gen_corpus(spec, only_hosts=set())
    order = list(range(spec.seed_hosts))
    random.Random(f"seeds:{seed}").shuffle(order)
    seeds = pd.DataFrame(
        [dict(url=page_url(h, 0), seq=i) for i, h in enumerate(order)]
    )
    return {"robots": small["robots"], "seeds": seeds}


def crawl_digest(crawl_order, url_status) -> str:
    """Digest of a crawl: the exact (fetch_order, url) sequence plus the
    final URL-seen set with each URL's status."""
    h = hashlib.sha256()
    for seq, url in crawl_order:
        h.update(f"{int(seq)}\t{url}\n".encode())
    h.update(b"--\n")
    for url, status in sorted(url_status):
        h.update(f"{url}\t{status}\n".encode())
    return h.hexdigest()


def ensure_corpus(work_dir: str) -> str:
    d = os.path.join(work_dir, "corpus", size_key())
    if os.path.exists(os.path.join(d, "_COMPLETE")):
        return os.path.join(d, "corpus")
    import shutil

    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    _write(gen_corpus(SPEC)["corpus"], CORPUS_FIELDS, os.path.join(d, "corpus"),
           ROWS_PER_FILE)
    open(os.path.join(d, "_COMPLETE"), "w").close()
    return os.path.join(d, "corpus")


def prepare(workload: str, seed: int, work_dir: str) -> dict:
    """Ensure every input of one run exists and return their paths: the
    crawl gets the corpus, its seeded tables and the oracle digest; the
    query workload reads the repository's sf tables and gets nothing."""
    if workload != "crawl_payload":
        return {}
    out = dict(corpus=ensure_corpus(work_dir))
    rdir = os.path.join(work_dir, "inputs", f"{size_key()}-s{seed}")
    meta_path = os.path.join(rdir, "oracle.json")
    if not os.path.exists(meta_path):
        import pyarrow.parquet as pq

        from abwcf_spark.testing.oracle import crawl_oracle

        os.makedirs(rdir, exist_ok=True)
        tables = seeded_tables(seed)
        _write(tables["robots"], ROBOTS_FIELDS, os.path.join(rdir, "robots.parquet"))
        _write(tables["seeds"], SEEDS_FIELDS, os.path.join(rdir, "seeds.parquet"))
        # the oracle needs no payload bytes: every image is far below
        # max_content_length, and payload checks are the engine's side
        cols = [n for n, _ in CORPUS_FIELDS if n != "bytes"]
        corpus = pq.read_table(out["corpus"], columns=cols).to_pandas()
        corpus["out_links"] = corpus["out_links"].map(list)
        corpus = corpus.astype(object).where(corpus.notna(), None)
        oracle = crawl_oracle(corpus, tables["robots"], tables["seeds"], CFG)
        meta = dict(
            digest=crawl_digest(oracle.crawl_order, oracle.url_seen().items()),
            rounds=oracle.rounds, fetched=len(oracle.crawl_order),
        )
        with open(meta_path + ".tmp", "w") as f:
            json.dump(meta, f)
        os.replace(meta_path + ".tmp", meta_path)
    with open(meta_path) as f:
        out["oracle"] = json.load(f)
    out["robots"] = os.path.join(rdir, "robots.parquet")
    out["seeds"] = os.path.join(rdir, "seeds.parquet")
    return out


if __name__ == "__main__":
    wl, sd, wd = sys.argv[1], int(sys.argv[2]), sys.argv[3]
    print(json.dumps(prepare(wl, sd, wd)))
