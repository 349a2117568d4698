#!/usr/bin/env python
"""Measure sharded-query fan-out: sequential per-shard loop vs the
concurrent scatter of search_bm25_blocked over a shard list, at 1/2/4
shards over the same corpus.

  python scripts/shard_fanout_bench.py [n_pages] [n_queries]

Writes BENCH/shard_fanout.json. Same-session interleaved A/B (the only
timing methodology that survives this host's epoch drift); a probe
wall is recorded alongside.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def probe():
    t0 = time.time()
    x = 0
    for i in range(20_000_000):
        x += i
    return round(time.time() - t0, 2)


def main():
    n_pages = int(sys.argv[1]) if len(sys.argv) > 1 else 2000
    n_queries = int(sys.argv[2]) if len(sys.argv) > 2 else 12

    from pyspark.sql import functions as F

    from google_like_search_engine_spark.corpus import generate_pages
    from google_like_search_engine_spark.engine import SearchEngine
    from google_like_search_engine_spark.indexer import build_postings, docs_from_pages
    from google_like_search_engine_spark.session import get_spark

    spark = get_spark("shard_fanout", cores=8, shuffle_partitions=8)
    base = "/tmp/shard_fanout_bench"
    pages = generate_pages(spark, n_pages, partitions=8)
    docs = docs_from_pages(pages)
    postings = build_postings(docs).persist()
    postings.count()

    def build(pred, path):
        e = SearchEngine(spark)
        e.postings = postings.where(pred) if pred is not None else postings
        e.doc_stats = e.postings.groupBy("doc_id", "url").agg(
            F.sum("tf").alias("n_term_entries")
        )
        e.save_blocked(path)

    layouts = {}
    for n_shards in (1, 2, 4):
        paths = []
        for i in range(n_shards):
            p = f"{base}/s{n_shards}_{i}"
            pred = (
                None if n_shards == 1
                else F.pmod(F.xxhash64("url"), F.lit(n_shards)) == i
            )
            build(pred, p)
            paths.append(p)
        layouts[n_shards] = paths

    eng = SearchEngine(spark)
    queries = ["apple fig", "grape melon kiwi", "banana date", "peach plum"]
    probe_before = probe()

    def run(paths, workers):
        # workers=1 forces the sequential baseline through the same code
        walls = []
        for qi in range(n_queries):
            q = queries[qi % len(queries)]
            t0 = time.perf_counter()
            if workers == 1 and len(paths) > 1:
                # sequential scatter: per-shard queries one after another
                rows = []
                for p in paths:
                    rows.extend(
                        (r["url"], float(r["score"]))
                        for r in eng.search_bm25_blocked(p, q, k=10).collect()
                    )
                rows.sort(key=lambda x: (-x[1], x[0]))
                _ = rows[:10]
            else:
                _ = eng.search_bm25_blocked(paths, q, k=10).collect()
            walls.append((time.perf_counter() - t0) * 1000)
        walls = walls[2:]  # drop warmup
        return round(statistics.median(walls), 1)

    out = {"n_pages": n_pages, "n_queries": n_queries,
           "probe_busyloop_s": [probe_before]}
    for n_shards, paths in layouts.items():
        seq = run(paths, 1) if n_shards > 1 else None
        conc = run(paths, 8)
        out[f"shards_{n_shards}"] = {
            "concurrent_p50_ms": conc,
            **({"sequential_p50_ms": seq} if seq else {}),
        }
    out["probe_busyloop_s"].append(probe())
    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/shard_fanout.json", "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
