#!/usr/bin/env python
"""spark-submit entry point: build the full search index from a pages table.

Usage (cluster):
  spark-submit --py-files engine.zip scripts/build_index.py \
      --pages s3://bucket/pages --out s3://bucket/index \
      [--blocked [--shards N]] [--pagerank] [--resumable --buckets 64]

Usage (local): python scripts/build_index.py --pages ... --out ...

Build modes:
  default     flat postings + doc_stats (+ pageranks with --pagerank)
  --blocked   adds the compressed, term-bucket-partitioned serving index
  --resumable routes through plans.lineage.checkpointed_index_build
              (per-bucket lineage + fingerprints; re-run to resume)
  --format warc  ingest Common-Crawl-style WARC archives instead of a
              parquet pages table (HTML-to-text extraction runs as part
              of the build; --dictionary supplies the valid-words file)

Make engine.zip: (cd repo && zip -r engine.zip google_like_search_engine_spark)
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", required=True, help="pages parquet path (or WARC dir with --format warc)")
    ap.add_argument("--out", required=True, help="index output dir")
    ap.add_argument("--format", choices=["parquet", "warc"], default="parquet")
    ap.add_argument(
        "--dictionary",
        help="valid-words file (one per line) for --format warc extraction; "
        "defaults to the fixture vocabulary",
    )
    ap.add_argument("--blocked", action="store_true")
    ap.add_argument("--shards", type=int, default=0,
                    help="with --blocked: also build N hash-sharded "
                         "blocked indexes under <out>/shards/ (each an "
                         "independent index; query with query_index.py "
                         "--shards, compact with merge_shards.py)")
    ap.add_argument("--pagerank", action="store_true")
    ap.add_argument("--resumable", action="store_true")
    ap.add_argument("--buckets", type=int, default=16)
    ap.add_argument("--pagerank-threshold", type=float, default=0.001)
    args = ap.parse_args()

    from google_like_search_engine_spark.engine import SearchEngine
    from google_like_search_engine_spark.session import get_spark

    spark = get_spark("build_index")
    if args.format == "warc":
        from google_like_search_engine_spark.sources.warc import warc_to_pages

        if args.dictionary:
            with open(args.dictionary) as f:
                dictionary = frozenset(w.strip() for w in f if w.strip())
        else:
            from google_like_search_engine_spark.corpus import fixture_dictionary

            dictionary = fixture_dictionary()
        pages = warc_to_pages(spark, args.pages, dictionary)
    else:
        pages = spark.read.parquet(args.pages)

    t0 = time.perf_counter()
    if args.resumable:
        from google_like_search_engine_spark.indexer import docs_from_pages
        from google_like_search_engine_spark.plans.lineage import (
            checkpointed_index_build,
        )

        lineage = checkpointed_index_build(
            docs_from_pages(pages), args.out, n_buckets=args.buckets
        )
        n_docs = sum(r["n_docs"] for r in lineage.values())
        print(f"resumable build: {len(lineage)} buckets, {n_docs} docs")
    else:
        eng = SearchEngine(spark).build(
            pages,
            run_pagerank=args.pagerank,
            pagerank_threshold=args.pagerank_threshold,
            collect_metrics=True,
        )
        eng.save(args.out)
        m = eng.build_metrics
        print(
            f"metrics: {m['n_postings']} postings, {m['n_terms']} terms, "
            f"{len(m['partitions'])} partitions, phases {m['phases_sec']} "
            f"-> {args.out}/build_metrics.json"
        )
        if args.blocked:
            eng.save_blocked(os.path.join(args.out, "blocked"))
        if args.blocked and args.shards > 1:
            # hash-shard by url: each shard is a full independent
            # blocked index over its subset (own sidecars), the unit a
            # 100 TB deployment builds/replaces per job; global stats
            # recombine at query time (search_*_blocked over the shard list)
            from pyspark.sql import functions as F

            for i in range(args.shards):
                sub = eng.postings.where(
                    F.pmod(F.xxhash64("url"), F.lit(args.shards)) == i
                )
                se = SearchEngine(spark)
                se.postings = sub
                se.doc_stats = eng.doc_stats.where(
                    F.pmod(F.xxhash64("url"), F.lit(args.shards)) == i
                )
                se.save_blocked(os.path.join(args.out, "shards", f"s{i}"))
            print(f"built {args.shards} blocked shards -> {args.out}/shards/")
        n_docs = eng.total_documents
    dt = time.perf_counter() - t0
    print(f"indexed {n_docs} docs in {dt:.1f}s ({n_docs / dt:.1f} docs/sec) -> {args.out}")
    spark.stop()


if __name__ == "__main__":
    main()
