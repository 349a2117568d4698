"""Program side of the index_build workload: one process, one report.

Generates the seeded inputs (untimed), then times the index life
cycle through ``SearchEngine``'s public methods:

  build      pages -> postings, doc stats, dictionary, PageRank
  save       flat parquet index
  save_blocked  compressed blocked index (the base shard)
  publish    build + save_blocked of a delta shard that re-crawls about
             10% of the base urls with new text and adds new urls

then checks the result (``fsck_blocked(deep=True)`` of the base
index, and the doc counts of both shards against the inputs)
and prints one ``PB`` JSON line for ``run.py``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import re
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.serve_proc import spark_conf  # noqa: E402

RECRAWL_SHARE = 0.10
NEW_SHARE = 0.10
# build()'s default (0.001) needs ~3x the power iterations; each is a
# few Spark jobs, and the run must fit the benchmark's time budget
PAGERANK_THRESHOLD = 0.01


HAS_WORD = re.compile("[a-z]")


def make_inputs(seed: int, n: int):
    """Base pages ``0..n-1`` and a delta: ~10% of them re-crawled with
    new text plus ~10% new pages. Rows are ``corpus.make_page``'s, the
    same rows ``corpus.generate_pages`` yields, made driver-side so no
    Spark job runs before the timed build."""
    from google_like_search_engine_spark.corpus import (
        fixture_dictionary,
        fixture_vocabulary,
        make_page,
    )

    vocab, dictionary = fixture_vocabulary(), fixture_dictionary()
    rng = random.Random(seed)
    n_new = int(n * NEW_SHARE)
    recrawl = sorted(rng.sample(range(n), int(n * RECRAWL_SHARE)))
    base = [make_page(i, n, vocab, dictionary, seed) for i in range(n)]
    delta = [
        make_page(i, n + n_new, vocab, dictionary, seed + 1)
        for i in recrawl + list(range(n, n + n_new))
    ]
    return base, delta


def write_pages(rows: list, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = list(zip(*rows))
    pq.write_table(pa.table({
        "url": pa.array(cols[0], pa.string()),
        "warc_ts": pa.array(cols[1], pa.timestamp("us", tz="UTC")),
        "html": pa.array(cols[2], pa.binary()),
        "text": pa.array(cols[3], pa.string()),
        "lang": pa.array(cols[4], pa.string()),
    }), path)


def du(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _dirs, files in os.walk(path) for f in files
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--pages", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--event-log", default="")
    args = ap.parse_args()

    from google_like_search_engine_spark.session import get_spark

    out = args.out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    spark = get_spark("perfbench-build", cores=args.cores,
                      extra_conf=spark_conf(out, args.event_log))
    session_s = time.perf_counter() - args.t0

    import pyarrow.parquet as pq

    from google_like_search_engine_spark import engine as eng_mod
    from google_like_search_engine_spark.engine import SearchEngine

    from perfbench.trace import Tracer

    # -- inputs (untimed) --
    base_rows, delta_rows = make_inputs(args.seed, args.pages)
    write_pages(base_rows, f"{out}/pages.parquet")
    write_pages(delta_rows, f"{out}/delta_pages.parquet")
    pages = spark.read.parquet(f"{out}/pages.parquet")
    delta = spark.read.parquet(f"{out}/delta_pages.parquet")
    # a page whose cleaned text has no word yields no postings, so it is
    # no document of the index (non-English pages clean to empty text)
    want = {
        name: sum(1 for r in rows if HAS_WORD.search(r[3] or ""))
        for name, rows in (("base", base_rows), ("delta", delta_rows))
    }

    tracer = Tracer()
    if args.event_log:
        for name in ("build", "save", "save_blocked"):
            tracer.wrap(SearchEngine, name, "engine")
        tracer.wrap(eng_mod, "pagerank", "pagerank")
        tracer.wrap(eng_mod, "assign_doc_indexes", "compression",
                    "numbering")
        tracer.enabled = True

    times = {}

    def timed(name, fn):
        t0 = time.perf_counter()
        fn()
        times[name] = time.perf_counter() - t0
        tracer.record("phase", name, t0, t0 + times[name])

    base = SearchEngine(spark)
    timed("build", lambda: base.build(
        pages, pagerank_threshold=PAGERANK_THRESHOLD
    ))
    timed("save", lambda: base.save(f"{out}/flat"))
    timed("save_blocked", lambda: base.save_blocked(f"{out}/base"))
    n_docs = base.total_documents
    base.unpersist()

    def publish():
        d = SearchEngine(spark)
        d.build(delta, run_pagerank=False)
        d.save_blocked(f"{out}/delta")
        d.unpersist()

    timed("publish", publish)
    tracer.enabled = False

    # -- checks (untimed) --
    checker = SearchEngine(spark)
    fsck = checker.fsck_blocked(f"{out}/base", deep=True)
    docs = {
        "base": fsck["total_documents"],
        "delta": pq.read_table(f"{out}/delta/meta").column(
            "total_documents"
        ).to_pylist()[0],
    }
    failed = int(not fsck["ok"]) + sum(docs[d] != want[d] for d in docs)
    failed += n_docs != want["base"]
    sizes = {
        "flat": du(f"{out}/flat"),
        "blocks": du(f"{out}/base/blocks"),
        "sidecars": sum(du(f"{out}/base/{s}")
                        for s in ("doc_stats_idx", "meta", "term_stats")),
    }
    sys.stdout.write("PB " + json.dumps({
        "session_s": session_s,
        "spark": spark.version,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": sys.version.split()[0],
        "n_docs": n_docs,
        "times": times,
        "sizes": sizes,
        "fsck": fsck["checks"],
        "docs": docs,
        "want_docs": want,
        "attempted": len(times),
        "failed": int(failed),
        "spans": tracer.spans,
        "clock": [time.time(), time.perf_counter()],
    }) + "\n")
    sys.stdout.flush()
    spark.stop()


if __name__ == "__main__":
    main()
