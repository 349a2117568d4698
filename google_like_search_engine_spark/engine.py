"""SearchEngine facade: the end-to-end API a reference user would call.

Replaces the reference's job-submission + HTTP flow (FlameSubmit ->
Indexer/PageRank jobs; RankerStarter's /search route —
/root/reference src/cis5550/) with one object:

    eng = SearchEngine(spark)
    eng.build(pages_df)          # index + pagerank (or .build_from_parquet)
    eng.search("apples figs")    # reference-identical TF-IDF x PageRank
    eng.search_bm25("apples", k=10, pruned=True)   # BM25, MaxScore path

State lives in persisted/cached DataFrames, not a KVS; ``save``/``load``
round-trip the built index through parquet (Iceberg on a real cluster).
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession, functions as F

from .compression import assign_doc_indexes, block_postings
from .indexer import build_postings, docs_from_pages
from .pagerank import extract_edges, pagerank, vertices_from_pages
from .ranker import expand_query, score_bm25, score_tfidf
from .wand import blocked_maxscore_topk, maxscore_topk

TERM_BUCKETS = 64


class SearchEngine:
    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.postings: DataFrame | None = None
        self.doc_stats: DataFrame | None = None
        self.term_df: DataFrame | None = None
        self.pageranks: DataFrame | None = None
        self.total_documents: int = 0
        self._avgdl: float | None = None
        self.build_metrics: dict = {}

    # -- build ------------------------------------------------------------

    def build(self, pages: DataFrame, run_pagerank: bool = True,
              pagerank_threshold: float = 0.001,
              collect_metrics: bool = False,
              postings_fn=None) -> "SearchEngine":
        """pages(url, text[, html, lang]) -> cached index + pageranks.

        ``collect_metrics``: record per-phase wall time and
        per-partition posting counts into ``self.build_metrics``
        (north-rule lineage+metrics; ``save`` persists them as a
        sidecar). Off by default — the extra count jobs are cheap over
        the persisted relations but not free.

        ``postings_fn``: pluggable analyzer (the Lucene-analyzer seam):
        docs(doc_id, url, text) -> postings with at least (term,
        doc_id, url, tf). Defaults to the reference-parity tokenizer
        (indexer.build_postings: tag strip, raw+stem dual entries,
        positions, L2). ``merge_pages`` re-uses whichever analyzer the
        index was built with.
        """
        t0 = time.perf_counter()
        phases = {}
        docs = docs_from_pages(pages)
        self._postings_fn = postings_fn or build_postings
        self.postings = self._postings_fn(docs).persist()
        self.doc_stats = (
            self.postings.groupBy("doc_id", "url")
            .agg(F.sum("tf").alias("n_term_entries"))
            .persist()
        )
        self.total_documents = self.doc_stats.count()
        phases["tokenize_and_doc_stats_sec"] = time.perf_counter() - t0
        self._avgdl = float(
            self.doc_stats.agg(F.avg("n_term_entries")).collect()[0][0] or 1.0
        )
        # dictionary table: per-term df precomputed once at build time
        # so BM25 queries skip the per-query df aggregation
        t1 = time.perf_counter()
        self.term_df = (
            self.postings.groupBy("term")
            .agg(F.countDistinct("doc_id").alias("df"))
            .persist()
        )
        self.term_df.count()
        phases["term_dictionary_sec"] = time.perf_counter() - t1
        if run_pagerank:
            t2 = time.perf_counter()
            self.pageranks = pagerank(
                vertices_from_pages(pages),
                extract_edges(pages),
                threshold=pagerank_threshold,
            ).persist()
            phases["pagerank_sec"] = time.perf_counter() - t2
        if collect_metrics:
            per_part = (
                self.postings.groupBy(F.spark_partition_id().alias("partition"))
                .agg(F.count(F.lit(1)).alias("rows"))
                .collect()
            )
            self.build_metrics = {
                "n_docs": self.total_documents,
                "n_postings": sum(r["rows"] for r in per_part),
                "n_terms": self.term_df.count(),
                "avgdl": self._avgdl,
                "phases_sec": {k: round(v, 3) for k, v in phases.items()},
                "total_sec": round(time.perf_counter() - t0, 3),
                "partitions": sorted(
                    ({"partition": r["partition"], "rows": r["rows"]}
                     for r in per_part),
                    key=lambda d: d["partition"],
                ),
            }
        return self

    def merge_pages(self, pages_delta: DataFrame) -> "SearchEngine":
        """MERGE a delta of (re-)crawled pages into the built index —
        the batch form of the reference's read-modify-write index
        appends (Indexer.java:132-147; with Iceberg this is a literal
        MERGE INTO postings USING delta ON doc_id). Re-crawled docs
        REPLACE their old postings (anti-join on doc_id) rather than
        accumulating them, i.e. the compacted semantics the streaming
        twin's compact_index applies after append (streaming/
        index_stream.py). Derived state (doc_stats, term_df, avgdl) is
        recomputed; PageRank is NOT re-run (call build for that).
        """
        assert self.postings is not None, "build first"
        delta_docs = docs_from_pages(pages_delta)
        delta_postings = getattr(self, "_postings_fn", build_postings)(delta_docs)
        # replaced ids come from the DOCS in the delta, not its postings:
        # a re-crawled page whose new text yields zero postings (emptied
        # page) must still purge its old postings + doc_stats entry
        delta_ids = delta_docs.select("doc_id").distinct()
        old = self.postings
        old_doc_stats = self.doc_stats
        merged = (
            old.join(delta_ids, "doc_id", "left_anti")
            .unionByName(delta_postings.select(*old.columns))
            .persist()
        )
        self.postings = merged
        self.doc_stats = (
            merged.groupBy("doc_id", "url")
            .agg(F.sum("tf").alias("n_term_entries"))
            .persist()
        )
        self.total_documents = self.doc_stats.count()
        self._avgdl = float(
            self.doc_stats.agg(F.avg("n_term_entries")).collect()[0][0] or 1.0
        )
        if self.term_df is not None:
            self.term_df.unpersist()
        self.term_df = (
            merged.groupBy("term")
            .agg(F.countDistinct("doc_id").alias("df"))
            .persist()
        )
        self.term_df.count()
        old.unpersist()
        if old_doc_stats is not None:
            old_doc_stats.unpersist()
        if getattr(self, "_served", None) is not None:  # serving state is stale
            self._served.unpersist()
            self._served = None
            self._dict = None
        # any blocked index read earlier may be re-saved next; its cached
        # handles (persisted doc_stats_idx, stale file listings) must not
        # outlive the merge
        self._invalidate_blocked_cache()
        return self

    def save(self, path: str) -> None:
        assert self.postings is not None, "build first"
        self.postings.write.mode("overwrite").parquet(f"{path}/postings")
        self.doc_stats.write.mode("overwrite").parquet(f"{path}/doc_stats")
        if self.term_df is not None:
            self.term_df.write.mode("overwrite").parquet(f"{path}/term_df")
        if self.pageranks is not None:
            self.pageranks.write.mode("overwrite").parquet(f"{path}/pageranks")
        # Hadoop FS stream so metrics land next to the parquet on
        # any scheme (local, HDFS, object store), not just file://
        jvm = self.spark.sparkContext._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(f"{path}/build_metrics.json")
        fs = jpath.getFileSystem(
            self.spark.sparkContext._jsc.hadoopConfiguration()
        )
        if self.build_metrics:
            out = fs.create(jpath, True)
            out.write(bytearray(json.dumps(self.build_metrics, indent=1), "utf-8"))
            out.close()
        elif fs.exists(jpath):
            # re-saving without metrics (rebuild, merge_pages) must not
            # leave a stale sidecar describing the previous index
            fs.delete(jpath, False)

    def save_versioned(self, path: str) -> int:
        """Persist the whole index (postings, doc_stats, dictionary,
        pageranks, metrics sidecar) as ONE committed snapshot of a
        VersionedTable (sources/versioned.py — the Iceberg-contract
        stand-in): rebuilds and merges append new snapshots atomically,
        ``load_versioned(path, version=...)`` time-travels to any
        retained one. The first thing a reference user migrating a
        production pt- table needs (SURVEY §1.4 row versioning,
        kvs/RowVersioning.java:4-12). Returns the snapshot id."""
        from .sources.versioned import VersionedTable

        return VersionedTable(self.spark, path).write_snapshot_with(self.save)

    def load_versioned(self, path: str, version: int | None = None,
                       with_pageranks: bool = True) -> "SearchEngine":
        """Load a committed index snapshot (default: current)."""
        from .sources.versioned import VersionedTable

        snap = VersionedTable(self.spark, path).snapshot_dir(version)
        return self.load(snap, with_pageranks=with_pageranks)

    def save_bucketed(self, name: str, path: str, buckets: int = 64) -> None:
        """Persist postings + doc_stats as BUCKETED tables hash-
        clustered on doc_id (``bucketBy`` -> Spark's bucketing catalog
        metadata; data files land under ``path``). Both sides carry the
        same bucket count on the same key, so doc-keyed joins between
        them — the BM25 dl join on pre-dl layouts, doc-stats enrichment,
        MERGE-style reconciliation — read bucket-to-bucket with NO
        shuffle exchange: at 10^12 docs the exchange this removes is the
        dominant cost of every doc-keyed operation. (The blocked layout
        stays the serving path; bucketing is the BUILD-side co-location
        story, exactly the "pre-partition the fact tables" discipline a
        warehouse uses.) Tables register as {name}_postings /
        {name}_doc_stats in the session catalog."""
        assert self.postings is not None, "build first"
        (
            self.postings.write.mode("overwrite")
            .format("parquet")
            .bucketBy(buckets, "doc_id")
            .sortBy("doc_id")
            .option("path", f"{path}/postings_bucketed")
            .saveAsTable(f"{name}_postings")
        )
        (
            self.doc_stats.write.mode("overwrite")
            .format("parquet")
            .bucketBy(buckets, "doc_id")
            .sortBy("doc_id")
            .option("path", f"{path}/doc_stats_bucketed")
            .saveAsTable(f"{name}_doc_stats")
        )

    def bucketed_scoring_relation(self, name: str) -> DataFrame:
        """(term, doc_id, url, tf, n_term_entries) joined bucket-to-
        bucket from the save_bucketed tables — the exchange-free join
        (tests assert the physical plan has no shuffle on doc_id)."""
        p = self.spark.table(f"{name}_postings")
        d = self.spark.table(f"{name}_doc_stats").select("doc_id", "n_term_entries")
        return p.join(d, "doc_id")

    # -- blocked (compressed, term-bucket-partitioned) layout ---------------

    def save_blocked(self, path: str) -> None:
        """Persist the compressed blocked index, hive-partitioned by a
        hash bucket of the term: a query's term filter becomes
        *partition pruning* at the scan — only TERM_BUCKETS'
        worth of the index relevant to the query terms is read, the
        100 TB serving layout."""
        assert self.postings is not None, "build first"
        # re-saving over a previously-queried path must drop its cached
        # handles, or later queries serve stale results / dead file lists
        self._invalidate_blocked_cache(path)
        # doc_index in URL order: score ties then break identically on
        # doc_index and url, so the join-free top-k (url looked up only
        # for the k winners) is exactly the url-tiebroken result
        idx = assign_doc_indexes(
            self.postings.select("doc_id", "url").distinct(), order_col="url"
        )
        if "dl" in self.postings.columns:
            postings_dl = self.postings  # dl denormalized at tokenize time
        else:  # pre-dl layout: join the doc-length dimension in
            postings_dl = self.postings.join(
                self.doc_stats.select("doc_id", F.col("n_term_entries").alias("dl")),
                "doc_id",
            )
        blocks = block_postings(postings_dl.join(F.broadcast(idx), "doc_id"))
        (
            blocks.withColumn(
                "term_bucket", F.pmod(F.xxhash64("term"), F.lit(TERM_BUCKETS))
            )
            .write.mode("overwrite")
            .partitionBy("term_bucket")
            .parquet(f"{path}/blocks")
        )
        (
            self.doc_stats.join(F.broadcast(idx.drop("url")), "doc_id")
            .select("doc_index", "url", "n_term_entries")
            .write.mode("overwrite")
            .parquet(f"{path}/doc_stats_idx")
        )
        # tiny meta sidecar: corpus stats precomputed at build time so a
        # cold query skips the count + agg jobs over doc_stats entirely
        stats = self.doc_stats.agg(
            F.count(F.lit(1)).alias("total_documents"),
            F.avg("n_term_entries").alias("avgdl"),
            F.min("n_term_entries").alias("min_dl"),
        )
        stats.coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")
        # per-term dictionary (df + max_tf from block metadata): queries
        # resolve term stats driver-side instead of scanning block
        # metadata per query (RankerStarter.java:38-42 keeps the same
        # state in RAM). Read back from the written parquet — a
        # metadata-column-only scan, not a re-run of the block encoder.
        (
            self.spark.read.parquet(f"{path}/blocks")
            .groupBy("term")
            .agg(F.sum("n_docs").alias("df"), F.max("max_tf").alias("max_tf"))
            .withColumn(
                "bucket", F.pmod(F.xxhash64("term"), F.lit(TERM_BUCKETS))
            )
            .write.mode("overwrite")
            .parquet(f"{path}/term_stats")
        )

    def _invalidate_blocked_cache(self, index_path: str | None = None) -> None:
        """Drop cached blocked-index handles (one path, or all when
        ``index_path`` is None), unpersisting their doc_stats dimension,
        plus the url dicts and shard masks built from them."""
        cache = getattr(self, "_blocked_cache", None)
        if not cache:
            return
        keys = [index_path] if index_path is not None else list(cache)
        masks = getattr(self, "_blocked_masks", {})
        for key in keys:
            entry = cache.pop(key, None)
            if entry is not None:
                entry[1].unpersist()
            getattr(self, "_blocked_url_dicts", {}).pop(key, None)
            for paths in [m for m in list(masks) if key in m]:
                del masks[paths]

    def _blocked_handles(self, index_path: str):
        """Per-path blocked-index handles, opened once: the blocks scan
        (lazy; term_bucket pruning applies per query), the cached
        doc-stats dimension, and its count. The old per-query re-read +
        count() cost two extra jobs per query and dominated cold CLI
        latency."""
        cache = getattr(self, "_blocked_cache", None)
        if cache is None:
            cache = self._blocked_cache = {}
        if index_path not in cache:
            blocks = self.spark.read.parquet(f"{index_path}/blocks")
            total, stats, term_stats = self._read_sidecars(index_path)
            doc_stats_idx = self.spark.read.parquet(f"{index_path}/doc_stats_idx")
            if total is not None:
                # right-size the cached dimension (~250k rows/partition):
                # the per-query url lookup probes every cached partition,
                # so a small corpus cached across 32 file-splits pays 32
                # scheduled tasks per query for no parallelism gain.
                # coalesce only ever reduces, so at 10^12 docs this is a
                # no-op and the dimension stays fully distributed.
                doc_stats_idx = doc_stats_idx.coalesce(
                    max(1, -(-total // 250_000))
                )
            doc_stats_idx = doc_stats_idx.persist()
            if total is None:
                total = doc_stats_idx.count()
            cache[index_path] = (blocks, doc_stats_idx, total, stats, term_stats)
        return cache[index_path]

    def _read_sidecars(self, index_path: str):
        """Read the tiny meta + term_stats sidecars. Local paths go
        through pyarrow directly — zero Spark jobs on the cold query
        path; non-local filesystems (s3/hdfs) fall back to Spark reads."""
        total = stats = term_stats = None

        def _local(p):
            return not ("://" in p and not p.startswith("file://"))

        try:
            if _local(index_path):
                import pyarrow.parquet as pq

                m = pq.read_table(
                    index_path.removeprefix("file://") + "/meta"
                ).to_pylist()[0]
            else:
                m = self.spark.read.parquet(f"{index_path}/meta").collect()[0]
            total = int(m["total_documents"])
            stats = (float(m["avgdl"] or 1.0), float(m["min_dl"] or 1.0))
        except Exception:  # pre-meta index layout
            pass
        try:
            if _local(index_path):
                import pyarrow.parquet as pq

                tbl = pq.read_table(index_path.removeprefix("file://") + "/term_stats")
                if tbl.num_rows <= self.DICT_CAP:
                    has_bucket = "bucket" in tbl.column_names
                    term_stats = {
                        t: (int(d), int(mt), int(bk) if has_bucket else None)
                        for t, d, mt, bk in zip(
                            tbl.column("term").to_pylist(),
                            tbl.column("df").to_pylist(),
                            tbl.column("max_tf").to_pylist(),
                            tbl.column("bucket").to_pylist()
                            if has_bucket
                            else [None] * tbl.num_rows,
                        )
                    }
            else:
                rows = self.spark.read.parquet(f"{index_path}/term_stats").take(
                    self.DICT_CAP + 1
                )
                if len(rows) <= self.DICT_CAP:
                    term_stats = {
                        r["term"]: (
                            int(r["df"]),
                            int(r["max_tf"]),
                            int(r["bucket"]) if "bucket" in r else None,
                        )
                        for r in rows
                    }
        except Exception:  # pre-dictionary index layout
            pass
        return total, stats, term_stats

    def _pruned_blocked_scan(
        self,
        index_path: str,
        words: list,
        require_all: bool = False,
        compute_fallback: bool = False,
    ):
        """Shared term-bucket partition pruning for every blocked query
        path. Returns (blocks-or-None, doc_stats_idx, total, stats,
        term_stats); ``None`` blocks means the result is provably empty
        (a required term, or every term, is absent from the dictionary).

        Bucket ids come from the driver-side dictionary sidecar when
        available (zero jobs). Pruning only applies when EVERY matched
        term's bucket is known — partial pruning on a mixed layout
        would silently drop a term's blocks. ``compute_fallback`` (the
        BM25 path) recomputes bucket ids with one tiny job on
        pre-dictionary layouts; positional paths just scan unpruned.
        """
        blocks, dsi, total, stats, term_stats = self._blocked_handles(index_path)
        if not words:
            return blocks, dsi, total, stats, term_stats
        if term_stats is not None:
            present = [w for w in words if w in term_stats]
            if require_all and len(present) < len(words):
                return None, dsi, total, stats, term_stats
            ids = {term_stats[w][2] for w in present}
            if None not in ids:
                if not ids:  # no query term indexed at all
                    return None, dsi, total, stats, term_stats
                return (
                    blocks.where(F.col("term_bucket").isin(sorted(ids))),
                    dsi, total, stats, term_stats,
                )
            # fall through: pre-bucket dictionary layout
        if compute_fallback:
            ids = sorted(
                {
                    r["b"]
                    for r in self.spark.createDataFrame(
                        [(w,) for w in words], "term string"
                    )
                    .select(
                        F.pmod(F.xxhash64("term"), F.lit(TERM_BUCKETS)).alias("b")
                    )
                    .collect()
                }
            )
            blocks = blocks.where(F.col("term_bucket").isin(ids))
        return blocks, dsi, total, stats, term_stats

    URL_DICT_CAP = 250_000  # max forward-index entries held driver-side

    def _blocked_url_dict(self, index_path: str) -> dict | None:
        """Driver-side {doc_index: url} forward index for a blocked
        layout, built once per path from the cached doc-stats dimension
        when the corpus fits URL_DICT_CAP. This is the sandbox stand-in
        for the reference's post-ranking KVS doc-store lookup
        (Ranker.java resolves urls per ranked doc id): resolving the k
        winners' urls driver-side saves the broadcast-exchange +
        lookup-join jobs on the latency path. Beyond the cap the
        distributed join path runs unchanged."""
        dicts = getattr(self, "_blocked_url_dicts", None)
        if dicts is None:
            dicts = self._blocked_url_dicts = {}
        if index_path not in dicts:
            _b, dsi, total, _s, _t = self._blocked_handles(index_path)
            if total is not None and total <= self.URL_DICT_CAP:
                dicts[index_path] = {
                    r["doc_index"]: r["url"]
                    for r in dsi.select("doc_index", "url").collect()
                }
            else:
                dicts[index_path] = None
        return dicts[index_path]

    def _shard_masks(self, paths: tuple):
        """Per-shard (masked urls, over-fetch count) of a federated
        deployment, built once per ``paths`` tuple from the later
        shards' driver-side forward indexes (see _federated) and
        dropped with them by _invalidate_blocked_cache."""
        memo = getattr(self, "_blocked_masks", None)
        if memo is None:
            memo = self._blocked_masks = {}
        if paths not in memo:
            owned = [self._blocked_url_dict(p) for p in paths]
            masked, later = [], set()
            for urls in reversed(owned):
                masked.append(later)
                if urls is not None:
                    later = later.union(urls.values())
            masked.reverse()
            extra = [
                len(m.intersection(urls.values())) if urls is not None else 0
                for m, urls in zip(masked, owned)
            ]
            memo[paths] = (masked, extra)
        return memo[paths]

    def _federated(
        self,
        index_path: str | list,
        run,
        k: int | None = None,
        value_col: str | None = "score",
        value_type: str = "double",
        stat_terms: list | None = None,
    ) -> DataFrame:
        """One blocked query over one index or a federated deployment.

        ``index_path`` is a save_blocked dir or a list of them:
        independently built shards, the serving shape a 100 TB corpus
        deploys (shards are built, merged and replaced independently;
        queries scatter-gather). ``run(path, k, stats)`` plans the
        query on one shard and returns its DataFrame, or None when the
        shard's answer is provably empty.

        One path is the plain blocked query: ``run`` gets the caller's
        k and ``stats=None`` (the index's own sidecar stats, with every
        pre-sidecar fallback) and its DataFrame is returned as is — no
        pool, no mask, no extra job.

        Several paths:

        - Global stats. The scored kinds (bm25, threshold, ranked
          boolean) name ``stat_terms``: BM25's idf and length
          normalisation need corpus-wide N / avgdl / df, or shard
          scores aren't comparable. They are recombined once from the
          shards' meta + term_stats sidecars (driver-side, zero jobs;
          N = sum of totals, avgdl = doc-weighted mean, df = per-term
          sum; a missing sidecar raises ValueError) and passed to every
          shard as ``stats = (N, avgdl, {term: df})``. Each shard keeps
          its own max_tf / min_dl, which only need to bound that
          shard's block-max pruning. Phrase, proximity and unranked
          boolean are shard-local and need no stats.
        - Overlap. Later-listed shards take precedence per url
          (merge_pages / merge_blocked_shards semantics): a url owned
          by a later shard MASKS every earlier shard's row for it, even
          when the newer version doesn't match the query. Masking runs
          after each shard's top-k, so shard i over-fetches
          k + |masked_i ∩ own urls_i| rows; at most that many are
          masked, so >= k live rows survive whenever the shard has
          them. The mask sets come from the shards' driver-side forward
          indexes and are memoised per deployment (_shard_masks). A
          shard beyond URL_DICT_CAP can't mask; there precedence
          degrades to keep-latest-on-collision.
        - Fan-out and merge. Shards run concurrently in one pool (Spark
          schedules jobs from many threads, so latency is the slowest
          shard, not the sum); each shard's jobs keep the caller's job
          group and tags. Rows merge driver-side: (value desc, url),
          the single-index tie-break; bare urls (unranked boolean) by
          url; ``k=None`` (threshold) keeps every row.

        Disjoint shards return the single index over the union corpus
        row for row (pinned by tests). Overlapping base+delta shards
        return the compacted index's urls with no stale or duplicate
        rows; the scored kinds' stats still count superseded copies
        until merge_blocked_shards compacts them — the bounded drift
        Lucene's deleted docs cause until a segment merge."""
        from concurrent.futures import ThreadPoolExecutor

        from pyspark.util import inheritable_thread_target

        from .wand import _local_result_df

        def result(rows):
            if value_col is None or (rows and len(rows[0]) == 1):  # bare urls
                return _local_result_df(
                    self.spark, [(r[0], 1) for r in rows], "_one", "long"
                ).select("url")
            return _local_result_df(self.spark, rows, value_col, value_type)

        paths = [index_path] if isinstance(index_path, str) else list(index_path)
        if len(paths) == 1:
            out = run(paths[0], k, None)
            return result([]) if out is None else out

        stats = None
        if stat_terms is not None:
            shards = []
            for p in paths:
                _b, _d, total, agg, ts = self._blocked_handles(p)
                if agg is None or ts is None:
                    raise ValueError(
                        f"sharded search needs meta + term_stats sidecars: {p}"
                    )
                shards.append((total, agg[0], ts))
            n = sum(s[0] for s in shards)
            if n == 0:
                return result([])
            df: dict = {}
            for _t, _a, ts in shards:
                for w in stat_terms:
                    if w in ts:
                        df[w] = df.get(w, 0) + ts[w][0]
            stats = (n, sum(t * a for t, a, _ts in shards) / n, df)
        masked, extra = self._shard_masks(tuple(paths))

        def scatter(i):
            out = run(paths[i], None if k is None else k + extra[i], stats)
            if out is None:
                return []
            return [tuple(r) for r in out.collect() if r[0] not in masked[i]]

        per_url: dict = {}
        with ThreadPoolExecutor(max_workers=min(8, len(paths))) as ex:
            # shard order: a later shard's row wins a url collision
            for rows in ex.map(
                inheritable_thread_target(self.spark)(scatter), range(len(paths))
            ):
                per_url.update((r[0], r) for r in rows)
        rows = sorted(
            per_url.values(), key=lambda r: (-r[1], r[0]) if len(r) > 1 else r
        )
        return result(rows if k is None else rows[:k])

    def search_bm25_blocked(
        self,
        index_path: str | list,
        query: str,
        k: int = 10,
        required: list | None = None,
        excluded: list | None = None,
    ) -> DataFrame:
        """BM25 top-k straight off the on-disk blocked index, or a list
        of shard dirs (_federated): the term filter prunes term_bucket
        partitions before any decode. ``required``/``excluded``:
        `+term -term` boolean filters with the served path's semantics
        (wand.blocked_maxscore_topk); doc membership is shard-local, so
        they apply per shard exactly."""
        words = sorted({w.lower() for w in expand_query(query)})
        req = [w.lower() for w in (required or [])]
        exc = [w.lower() for w in (excluded or [])]
        # bucket pruning must keep the FILTER terms' buckets too
        prune = sorted(set(words + req + exc))

        def run(path, top, stats):
            blocks, dsi, total, agg, ts = self._pruned_blocked_scan(
                path, prune, compute_fallback=True
            )
            if blocks is None:
                return None
            if stats is not None:  # global df over this shard's max_tf/bucket
                total, avgdl, df = stats
                agg = (avgdl, agg[1])
                ts = {w: (d, *ts[w][1:]) for w, d in df.items() if w in ts}
            return blocked_maxscore_topk(
                self.spark, query, blocks.drop("term_bucket"), dsi, total,
                k=top, doc_stats_agg=agg, term_stats=ts,
                url_lookup=self._blocked_url_dict(path),
                required=req, excluded=exc,
            )

        return self._federated(index_path, run, k, stat_terms=words)

    def search_bm25_threshold_blocked(
        self, index_path: str | list, query: str, threshold: float
    ) -> DataFrame:
        """Every document scoring >= ``threshold`` (rounded BM25),
        through the MaxScore/block-max pruned plan over the on-disk
        blocked index or shard list (_federated) — the alerting/filtering
        form of search (return all sufficiently-relevant docs, not a
        fixed k), with the same term-bucket partition pruning as the
        top-k path."""
        from .wand import blocked_maxscore_threshold

        words = sorted({w.lower() for w in expand_query(query)})

        def run(path, _top, stats):
            blocks, dsi, total, agg, _ts = self._pruned_blocked_scan(
                path, words, compute_fallback=True
            )
            if blocks is None:
                return None
            df = None
            if stats is not None:
                total, avgdl, df = stats
                agg = (avgdl, agg[1])
            return blocked_maxscore_threshold(
                self.spark, query, blocks.drop("term_bucket"), dsi, total,
                threshold=threshold, doc_stats_agg=agg, df_override=df,
            )

        return self._federated(index_path, run, stat_terms=words)

    def search_hybrid_rrf(
        self,
        index_path: str | list,
        query: str,
        emb: DataFrame,
        query_vec,
        k: int = 10,
        pool: int = 50,
        rrf_k: int = 60,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> DataFrame:
        """Hybrid lexical+vector retrieval via reciprocal-rank fusion
        (catalog_text.hybrid_search_rrf is the oracle-checked
        relational twin): the blocked-index BM25 top-``pool`` and the
        brute-cosine top-``pool`` over ``emb`` (ids must share the url
        namespace) are fused driver-side with
        rrf = sum 1/(rrf_k + rank), ties broken by url.

        Serving shape: two independent retriever jobs (each already
        top-k-pruned — MaxScore for the lexical side, the ANN index
        for the vector side at scale), then a 2*pool-row Python merge
        returning a VALUES LocalTableScan (zero extra jobs). The
        fusion cost is O(pool), independent of corpus size.

        ``index_path`` may be a list of blocked shard dirs: the lexical
        retriever then federates like every blocked query (_federated)
        and fusion is unchanged — hybrid search over a sharded
        deployment."""
        from concurrent.futures import ThreadPoolExecutor

        from .analytics.simsearch import cosine_topk

        def _lexical():
            return self.search_bm25_blocked(index_path, query, k=pool).collect()

        def _vector():
            return cosine_topk(
                emb, query_vec, k=pool, id_col=id_col, vec_col=vec_col
            ).collect()

        # the two retrievers are independent jobs — submit them
        # concurrently (guide §2.6) so request latency is the slower
        # retriever, not the sum; same pattern as the shard fan-out.
        # inheritable_thread_target propagates the caller thread's JVM
        # local properties (job group / description) and session tags,
        # so UI labels and statusTracker job-count pins keep working
        # across the pool.
        from pyspark.util import inheritable_thread_target

        inherit = inheritable_thread_target(self.spark)
        with ThreadPoolExecutor(max_workers=2) as ex:
            bm_f = ex.submit(inherit(_lexical))
            cs_f = ex.submit(inherit(_vector))
            bm_rows, cs_rows = bm_f.result(), cs_f.result()
        ranks: dict = {}
        for i, r in enumerate(bm_rows):
            ranks[str(r["url"])] = [i + 1, 0]
        for i, r in enumerate(cs_rows):
            ranks.setdefault(str(r[id_col]), [0, 0])[1] = i + 1
        fused = []
        for url, (br, cr) in ranks.items():
            rrf = (1.0 / (rrf_k + br) if br else 0.0) + (
                1.0 / (rrf_k + cr) if cr else 0.0
            )
            fused.append((url, br, cr, rrf))
        fused.sort(key=lambda t: (-t[3], t[0]))
        fused = fused[:k]
        schema = "url string, bm25_rnk int, cos_rnk int, rrf double"
        if not fused:
            return self.spark.createDataFrame([], schema)

        def esc(s: str) -> str:
            return s.replace("\\", "\\\\").replace("'", "''")

        vals = ", ".join(
            f"('{esc(u)}', {br}, {cr}, CAST({rrf!r} AS DOUBLE))"
            for u, br, cr, rrf in fused
        )
        return self.spark.sql(
            "SELECT url, CAST(bm25_rnk AS INT) AS bm25_rnk,"
            " CAST(cos_rnk AS INT) AS cos_rnk, rrf"
            f" FROM (VALUES {vals}) AS t(url, bm25_rnk, cos_rnk, rrf)"
        )

    def promote_stream_index(self, store_dir: str, out_path: str) -> None:
        """Promote a Structured-Streaming incremental index store
        (streaming/index_stream.incremental_index appends, newest per
        (term, doc_id) wins) to a full blocked SERVING index — the
        hand-off that closes the continuous-ingestion loop: stream WARC
        batches in all day, compact-and-promote on a schedule, swap the
        serving path to the new directory (or commit it as a
        versioned-table snapshot). The store's postings already carry
        url/tf/positions/dl from the micro-batch tokenize, so promotion
        is exactly the batch pipeline minus tokenize: latest-wins
        compaction, global doc renumbering, re-block, sidecars. Every
        query path (BM25/phrase/proximity/threshold/boolean, alone or as
        one shard of a federated list) serves the result."""
        from .streaming.index_stream import compact_index

        postings = compact_index(self.spark, store_dir)
        promoted = SearchEngine(self.spark)
        promoted.postings = postings
        promoted.doc_stats = postings.groupBy("doc_id", "url").agg(
            F.sum("tf").alias("n_term_entries")
        )
        promoted.save_blocked(out_path)
        self._invalidate_blocked_cache(out_path)

    def merge_blocked_shards(self, shard_paths: list, out_path: str) -> None:
        """Segment merge: combine independently built blocked indexes
        into one, WITHOUT re-tokenizing — the Lucene-style background
        compaction a sharded 100 TB deployment runs to keep shard
        counts bounded (tokenize/stem is the expensive pass; a merge
        is decode -> renumber -> re-encode). Later shards take
        precedence per url (merge_pages semantics), so merging a base
        shard with a fresher delta shard is an index update.

        Plan shape: each shard's varint blocks decode in one Arrow
        pass, re-keyed to urls through the shard's doc-stats dimension
        (broadcastable), the union renumbers doc_indexes globally (the
        two-phase numbering, url order) and re-blocks — every step is
        the build pipeline minus tokenize. The merged index is
        byte-compatible with save_blocked output (same sidecars), so
        every blocked query path, single or federated, serves it."""
        from .compression import unblock_postings

        parts = []
        for p in shard_paths:
            blocks, dsi, _t, _s, _ts = self._blocked_handles(p)
            post = (
                unblock_postings(blocks.drop("term_bucket"))
                .join(dsi, "doc_index")
                .select(
                    F.col("url").alias("doc_id"),
                    "url",
                    "term",
                    "tf",
                    "positions",
                    F.col("n_term_entries").alias("dl"),
                )
            )
            parts.append((post, dsi.select("url", "n_term_entries")))
        combined, docs = parts[0]
        for post, d in parts[1:]:
            newer = d.select("url")
            combined = combined.join(newer, "url", "left_anti").unionByName(post)
            docs = docs.join(newer, "url", "left_anti").unionByName(d)
        merged = SearchEngine(self.spark)
        merged.postings = combined
        merged.doc_stats = docs.select(
            F.col("url").alias("doc_id"), "url", "n_term_entries"
        )
        merged.save_blocked(out_path)
        self._invalidate_blocked_cache(out_path)

    def search_phrase_blocked(
        self, index_path: str | list, phrase: str, k: int = 10
    ) -> DataFrame:
        """Exact positional phrase query off the blocked index's varint
        positions store (wand.blocked_phrase_topk), over one index or a
        shard list (_federated). Term-bucket partition pruning applies
        exactly as for BM25; with the dictionary sidecar a phrase word
        absent from the corpus short-circuits to an empty result with
        zero jobs."""
        from .wand import blocked_phrase_topk

        words = [w.lower() for w in phrase.split() if w]

        def run(path, top, _stats):
            if not words:
                return None
            blocks, dsi, _t, _s, _ts = self._pruned_blocked_scan(
                path, words, require_all=True
            )
            if blocks is None:
                return None
            return blocked_phrase_topk(
                self.spark, phrase, blocks.drop("term_bucket"), dsi, k=top,
                url_lookup=self._blocked_url_dict(path),
            )

        return self._federated(
            index_path, run, k, value_col="n_occurrences", value_type="long"
        )

    def search_proximity_blocked(
        self, index_path: str | list, terms: list, window: int = 5, k: int = 10
    ) -> DataFrame:
        """Proximity query (all ``terms`` within ``window`` tokens of
        each anchor occurrence of ``terms[0]``) off the blocked index's
        positions store or a shard list (_federated), with the same
        term-bucket partition pruning and dictionary short-circuit as
        the phrase path."""
        from .wand import blocked_proximity_topk

        words = [w.lower() for w in terms if w]

        def run(path, top, _stats):
            if not words:
                return None
            blocks, dsi, _t, _s, _ts = self._pruned_blocked_scan(
                path, words, require_all=True
            )
            if blocks is None:
                return None
            return blocked_proximity_topk(
                self.spark, words, window, blocks.drop("term_bucket"), dsi,
                k=top, url_lookup=self._blocked_url_dict(path),
            )

        return self._federated(
            index_path, run, k, value_col="n_matches", value_type="long"
        )

    def index_stats(self, index_path: str) -> dict:
        """Observability over a blocked index: size/shape numbers from
        block METADATA only (no posting bytes decoded) — one aggregation
        over the pruned columns plus the driver-side sidecars. Reports
        per-term-bucket posting distribution so skew is visible."""
        blocks, _dsi, total, _stats, term_stats = self._blocked_handles(index_path)
        agg = blocks.agg(
            F.count(F.lit(1)).alias("n_blocks"),
            F.countDistinct("term").alias("n_terms"),
            F.sum("n_docs").alias("n_postings"),
            F.sum(F.length("block")).alias("compressed_bytes"),
            F.max("n_docs").alias("max_block_docs"),
        ).collect()[0]
        per_bucket = (
            blocks.groupBy("term_bucket")
            .agg(F.sum("n_docs").alias("postings"))
            .collect()
        )
        buckets = sorted(int(r["postings"]) for r in per_bucket)
        n_post = int(agg["n_postings"] or 0)
        return {
            "total_documents": total,
            "n_terms": int(agg["n_terms"] or 0),
            "n_blocks": int(agg["n_blocks"] or 0),
            "n_postings": n_post,
            "compressed_bytes": int(agg["compressed_bytes"] or 0),
            "bytes_per_posting": round(
                (agg["compressed_bytes"] or 0) / n_post, 3
            ) if n_post else None,
            "dictionary_terms": len(term_stats) if term_stats else None,
            "buckets": {
                "count": len(buckets),
                "min_postings": buckets[0] if buckets else 0,
                "max_postings": buckets[-1] if buckets else 0,
                "skew_ratio": round(
                    buckets[-1] / max(buckets[0], 1), 2
                ) if buckets else None,
            },
        }

    def fsck_blocked(self, index_path: str, deep: bool = False) -> dict:
        """Integrity check (fsck) over a blocked index: every invariant
        the serving path relies on, verified DISTRIBUTED (violation
        counts via aggregations — no driver-side row loops, so the
        check scales with the index like any other job):

        - block shape: n_docs == len(doc_offs) == len(tfs), offsets
          strictly increasing and < span, max_tf == max(tfs);
        - partition layout: term_bucket matches pmod(xxhash64(term));
        - term_stats sidecar agrees with block metadata (df, max_tf);
        - doc_stats_idx doc_index is dense 0..N-1 and every doc a block
          references exists;
        - meta sidecar totals match doc_stats_idx;
        - with ``deep=True``: Arrow-batched varint decode of every blob
          cross-checked against the columnar arrays (the two physical
          representations must agree byte-for-byte).

        Returns {"ok": bool, "checks": {name: violation_count}, ...}.
        """
        from .compression import decode_block

        spark = self.spark
        blocks = spark.read.parquet(f"{index_path}/blocks")
        dsi = spark.read.parquet(f"{index_path}/doc_stats_idx")
        meta = spark.read.parquet(f"{index_path}/meta").collect()[0]

        offs_ok = F.expr(
            "size(doc_offs) = n_docs AND size(tfs) = n_docs "
            "AND array_max(tfs) = max_tf "
            "AND array_max(doc_offs) < span AND array_min(doc_offs) >= 0"
        )
        sorted_ok = F.expr(
            "doc_offs = array_sort(doc_offs) "
            "AND size(array_distinct(doc_offs)) = n_docs"
        )
        bucket_ok = F.col("term_bucket") == F.pmod(
            F.xxhash64("term"), F.lit(TERM_BUCKETS)
        )
        bad = blocks.agg(
            F.count(F.lit(1)).alias("n_blocks"),
            F.sum((~offs_ok).cast("int")).alias("bad_block_shape"),
            F.sum((~sorted_ok).cast("int")).alias("bad_doc_order"),
            F.sum((~bucket_ok).cast("int")).alias("bad_term_bucket"),
        ).collect()[0]
        checks = {
            "bad_block_shape": int(bad["bad_block_shape"] or 0),
            "bad_doc_order": int(bad["bad_doc_order"] or 0),
            "bad_term_bucket": int(bad["bad_term_bucket"] or 0),
        }

        ts = spark.read.parquet(f"{index_path}/term_stats")
        from_blocks = blocks.groupBy("term").agg(
            F.sum("n_docs").alias("b_df"), F.max("max_tf").alias("b_max_tf")
        )
        checks["bad_term_stats"] = (
            ts.join(from_blocks, "term", "full_outer")
            .where(
                F.col("b_df").isNull() | F.col("df").isNull()
                | (F.col("df") != F.col("b_df"))
                | (F.col("max_tf") != F.col("b_max_tf"))
            )
            .count()
        )

        d = dsi.agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("doc_index").alias("n_distinct"),
            F.min("doc_index").alias("lo"),
            F.max("doc_index").alias("hi"),
            F.avg("n_term_entries").alias("avgdl"),
        ).collect()[0]
        n = int(d["n"] or 0)
        checks["bad_doc_index_density"] = int(
            not (
                n == int(d["n_distinct"] or 0)
                and (n == 0 or (int(d["lo"]) == 0 and int(d["hi"]) == n - 1))
            )
        )
        checks["bad_meta_totals"] = int(
            int(meta["total_documents"]) != n
            or (n > 0 and abs(float(meta["avgdl"]) - float(d["avgdl"])) > 1e-9)
        )
        referenced = blocks.select(
            F.explode(F.expr("transform(doc_offs, o -> base + o)")).alias(
                "doc_index"
            )
        ).distinct()
        checks["dangling_doc_refs"] = referenced.join(
            dsi.select("doc_index"), "doc_index", "left_anti"
        ).count()

        if deep:
            import pandas as pd

            def verify(batches):
                for pdf in batches:
                    n_bad = 0
                    for base, offs, tfs_a, blob in zip(
                        pdf["base"], pdf["doc_offs"], pdf["tfs"], pdf["block"]
                    ):
                        try:
                            d_idx, d_tfs, _pos = decode_block(
                                bytes(blob), int(base)
                            )
                        except Exception:
                            n_bad += 1
                            continue
                        want = [int(base) + int(o) for o in offs]
                        if d_idx != want or [int(t) for t in d_tfs] != [
                            int(t) for t in tfs_a
                        ]:
                            n_bad += 1
                    yield pd.DataFrame({"n_bad": [n_bad]})

            checks["bad_blob_decode"] = int(
                blocks.select("base", "doc_offs", "tfs", "block")
                .mapInPandas(verify, schema="n_bad long")
                .agg(F.sum("n_bad"))
                .collect()[0][0]
                or 0
            )

        return {
            "ok": all(v == 0 for v in checks.values()),
            "n_blocks": int(bad["n_blocks"] or 0),
            "total_documents": n,
            "deep": deep,
            "checks": checks,
        }

    def load(self, path: str, with_pageranks: bool = True) -> "SearchEngine":
        self._loaded_path = path
        self.postings = self.spark.read.parquet(f"{path}/postings").persist()
        self.doc_stats = self.spark.read.parquet(f"{path}/doc_stats").persist()
        self.total_documents = self.doc_stats.count()
        self._avgdl = float(
            self.doc_stats.agg(F.avg("n_term_entries")).collect()[0][0] or 1.0
        )
        try:
            self.term_df = self.spark.read.parquet(f"{path}/term_df").persist()
        except Exception:
            self.term_df = None
        if with_pageranks:
            try:
                self.pageranks = self.spark.read.parquet(f"{path}/pageranks").persist()
            except Exception:
                self.pageranks = None
        return self

    # -- query ------------------------------------------------------------

    def search(self, query: str, k: int | None = None) -> DataFrame:
        """Reference-identical TF-IDF x PageRank ranking (full list, or
        top-k when ``k`` is given — the reference returns the full list,
        RankerStarter.java:87-94)."""
        assert self.postings is not None, "build or load first"
        res = score_tfidf(
            self.spark, query, self.postings, self.pageranks, self.total_documents
        )
        return res.limit(k) if k else res

    def search_bm25(
        self,
        query: str,
        k: int = 10,
        pruned: bool = False,
        analyzer=None,
    ) -> DataFrame:
        """BM25 top-k; ``pruned=True`` routes through the MaxScore plan
        (identical scores, skips non-essential posting scans).

        ``analyzer``: query-side half of the pluggable-analyzer seam —
        a ``str -> list[str]`` callable producing the same terms the
        index's postings_fn emits (e.g. functions.cjk_query_terms for
        an index built with cjk_aware_postings)."""
        assert self.postings is not None, "build or load first"
        if pruned:
            return maxscore_topk(
                self.spark, query, self.postings, self.doc_stats,
                self.total_documents, k=k,
            )
        return score_bm25(
            self.spark, query, self.postings, self.doc_stats,
            self.total_documents, avgdl=self._avgdl, term_df=self.term_df,
            terms=analyzer(query) if analyzer is not None else None,
        ).limit(k)

    def autocomplete(self, prefix: str, k: int = 10) -> DataFrame:
        """Prefix completion over the build-time term dictionary,
        ranked by document frequency — the reference loads every
        pt-index key into RAM for this (RankerStarter.java:38-42); here
        the dictionary is a persisted relation and the StartsWith
        filter pushes down to its scan."""
        assert self.term_df is not None, "build or load first"
        return (
            self.term_df.where(F.col("term").startswith(prefix.lower()))
            .orderBy(F.desc("df"), F.asc("term"))
            .limit(k)
        )

    def search_boolean(
        self, query: str, k: int = 100, ranked: bool = False
    ) -> DataFrame:
        """Boolean retrieval over the index with the full query
        language — ``a AND (b OR c) AND NOT d`` — evaluated as one
        term-filtered aggregation producing per-doc presence flags and
        one compiled filter (functions.library.parse_boolean_query /
        boolean_expr): no per-operator set joins regardless of clause
        count. Docs matching no query term still evaluate (pure
        negation is correct). Returns (url) ordered by url, capped;
        ``ranked=True`` instead orders the matches by BM25 over the
        query's POSITIVE terms (purely negated terms only filter) and
        returns (url, score)."""
        from .functions.library import (
            boolean_expr,
            parse_boolean_query,
            positive_terms,
        )

        assert self.postings is not None, "build or load first"
        ast = parse_boolean_query(query)
        terms = ast.terms()

        def fname(t):  # wildcard-safe flag column name
            return "has_" + t.replace("*", "_pre")

        def match(t):  # exact term, or dictionary prefix for "foo*"
            if t.endswith("*"):
                return F.col("term").startswith(t[:-1])
            return F.col("term") == t

        prefilter = match(terms[0])
        for t in terms[1:]:
            prefilter = prefilter | match(t)
        flags = (
            self.postings.where(prefilter)
            .groupBy("url")
            .agg(
                *[
                    F.max(match(t).cast("int")).alias(f"_m_{fname(t)}")
                    for t in terms
                ]
            )
        )
        full = (
            self.doc_stats.select("url")
            .join(flags, "url", "left")
            .select(
                "url",
                *[
                    F.coalesce(F.col(f"_m_{fname(t)}") == 1, F.lit(False)).alias(
                        fname(t)
                    )
                    for t in terms
                ],
            )
        )
        pred = boolean_expr(ast, lambda t: F.col(fname(t)))
        matched = full.where(pred).select("url")
        pos = [
            t for t in (positive_terms(ast) if ranked else [])
            if not t.endswith("*")  # prefixes filter; BM25 ranks exact terms
        ]
        if not pos:  # unranked, or nothing rankable (pure negation)
            return matched.orderBy("url").limit(k)
        scored = score_bm25(
            self.spark, " ".join(pos), self.postings, self.doc_stats,
            self.total_documents, avgdl=self._avgdl, term_df=self.term_df,
        )
        return (
            scored.join(matched, "url", "left_semi")
            .orderBy(F.desc("score"), F.asc("url"))
            .limit(k)
        )

    def search_boolean_blocked(
        self, index_path: str | list, query: str, k: int = 100, ranked: bool = False
    ) -> DataFrame:
        """The boolean query language served off the compressed blocked
        index or a shard list (_federated) — same semantics as
        search_boolean (one compiled filter over per-doc presence flags,
        pure negation correct, wildcard prefixes, ``ranked=True``
        BM25-orders matches by the positive exact terms) with the
        blocked layout's mechanics: wildcard prefixes expand against the
        driver-side dictionary sidecar (zero jobs), term buckets prune
        at the scan when every expansion's bucket is known, and presence
        flags come from the columnar scoring entries — no flat postings
        needed. Pinned result-identical to the flat path by test."""
        from .functions.library import parse_boolean_query, positive_terms

        pos = []
        if ranked:
            pos = [
                t for t in positive_terms(parse_boolean_query(query))
                if not t.endswith("*")
            ]

        def run(path, top, stats):
            if pos and stats is None:  # one index: its own dictionary dfs
                blocks, _d, total, agg, ts = self._blocked_handles(path)
                if ts is not None:
                    dfs = {t: ts[t][0] for t in pos if t in ts}
                else:  # pre-dictionary layout: one metadata job
                    dfs = {
                        r["term"]: int(r["df"])
                        for r in blocks.where(F.col("term").isin(pos))
                        .groupBy("term")
                        .agg(F.sum("n_docs").alias("df"))
                        .collect()
                    }
                stats = (total, float(agg[0]) if agg else 1.0, dfs)
            if not pos or not stats[2]:  # unranked, or nothing rankable
                return self._boolean_blocked(path, query, top)
            n, avgdl, dfs = stats
            return self._boolean_blocked(
                path, query, top, dfs=dfs, n=n, avgdl=avgdl
            )

        return self._federated(
            index_path, run, k, value_col="score" if pos else None,
            stat_terms=pos or None,
        )

    def _boolean_blocked(
        self, index_path, query, k, dfs=None, n=None, avgdl=None
    ):
        """Shared boolean-on-blocked implementation: presence flags +
        compiled filter; with (dfs, n, avgdl) supplied, BM25-ranks the
        matches using exactly those collection stats (a single index
        passes its own sidecar stats, a federated deployment the
        recombined GLOBAL ones); without them, returns the match set
        ordered by url."""
        import math

        from .compression import scoring_entries
        from .functions.library import boolean_expr, parse_boolean_query

        ast = parse_boolean_query(query)
        terms = ast.terms()
        _b, dsi, _total, _stats, term_stats = self._blocked_handles(index_path)
        exact = [t for t in terms if not t.endswith("*")]
        wild = [t for t in terms if t.endswith("*")]
        if term_stats is not None:
            prune_words = sorted(
                set(exact)
                | {
                    w
                    for t in wild
                    for w in term_stats
                    if w.startswith(t[:-1])
                }
            )
        else:
            prune_words = []
        blocks, dsi, _total, _stats, term_stats = self._pruned_blocked_scan(
            index_path, prune_words
        ) if prune_words else (_b, dsi, _total, _stats, term_stats)
        if blocks is None:
            blocks = _b.limit(0)

        def fname(t):
            return "has_" + t.replace("*", "_pre")

        def match(t):
            if t.endswith("*"):
                return F.col("term").startswith(t[:-1])
            return F.col("term") == t

        prefilter = match(terms[0])
        for t in terms[1:]:
            prefilter = prefilter | match(t)
        entries = scoring_entries(blocks.drop("term_bucket").where(prefilter))
        flags = entries.groupBy("doc_index").agg(
            *[F.max(match(t).cast("int")).alias(f"_m_{fname(t)}") for t in terms]
        )
        full = (
            dsi.select("doc_index", "url")
            .join(flags, "doc_index", "left")
            .select(
                "doc_index",
                "url",
                *[
                    F.coalesce(F.col(f"_m_{fname(t)}") == 1, F.lit(False)).alias(
                        fname(t)
                    )
                    for t in terms
                ],
            )
        )
        pred = boolean_expr(ast, lambda t: F.col(fname(t)))
        matched = full.where(pred).select("doc_index", "url")
        if not dfs:  # unranked, or nothing rankable
            return matched.select("url").orderBy("url").limit(k)
        k1, b = 1.2, 0.75
        n = float(n)
        idf_map = F.create_map(
            *[
                x
                for t in dfs
                for x in (
                    F.lit(t),
                    F.lit(math.log((n - dfs[t] + 0.5) / (dfs[t] + 0.5) + 1.0)),
                )
            ]
        )
        pe = entries.where(F.col("term").isin(sorted(dfs)))
        if "dl" not in pe.columns:
            pe = pe.join(
                dsi.select("doc_index", F.col("n_term_entries").alias("dl")),
                "doc_index",
            )
        scored = (
            pe.select(
                "doc_index",
                (
                    idf_map[F.col("term")]
                    * (F.col("tf") * (k1 + 1))
                    / (
                        F.col("tf")
                        + k1 * (1 - b + b * F.col("dl") / F.lit(avgdl))
                    )
                ).alias("partial"),
            )
            .groupBy("doc_index")
            .agg(F.sum("partial").alias("score"))
        )
        return (
            scored.join(matched, "doc_index")
            .select("url", "score")
            .orderBy(F.desc("score"), F.asc("url"))
            .limit(k)
        )

    def suggest(self, term: str, k: int = 3, max_dist: int = 2) -> DataFrame:
        """Did-you-mean over the build-time term dictionary: the top-k
        terms within Levenshtein ``max_dist`` of ``term``, ranked by
        (distance, df desc, term). A cheap length band prunes the
        dictionary scan before the JVM-side levenshtein; the scan is
        embarrassingly parallel, so the plan holds at a 10M-term
        vocabulary where a driver-side dictionary loop would not."""
        assert self.term_df is not None, "build or load first"
        t = term.lower()
        return (
            self.term_df.where(
                F.abs(F.length("term") - F.lit(len(t))) <= max_dist
            )
            .withColumn("dist", F.levenshtein(F.lit(t), F.col("term")))
            .where(F.col("dist") <= max_dist)
            .orderBy(F.asc("dist"), F.desc("df"), F.asc("term"))
            .limit(k)
        )

    # -- low-latency serving path ------------------------------------------

    DICT_CAP = 2_000_000  # max dictionary entries held driver-side
    # max posting rows a boolean-filter side may have and still get the
    # broadcast hint on the served path (roughly <=10 MB of urls)
    FILTER_BROADCAST_DF_CAP = 250_000

    SERVE_ROWS_PER_PARTITION = 250_000

    def enable_serving(self) -> bool:
        """Pin the serving state the reference ranker keeps in RAM
        (RankerStarter.java:29-60 loads all index keys + pageranks into
        memory): a driver-side {term: df} dictionary plus a pre-joined
        cached (term, url, tf, dl) relation. A BM25 query then compiles
        to ONE Spark job — an IN-list term filter (no join), literal
        idf map, one groupBy + partial top-k. Returns False (and stays
        on the join path) when the vocabulary exceeds DICT_CAP — at
        web scale the dictionary is sharded on the cluster instead.

        The cached relation is laid out for the query path: hash-
        clustered on term and sorted by term within partitions, so each
        in-memory columnar batch covers a narrow term range and the
        per-query IN-list filter skips whole cached batches on their
        min/max stats (spark.sql.inMemoryColumnarStorage.partitionPruning)
        instead of scanning the full corpus cache; the partition count
        is sized to ~SERVE_ROWS_PER_PARTITION rows so a small corpus
        doesn't pay 32 scheduled tasks per query for no parallelism."""
        assert self.postings is not None and self.term_df is not None
        if self.term_df.count() > self.DICT_CAP:
            return False
        self._dict = {r["term"]: int(r["df"]) for r in self.term_df.collect()}
        if "dl" in self.postings.columns:
            served = self.postings.select(
                "term", "url", "tf", F.col("dl").alias("n_term_entries")
            )
        else:  # pre-dl index layout
            served = self.postings.join(
                self.doc_stats.select("doc_id", "n_term_entries"), "doc_id"
            ).select("term", "url", "tf", "n_term_entries")
        n_rows = sum(self._dict.values())
        nparts = max(1, -(-n_rows // self.SERVE_ROWS_PER_PARTITION))
        self._served = (
            served.repartition(nparts, "term")
            .sortWithinPartitions("term")
            .persist()
        )
        self._served.count()
        return True

    def search_bm25_served(
        self,
        query: str,
        k: int = 10,
        k1: float = 1.2,
        b: float = 0.75,
        required: list | None = None,
        excluded: list | None = None,
    ) -> DataFrame:
        """Single-job BM25 top-k off the pinned serving state (score
        identical to search_bm25; property-tested).

        ``required``/``excluded``: boolean filters (the `+term -term`
        syntax) — results must contain every required term and no
        excluded term. Filters ride the same cached serving relation as
        left-semi/left-anti joins, so the query stays one job. A
        required term absent from the dictionary short-circuits empty;
        an absent excluded term is a no-op."""
        import math

        from .ranker import expand_query

        assert getattr(self, "_served", None) is not None, "enable_serving first"
        words = sorted({w.lower() for w in expand_query(query)})
        hit = [w for w in words if w in self._dict]
        required = [w.lower() for w in (required or [])]
        excluded = [w.lower() for w in (excluded or [])]
        if any(w not in self._dict for w in required):
            return self.spark.createDataFrame([], "url string, score double")
        excluded = [w for w in excluded if w in self._dict]
        if not hit:
            return self.spark.createDataFrame([], "url string, score double")
        n = float(self.total_documents)
        idf = {
            w: math.log((n - self._dict[w] + 0.5) / (self._dict[w] + 0.5) + 1.0)
            for w in hit
        }
        idf_map = F.create_map(
            *[x for w in hit for x in (F.lit(w), F.lit(idf[w]))]
        )
        partial = (
            idf_map[F.col("term")]
            * (F.col("tf") * (k1 + 1))
            / (
                F.col("tf")
                + k1 * (1 - b + b * F.col("n_term_entries") / F.lit(self._avgdl))
            )
        )
        # DICT_CAP bounds distinct terms, not posting counts: a
        # stopword-like filter term's url list is proportional to the
        # corpus, so the broadcast hint only applies when the term df
        # (known driver-side from the dictionary) is small enough to
        # ship; bigger filters fall back to a plain shuffle semi/anti
        # join, which AQE may still broadcast if runtime stats allow.
        def _maybe_broadcast(df_side, n_rows):
            return F.broadcast(df_side) if n_rows <= self.FILTER_BROADCAST_DF_CAP else df_side

        scored = self._served.where(F.col("term").isin(hit))
        for w in dict.fromkeys(required):
            scored = scored.join(
                _maybe_broadcast(
                    self._served.where(F.col("term") == w).select("url"),
                    self._dict[w],
                ),
                "url",
                "left_semi",
            )
        if excluded:
            exc = sorted(set(excluded))
            scored = scored.join(
                _maybe_broadcast(
                    self._served.where(F.col("term").isin(exc)).select("url"),
                    sum(self._dict[w] for w in exc),
                ),
                "url",
                "left_anti",
            )
        return (
            scored.select("url", partial.alias("partial"))
            .groupBy("url")
            .agg(F.sum("partial").alias("score"))
            .orderBy(F.desc("score"), F.asc("url"))
            .limit(k)
        )

    def serving_clone(self) -> "SearchEngine":
        """A SearchEngine bound to a DEDICATED serving SparkSession —
        ``spark.newSession()`` shares the SparkContext and the cache
        manager but owns its SQL conf — with the low-latency conf
        (AQE off, shuffle.partitions=8) applied once at construction.
        Request handlers use the clone directly, so nothing mutates
        session conf at query time, concurrent requests need no lock,
        and the parent session keeps its batch conf for index builds.

        State is re-bound under the serving session without caching
        anything twice: path-loaded relations are re-read (identical
        plans resolve to the parent's persisted data via the shared
        CacheManager), in-memory relations of a built-not-saved engine
        are re-bound through global temp views (the view body is the
        parent's plan; reading it from the serving session yields a
        DataFrame that EXECUTES under serving conf), and plain-Python
        sidecars (term dictionary, doc_index->url dicts) are shared by
        reference. Blocked-index handles are prewarmed for every path
        the parent had open.

        The clone is a point-in-time binding: after merge_pages /
        save_blocked on the parent, build a fresh clone."""
        serving = self.spark.newSession()
        serving.conf.set("spark.sql.adaptive.enabled", "false")
        serving.conf.set("spark.sql.shuffle.partitions", "8")
        clone = SearchEngine(serving)

        def rebind(df: DataFrame | None, name: str) -> DataFrame | None:
            if df is None:
                return None
            view = f"sg_serving_{id(self)}_{name}"
            df.createOrReplaceGlobalTempView(view)
            return serving.table(f"global_temp.{view}")

        if getattr(self, "_loaded_path", None):
            clone.load(self._loaded_path, with_pageranks=self.pageranks is not None)
        elif self.postings is not None:
            clone.postings = rebind(self.postings, "postings")
            clone.doc_stats = rebind(self.doc_stats, "doc_stats")
            clone.term_df = rebind(self.term_df, "term_df")
            clone.pageranks = rebind(self.pageranks, "pageranks")
            clone.total_documents = self.total_documents
            clone._avgdl = self._avgdl
        if getattr(self, "_served", None) is not None:
            clone._served = rebind(self._served, "served")
            clone._dict = self._dict
        for path in tuple(getattr(self, "_blocked_cache", None) or ()):
            clone._blocked_handles(path)
        dicts = getattr(self, "_blocked_url_dicts", None)
        if dicts:
            clone._blocked_url_dicts = dicts
        return clone

    def low_latency(self):
        """Conf scope for interactive serving queries: disables AQE
        while the block is active (and restores the previous setting
        after). AQE re-optimizes at every shuffle boundary, which turns
        a one-shuffle top-k into multiple driver-scheduled jobs — right
        for a 100 TB batch plan, pure overhead for a sub-second query
        over a pruned candidate set (results are identical; AQE only
        changes plans). The toggle is session-scoped, so don't run
        batch builds concurrently inside the block — a production
        deployment gives the serving path its own SparkSession (conf is
        per-session, the SparkContext is shared) instead."""
        return low_latency(self.spark, shuffle_partitions=8)

    def unpersist(self) -> None:
        for df in (
            self.postings,
            self.doc_stats,
            self.term_df,
            self.pageranks,
            getattr(self, "_served", None),
        ):
            if df is not None:
                df.unpersist()
        self._invalidate_blocked_cache()


@contextmanager
def low_latency(spark: SparkSession, shuffle_partitions: int | None = None):
    """See SearchEngine.low_latency — usable standalone around any
    interactive query's action. ``shuffle_partitions`` optionally
    right-sizes the reduce side for sub-second queries (a pruned
    candidate aggregation does not need the batch-build's partition
    count; without AQE coalescing, every empty reduce task is a
    scheduled no-op on the latency path)."""
    overrides = {"spark.sql.adaptive.enabled": "false"}
    if shuffle_partitions is not None:
        overrides["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    old = {k: spark.conf.get(k, None) for k in overrides}
    for k, v in overrides.items():
        spark.conf.set(k, v)
    try:
        yield spark
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
