"""Server side of the serving workload: runs in the program's process.

Started by ``run.py``; speaks one JSON object per line, each prefixed
with ``PB `` on stdout, and reads one command per line on stdin:

  -> PB {"event": "session", ...}      Spark session is up
  -> PB {"event": "ready", ...}        server listening
  <- {"cmd": "check", "paths": [...]} -> PB {"event": "refs", ...}
  <- {"cmd": "exit"}                   -> PB {"event": "spans", ...}; exit

The index is built once per checkout under ``.bench_build`` from a
fixed corpus (see README.md). Reference answers for the output checks
come from the flat ``ranker`` paths over the same loaded index and
from plain Python over its postings, computed after the timed phases.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

EMB_DIM = 16
# score-ranked references return this many rows past k, so the client
# can order near-tied scores at the cut the way exact arithmetic would
TIE_SLACK = 20


def say(**obj) -> None:
    sys.stdout.write("PB " + json.dumps(obj) + "\n")
    sys.stdout.flush()


def listen() -> dict:
    line = sys.stdin.readline()
    if not line:
        raise SystemExit("benchmark client went away")
    return json.loads(line)


def build_index(spark, index_dir: str, n_pages: int, corpus_seed: int) -> None:
    """Flat index + blocked dir + url-keyed embeddings, written once."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from google_like_search_engine_spark.corpus import generate_pages, url_for
    from google_like_search_engine_spark.engine import SearchEngine

    tmp = index_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    eng = SearchEngine(spark)
    eng.build(generate_pages(spark, n_pages, seed=corpus_seed))
    eng.save(tmp)
    eng.save_blocked(tmp + "/blocked")
    eng.unpersist()
    rng = np.random.default_rng(corpus_seed)
    vecs = rng.standard_normal((n_pages, EMB_DIM)).astype("float32")
    pq.write_table(
        pa.table({
            "url": [url_for(i) for i in range(n_pages)],
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        }),
        tmp + "/embeddings.parquet",
    )
    os.replace(tmp, index_dir)


class References:
    """Expected answers for each route, from the flat index."""

    def __init__(self, eng, index_dir: str):
        import pyarrow.parquet as pq

        self.eng = eng
        t = pq.read_table(index_dir + "/embeddings.parquet").to_pydict()
        self.emb = dict(zip(t["url"], t["embedding"]))
        self.terms = {
            r["term"]: int(r["df"]) for r in eng.term_df.collect()
        }
        self.urls = sorted(r["url"] for r in eng.doc_stats.select("url").collect())

    def postings(self, terms) -> dict:
        """{term: {url: positions}} for the exact (lowercased) terms."""
        from pyspark.sql import functions as F

        out = {t: {} for t in terms}
        rows = (
            self.eng.postings.where(F.col("term").isin(sorted(set(terms))))
            .select("term", "url", "positions").collect()
        )
        for r in rows:
            out[r["term"]][r["url"]] = list(r["positions"])
        return out

    def bm25_all(self, query: str) -> list:
        from google_like_search_engine_spark.ranker import score_bm25

        e = self.eng
        rows = score_bm25(
            e.spark, query, e.postings, e.doc_stats, e.total_documents,
            avgdl=e._avgdl, term_df=e.term_df,
        ).collect()
        return [(r["url"], float(r["score"])) for r in rows]

    def answer(self, path: str):
        from urllib.parse import parse_qs, urlparse

        u = urlparse(path)
        q = {k: v[0] for k, v in parse_qs(u.query).items()}
        k = int(q.get("k", "10"))
        if u.path == "/search" and q.get("scorer") == "tfidf":
            from google_like_search_engine_spark.ranker import score_tfidf

            e = self.eng
            rows = score_tfidf(
                e.spark, q["query"], e.postings, e.pageranks, e.total_documents
            ).limit(k + TIE_SLACK).collect()
            return [[r["url"], float(r["score"])] for r in rows]
        if u.path == "/search":
            req = [t.lower() for t in q.get("required", "").split(",") if t]
            exc = [t.lower() for t in q.get("excluded", "").split(",") if t]
            ranked = self.bm25_all(q["query"])
            if req or exc:
                p = self.postings(req + exc)
                keep = [
                    (url, s) for url, s in ranked
                    if all(url in p[t] for t in req)
                    and not any(url in p[t] for t in exc)
                ]
                ranked = keep
            return [[u_, s] for u_, s in ranked[:k + TIE_SLACK]]
        if u.path == "/threshold":
            th = float(q["threshold"])
            return sorted(
                [u_, round(s, 4)] for u_, s in self.bm25_all(q["query"])
                if round(s, 4) >= th
            )
        if u.path == "/phrase":
            words = [w.lower() for w in q["query"].split()]
            p = self.postings(words)
            counts = []
            for url in set.intersection(*(set(p[w]) for w in words)):
                starts = set(p[words[0]][url])
                for i, w in enumerate(words[1:], 1):
                    starts &= {x - i for x in p[w][url]}
                if starts:
                    counts.append((url, len(starts)))
            counts.sort(key=lambda x: (-x[1], x[0]))
            return [list(c) for c in counts[:k]]
        if u.path == "/proximity":
            terms = [t.lower() for t in q["terms"].split(",") if t]
            win = int(q.get("window", "5"))
            p = self.postings(terms)
            counts = []
            for url in set.intersection(*(set(p[t]) for t in terms)):
                n = sum(
                    1 for x in p[terms[0]][url]
                    if all(any(abs(y - x) <= win for y in p[t][url])
                           for t in terms[1:])
                )
                if n:
                    counts.append((url, n))
            counts.sort(key=lambda x: (-x[1], x[0]))
            return [list(c) for c in counts[:k]]
        if u.path == "/boolean":
            from google_like_search_engine_spark.functions.library import (
                eval_boolean,
                parse_boolean_query,
            )

            ast = parse_boolean_query(q["query"])
            p = self.postings(ast.terms())
            hits = [
                url for url in self.urls
                if eval_boolean(ast, {t for t in p if url in p[t]})
            ]
            return hits[:k]
        if u.path == "/hybrid":
            pool, rrf_k = 50, 60
            lex = [url for url, _s in self.bm25_all(q["query"])[:pool]]
            qv = self.emb[q["qurl"]]
            qn = math.sqrt(sum(x * x for x in qv)) or 1.0

            def cos(v):
                return sum(a * b for a, b in zip(v, qv)) / (
                    math.sqrt(sum(x * x for x in v)) * qn
                )

            vec = sorted(self.emb, key=lambda url: (-cos(self.emb[url]), url))
            ranks: dict = {}
            for i, url in enumerate(lex):
                ranks[url] = [i + 1, 0]
            for i, url in enumerate(vec[:pool]):
                ranks.setdefault(url, [0, 0])[1] = i + 1
            fused = sorted(
                (
                    ((1.0 / (rrf_k + br) if br else 0.0)
                     + (1.0 / (rrf_k + cr) if cr else 0.0), url, br, cr)
                    for url, (br, cr) in ranks.items()
                ),
                key=lambda t: (-t[0], t[1]),
            )
            return [[url, br, cr, s] for s, url, br, cr in fused[:k]]
        if u.path == "/autocomplete":
            pre = q["prefix"].lower()
            hits = sorted(
                (t for t in self.terms if t.startswith(pre)),
                key=lambda t: (-self.terms[t], t),
            )
            return [[t, self.terms[t]] for t in hits[:k]]
        if u.path == "/suggest":
            w = q["q"].lower()
            cands = []
            for t, df in self.terms.items():
                if abs(len(t) - len(w)) <= 2:
                    d = levenshtein(w, t)
                    if d <= 2:
                        cands.append((d, -df, t))
            cands.sort()
            return [[t, d, -ndf] for d, ndf, t in cands[:k]]
        raise ValueError(f"no reference for {path}")


def levenshtein(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def install_tracing(tracer, spark, srv) -> None:
    """Make the request id the Spark job group of the handler thread,
    and record spans for requests sent with ``X-Trace: 1``. Only the
    1-client phase sends it, so one request is in flight while spans
    are on."""
    handler = srv.RequestHandlerClass
    do_get = handler.do_GET

    def traced_get(self):
        rid = self.headers.get("X-Request-Id", "")
        spark.sparkContext.setJobGroup(rid, rid)
        tracer.enabled = self.headers.get("X-Trace") == "1"
        try:
            return do_get(self)
        finally:
            tracer.enabled = False

    handler.do_GET = traced_get


def wrap_layers(tracer, spark) -> None:
    """Spans around each layer's entry points."""
    from google_like_search_engine_spark import engine as eng_mod
    from google_like_search_engine_spark import wand
    from google_like_search_engine_spark.analytics import simsearch

    from perfbench.trace import wrap_dataframe_collect

    for name in dir(eng_mod.SearchEngine):
        if name.startswith("search") or name in ("autocomplete", "suggest"):
            tracer.wrap(eng_mod.SearchEngine, name, "engine")
    # engine binds these names at import; threshold/phrase/proximity and
    # cosine_topk are imported inside the calling function from their
    # home modules
    tracer.wrap(eng_mod, "blocked_maxscore_topk", "wand")
    tracer.wrap(wand, "blocked_maxscore_threshold", "wand")
    tracer.wrap(wand, "blocked_phrase_topk", "wand")
    tracer.wrap(wand, "blocked_proximity_topk", "wand")
    tracer.wrap(eng_mod, "score_tfidf", "ranker")
    tracer.wrap(eng_mod, "score_bm25", "ranker")
    tracer.wrap(simsearch, "cosine_topk", "simsearch")
    wrap_dataframe_collect(tracer, spark)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--index", required=True)
    ap.add_argument("--pages", type=int, required=True)
    ap.add_argument("--corpus-seed", type=int, required=True)
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--event-log", default="")
    args = ap.parse_args()

    from google_like_search_engine_spark.session import get_spark

    spark = get_spark("perfbench-serve", cores=args.cores,
                      extra_conf=spark_conf(args.index, args.event_log))
    session_s = time.perf_counter() - args.t0
    say(event="session", session_s=session_s, spark=spark.version,
        java=spark.sparkContext._jvm.System.getProperty("java.version"),
        python=sys.version.split()[0])

    if not os.path.isdir(args.index):
        build_index(spark, args.index, args.pages, args.corpus_seed)

    from google_like_search_engine_spark.engine import SearchEngine
    from google_like_search_engine_spark.server import make_server

    from perfbench.trace import Tracer

    tracer = Tracer()
    if args.event_log:
        wrap_layers(tracer, spark)
    t0 = time.perf_counter()
    eng = SearchEngine(spark)
    eng.load(args.index)
    eng.enable_serving()
    srv = make_server(
        eng, "127.0.0.1", 0, blocked_path=args.index + "/blocked",
        embeddings_path=args.index + "/embeddings.parquet",
    )
    if args.event_log:
        install_tracing(tracer, spark, srv)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    say(event="ready", port=srv.server_address[1],
        setup_s=time.perf_counter() - t0)

    refs = None
    while True:
        cmd = listen()
        if cmd["cmd"] == "check":
            refs = refs or References(eng, args.index)
            out = {}
            for p in cmd["paths"]:
                try:
                    out[p] = refs.answer(p)
                except Exception as exc:  # a failed reference fails the check
                    out[p] = {"error": repr(exc)}
            say(event="refs", refs=out)
        elif cmd["cmd"] == "exit":
            srv.shutdown()
            srv.server_close()
            say(event="spans", spans=tracer.spans,
                clock=[time.time(), time.perf_counter()])
            spark.stop()
            return


def spark_conf(anchor: str, event_log: str) -> dict:
    """Spark settings of a benchmark process: scratch files stay in the
    build dir beside ``anchor``; with ``event_log`` set, an uncompressed
    event log is written there (the UI is off in ``session.py``)."""
    build = os.path.dirname(anchor.rstrip("/"))
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(build, "warehouse"),
        "spark.local.dir": os.path.join(build, "spark-local"),
        "spark.driver.extraJavaOptions": "-Djava.io.tmpdir="
        + os.path.join(build, "tmp"),
    }
    if event_log:
        shutil.rmtree(event_log, ignore_errors=True)
        os.makedirs(event_log)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
        })
    return conf


if __name__ == "__main__":
    main()
