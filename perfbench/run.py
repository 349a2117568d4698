#!/usr/bin/env python3
"""The repository benchmark: one workload per run, one JSON result line.

  python3 perfbench/run.py --workload search_single --seed 1 --seconds 4 --trace 0

Workloads (see README.md for why each exists and what every metric
means):

  search_single  closed-loop HTTP load on a ``server.make_server``
                 process over one index (flat + blocked + embeddings)
  index_build    build + save + save_blocked, then publish a delta shard

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the
same workload and seed with spans and the Spark event log on and
prints the per-layer metrics. The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}``. A full report (host
record, per-route percentiles with n, the layer table) is written to
``.bench_build/perfbench/reports/``.
"""

from __future__ import annotations

import argparse
import http.client
import json
import os
import random
import signal
import statistics
import subprocess
import sys
import threading
import time
from urllib.parse import parse_qs, urlparse

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
sys.path.insert(0, ROOT)

SERVE_PAGES = 600      # serving corpus, built once per checkout
SERVE_CORPUS_SEED = 42
BUILD_PAGES = 300      # index_build base corpus
ABSENT = ["zqxjv", "vxqzk", "jqzvx"]  # never in the fixture vocabulary


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def cpu_probe() -> float:
    """Seconds for a fixed pure-Python busy loop: host speed right now."""
    t0 = time.perf_counter()
    x = 0
    for i in range(3_000_000):
        x ^= i
    return time.perf_counter() - t0


# -- program process -------------------------------------------------------

class Program:
    """A child process of the program, its PB protocol and its memory."""

    def __init__(self, script: str, args: list, log_name: str):
        os.makedirs(os.path.join(BUILD, "logs"), exist_ok=True)
        tmp = os.path.join(BUILD, "tmp")
        os.makedirs(tmp, exist_ok=True)
        env = dict(os.environ)
        env.update({
            "PYTHONPATH": ROOT,
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": os.path.join(BUILD, "spark-local"),
            "SPARK_GRAFT_DRIVER_MEM": "2g",
        })
        self.log = open(os.path.join(BUILD, "logs", log_name), "w")
        self.t0 = time.perf_counter()
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, script),
             "--t0", repr(self.t0), *args],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=self.log,
            text=True, cwd=ROOT, env=env, start_new_session=True,
        )
        self.peak_rss = 0
        self._stop = threading.Event()
        self._sampler = threading.Thread(target=self._sample, daemon=True)
        self._sampler.start()

    def _sample(self) -> None:
        while not self._stop.is_set():
            self.peak_rss = max(
                self.peak_rss, sum(session_procs(self.proc.pid).values())
            )
            self._stop.wait(0.2)

    def recv(self) -> dict:
        while True:
            line = self.proc.stdout.readline()
            if not line:
                raise RuntimeError(
                    f"program exited ({self.proc.wait()}); see {self.log.name}"
                )
            if line.startswith("PB "):
                return json.loads(line[3:])

    def send(self, **cmd) -> None:
        self.proc.stdin.write(json.dumps(cmd) + "\n")
        self.proc.stdin.flush()

    def close(self) -> None:
        try:
            self.proc.stdin.close()
        except OSError:
            pass
        try:
            self.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()
        # the JVM and Python workers share the child's session; end them
        # and wait until none is left
        for _ in range(100):
            if not session_procs(self.proc.pid):
                break
            try:
                os.killpg(self.proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            time.sleep(0.1)
        self._stop.set()
        self._sampler.join()
        self.proc.stdout.close()
        self.log.close()


def session_procs(sid: int) -> dict:
    """{pid: RSS bytes} of the live processes in session ``sid``: the
    program's Python driver, its JVM and the JVM's Python workers."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            with open(f"/proc/{name}/statm") as f:
                pages = int(f.read().split()[1])
        except OSError:
            continue
        if int(fields[3]) == sid and fields[0] != "Z":
            out[int(name)] = pages * os.sysconf("SC_PAGE_SIZE")
    return out


# -- request mix -------------------------------------------------------------

def zipf_terms(rng: random.Random, vocab: list, n: int) -> list:
    """``n`` distinct terms, rank drawn Zipf-like as the corpus does."""
    out: list = []
    while len(out) < n:
        t = vocab[int(len(vocab) ** rng.random()) - 1]
        if t not in out:
            out.append(t)
    return out


def request_pass(rng: random.Random, vocab: list, n_pages: int) -> list:
    """One pass of the search_single mix: fixed route quotas, seeded
    terms. Plain BM25 /search is the largest share (6 of 15).

    The BM25, boolean, hybrid and dictionary routes draw terms
    Zipf-like over the whole vocabulary, so head terms (weak pruning)
    and tail terms (strong pruning) both occur. The positional,
    threshold and TF-IDF routes cost seconds, and their cost follows
    the terms' document frequency; they draw from a fixed band of
    frequent terms (vocabulary ranks 10-39), so a pass costs about the
    same at every seed."""
    from urllib.parse import quote, urlencode

    from google_like_search_engine_spark.corpus import url_for

    def z(n):
        return zipf_terms(rng, vocab, n)

    def band(n):
        return rng.sample(vocab[10:40], n)

    def path(route, **q):
        return route + "?" + urlencode(q, quote_via=quote)

    w = z(1)[0]
    typo = w[:-1] + ("x" if w[-1] != "x" else "y")
    r1, r2, r3, r4 = z(4)
    reqs = [
        *(("bm25", path("/search", query=" ".join(z(n)), k=10))
          for n in (1, 2, 2, 3, 3)),
        ("bm25", path("/search", query=" ".join(z(2) + [rng.choice(ABSENT)]), k=10)),
        ("bm25_filter", path("/search", query=" ".join(z(2)), k=10,
                             required=z(1)[0], excluded=z(1)[0])),
        ("tfidf", path("/search", query=" ".join(band(2)), k=10, scorer="tfidf")),
        ("phrase", path("/phrase", query=" ".join(band(2)), k=10)),
        ("proximity", path("/proximity", terms=",".join(band(2)), window=5, k=10)),
        # at 3.0 a band pair either clears no document (fast) or a few
        # (slow); 1.0 keeps a few hundred and costs the same at every seed
        ("threshold", path("/threshold", query=" ".join(band(2)), threshold=1.0)),
        ("boolean", path("/boolean", query=f"{r1} AND ({r2} OR {r3}) AND NOT {r4}",
                         k=20)),
        ("hybrid", path("/hybrid", query=" ".join(z(2)),
                        qurl=url_for(rng.randrange(n_pages)), k=10)),
        ("autocomplete", path("/autocomplete", prefix=w[:2], k=10)),
        ("suggest", path("/suggest", q=typo, k=3)),
    ]
    rng.shuffle(reqs)
    return reqs


def fetch(port: int, path: str, headers: dict):
    """(ok, wall seconds send->last byte, t0, t1, parsed body)."""
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    t0 = time.perf_counter()
    try:
        conn.request("GET", path, headers=headers)
        resp = conn.getresponse()
        body = resp.read()
        t1 = time.perf_counter()
        ok = resp.status == 200
        return ok, t1 - t0, t0, t1, json.loads(body) if ok else None
    except (OSError, http.client.HTTPException, ValueError):
        t1 = time.perf_counter()
        return False, t1 - t0, t0, t1, None
    finally:
        conn.close()


def closed_loop(port: int, reqs: list, clients: int, seconds: float, tag: str,
                passes: int = 1, alternate: bool = False):
    """Replay whole passes of ``reqs`` with ``clients`` closed-loop
    clients: at least ``passes``, more while ``seconds`` have not
    passed. With ``alternate``, every other request asks the server for
    spans (``X-Trace: 1``), flipping per pass, so each request is timed
    once traced and once untraced. Returns (records, wall); a record is
    (kind, path, ok, wall, t0, t1, body, request id, traced)."""
    lock = threading.Lock()
    queue: list = []
    records: list = []
    start = time.perf_counter()
    state = {"next": 0, "passes": 0}

    def take():
        with lock:
            if state["next"] == len(queue):
                if (state["passes"] >= passes
                        and time.perf_counter() - start >= seconds):
                    return None
                queue.extend(reqs)
                state["passes"] += 1
            i = state["next"]
            state["next"] += 1
            return i, queue[i]

    def client():
        while True:
            item = take()
            if item is None:
                return
            i, (kind, path) = item
            rid = f"{tag}-{i}"
            traced = alternate and (i % len(reqs) + i // len(reqs)) % 2 == 0
            headers = {"X-Request-Id": rid, "X-Trace": "1" if traced else "0"}
            ok, wall, t0, t1, body = fetch(port, path, headers)
            with lock:
                records.append(
                    (kind, path, ok, wall, t0, t1, body, rid, traced)
                )

    threads = [threading.Thread(target=client) for _ in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return records, time.perf_counter() - start


def rows_of(path: str, body) -> list:
    """The server's answer in the reference's shape."""
    res = body.get("results", [])
    if path.startswith("/search") or path.startswith("/threshold"):
        rows = [[r["url"], r["score"]] for r in res]
        return sorted(rows) if path.startswith("/threshold") else rows
    if path.startswith("/phrase"):
        return [[r["url"], r["n_occurrences"]] for r in res]
    if path.startswith("/proximity"):
        return [[r["url"], r["n_matches"]] for r in res]
    if path.startswith("/boolean"):
        return res
    if path.startswith("/hybrid"):
        return [[r["url"], r["bm25_rnk"], r["cos_rnk"], r["rrf"]] for r in res]
    if path.startswith("/autocomplete"):
        return [[r["term"], r["df"]] for r in body["completions"]]
    if path.startswith("/suggest"):
        return [[r["term"], r["dist"], r["df"]] for r in body["suggestions"]]
    raise ValueError(path)


def by_score(rows: list, k: int) -> list:
    """Score-ranked rows as exact arithmetic would order them: scores
    within ``same``'s tolerance are one tie, ordered by url (the
    engine's tie-break), then cut at ``k``. Summing a document's term
    scores in another order moves a score by an ulp, which is enough to
    reorder a true tie."""
    out, group = [], []
    for row in rows:
        if group and not same(row[1], group[0][1]):
            out.extend(sorted(group))
            group = []
        group.append(row)
    out.extend(sorted(group))
    return out[:k]


def same(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        return isinstance(a, (int, float)) and isinstance(b, (int, float)) and (
            abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))
        )
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(same(x, y) for x, y in zip(a, b))
    return a == b


def expected(path: str, got: list, want: list):
    """(answer, reference) ready for ``same``."""
    if path.startswith("/search"):
        k = int(parse_qs(urlparse(path).query)["k"][0])
        return by_score(got, k), by_score(want, k)
    return got, want


def pct(values: list, q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, min(len(s) - 1, int(-(-q * len(s) // 1)) - 1))]


def summarize(records: list, wall: float) -> dict:
    ok = [r for r in records if r[2]]
    out = {"n": len(records), "ok": len(ok), "wall_s": wall,
           "qps": len(ok) / wall if wall else 0.0, "routes": {}}
    lat = [r[3] * 1000 for r in ok]
    if lat:
        out.update(mean_ms=statistics.fmean(lat),
                   p50_ms=statistics.median(lat), p90_ms=pct(lat, 0.9),
                   p90_n_beyond=sum(1 for x in lat if x > pct(lat, 0.9)))
    for kind in sorted({r[0] for r in ok}):
        lk = [r[3] * 1000 for r in ok if r[0] == kind]
        out["routes"][kind] = {"n": len(lk), "p50_ms": statistics.median(lk),
                               "max_ms": max(lk)}
    return out


# -- search_single ------------------------------------------------------------

def run_search_single(seed: int, seconds: float, trace: bool, report: dict):
    from google_like_search_engine_spark.corpus import fixture_vocabulary

    vocab = fixture_vocabulary()
    rng = random.Random(seed)
    # the warm-up prefix is one pass of other seeded requests: it opens
    # every lazily loaded piece of serving state (blocked handles, url
    # dict, embeddings, cached pageranks) and compiles each route's plans
    warm = request_pass(rng, vocab, SERVE_PAGES)
    reqs = request_pass(rng, vocab, SERVE_PAGES)
    cores = nproc()
    event_log = os.path.join(BUILD, "eventlog", f"search-{seed}") if trace else ""
    prog = Program("serve_proc.py", [
        "--index", os.path.join(BUILD, f"serve_index_{SERVE_PAGES}"),
        "--pages", str(SERVE_PAGES), "--corpus-seed", str(SERVE_CORPUS_SEED),
        "--cores", str(cores), "--event-log", event_log,
    ], f"search_single-{seed}-{int(trace)}.log")
    failed = attempted = 0
    try:
        sess = prog.recv()
        report["host"].update(spark=sess["spark"], java=sess["java"],
                              python=sess["python"])
        ready = prog.recv()
        port = ready["port"]
        recs, warm_s = closed_loop(port, warm, 1, 0, "w")
        attempted += len(recs)
        failed += sum(1 for x in recs if not x[2])
        setup_s = sess["session_s"] + ready["setup_s"] + warm_s
        report["setup"] = {"session_s": sess["session_s"],
                           "load_to_ready_s": ready["setup_s"],
                           "warm_prefix_s": warm_s}

        half = seconds / 2
        phases = {
            "single": closed_loop(port, reqs, 1, half, "s",
                                  passes=2 if trace else 1, alternate=trace),
            "loaded": closed_loop(port, reqs, cores, half, "l"),
        }

        prog.send(cmd="check", paths=sorted({p for _k, p in reqs}))
        refs = prog.recv()["refs"]
        wrong, mismatches = {}, {}
        for recs, _wall in phases.values():
            for kind, path, ok, *_times, body, _rid, _traced in recs:
                attempted += 1
                if not ok:
                    failed += 1
                    continue
                got, want = expected(path, rows_of(path, body), refs[path])
                if not same(got, want):
                    failed += 1
                    wrong[kind] = wrong.get(kind, 0) + 1
                    mismatches[path] = {"got": got, "want": want}
        report["wrong_by_kind"] = wrong
        report["mismatches"] = mismatches
        report["phases"] = {n: summarize(*v) for n, v in phases.items()}
        prog.send(cmd="exit")
        spans = prog.recv()
    finally:
        prog.close()

    metrics = {
        "latency_ms": (report["phases"]["single"]["mean_ms"], "ms"),
        "throughput_per_s": (report["phases"]["loaded"]["qps"], "1/s"),
        "setup_s": (setup_s, "s"),
    }
    if trace:
        from perfbench.layers import serving_layers

        metrics = serving_layers(phases, spans, event_log, report)
    report["peak_rss_mb"] = prog.peak_rss / 2**20
    if trace:
        metrics["process.peak_rss_mb"] = (report["peak_rss_mb"], "MB")
    return attempted, failed, metrics


# -- index_build ---------------------------------------------------------------

def run_index_build(seed: int, seconds: float, trace: bool, report: dict):
    event_log = os.path.join(BUILD, "eventlog", f"build-{seed}") if trace else ""
    work = os.path.join(BUILD, "index_build")
    prog = Program("build_proc.py", [
        "--seed", str(seed), "--pages", str(BUILD_PAGES), "--out", work,
        "--cores", str(nproc()), "--event-log", event_log,
    ], f"index_build-{seed}-{int(trace)}.log")
    try:
        res = prog.recv()
        report["host"].update(spark=res["spark"], java=res["java"],
                              python=res["python"])
    finally:
        prog.close()
    report["build"] = res
    t = res["times"]
    metrics = {
        "latency_ms": (t["publish"] * 1000, "ms"),
        "throughput_per_s": (
            res["n_docs"] / (t["build"] + t["save"] + t["save_blocked"]), "1/s"
        ),
        "setup_s": (res["session_s"], "s"),
    }
    if trace:
        from perfbench.layers import build_layers

        metrics = build_layers(res, event_log, report)
    report["peak_rss_mb"] = prog.peak_rss / 2**20
    if trace:
        metrics["process.peak_rss_mb"] = (report["peak_rss_mb"], "MB")
    return res["attempted"], res["failed"], metrics


WORKLOADS = {"search_single": run_search_single, "index_build": run_index_build}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    report = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace,
              "host": {"nproc": nproc(), "cpu_probe_before_s": cpu_probe()}}
    attempted, failed, metrics = WORKLOADS[args.workload](
        args.seed, args.seconds, bool(args.trace), report
    )
    report["host"]["cpu_probe_after_s"] = cpu_probe()
    report["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    os.makedirs(os.path.join(BUILD, "reports"), exist_ok=True)
    with open(os.path.join(
        BUILD, "reports", f"{args.workload}-{args.seed}-{args.trace}.json"
    ), "w") as f:
        json.dump(report, f, indent=1)
    print(json.dumps({"host": report["host"]}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": report["metrics"],
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
