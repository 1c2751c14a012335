#!/usr/bin/env python3
"""End-to-end benchmark of the full-text engine: build, serve, check.

    python3 perfbench/run.py --workload big-tail --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One run:

1. starts one Spark session (local[N], pinned driver heap, scratch dirs
   inside the checkout under .bench_work/);
2. generates the workload corpus from the seed with
   engine.corpus.make_corpus_spark and writes it as parquet;
3. warms the JVM with an untimed build of the corpus, then times one
   more ``build_index`` over it;
4. opens the CLI ``serve`` command in the workload's mode twice (each
   open is timed up to its answered warm-up queries) and keeps the
   second server; setup_s is session start + corpus generation + warm-up
   build + the median open;
5. drives ``GET /search`` in a closed loop from the workload's clients
   for ``--seconds`` seconds with a query stream made from the seed;
6. checks the answers: every timed response must equal the reference
   answer of its query, and sampled queries must match
   engine.oracle.Bm25Oracle rank for rank (doc ids and float64 scores).

``--trace 1`` runs the same phases, traces every other request of the
serving loop to measure the tracing overhead, and then tours the
layers the workload does not time: Spark-free kernels on the workload's
own corpus and index, the driver and big query paths, and a small NRT
ingest/refresh/compact cycle served with ``serve --work``.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; the line before it is
the run report (``{"perfbench_report": ...}``, also on standard error).
Workload sizes live in perfbench/workloads.json, metric names and bounds
in BENCHMARK.json.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
import traceback
import urllib.parse

T_PROCESS = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from procs import RssSampler, stop_spark  # noqa: E402
from results import REPORT_KEY  # noqa: E402
from served import K, ServerHandle, search_path  # noqa: E402
from spans import Tracer  # noqa: E402

#: service opens per run; setup_s takes their median
OPENS = 2
#: untimed builds before the timed one (JVM JIT and worker imports)
WARM_BUILDS = 1
#: driver JVM heap, pinned (engine/session.py otherwise asks for 48g)
HEAP = "1g"

def log(*parts) -> None:
    print(*parts, file=sys.stderr, flush=True)


def load_config() -> tuple[dict, dict]:
    with open(os.path.join(HERE, "workloads.json")) as f:
        cfg = json.load(f)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return cfg, bench


def pct(values: list[float], p: int) -> float:
    """p-th percentile (statistics.quantiles, exclusive method)."""
    if len(values) < 2:
        return values[0]
    return statistics.quantiles(values, n=100)[p - 1]


def tail_pct(n: int) -> int | None:
    """Highest of p90/p99 with at least 10 samples beyond it."""
    best = None
    for p, frac in ((90, 0.1), (99, 0.01)):
        if n * frac >= 10:
            best = p
    return best


# ------------------------------------------------------------ the run

class Bench:
    def __init__(self, args, cfg: dict, bench: dict):
        self.args = args
        self.name = args.workload
        self.wl = cfg["workloads"][self.name]
        self.cfg = cfg
        self.bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
        self.big = "--big" in self.wl["serve_args"]
        self.trace = bool(args.trace)
        self.tracer = Tracer()
        self.servers: list = []
        self.spark = None
        self.failures: list[str] = []
        self.attempted = 0
        self.report: dict = {"workload": self.name, "seed": args.seed}
        self.layer: dict[str, float] = {}
        tag = f"{self.name}-s{args.seed}-t{args.trace}-p{os.getpid()}"
        self.work = os.path.join(ROOT, ".bench_work", tag)

    # -------------------------------------------------------------- env

    def prepare_env(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp)
        os.makedirs(os.path.join(self.work, "spark-local"))
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
        os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(self.work,
                                                           "spark-local")
        os.environ["TMPDIR"] = tmp
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
        # the heap is committed and touched up front (-Xms, AlwaysPreTouch)
        # so the JVM's RSS does not follow GC timing from run to run
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            f'--driver-java-options "-Djava.io.tmpdir={tmp} '
            f'-XX:-UsePerfData -Xms{HEAP} -XX:+AlwaysPreTouch" '
            '--conf spark.ui.showConsoleProgress=false pyspark-shell')
        self.cores = max(1, min(4, len(os.sched_getaffinity(0))))

    def fail(self, what: str) -> None:
        self.failures.append(what)
        log("FAIL:", what)

    def capture_servers(self) -> None:
        """Wrap engine.server.make_server so each CLI serve hands back
        its server and service; in the traced run also wrap the request
        handler (request id from X-Bench-Rid, one Spark job group per
        request so jobs per search are counted exactly)."""
        import engine.server as es
        orig = es.make_server
        tracer, sc = self.tracer, self.spark.sparkContext

        def make_server(service, host="127.0.0.1", port=0):
            srv = orig(service, host, port)
            if self.trace:
                h = srv.RequestHandlerClass
                do_get = h.do_GET

                def traced_get(handler):
                    rid = handler.headers.get("X-Bench-Rid")
                    tracer.set_rid(rid)
                    if rid:
                        sc.setJobGroup(f"bench-rq-{rid}", "bench request")
                    try:
                        return tracer.call("http", do_get, handler)
                    finally:
                        tracer.set_rid(None)
                h.do_GET = traced_get
            self.servers.append((srv, service))
            return srv

        es.make_server = make_server

    def install_spans(self) -> None:
        """Spans around the engine's public layer functions."""
        import engine.deletes as ed
        import engine.query as eq
        import engine.server as es
        import engine.snippets as esn
        import engine.streaming as est
        t = self.tracer
        for cls in (es.SearchService, es.FederatedSearchService):
            t.wrap(cls, "search_payload", "payload")
            t.wrap(cls, "resolve_many", "resolve")
        t.wrap(eq.SearchEngine, "search", "query")
        t.wrap(eq, "search_big", "query")
        t.wrap(eq, "search_big_terms_federated", "query")
        t.wrap(esn, "make_snippet", "snippets")
        t.wrap(est, "serving_view", "serving_view")
        t.wrap(ed, "member_exclusions", "exclusions")

    def jobs_in(self, group: str) -> int:
        return len(self.spark.sparkContext.statusTracker()
                   .getJobIdsForGroup(group))

    # ------------------------------------------------------------ phases

    def start_session(self) -> None:
        from engine.session import get_spark
        self.spark = get_spark(master=f"local[{self.cores}]",
                               app_name="perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_s = time.time() - T_PROCESS

    def gen_corpus(self) -> None:
        import pyarrow.parquet as pq
        from engine.corpus import make_corpus_spark
        wl = self.wl
        t0 = time.time()
        self.corpus_dir = os.path.join(self.work, "corpus")
        (make_corpus_spark(self.spark, wl["docs"], seed=self.args.seed,
                           vocab_size=wl["vocab"],
                           partitions=2 * self.cores)
         .write.parquet(self.corpus_dir))
        self.gen_s = time.time() - t0
        tbl = self.corpus_tbl = pq.read_table(self.corpus_dir)
        self.docs = {int(d): (c, lang, path) for d, c, lang, path in zip(
            tbl.column("doc_id").to_pylist(),
            tbl.column("content").to_pylist(),
            tbl.column("lang").to_pylist(),
            tbl.column("path").to_pylist())}
        self.url_id = {f"{r}/{p}@{c}": int(d) for r, p, c, d in zip(
            tbl.column("repo").to_pylist(), tbl.column("path").to_pylist(),
            tbl.column("commit").to_pylist(),
            tbl.column("doc_id").to_pylist())}
        if len(self.docs) != wl["docs"]:
            self.fail(f"corpus has {len(self.docs)} docs, "
                      f"want {wl['docs']}")

    def builds(self) -> None:
        """WARM_BUILDS untimed builds (set-up: JVM JIT and worker
        imports), then the timed build, all over the workload corpus. Every
        build must report the same exact counts."""
        from engine.index_build import build_index
        sc = self.spark.sparkContext
        corpus = self.spark.read.parquet(self.corpus_dir)
        walls, counts = [], []
        for i in range(WARM_BUILDS + 1):
            out = os.path.join(self.work, f"index-{i}")
            if i:
                shutil.rmtree(os.path.join(self.work, f"index-{i - 1}"))
            sc.setJobGroup(f"bench-build-{i}", "bench build")
            t0 = time.time()
            man = self.tracer.call("build", build_index, self.spark,
                                   corpus, out, resume=False)
            walls.append(time.time() - t0)
            sc.setJobGroup("bench-main", "bench")
            m = man.metrics()
            counts.append((m["index"]["rows"],
                           m["index"]["metrics"]["postings_emitted"],
                           m["index"]["metrics"]["bytes_compressed"],
                           self.jobs_in(f"bench-build-{i}")))
        if len(set(counts)) != 1:
            self.fail(f"build counts differ between builds: {counts}")
        self.warm_build_s = sum(walls[:-1])
        self.build_s = walls[-1]
        self.index_dir = out
        self.manifest = m
        self.terms, self.postings, self.bytes_c, self.build_jobs = counts[-1]
        # Σdf over the index must equal the manifest's postings count
        import pyarrow.parquet as pq
        idx = pq.read_table(os.path.join(out, "index"),
                            columns=["term", "df"])
        self.dictionary = dict(zip(idx.column("term").to_pylist(),
                                   idx.column("df").to_pylist()))
        if sum(self.dictionary.values()) != self.postings:
            self.fail("sum of df differs from postings_emitted")
        if len(self.dictionary) != self.terms:
            self.fail("index rows differ from the manifest's term count")
        size = 0
        for dp, _dn, fn in os.walk(os.path.join(out, "index")):
            size += sum(os.path.getsize(os.path.join(dp, f)) for f in fn
                        if not f.startswith((".", "_")))
        self.index_bytes = size
        self.report["build"] = {
            "timed_s": self.build_s, "jobs": self.build_jobs,
            "terms": self.terms, "postings": self.postings,
            "bytes_compressed": self.bytes_c, "index_file_bytes": size,
            "stages_s": {k: v["wall_s"] for k, v in m.items()}}

    def make_pool(self) -> None:
        """The query pool. Its shape sequence (term count, mode, NOT term,
        lang filter, snippet) is fixed by the workload's shares, spread
        evenly along the pool, so every run sends the same mix in the same
        order; the seed picks the terms and filter values."""
        wl = self.wl
        rng = random.Random(f"{self.name}:{self.args.seed}:queries")
        by_df = sorted(self.dictionary, key=lambda t: (-self.dictionary[t],
                                                       t))
        terms = sorted(by_df[wl["skip_top_df_terms"]:])
        self.query_terms = terms
        langs = sorted({v[1] for v in self.docs.values()})
        lo, hi = wl["terms_per_query"]

        def every(share: float, j: int, phase: float) -> bool:
            """True on a share of positions j, evenly spaced."""
            return int((j + 1) * share + phase) > int(j * share + phase)

        pool = []
        for j in range(wl["pool"]):
            words = rng.sample(terms, lo + j % (hi - lo + 1))
            if every(wl["not_term_share"], j, 0.25):
                extra = rng.choice(terms)
                if extra not in words:
                    words.append("-" + extra)
            if every(wl["lang_filter_share"], j, 0.5):
                words.append("lang:" + rng.choice(langs))
            pool.append({
                "query": " ".join(words),
                "mode": ("conjunctive"
                         if every(wl["conjunctive_share"], j, 0.0)
                         else "ranked"),
                "snippet": every(wl["snippet_share"], j, 0.75)})
        self.pool = pool
        self.langs = langs

    def warm_driver(self, srv: ServerHandle) -> None:
        """Fill the driver posting cache with every dictionary term (one
        wide query, one fetch job) and load the lang column the filters
        use."""
        terms = sorted(self.dictionary)
        self.expect_200(srv, "/search?" + urllib.parse.urlencode(
            {"query": " ".join(terms), "k": 1}))
        for lang in self.langs:
            self.expect_200(srv, "/search?" + urllib.parse.urlencode(
                {"query": f"{terms[0]} lang:{lang}", "k": 1}))

    def expect_200(self, srv: ServerHandle, path: str) -> bytes:
        status, body = srv.get(path)
        if status != 200:
            raise RuntimeError(f"warm-up request failed: {status} {path}")
        return body

    def open_server(self) -> ServerHandle:
        t0 = time.time()
        srv = ServerHandle(self, self.index_dir, self.wl["serve_args"])
        if self.big:
            self.expect_200(srv, search_path(self.pool[-1]))
        else:
            self.warm_driver(srv)
        return srv, time.time() - t0

    def opens(self) -> ServerHandle:
        opens = []
        srv = None
        for _ in range(OPENS):
            if srv is not None:
                srv.close()
            srv, dt = self.open_server()
            opens.append(dt)
        self.open_s = opens
        return srv

    def reference_pass(self, srv: ServerHandle) -> dict[int, bytes]:
        """Driver regime: one sequential answer per pool query, the
        reference every timed response must equal. Big regime: warm-up
        queries from the end of the pool (the timed loop starts at its
        head); the first answer seen is the reference of any other
        query."""
        refs = {}
        if not self.big:
            for i, q in enumerate(self.pool):
                refs[i] = self.expect_200(srv, search_path(q))
        else:
            n = len(self.pool)
            for i in range(n - self.wl["warm_queries"], n):
                refs[i] = self.expect_200(srv, search_path(self.pool[i]))
        if self.wl["warm_seconds"]:
            warm = self.closed_loop(srv, refs, self.wl["warm_seconds"])
            if not all(r[2] for r in warm):
                self.fail("a warm-up response differs from the reference")
        return refs

    def closed_loop(self, srv: ServerHandle, refs: dict[int, bytes],
                    seconds: float, traced: bool = False) -> list[tuple]:
        """Closed loop of the workload's clients, run by perfbench/
        loadgen.py in a child process. An answer is correct when it equals
        the reference answer of its query (the first answer seen becomes
        the reference of a query that has none). With ``traced`` every
        other request carries a request id, which makes the server trace
        it. Returns (t_send, wall_s, ok, pool_index, rid) per request,
        t_send relative to the loop's start."""
        from loadgen import digest
        job = {"port": srv.port, "seconds": seconds, "traced": traced,
               "clients": self.wl["clients"], "known": sorted(refs),
               "paths": [search_path(q) for q in self.pool]}
        done = subprocess.run(
            [sys.executable, os.path.join(HERE, "loadgen.py")],
            input=json.dumps(job), capture_output=True, text=True,
            timeout=seconds + 170, check=False)
        if done.returncode != 0:
            raise RuntimeError(f"load generator failed: {done.stderr}")
        out = json.loads(done.stdout)
        for i, body in out["bodies"].items():
            refs.setdefault(int(i), body.encode())
        want = {i: digest(b) for i, b in refs.items()}
        recs = []
        for t0, wall, status, i, rid, dig in out["recs"]:
            if rid:
                self.tracer.record("client", t0, t0 + wall, rid)
            recs.append((t0 - out["t_start"], wall,
                         status == 200 and dig == want[i], i, rid))
        recs.sort()
        self.loop_wall = (max(r[0] + r[1] for r in recs) if recs
                          else seconds)
        return recs

    # ------------------------------------------------------------ gate

    def oracle(self):
        if getattr(self, "_oracle", None) is None:
            from engine.oracle import Bm25Oracle
            self._oracle = Bm25Oracle({d: v[0] for d, v in
                                       self.docs.items()})
        return self._oracle

    def expected(self, oracle, meta: dict, q: dict
                 ) -> list[tuple[int, float]]:
        """Oracle top-k with the query's filters and NOT terms applied to
        the candidate set (statistics stay as built)."""
        from engine.tokenizer import parse_query, query_terms
        text, filters, nots = parse_query(q["query"])
        terms = query_terms(text)
        if not terms:
            return []
        sets = [set(oracle.postings.get(t, {})) for t in terms]
        cands = (set.intersection(*sets) if q["mode"] == "conjunctive"
                 else set().union(*sets))
        for field, value in (filters or {}).items():
            col = {"lang": 1, "path": 2}[field]
            cands = {d for d in cands
                     if (meta[d][col].startswith(value) if field == "path"
                         else meta[d][col] == value)}
        for t in nots:
            cands -= set(oracle.postings.get(t, {}))
        scored = sorted(((d, oracle.score_doc(terms, d)) for d in cands),
                        key=lambda x: (-x[1], x[0]))
        return scored[:K]

    def served(self, body: bytes) -> list[tuple[int, float]]:
        rows = json.loads(body)
        return [(self.url_id[r["url"]] if r["url"] in self.url_id
                 else int(r["url"]), float(r["rank_score"])) for r in rows]

    def gate(self, refs: dict[int, bytes], recs: list[tuple]) -> None:
        bad = [r for r in recs if not r[2]]
        for r in bad[:5]:
            self.fail(f"timed response differs from the reference: "
                      f"{self.pool[r[3]]}")
        rng = random.Random(f"{self.name}:{self.args.seed}:gate")
        served_idx = sorted({r[3] for r in recs} | set(refs))
        if self.wl["gate_queries"]:
            check = rng.sample(served_idx,
                               min(self.wl["gate_queries"], len(served_idx)))
        else:
            check = served_idx
        oracle = self.oracle()
        n_bad = 0
        for i in check:
            want = self.expected(oracle, self.docs, self.pool[i])
            got = self.served(refs[i])
            if got != want:
                n_bad += 1
                self.fail(f"oracle mismatch for {self.pool[i]}: "
                          f"got {got[:3]} want {want[:3]}")
        self.gate_checked = len(check)
        self.gate_failed = n_bad
        self.attempted += len(check)

    # --------------------------------------------------------- metrics

    def serving_metrics(self, recs: list[tuple]) -> dict:
        lat = [r[1] * 1e3 for r in recs]
        n = len(lat)
        fails = sum(1 for r in recs if not r[2])
        half = self.args.seconds / 2
        first = [r[1] * 1e3 for r in recs if r[0] < half]
        second = [r[1] * 1e3 for r in recs if r[0] >= half]
        m1 = statistics.median(first) if first else None
        m2 = statistics.median(second) if second else None
        bound = self.bounds["search_p50_ms"]
        drift = (m2 - m1) / m1 if m1 and m2 else None
        tp = tail_pct(n)
        out = {
            "requests": n, "failed": fails,
            "search_fail_ratio": fails / n if n else 1.0,
            "p50_ms": statistics.median(lat) if lat else None,
            "p90_ms": pct(lat, 90) if n >= 2 else None,
            "p99_ms": pct(lat, 99) if n >= 1000 else None,
            "tail": ({"percentile": tp, "ms": pct(lat, tp),
                      "samples": n} if tp else None),
            "qps": n / self.loop_wall if self.loop_wall else 0.0,
            "warmup": {"first_half_p50_ms": m1, "second_half_p50_ms": m2,
                       "drift": drift, "bound": bound,
                       "flagged": drift is None or abs(drift) > bound},
        }
        return out

    # ------------------------------------------------------------ main

    def run(self) -> dict:
        self.prepare_env()
        at = self.report["timeline_s"] = {}

        def mark(name: str) -> None:
            at[name] = time.time() - T_PROCESS
        try:
            self.start_session()
            self.capture_servers()
            if self.trace:
                self.install_spans()
            mark("session")
            self.gen_corpus()
            mark("corpus")
            self.builds()
            mark("builds")
            self.make_pool()
            srv = self.opens()
            mark("opens")
            try:
                refs = self.reference_pass(srv)
                mark("warm")
                rss = RssSampler()
                rss.start()
                try:
                    recs = self.closed_loop(srv, refs, self.args.seconds,
                                            traced=self.trace)
                finally:
                    peak = rss.stop()
                mark("serve")
                self.attempted += len(recs)
                serving = self.serving_metrics(recs)
                self.gate(refs, recs)
                if self.trace:
                    self.jobs_per_search(srv, recs)
                    self.serving_layers()
            finally:
                srv.close()
            mark("gate")
            if self.trace:
                from tour import layer_tour
                layer_tour(self)
                mark("tour")
        finally:
            if self.spark is not None:
                stop_spark(self.spark)
                mark("stop")
        self.report["serving"] = serving
        self.report["setup"] = {"session_s": self.session_s,
                                "corpus_gen_s": self.gen_s,
                                "warm_build_s": self.warm_build_s,
                                "opens_s": self.open_s}
        self.report["gate"] = {"checked": self.gate_checked,
                               "failed": self.gate_failed}
        self.report["peak_rss_mb"] = peak / 2**20
        self.report["counts"] = {
            "build_jobs": self.build_jobs, "terms": self.terms,
            "postings": self.postings, "bytes_compressed": self.bytes_c}
        setup = (self.session_s + self.gen_s + self.warm_build_s
                 + statistics.median(self.open_s))
        e2e = {
            "setup_s": (setup, "s"),
            "build_docs_per_s": (self.wl["docs"] / self.build_s, "docs/s"),
            "index_bytes_per_posting": (self.index_bytes / self.postings,
                                        "B"),
            "search_p50_ms": (serving["p50_ms"], "ms"),
            "search_qps": (serving["qps"], "1/s"),
            "peak_rss_mb": (peak / 2**20, "MB"),
        }
        self.report["end_to_end"] = {k: v[0] for k, v in e2e.items()}
        failed = serving["failed"] + self.gate_failed
        if self.failures and failed == 0:
            failed = len(self.failures)
        if self.trace:
            self.report["per_layer"] = self.layer
            metrics = self.layer_metrics()
        else:
            metrics = {k: {"value": v, "unit": u}
                       for k, (v, u) in e2e.items()}
        return {"correct": not self.failures and failed == 0,
                "attempted": max(1, self.attempted), "failed": failed,
                "metrics": metrics}

    # ------------------------------------------------------- traced run

    def jobs_per_search(self, srv: ServerHandle, recs) -> None:
        """Tracing overhead (traced over untraced median latency, the two
        kinds interleaved request by request), and the Spark jobs of each
        traced request (its job group); three of them are sent once more
        and must count the same jobs again."""
        on = [r[1] for r in recs if r[4]]
        off = [r[1] for r in recs if not r[4]]
        if on and off:
            self.layer["trace.overhead_pct"] = (
                statistics.median(on) / statistics.median(off) - 1) * 100
        counts: dict[int, list[int]] = {}
        for r in recs:
            if r[4]:
                counts.setdefault(r[3], []).append(
                    self.jobs_in(f"bench-rq-{r[4]}"))
        for i in sorted(counts)[:3]:
            rid = f"again-{i}"
            srv.get(search_path(self.pool[i]), rid)
            counts[i].append(self.jobs_in(f"bench-rq-{rid}"))
        flat = [c for v in counts.values() for c in v]
        self.layer["spark.jobs_per_search"] = (statistics.median(flat)
                                               if flat else 0)
        unstable = {self.pool[i]["query"]: v for i, v in counts.items()
                    if len(set(v)) > 1}
        self.report["jobs_per_search_repeat"] = {
            "queries": len(counts), "unstable": unstable}

    def serving_layers(self) -> None:
        """Layer numbers of the traced serving blocks: payload, resolve,
        the regime's query call, HTTP (client wall minus payload, matched
        by request id) and the self time of each span kind."""
        m = self.layer
        spans = list(self.tracer.spans)
        by = {}
        for s in spans:
            if s.rid is not None:
                by.setdefault(s.name, {})[s.rid] = s.end - s.start

        def med_ms(name):
            v = list(by.get(name, {}).values())
            return statistics.median(v) * 1e3 if v else 0.0
        m["server.payload_ms"] = med_ms("payload")
        m["server.resolve_ms"] = med_ms("resolve")
        key = "query.search_big_ms" if self.big else "query.search_ms"
        m[key] = med_ms("query")
        pay = by.get("payload", {})
        diffs = [w - pay[r] for r, w in by.get("client", {}).items()
                 if r in pay]
        m["server.http_ms"] = statistics.median(diffs) * 1e3 if diffs else 0.0
        selfs = self.tracer.self_times(spans)
        for name in ("client", "http", "payload", "query", "resolve"):
            v = selfs.get(name)
            m[f"self.{name}_ms"] = statistics.median(v) * 1e3 if v else 0.0

    def layer_metrics(self) -> dict:
        m = self.layer
        st = self.manifest
        m["session.start_s"] = self.session_s
        m["corpus.gen_s"] = self.gen_s
        m["spark.jobs_per_build"] = self.build_jobs
        for stage, key in (("docs_raw", "docs_raw"), ("aliases", "aliases"),
                           ("docs", "docs"), ("index", "index"),
                           ("_lineage", "lineage")):
            m[f"build.{key}_s"] = st[stage]["wall_s"]
        m["build.terms"] = self.terms
        m["build.postings"] = self.postings
        m["build.bytes_compressed"] = self.bytes_c
        return {k: {"value": v, "unit": UNITS[k]} for k, v in m.items()}


UNITS = {
    "session.start_s": "s", "corpus.gen_s": "s",
    "spark.jobs_per_search": "count", "spark.jobs_per_build": "count",
    "spark.jobs_per_refresh": "count",
    "tokenizer.tokenize_mb_per_s": "MB/s", "tokenizer.parse_query_us": "us",
    "codec.encode_postings_per_s": "1/s",
    "codec.decode_postings_per_s": "1/s",
    "build.docs_raw_s": "s", "build.aliases_s": "s", "build.docs_s": "s",
    "build.index_s": "s", "build.lineage_s": "s", "build.terms": "count",
    "build.postings": "count", "build.bytes_compressed": "B",
    "query.search_ms": "ms", "query.first_touch_ms": "ms",
    "query.search_big_ms": "ms", "query.search_big_federated_ms": "ms",
    "server.payload_ms": "ms", "server.http_ms": "ms",
    "server.resolve_ms": "ms", "snippets.best_window_us": "us",
    "regex.required_clauses_us": "us", "streaming.ingest_s": "s",
    "streaming.serving_view_s": "s", "deletes.exclusions_s": "s",
    "merge.compact_s": "s", "nrt.ingest_visible_s": "s",
    "nrt.compact_docs_per_s": "docs/s", "self.client_ms": "ms",
    "self.http_ms": "ms", "self.payload_ms": "ms", "self.query_ms": "ms",
    "self.resolve_ms": "ms", "trace.overhead_pct": "%",
}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    sys.path.insert(0, ROOT)
    try:
        import engine  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        log(f"perfbench: cannot import the engine from {ROOT}: {e}")
        return 2
    cfg, bench = load_config()
    if args.workload not in cfg["workloads"]:
        log(f"perfbench: unknown workload {args.workload!r}")
        return 2
    b = Bench(args, cfg, bench)
    try:
        result = b.run()
    except Exception:
        log(traceback.format_exc())
        return 1
    finally:
        if b.trace:
            tdir = os.path.join(ROOT, ".bench_work", "traces")
            os.makedirs(tdir, exist_ok=True)
            b.tracer.dump(os.path.join(
                tdir, f"{args.workload}-s{args.seed}.jsonl"))
        shutil.rmtree(b.work, ignore_errors=True)
    log(json.dumps(b.report, indent=1, default=str))
    print(json.dumps({REPORT_KEY: b.report}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
