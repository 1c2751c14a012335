"""Layer tour of the traced run: the per-layer numbers the workload's
timed phase does not produce itself, each measured by calling the layer's
public function on the workload's own corpus and index.

- Spark-free kernels, median of several passes: tokenize_arrow,
  parse_query, encode_postings/decode_postings over the index's own
  posting blobs, snippets.best_window, regex_query.required_clauses.
- The query path the workload does not serve: SearchEngine.search on
  big-tail, search_big (through a big SearchService) on driver-hot; the
  first-touch cost of the driver engine on both.
- A small NRT cycle served with the CLI ``serve --work``: ingest, logical
  deletes, GET /refresh, federated queries, compact_incremental.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import time
import urllib.parse

REPS = 5


def _median_time(fn, reps: int = REPS) -> float:
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


def _spans_during(b, name: str, fn) -> list[float]:
    """Durations of the ``name`` spans recorded while fn runs."""
    first = len(b.tracer.spans)
    prev = b.tracer.on
    b.tracer.on = True
    try:
        fn()
    finally:
        b.tracer.on = prev
    return [s.end - s.start for s in b.tracer.spans[first:]
            if s.name == name]


def kernels(b) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from engine.codec import decode_postings, encode_postings
    from engine.regex_query import required_clauses
    from engine.snippets import best_window
    from engine.tokenizer import parse_query, tokenize_arrow
    m = b.layer
    rng = random.Random(f"{b.name}:{b.args.seed}:kernels")
    ids = sorted(b.docs)
    texts = [b.docs[d][0] for d in ids[:2000]]
    arr = pa.array(texts, pa.string())
    mb = sum(len(t.encode()) for t in texts) / 2**20
    m["tokenizer.tokenize_mb_per_s"] = mb / _median_time(
        lambda: tokenize_arrow(arr))

    queries = [q["query"] for q in b.pool]
    m["tokenizer.parse_query_us"] = _median_time(
        lambda: [parse_query(q) for q in queries]) / len(queries) * 1e6

    blobs = [bytes(x) for x in pq.read_table(
        os.path.join(b.index_dir, "index"),
        columns=["postings"]).column("postings").to_pylist()]
    decoded = [decode_postings(x) for x in blobs]
    n_post = sum(len(ids_) for ids_, _tfs in decoded)
    if n_post != b.postings:
        b.fail(f"decoded {n_post} postings, manifest says {b.postings}")
    if any(encode_postings(i, t) != x for (i, t), x in zip(decoded, blobs)):
        b.fail("encode_postings(decode_postings(blob)) != blob")
    m["codec.decode_postings_per_s"] = n_post / _median_time(
        lambda: [decode_postings(x) for x in blobs], 3)
    m["codec.encode_postings_per_s"] = n_post / _median_time(
        lambda: [encode_postings(i, t) for i, t in decoded], 3)

    terms = b.query_terms
    pairs = [(b.docs[rng.choice(ids)][0], rng.sample(terms, 2))
             for _ in range(200)]
    m["snippets.best_window_us"] = _median_time(
        lambda: [best_window(t, q) for t, q in pairs]) / len(pairs) * 1e6

    pats = []
    for _ in range(25):
        a, c = rng.sample(terms, 2)
        pats += [rf"{a}\s+{c}", rf"(?i){a}[a-z]*{c}", rf"({a}|{c})_x\d+",
                 rf"{a}.*{c}"]
    m["regex.required_clauses_us"] = _median_time(
        lambda: [required_clauses(p) for p in pats]) / len(pats) * 1e6


def driver_engine(b) -> None:
    """First-touch and (on big-tail) warm SearchEngine.search latency."""
    from engine.query import SearchEngine
    from engine.tokenizer import parse_query
    eng = SearchEngine(b.spark, b.index_dir)
    rng = random.Random(f"{b.name}:{b.args.seed}:first-touch")
    fresh = rng.sample(b.query_terms, 10)
    touch = []
    for i in range(0, 10, 2):
        t0 = time.perf_counter()
        eng.search(" ".join(fresh[i:i + 2]), k=10)
        touch.append(time.perf_counter() - t0)
    b.layer["query.first_touch_ms"] = statistics.median(touch) * 1e3
    if not b.big:
        return
    sample = [parse_query(q["query"]) + (q["mode"],) for q in b.pool[:10]]

    def run():
        for text, filters, nots, mode in sample:
            eng.search(text, k=10, mode=mode, filters=filters,
                       not_terms=nots)
    run()  # fetch every term once
    b.layer["query.search_ms"] = statistics.median(
        _spans_during(b, "query", run)) * 1e3


def big_engine(b) -> None:
    """search_big through a big-regime SearchService (driver-hot only;
    big-tail takes it from its own traced serving)."""
    from engine.server import SearchService
    svc = SearchService(b.spark, b.index_dir, big=True)
    try:
        qs = [q["query"] for q in b.pool[:4]]
        svc.search_payload(qs[0])
        spans = _spans_during(
            b, "query", lambda: [svc.search_payload(q) for q in qs[1:]])
        b.layer["query.search_big_ms"] = statistics.median(spans) * 1e3
    finally:
        svc.close()


def _land(b, src: str, name: str, ids: list[int]) -> None:
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    tbl = b.corpus_tbl.filter(pc.is_in(b.corpus_tbl.column("doc_id"),
                                       pa.array(ids, pa.int64())))
    tmp = os.path.join(src, f".{name}.tmp")
    pq.write_table(tbl, tmp)
    os.replace(tmp, os.path.join(src, f"{name}.parquet"))


def nrt(b) -> None:
    from engine.corpus import corpus_spark_schema
    from engine.deletes import delete_docs
    from engine.oracle import Bm25Oracle
    from engine.streaming import compact_incremental, start_ingest
    from served import K, ServerHandle, search_path
    cfg = b.cfg["nrt_tour"]
    m = b.layer
    src = os.path.join(b.work, "nrt-src")
    work = os.path.join(b.work, "nrt-work")
    out = os.path.join(b.work, "nrt-out")
    os.makedirs(src)
    ids = sorted(b.docs)
    rng = random.Random(f"{b.name}:{b.args.seed}:nrt")
    wave0 = ids[:cfg["wave0_docs"]]
    wave1 = ids[cfg["wave0_docs"]:cfg["wave0_docs"] + cfg["wave1_docs"]]
    tombs = rng.sample(wave0, cfg["tombstones"])
    schema = corpus_spark_schema()

    def ingest() -> float:
        t0 = time.perf_counter()
        for q in start_ingest(b.spark, src, work, schema):
            q.awaitTermination()
        return time.perf_counter() - t0

    _land(b, src, "wave-0", wave0)
    ingest()
    compact_incremental(b.spark, work, out)
    srv = ServerHandle(b, out, ["--work", work])
    try:
        t_land = time.perf_counter()
        _land(b, src, "wave-1", wave1)
        delete_docs(work, tombs)
        m["streaming.ingest_s"] = ingest()
        first = len(b.tracer.spans)
        status, _ = srv.get("/refresh", "refresh-1")  # traced: has an id
        if status != 200:
            b.fail(f"/refresh answered {status}")
        m["spark.jobs_per_refresh"] = b.jobs_in("bench-rq-refresh-1")
        spans = b.tracer.spans[first:]
        m["streaming.serving_view_s"] = sum(
            s.end - s.start for s in spans if s.name == "serving_view")
        m["deletes.exclusions_s"] = sum(
            s.end - s.start for s in spans if s.name == "exclusions")
        n_docs = json.loads(srv.get("/stats")[1])["n_docs"]
        if n_docs != len(wave0) + len(wave1):
            b.fail(f"NRT view holds {n_docs} docs after the refresh")

        def found(doc: int) -> bool:
            content, _lang, path = b.docs[doc]
            term = sorted(content.split(), key=lambda t: (
                -len(t), t))[0].lower()
            status, body = srv.get("/search?" + urllib.parse.urlencode(
                {"query": f"{term} path:{path}", "k": K}))
            if status != 200:
                b.fail(f"NRT check query answered {status}")
            b.attempted += 1
            return doc in {d for d, _s in b.served(body)}

        def visible() -> None:
            if not found(rng.choice(wave1)):
                b.fail("an ingested wave-1 doc is not visible")
            for d in tombs:
                if found(d):
                    b.fail(f"tombstoned doc {d} is still returned")
        fed = _spans_during(b, "query", visible)
        m["nrt.ingest_visible_s"] = time.perf_counter() - t_land
        m["query.search_big_federated_ms"] = statistics.median(fed) * 1e3

        t0 = time.perf_counter()
        compact_incremental(b.spark, work, out)
        m["merge.compact_s"] = time.perf_counter() - t0
        survivors = sorted(set(wave0 + wave1) - set(tombs))
        m["nrt.compact_docs_per_s"] = len(survivors) / m["merge.compact_s"]
        if srv.get("/refresh")[0] != 200:
            b.fail("/refresh after the compaction failed")
        oracle = Bm25Oracle({d: b.docs[d][0] for d in survivors})
        for q in b.pool[:2]:
            status, body = srv.get(search_path(q))
            b.attempted += 1
            if status != 200 or b.served(body) != b.expected(
                    oracle, b.docs, q):
                b.fail(f"compacted NRT generation differs from the oracle "
                       f"for {q}")
    finally:
        srv.close()


def layer_tour(b) -> None:
    kernels(b)
    driver_engine(b)
    if not b.big:
        big_engine(b)
    nrt(b)
