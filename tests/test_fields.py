"""Field-boosted ranking (engine/fields.py).

Oracle: an independent pure-Python mirror of the documented rule
score = bm25_body + w * bm25_path (each field its own df/avgdl; same
K1/B; body accumulation in sorted-term order, path scaled once) over the
fixture corpus — rank AND score equality against FieldedEngine.search.
Plus: the path stage is metadata-only (never reads content), pure path
hits rank, weight=0 degenerates to body-only BM25."""

import math

import numpy as np
import pytest

from engine import B, K1
from engine.fields import FieldedEngine, ensure_path_index
from engine.query import SearchEngine
from engine.tokenizer import tokenize


@pytest.fixture(scope="module")
def fielded(spark, built_index):
    out, _man = built_index
    return FieldedEngine(SearchEngine(spark, out))


def _oracle(pdf, query, w, k):
    docs = {int(r.doc_id): tokenize(r.content) for r in pdf.itertuples()}
    paths = {int(r.doc_id): tokenize(r.path) for r in pdf.itertuples()}
    terms = sorted({t for t in tokenize(query)})
    n = len(docs)
    avgdl = sum(len(v) for v in docs.values()) / n
    avgpl = sum(len(v) for v in paths.values()) / n
    df_b = {t: sum(1 for v in docs.values() if t in v) for t in terms}
    df_p = {t: sum(1 for v in paths.values() if t in v) for t in terms}

    def part(tf, dfv, dl, avg):
        idf = math.log((n - dfv + 0.5) / (dfv + 0.5) + 1.0)
        return idf * ((tf * (K1 + 1.0))
                      / (tf + K1 * ((1.0 - B) + B * (dl / avg))))

    out = []
    for d in docs:
        if not any(t in docs[d] or t in paths[d] for t in terms):
            continue
        body = np.float64(0.0)
        for t in terms:
            tf = docs[d].count(t)
            if tf:
                body = body + part(np.float64(tf), df_b[t],
                                   np.float64(len(docs[d])), avgdl)
        path = np.float64(0.0)
        for t in terms:
            tf = paths[d].count(t)
            if tf:
                path = path + part(np.float64(tf), df_p[t],
                                   np.float64(len(paths[d])), avgpl)
        out.append((d, float(body + np.float64(w) * path)))
    out.sort(key=lambda x: (-x[1], x[0]))
    return [(i + 1, d, s) for i, (d, s) in enumerate(out[:k])]


@pytest.mark.parametrize("query", ["def return", "pkg3 static",
                                   "mod7 js def", "src"])
def test_fielded_matches_oracle(fielded, fixture_corpus_pdf, query):
    got = fielded.search(query, k=10)
    want = _oracle(fixture_corpus_pdf, query, fielded.w_path, 10)
    assert [(r, d) for r, d, _ in got] == [(r, d) for r, d, _ in want]
    for (_r1, _d1, s1), (_r2, _d2, s2) in zip(got, want):
        assert s1 == pytest.approx(s2, rel=1e-12)


def test_pure_path_hit_ranks(fielded, fixture_corpus_pdf):
    # 'pkg5' occurs only in paths, never in content tokens
    assert not any("pkg5" in tokenize(r.content)
                   for r in fixture_corpus_pdf.itertuples())
    got = fielded.search("pkg5", k=5)
    assert got
    for _r, d, s in got:
        row = fixture_corpus_pdf[fixture_corpus_pdf.doc_id == d].iloc[0]
        assert "pkg5" in tokenize(row.path) and s > 0


def test_weight_zero_is_body_bm25(spark, built_index):
    out, _man = built_index
    eng = SearchEngine(spark, out)
    fe = FieldedEngine(eng, w_path=0.0)
    body = eng.search("def return", k=10, mode="ranked", prune=False)
    got = fe.search("def return", k=10)
    # same candidates scored identically; path-only candidates add docs
    # with score 0 at the tail — compare the positive prefix
    got_pos = [(r, d, s) for r, d, s in got if s > 0]
    assert got_pos == body[:len(got_pos)]


def test_served_bm25f(spark, built_index, fielded):
    import json
    import threading
    import urllib.request

    from engine.server import SearchService, make_server
    out, _man = built_index
    service = SearchService(spark, out)
    srv = make_server(service, port=0)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    try:
        with urllib.request.urlopen(
                f"{base}/search?query=pkg5+def&scoring=bm25f&k=5",
                timeout=60) as resp:
            hits = json.loads(resp.read().decode())
        want = fielded.search("pkg5 def", k=5)
        assert [h["rank_score"] for h in hits] == [s for _r, _d, s in want]
        # filters/NOT compose now (VERDICT r4 #1) — same engine semantics
        with urllib.request.urlopen(
                f"{base}/search?query=lang:python+pkg5+def+-import"
                "&scoring=bm25f&k=5", timeout=60) as resp:
            hits = json.loads(resp.read().decode())
        want = fielded.search("pkg5 def", k=5,
                              filters={"lang": "python"},
                              not_terms=["import"])
        assert [h["rank_score"] for h in hits] == [s for _r, _d, s in want]
    finally:
        srv.shutdown()


def test_served_bm25f_big_regime(spark, built_index, fielded):
    """The big-regime service answers scoring=bm25f byte-identically to
    the driver-map service (VERDICT r4 #1: the 10^12-doc regime must
    serve the path boost)."""
    from engine.server import SearchService
    out, _man = built_index
    small = SearchService(spark, out)
    big = SearchService(spark, out, big=True)
    try:
        for q in ["pkg5 def", "def return", "lang:java pkg5 def",
                  "pkg5 def -import"]:
            assert big.search_payload(q, k=5, scoring="bm25f") == \
                small.search_payload(q, k=5, scoring="bm25f"), q
    finally:
        big.close()


QUERIES_BIG = ["def return", "pkg3 static", "mod7 js def", "src",
               "pkg5", "pkg5 def"]


@pytest.mark.parametrize("query", QUERIES_BIG)
def test_big_fielded_bitwise(spark, built_index, fielded, query):
    """The zero-driver-array fielded path (search_big_fielded_federated
    over the one index) is BITWISE equal to FieldedEngine.search — ranks,
    doc_ids and float64 scores — in plain and rounded (contract-ordering)
    modes."""
    from engine.fields import search_big_fielded_federated
    out, _man = built_index
    want = fielded.search(query, k=10)
    got = search_big_fielded_federated(spark, [out], query, k=10,
                                       w_path=fielded.w_path)
    assert got == want, query
    want_r = fielded.search(query, k=10, rounded=True)
    got_r = search_big_fielded_federated(spark, [out], query, k=10,
                                         w_path=fielded.w_path,
                                         rounded=True)
    assert got_r == want_r, (query, "rounded")


def test_fielded_filters_not_restrict(spark, built_index, fielded,
                                      fixture_corpus_pdf):
    """filters/NOT on the fielded engine: the surviving docs' scores are
    UNCHANGED (stats as built) and exactly the metadata/NOT-restricted
    prefix of the unrestricted ranking; big path bitwise-equal."""
    from engine.fields import search_big_fielded_federated
    from engine.tokenizer import tokenize
    out, _man = built_index
    q = "pkg5 def"
    full = fielded.search(q, k=1200)  # everything
    meta = {int(r.doc_id): (r.lang, tokenize(r.content))
            for r in fixture_corpus_pdf.itertuples()}
    want = [(d, s) for _r, d, s in full
            if meta[d][0] == "python" and "import" not in meta[d][1]]
    want = [(i + 1, d, s) for i, (d, s) in enumerate(want[:10])]
    got = fielded.search(q, k=10, filters={"lang": "python"},
                         not_terms=["import"])
    assert got == want
    got_big = search_big_fielded_federated(spark, [out], q, k=10,
                                           w_path=fielded.w_path,
                                           filters={"lang": "python"},
                                           not_terms=["import"])
    assert got_big == want


def test_fielded_lru_cache_bound(spark, built_index):
    """VERDICT r4: the driver posting caches are LRU-bounded — a
    pathologically tiny budget (constant eviction) changes no result, and
    the cache never exceeds its bound after arbitrarily many distinct
    terms."""
    out, _man = built_index
    big_eng = SearchEngine(spark, out)
    tiny_eng = SearchEngine(spark, out, cache_max_terms=2)
    big_fe = FieldedEngine(big_eng)
    tiny_fe = FieldedEngine(tiny_eng, cache_max_terms=2)
    for q in ["def return", "pkg5 def", "import class self",
              "identifier_10 static", "pkg3 mod7"]:
        assert tiny_eng.search(q, k=10) == big_eng.search(q, k=10), q
        assert tiny_fe.search(q, k=10) == big_fe.search(q, k=10), q
        assert len(tiny_eng._term_cache) <= 2
        assert len(tiny_fe._cache) <= 2
    assert len(big_eng._term_cache) <= SearchEngine.CACHE_MAX_TERMS


def test_path_stage_is_metadata_only(spark, built_index):
    out, _man = built_index
    ensure_path_index(spark, out)
    import os
    from engine.checkpoint import BuildManifest
    man = BuildManifest(out)
    assert man.is_complete("path_index")
    m = man.state["completed"]["path_index"]["metrics"]
    assert m["total_plen"] > 0
    # postings are term-sorted parquet rows (pushdown), dictionary-scale
    pdf = spark.read.parquet(man.stage_path("path_index")).toPandas()
    assert set(pdf.columns) == {"term", "ordinal", "tf"}
    assert len(pdf) < 10 * 1200  # a handful of tokens per doc
