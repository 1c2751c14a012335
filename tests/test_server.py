"""HTTP serving shim — field-for-field parity with the reference Searcher
(searchEngine/src/cis5550/search/Searcher.java:37-44,186-207): GET /search
returns a JSON array of {url, rank_score, title, body}, CORS'd, backed by
the real engine; tfidf scoring mode reproduces the reference formula +
threshold path."""

import json
import threading
import urllib.request

import pytest

from engine.server import SearchService, make_server


@pytest.fixture(scope="module")
def served(spark, built_index):
    out, _man = built_index
    service = SearchService(spark, out)
    srv = make_server(service, port=0)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield service, f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()


def _get(url):
    with urllib.request.urlopen(url, timeout=30) as resp:
        return resp, json.loads(resp.read().decode())


def test_search_result_shape_and_headers(served, fixture_corpus_pdf):
    service, base = served
    resp, hits = _get(f"{base}/search?query=def+return&k=5")
    assert resp.headers["Content-Type"] == "application/json"
    assert resp.headers["Access-Control-Allow-Origin"] == "*"
    assert 0 < len(hits) <= 5
    by_id = {r.doc_id: r for r in fixture_corpus_pdf.itertuples()}
    expected = service.engine.search("def return", k=5, mode="ranked")
    assert len(hits) == len(expected)
    for hit, (_rank, doc_id, score) in zip(hits, expected):
        assert set(hit) == {"url", "rank_score", "title", "body"}
        src = by_id[doc_id]
        assert hit["url"] == f"{src.repo}/{src.path}@{src.commit}"
        assert hit["title"] == src.path.split("/")[-1]
        assert hit["body"] == src.content[:200]
        assert hit["rank_score"] == score


def test_conjunctive_mode_served(served):
    service, base = served
    _, hits = _get(f"{base}/search?query=def+return&k=10&mode=conjunctive")
    expected = service.engine.search("def return", k=10, mode="conjunctive")
    assert [h["rank_score"] for h in hits] == [s for _, _, s in expected]


def test_tfidf_reference_scoring_served(served):
    """scoring=tfidf reproduces Searcher.java's sum((1+log10 tf)*log10(N/df))
    with the >0.3 threshold, k capped at the reference's 300."""
    service, base = served
    _, hits = _get(f"{base}/search?query=def+return&k=400&scoring=tfidf")
    expected = service.engine.search_tfidf_reference("def return", k=300)
    assert [h["rank_score"] for h in hits] == [s for _, _, s in expected]
    assert all(h["rank_score"] > 0.3 for h in hits)


def test_errors(served):
    _service, base = served
    for path, code in [("/nope", 404), ("/search?query=x&k=zz", 400),
                       ("/search?query=x&mode=weird", 400),
                       ("/search?query=x&slop=zz", 400),
                       ("/search?query=x&mode=near&slop=0", 400)]:
        with pytest.raises(urllib.error.HTTPError) as ei:
            _get(f"{base}{path}")
        assert ei.value.code == code


def test_negative_k_is_empty_not_everything(served):
    """ADVICE r2: k=-1 with scoring=tfidf used to negative-slice into
    'nearly every matching doc in one response'. All paths clamp now."""
    _service, base = served
    for extra in ["&scoring=tfidf", "", "&mode=conjunctive"]:
        _, hits = _get(f"{base}/search?query=def+return&k=-1{extra}")
        assert hits == [], extra


def test_empty_query_empty_list(served):
    _service, base = served
    _, hits = _get(f"{base}/search?query=&k=5")
    assert hits == []


def test_phrase_without_positions_is_400(spark, tmp_path):
    # a fresh index WITHOUT --positions (the shared session index may have
    # had its positional store built by other test modules)
    import threading

    from engine.corpus import corpus_to_spark, make_corpus
    from engine.index_build import build_index
    out = str(tmp_path / "np_idx")
    build_index(spark, corpus_to_spark(spark, make_corpus(60, seed=51)),
                out, n_salts=2, partitions=2)
    srv = make_server(SearchService(spark, out), port=0)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        with pytest.raises(urllib.error.HTTPError) as ei:
            _get(f"http://127.0.0.1:{srv.server_address[1]}"
                 "/search?query=def+return&mode=phrase")
        assert ei.value.code == 400
    finally:
        srv.shutdown()


def test_big_service_matches_driver_and_never_materializes(
        spark, built_index, fixture_corpus_pdf, monkeypatch):
    """The 10^12-doc serving regime (VERDICT r2 #3): SearchService(big=True)
    must return byte-identical payloads to the driver-map service for
    bm25 ranked/conjunctive and phrase/NEAR, resolve aliases, and do it
    with ZERO DataFrame.toPandas calls (call-count assert) — no full-docs
    display map — and ZERO kernel.read_docs calls in this (driver)
    process: no ordinal->doc_id driver array, phrase/NEAR included."""
    import pyspark.sql

    import engine.kernel

    from engine.corpus import corpus_to_spark
    from engine.positions import build_positions
    out, _man = built_index
    build_positions(spark, corpus_to_spark(spark, fixture_corpus_pdf),
                    out, n_salts=4, partitions=4)
    driver_svc = SearchService(spark, out)

    calls = {"n": 0}
    orig = pyspark.sql.DataFrame.toPandas

    def counted(self_df, *a, **kw):
        calls["n"] += 1
        return orig(self_df, *a, **kw)

    monkeypatch.setattr(pyspark.sql.DataFrame, "toPandas", counted)
    reads = {"n": 0}
    orig_read = engine.kernel.read_docs

    def counted_read(*a, **kw):
        reads["n"] += 1
        return orig_read(*a, **kw)

    monkeypatch.setattr(engine.kernel, "read_docs", counted_read)
    big_svc = SearchService(spark, out, big=True)
    cases = [dict(query="def return", mode="ranked"),
             dict(query="def return", mode="conjunctive"),
             dict(query="def return", mode="phrase"),
             dict(query="def return", mode="phrase", slop=3),
             dict(query="def return", mode="near", slop=3),
             # rarer terms: "def return" idf is too low to clear the
             # reference's 0.3 threshold on this corpus (both services
             # agree on []); the parity case should carry real hits
             dict(query="identifier_10 identifier_11", scoring="tfidf"),
             dict(query="de*")]
    for case in cases:
        before = reads["n"]
        got = big_svc.search_payload(k=5, **case)
        # the doc arrays are read inside the members' tasks only
        assert reads["n"] == before, case
        want = driver_svc.search_payload(k=5, **case)
        assert got == want, case
        assert got, case  # every case must actually return hits
    assert calls["n"] == 0  # nothing in the big path materializes docs
    big_svc.close()


def _cached_rdds(spark) -> set[int]:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return {infos[i].id() for i in range(len(infos))}


def test_big_service_caches_nothing(spark, built_index):
    """The big regime builds its member frames once and persists none of
    them: repeated requests stay byte-identical, and they leave no cached
    RDD behind."""
    from engine.query import search_big
    out, _man = built_index
    before = _cached_rdds(spark)
    svc = SearchService(spark, out, big=True)
    try:
        doc_id = search_big(spark, out, "def return", k=1)[0][1]

        def requests():
            return [svc.search_payload("def return", k=5),
                    svc.search_payload("de*", k=5),
                    svc.facets("def return", ["lang"]),
                    svc.explain_payload("def return", doc_id)]
        first = requests()
        assert all(first)
        assert requests() == first and requests() == first
        assert _cached_rdds(spark) <= before
    finally:
        svc.close()


def test_phrase_and_wildcard_served(spark, built_index, fixture_corpus_pdf):
    import threading

    from engine.corpus import corpus_to_spark
    from engine.positions import PhraseEngine, build_positions
    out, _man = built_index
    build_positions(spark, corpus_to_spark(spark, fixture_corpus_pdf),
                    out, n_salts=4, partitions=4)
    service = SearchService(spark, out)
    srv = make_server(service, port=0)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    try:
        _, hits = _get(f"{base}/search?query=def+return&mode=phrase&k=5")
        expected = PhraseEngine(out).search_phrase("def return", k=5)
        assert [h["rank_score"] for h in hits] == [n for _, _, n in expected]
        assert hits and all(set(h) == {"url", "rank_score", "title", "body"}
                            for h in hits)
        _, whits = _get(f"{base}/search?query=de*&k=5")
        wexp = service.engine.search_prefix("de", k=5)
        assert [h["rank_score"] for h in whits] == [s for _, _, s in wexp]
        _, nhits = _get(f"{base}/search?query=def+return&mode=near"
                        "&slop=3&k=5")
        nexp = PhraseEngine(out).search_near("def", "return",
                                                    slop=3, k=5)
        assert [h["rank_score"] for h in nhits] == [n for _, _, n in nexp]
        assert nhits  # slop=3 supersets the exact bigram -> non-empty
        with pytest.raises(urllib.error.HTTPError) as ei:
            _get(f"{base}/search?query=def+return+self&mode=near&slop=2")
        assert ei.value.code == 400  # near needs exactly two terms
    finally:
        srv.shutdown()


def test_offset_pagination(served):
    """offset=N returns results ranked N+1..N+k — the exact slice of the
    full prefix, every mode; past-the-end offsets return empty."""
    service, base = served
    _, full = _get(f"{base}/search?query=def+return&k=12")
    _, page1 = _get(f"{base}/search?query=def+return&k=4")
    _, page2 = _get(f"{base}/search?query=def+return&k=4&offset=4")
    _, page3 = _get(f"{base}/search?query=def+return&k=4&offset=8")
    assert page1 + page2 + page3 == full
    _, beyond = _get(f"{base}/search?query=def+return&k=4&offset=100000")
    assert beyond == []
    # tfidf honors the cap relative to offset too
    _, t_full = _get(f"{base}/search?query=def+return&k=10&scoring=tfidf")
    _, t_off = _get(f"{base}/search?query=def+return&k=5&offset=5"
                    "&scoring=tfidf")
    assert t_off == t_full[5:]
    # negative offset is a 400, not a crash
    try:
        urllib.request.urlopen(
            f"{base}/search?query=def&k=4&offset=-1", timeout=30)
        raised = False
    except urllib.error.HTTPError as e:
        raised = e.code == 400
    assert raised


def test_stats_endpoint(served, fixture_corpus_pdf):
    """GET /stats serves the manifest's index statistics — no Spark job."""
    service, base = served
    resp, stats = _get(f"{base}/stats")
    assert resp.headers["Content-Type"] == "application/json"
    assert stats["n_docs"] == len(fixture_corpus_pdf)
    assert stats["total_len"] > 0 and stats["n_terms"] > 0
    assert stats["postings"] > 0 and stats["bytes_compressed"] > 0
    assert abs(stats["avgdl"] - stats["total_len"] / stats["n_docs"]) < 1e-9


def test_big_stats_and_refresh_over_http(spark, built_index, served):
    """serve --big is the federation of one: /stats is the driver
    service's payload plus ``"members": 1`` (n_terms stays the integer
    dictionary size), and /refresh — meaningful only for an NRT view —
    answers 400 with the reason instead of a 404."""
    _service, base = served
    _, driver_stats = _get(f"{base}/stats")
    out, _man = built_index
    big = SearchService(spark, out, big=True)
    srv = make_server(big, port=0)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    big_base = f"http://127.0.0.1:{srv.server_address[1]}"
    try:
        _, stats = _get(f"{big_base}/stats")
        assert stats == {**driver_stats, "members": 1}
        assert isinstance(stats["n_terms"], int) and stats["n_terms"] > 0
        with pytest.raises(urllib.error.HTTPError) as ei:
            _get(f"{big_base}/refresh")
        assert ei.value.code == 400
        with pytest.raises(urllib.error.HTTPError) as ei:
            _get(f"{base}/refresh")  # the driver service has no view
        assert ei.value.code == 404
    finally:
        srv.shutdown()
        big.close()


def test_benchmark_interface_names(spark, built_index, monkeypatch):
    """The names the benchmark's traced run wraps exist, and the big
    regime's /search reaches engine.query.search_big_terms_federated
    through a call-time module lookup — a wrapper set on the module sees
    every call, so the traced run records its query span."""
    import engine.query as eq
    from engine.server import FederatedSearchService
    assert callable(eq.search_big)
    assert callable(eq.search_big_terms_federated)
    for cls in (SearchService, FederatedSearchService):
        assert callable(cls.search_payload) and callable(cls.resolve_many)
    calls = []
    orig = eq.search_big_terms_federated

    def counted(*a, **kw):
        calls.append(1)
        return orig(*a, **kw)

    monkeypatch.setattr(eq, "search_big_terms_federated", counted)
    out, _man = built_index
    svc = SearchService(spark, out, big=True)
    try:
        assert svc.search_payload("def return", k=3)
    finally:
        svc.close()
    assert calls == [1]


def test_non_latin1_error_message_arrives_as_400(spark, built_index):
    """A rejected request whose message holds a non-latin-1 character (the
    em dash of the missing-field error) still answers 400, with the
    message in the JSON body, on both services."""
    import urllib.error
    out, _man = built_index
    for big in (False, True):
        svc = SearchService(spark, out, big=big)
        srv = make_server(svc, port=0)
        threading.Thread(target=srv.serve_forever, daemon=True).start()
        try:
            with pytest.raises(urllib.error.HTTPError) as ei:
                _get(f"http://127.0.0.1:{srv.server_address[1]}"
                     "/facets?query=def&fields=nope")
            assert ei.value.code == 400
            msg = json.loads(ei.value.read().decode())["error"]
            assert "'nope'" in msg and "—" in msg, msg
        finally:
            srv.shutdown()
            svc.close()
