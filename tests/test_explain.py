"""Score explanation (kernel.Segment.explain + GET /explain).

The contract: explain's total is BITWISE the score ranking uses — same
sorted-term accumulation, same float64 op order — so an explanation can
never disagree with the ranking it explains. Absent terms appear with
their corpus stats and a 0 contribution (the "why did this NOT score"
half of an explain)."""

import json
import threading
import urllib.error
import urllib.request

import pytest

from engine.server import SearchService, make_server


@pytest.fixture(scope="module")
def service(spark, built_index):
    out, _man = built_index
    return SearchService(spark, out)


@pytest.fixture(scope="module")
def engine(service):
    return service.engine


@pytest.mark.parametrize("query", ["def return", "static function",
                                   "identifier_41 def zzz_absent"])
def test_explain_total_is_the_ranked_score(service, engine, query):
    rows = engine.search(query, k=5, mode="ranked")
    assert rows
    for _rank, doc_id, score in rows:
        exp = service.explain_payload(query, doc_id)
        assert exp["score"] == score  # bitwise, not approx
        assert sum(t["contribution"] for t in exp["terms"]) == \
            pytest.approx(score, rel=1e-12)
        assert exp["doc_id"] == doc_id and exp["k1"] == 1.2


def test_explain_absent_term_and_absent_from_doc(service, engine,
                                                 fixture_corpus_pdf):
    query = "def zzz_not_in_corpus"
    _r, doc_id, _s = engine.search(query, k=1)[0]
    exp = service.explain_payload(query, doc_id)
    by_term = {t["term"]: t for t in exp["terms"]}
    assert by_term["zzz"]["df"] == 0
    assert by_term["zzz"]["contribution"] == 0.0
    assert by_term["zzz"]["idf"] is None
    assert by_term["def"]["tf"] >= 1
    # a doc NOT containing the term still explains, contribution 0
    from engine.tokenizer import tokenize
    absent = next(int(r.doc_id) for r in fixture_corpus_pdf.itertuples()
                  if "41" not in tokenize(r.content))
    exp2 = service.explain_payload("41", absent)
    assert exp2["score"] == 0.0
    assert exp2["terms"][0]["tf"] == 0
    assert exp2["terms"][0]["df"] > 0  # corpus stats still shown


def test_explain_unknown_doc_raises(service):
    with pytest.raises(ValueError, match="unknown doc_id"):
        service.explain_payload("def", -12345)


def test_explain_endpoint(service):
    srv = make_server(service, port=0)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    try:
        _r, doc_id, score = service.engine.search("def return", k=1)[0]
        with urllib.request.urlopen(
                f"{base}/explain?query=def+return&doc_id={doc_id}",
                timeout=30) as resp:
            exp = json.loads(resp.read().decode())
        assert exp["score"] == score
        assert {t["term"] for t in exp["terms"]} == {"def", "return"}
        for bad in (f"/explain?query=def&doc_id=abc",
                    f"/explain?query=def&doc_id=-5"):
            with pytest.raises(urllib.error.HTTPError) as e:
                urllib.request.urlopen(f"{base}{bad}", timeout=30)
            assert e.value.code == 400
    finally:
        srv.shutdown()


@pytest.mark.parametrize("query", ["def return", "static function",
                                   "identifier_41 def zzz_absent"])
def test_explain_big_bitwise(spark, built_index, service, engine, query):
    """r5: the zero-driver-array explain (query.explain_big_federated
    over the one index) returns the EXACT dict the driver regime's
    explain does — floats bitwise, absent terms included."""
    from engine.query import explain_big_federated
    out, _man = built_index
    rows = engine.search(query, k=3, mode="ranked")
    for _r, doc_id, _s in rows:
        assert explain_big_federated(spark, [out], query, doc_id) == \
            service.explain_payload(query, doc_id), (query, doc_id)
    with pytest.raises(ValueError, match="unknown doc_id"):
        explain_big_federated(spark, [out], query, 12345)


def test_explain_big_regime_endpoint(spark, built_index, service, engine):
    """The big-regime service now serves /explain byte-identically to
    the driver-map service."""
    out, _man = built_index
    big = SearchService(spark, out, big=True)
    try:
        q = "def return"
        _r, doc_id, _s = engine.search(q, k=1)[0]
        assert big.explain_payload(q, doc_id) == \
            service.explain_payload(q, doc_id)
    finally:
        big.close()
