"""Facet aggregations — Elasticsearch-style per-field (value, count)
histograms over the FULL matching set of a query (not the top-k page),
with the engine's whole restriction stack (metadata filters, NOT terms,
logical deletes). One kernel (kernel.Segment.facet_counts), asserted equal
to a brute-force oracle in both regimes: in-process in the driver regime,
and per member in one Spark task in the big regime, whose members' full
histograms sum BEFORE the per-field top-k (exact, no per-member
truncation)."""

import json
import threading
import urllib.request

import numpy as np
import pytest

from engine.corpus import corpus_to_spark
from engine.index_build import build_index
from engine.query import SearchEngine, facets_federated
from engine.server import SearchService, make_server
from engine.tokenizer import tokenize

FIELDS = ["lang", "repo"]
QUERY_TERMS = ["def", "return"]


def _brute(pdf, terms, fields, mode="ranked", filters=None, nots=None,
           k_values=10):
    out = {f: {} for f in fields}
    for r in pdf.itertuples():
        toks = set(tokenize(r.content))
        ok = (all(t in toks for t in terms) if mode == "conjunctive"
              else any(t in toks for t in terms))
        if ok and filters:
            for field, value in filters.items():
                got = getattr(r, field)
                ok &= (got.startswith(value) if field == "path"
                       else got == value)
        if ok and nots:
            ok = not any(n in toks for n in nots)
        if not ok:
            continue
        for f in fields:
            v = getattr(r, f)
            out[f][v] = out[f].get(v, 0) + 1
    return {f: sorted(((v, c) for v, c in d.items()),
                      key=lambda t: (-t[1], t[0]))[:k_values]
            for f, d in out.items()}


@pytest.fixture(scope="module")
def engine(spark, built_index):
    out, _man = built_index
    return SearchEngine(spark, out)


def test_driver_facets_match_brute_force(engine, fixture_corpus_pdf):
    got = engine.facet_counts(QUERY_TERMS, FIELDS, k_values=10)
    assert got == _brute(fixture_corpus_pdf, QUERY_TERMS, FIELDS)


def test_driver_facets_conjunctive(engine, fixture_corpus_pdf):
    got = engine.facet_counts(QUERY_TERMS, FIELDS, k_values=10,
                              mode="conjunctive")
    want = _brute(fixture_corpus_pdf, QUERY_TERMS, FIELDS,
                  mode="conjunctive")
    assert got == want and any(want[f] for f in FIELDS)


def test_driver_facets_filters_and_not(engine, fixture_corpus_pdf):
    filters = {"lang": "python", "path": "src/"}
    nots = ["import"]
    got = engine.facet_counts(QUERY_TERMS, FIELDS, k_values=10,
                              filters=filters, not_terms=nots)
    assert got == _brute(fixture_corpus_pdf, QUERY_TERMS, FIELDS,
                         filters=filters, nots=nots)


def test_driver_facets_k_values_cap(engine, fixture_corpus_pdf):
    got = engine.facet_counts(QUERY_TERMS, ["repo"], k_values=3)
    want = _brute(fixture_corpus_pdf, QUERY_TERMS, ["repo"], k_values=3)
    assert got == want and len(got["repo"]) == 3
    assert engine.facet_counts(QUERY_TERMS, ["repo"],
                               k_values=0) == {"repo": []}


def test_driver_facets_absent_term_and_field(engine):
    assert engine.facet_counts(["zzzznotaterm"], FIELDS) == \
        {f: [] for f in FIELDS}
    assert engine.facet_counts(["def", "zzzznotaterm"], FIELDS,
                               mode="conjunctive") == {f: [] for f in FIELDS}
    with pytest.raises(ValueError, match="no 'nope' column"):
        engine.facet_counts(["def"], ["nope"])


def test_big_facets_equal_driver(spark, built_index, engine):
    out, _man = built_index
    for mode in ("ranked", "conjunctive"):
        got = facets_federated(spark, [out], QUERY_TERMS, FIELDS, mode=mode)
        assert got == engine.facet_counts(QUERY_TERMS, FIELDS, k_values=10,
                                          mode=mode), mode
    got = facets_federated(spark, [out], QUERY_TERMS, FIELDS,
                           filters={"lang": "python"}, not_terms=["import"])
    assert got == engine.facet_counts(
        QUERY_TERMS, FIELDS, k_values=10, filters={"lang": "python"},
        not_terms=["import"])


def test_federated_facets_exact(spark, fixture_corpus_pdf, tmp_path):
    """Two doc-disjoint segments' facet union equals the whole corpus's —
    including a value whose global top-k membership needs BOTH members'
    counts (the case per-member truncation would get wrong)."""
    half = len(fixture_corpus_pdf) // 2
    dirs = []
    for i, part in enumerate((fixture_corpus_pdf.iloc[:half],
                              fixture_corpus_pdf.iloc[half:])):
        d = str(tmp_path / f"seg{i}")
        build_index(spark, corpus_to_spark(spark, part.reset_index(
            drop=True)), d, n_salts=4, partitions=4)
        dirs.append(d)
    got = facets_federated(spark, dirs, QUERY_TERMS, FIELDS, k_values=4)
    assert got == _brute(fixture_corpus_pdf, QUERY_TERMS, FIELDS,
                         k_values=4)


def test_facets_http_endpoint(spark, built_index, fixture_corpus_pdf):
    out, _man = built_index
    service = SearchService(spark, out)
    srv = make_server(service, port=0)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    try:
        with urllib.request.urlopen(
                f"{base}/facets?query=def+return&fields=lang,repo&k=5",
                timeout=30) as resp:
            got = json.loads(resp.read().decode())
            assert resp.headers["Access-Control-Allow-Origin"] == "*"
        want = _brute(fixture_corpus_pdf, QUERY_TERMS, FIELDS, k_values=5)
        assert got == {f: [{"value": v, "count": c} for v, c in vals]
                       for f, vals in want.items()}
        # filter syntax travels through the query string
        with urllib.request.urlopen(
                f"{base}/facets?query=def+return+lang:python+-import"
                "&fields=repo&k=5", timeout=30) as resp:
            got = json.loads(resp.read().decode())
        want = _brute(fixture_corpus_pdf, QUERY_TERMS, ["repo"],
                      filters={"lang": "python"}, nots=["import"],
                      k_values=5)
        assert got == {"repo": [{"value": v, "count": c}
                                for v, c in want["repo"]]}
        with pytest.raises(urllib.error.HTTPError) as ei:
            urllib.request.urlopen(f"{base}/facets?query=def", timeout=30)
        assert ei.value.code == 400
    finally:
        srv.shutdown()
