"""Metadata-filtered search (`lang:` / `repo:` / `path:` / `commit:`) and
NOT-term exclusion (`-term`) — the GitHub-code-search query surface over the
input_hint metadata columns, on every term-scoring path (driver engine, big
zero-driver-array path, federated, HTTP service).

Semantics under test (Lucene filter-query / stats-until-merge discipline):
filters and NOT terms restrict the RESULT SET only; BM25/TF-IDF statistics
(N, avgdl, df) stay as built, so a surviving doc's score is unchanged and
restriction commutes with ranking. The brute-force oracle below therefore
scores with FULL-corpus statistics and filters the ranked list afterwards.
"""

import numpy as np
import pytest

from engine.oracle import Bm25Oracle, tfidf_reference_scores
from engine.query import SearchEngine, search_big, search_big_tfidf_federated
from engine.tokenizer import parse_query, tokenize


# ---------------------------------------------------------------- helpers

def _corpus_dict(pdf):
    return dict(zip(pdf["doc_id"].astype(int), pdf["content"]))


def _allowed_ids(pdf, filters=None, not_terms=None):
    sel = np.ones(len(pdf), dtype=bool)
    for field, value in (filters or {}).items():
        col = pdf[field].astype(str)
        sel &= (col.str.startswith(value) if field == "path"
                else col == value).to_numpy()
    ids = set(pdf.loc[sel, "doc_id"].astype(int))
    if not_terms:
        bad = set(not_terms)
        ids = {d for d in ids
               if not (bad & set(tokenize(
                   pdf.loc[pdf["doc_id"] == d, "content"].iloc[0])))}
    return ids


def _brute(pdf, query, k, mode="ranked", filters=None, not_terms=None):
    """Full-stats scoring, then result-set restriction, then top-k."""
    oracle = Bm25Oracle(_corpus_dict(pdf))
    allowed = _allowed_ids(pdf, filters, not_terms)
    full = oracle.topk(query, k=len(pdf), mode=mode)
    kept = [(d, s) for _r, d, s in full if d in allowed][:k]
    return [(i + 1, d, s) for i, (d, s) in enumerate(kept)]


@pytest.fixture(scope="module")
def engine(spark, built_index):
    out, _ = built_index
    return SearchEngine(spark, out)


# ------------------------------------------------------------ query syntax

def test_parse_query_syntax():
    text, filters, nots = parse_query(
        "lang:python binary -tree path:src/pkg3/ tree repo:org1/repo4")
    assert text == "binary tree"
    assert filters == {"lang": "python", "path": "src/pkg3/",
                       "repo": "org1/repo4"}
    assert nots == ["tree"]
    # unknown field, empty value, bare '-' stay plain text
    text, filters, nots = parse_query("size:10 lang: - x")
    assert text == "size:10 lang: - x" and filters is None and nots == []
    # repeated field: last wins; multiple NOTs dedup + sort
    text, filters, nots = parse_query("lang:go lang:java -b -a -a q")
    assert filters == {"lang": "java"} and nots == ["a", "b"] and text == "q"
    # a '-token' with punctuation tokenizes into its terms
    _, _, nots = parse_query("q -camelCase")
    assert nots == ["camel", "case"]


# --------------------------------------------------- driver engine (ranked)

QUERY = "def return identifier_1"


def test_driver_filtered_ranked_matches_brute(engine, fixture_corpus_pdf):
    filters = {"lang": "python"}
    got = engine.search(QUERY, k=10, filters=filters)
    want = _brute(fixture_corpus_pdf, QUERY, 10, filters=filters)
    assert got == want and got, "filtered ranked top-k"
    # the filter actually bites: unfiltered top-k differs in doc set
    unfiltered = engine.search(QUERY, k=10)
    assert {d for _, d, _ in got} != {d for _, d, _ in unfiltered}
    langs = dict(zip(fixture_corpus_pdf["doc_id"].astype(int),
                     fixture_corpus_pdf["lang"]))
    assert all(langs[d] == "python" for _, d, _ in got)


def test_driver_path_prefix_and_combined_filters(engine, fixture_corpus_pdf):
    filters = {"path": "src/pkg3/", "lang": "python"}
    got = engine.search(QUERY, k=10, filters=filters)
    want = _brute(fixture_corpus_pdf, QUERY, 10, filters=filters)
    assert got == want
    # prefix filter alone
    filters = {"path": "src/pkg7/"}
    assert engine.search(QUERY, k=10, filters=filters) == \
        _brute(fixture_corpus_pdf, QUERY, 10, filters=filters)


def test_driver_not_terms_match_brute(engine, fixture_corpus_pdf):
    got = engine.search(QUERY, k=10, not_terms=["import"])
    want = _brute(fixture_corpus_pdf, QUERY, 10, not_terms=["import"])
    assert got == want and got
    # no surviving doc contains the NOT term
    by_id = dict(zip(fixture_corpus_pdf["doc_id"].astype(int),
                     fixture_corpus_pdf["content"]))
    assert all("import" not in tokenize(by_id[d]) for _, d, _ in got)


def test_driver_filters_plus_nots_conjunctive(engine, fixture_corpus_pdf):
    q = "def return"
    filters = {"lang": "java"}
    got = engine.search(q, k=10, mode="conjunctive", filters=filters,
                        not_terms=["class"])
    want = _brute(fixture_corpus_pdf, q, 10, mode="conjunctive",
                  filters=filters, not_terms=["class"])
    assert got == want and got


def test_driver_pruned_equals_unpruned_under_restriction(
        engine, fixture_corpus_pdf):
    """The pruned traversal restricts the candidate set BEFORE θ is
    derived, so pruning must stay exact under filters+NOTs."""
    filters = {"lang": "python"}
    for q in (QUERY, "def", "identifier_2 identifier_3 def"):
        a = engine.search(q, k=10, filters=filters, not_terms=["nil"],
                          prune=True)
        b = engine.search(q, k=10, filters=filters, not_terms=["nil"],
                          prune=False)
        assert a == b, q


def test_driver_tfidf_filtered(engine, fixture_corpus_pdf):
    filters = {"lang": "js"}
    got = engine.search_tfidf_reference(QUERY, k=300, filters=filters,
                                        not_terms=["func"])
    allowed = _allowed_ids(fixture_corpus_pdf, filters, ["func"])
    full = tfidf_reference_scores(_corpus_dict(fixture_corpus_pdf), QUERY,
                                  k=len(fixture_corpus_pdf))
    kept = [(d, s) for _r, d, s in full if d in allowed][:300]
    want = [(i + 1, d, s) for i, (d, s) in enumerate(kept)]
    assert got == want and got


def test_filter_on_missing_column_raises(engine, monkeypatch):
    with pytest.raises(ValueError, match="no 'nope' column|nope"):
        engine._meta_col("nope")


def test_empty_filter_result_is_empty(engine):
    assert engine.search(QUERY, k=10, filters={"lang": "cobol"}) == []


# ----------------------------------------------------------- big path

def test_big_filtered_matches_driver_bitwise(spark, built_index, engine):
    out, _ = built_index
    cases = [
        dict(filters={"lang": "python"}),
        dict(filters={"path": "src/pkg3/"}, not_terms=["import"]),
        dict(not_terms=["nil"]),
        # hottest keyword negated: excludes ~every candidate — regression
        # for the AQE empty-plan observation row (schema-less metrics)
        dict(not_terms=["def"]),
        dict(filters={"lang": "java"}, mode="conjunctive"),
    ]
    nonempty = 0
    for case in cases:
        mode = case.pop("mode", "ranked")
        want = engine.search(QUERY, k=10, mode=mode, **case)
        got = search_big(spark, out, QUERY, k=10, mode=mode, **case)
        assert got == want, case
        nonempty += bool(got)
        case["mode"] = mode
    assert nonempty >= 3, "restriction cases should mostly have survivors"


def test_big_tfidf_filtered_matches_driver(spark, built_index, engine):
    out, _ = built_index
    filters = {"lang": "js"}
    want = engine.search_tfidf_reference(QUERY, k=300, filters=filters,
                                         not_terms=["func"])
    got = search_big_tfidf_federated(spark, [out], QUERY, k=300,
                                     filters=filters, not_terms=["func"])
    assert got == want and got


def test_big_wildcard_filtered(spark, built_index, engine):
    from engine.query import search_big_prefix_federated
    out, _ = built_index
    filters = {"lang": "python"}
    want = engine.search_prefix("identifier", k=10, filters=filters)
    got = search_big_prefix_federated(spark, [out], "identifier", k=10,
                                      filters=filters)
    assert got == want and got


# ----------------------------------------------------------- federated

def test_federated_filters_and_nots(spark, tmp_path):
    """Per-segment restriction must equal the merged index's: build two
    doc-disjoint segments, compare federated vs monolithic, both
    restricted."""
    import os

    from engine.corpus import corpus_to_spark, make_corpus
    from engine.index_build import build_index
    from engine.query import search_big_terms_federated, query_terms

    pdf = make_corpus(160, seed=91)
    a, b, mono = (str(tmp_path / d) for d in ("a", "b", "mono"))
    build_index(spark, corpus_to_spark(spark, pdf.iloc[:90]), a,
                n_salts=4, partitions=4)
    build_index(spark, corpus_to_spark(spark, pdf.iloc[90:]), b,
                n_salts=4, partitions=4)
    build_index(spark, corpus_to_spark(spark, pdf), mono,
                n_salts=4, partitions=4)
    os.sync()
    filters = {"lang": "python"}
    terms = query_terms(QUERY)
    want = search_big(spark, mono, QUERY, k=10, filters=filters,
                      not_terms=["import"])
    got = search_big_terms_federated(spark, [a, b], terms, k=10,
                                     filters=filters, not_terms=["import"])
    assert got == want and got


# ----------------------------------------------------------- HTTP service

def test_service_query_syntax_both_regimes(spark, built_index, engine,
                                           fixture_corpus_pdf):
    from engine.server import SearchService
    out, _ = built_index
    raw = "lang:python def return identifier_1 -import"
    want = engine.search(QUERY, k=5, filters={"lang": "python"},
                         not_terms=["import"])
    for big in (False, True):
        svc = SearchService(spark, out, big=big)
        try:
            payload = svc.search_payload(raw, k=5)
            assert [p["rank_score"] for p in payload] == \
                [s for _, _, s in want]
            langs = dict(zip(fixture_corpus_pdf["doc_id"].astype(int),
                             fixture_corpus_pdf["lang"]))
            by_id = {f'{r.repo}/{r.path}@{r.commit}': r.doc_id
                     for r in fixture_corpus_pdf.itertuples()}
            assert all(langs[int(by_id[p["url"]])] == "python"
                       for p in payload)
        finally:
            svc.close()


def test_phrase_and_near_restriction(spark, tmp_path, fixture_corpus_pdf):
    """Filters/NOT terms restrict phrase and NEAR results on BOTH matching
    regimes (proximity ranking is doc-local, so restriction == filtering
    the full result list); a mid-token '-' stays punctuation."""
    from engine.corpus import corpus_to_spark
    from engine.index_build import build_index
    from engine.positions import (
        PhraseEngine,
        build_positions,
        near_terms,
        search_positional_federated,
    )
    from engine.server import SearchService
    out = str(tmp_path / "idx")
    build_index(spark, corpus_to_spark(spark, fixture_corpus_pdf), out,
                n_salts=4, partitions=4)
    build_positions(spark, corpus_to_spark(spark, fixture_corpus_pdf), out,
                    n_salts=4, partitions=4)
    pe = PhraseEngine(out)
    filters = {"lang": "python"}
    kbig = len(fixture_corpus_pdf)
    langs = dict(zip(fixture_corpus_pdf["doc_id"].astype(int),
                     fixture_corpus_pdf["lang"]))
    texts = dict(zip(fixture_corpus_pdf["doc_id"].astype(int),
                     fixture_corpus_pdf["content"]))

    # brute truth: full phrase result list, restricted, re-ranked
    full = pe.search_phrase("def return", k=kbig)
    want = [(d, n) for _r, d, n in full
            if langs[d] == "python" and "import" not in tokenize(texts[d])]
    want = [(i + 1, d, n) for i, (d, n) in enumerate(want[:5])]
    got = pe.search_phrase("def return", k=5, filters=filters,
                           not_terms=["import"])
    assert got == want and got
    got = search_positional_federated(spark, [out], tokenize("def return"),
                                      k=5, filters=filters,
                                      not_terms=["import"])
    assert got == want and got

    # NEAR + sloppy, driver vs distributed equality under restriction
    d1 = pe.search_near("def", "return", slop=3, k=5, filters=filters)
    d2 = search_positional_federated(spark, [out],
                                     near_terms("def", "return"), slop=3,
                                     k=5, filters=filters)
    assert d1 == d2 and d1
    assert all(langs[d] == "python" for _, d, _ in d1)
    s1 = pe.search_phrase_sloppy("def return", slop=3, k=5, filters=filters)
    s2 = search_positional_federated(spark, [out], tokenize("def return"),
                                     slop=3, k=5, filters=filters)
    assert s1 == s2 and s1

    # served: operator syntax parses in phrase mode; mid-token '-' does not
    svc = SearchService(spark, out)
    got = svc.search_payload("lang:python def return -import", k=5,
                             mode="phrase")
    assert [p["rank_score"] for p in got] == [n for _, _, n in want]
    plain = pe.search_phrase("def return", k=5)
    got = svc.search_payload("def-return", k=5, mode="phrase")
    assert [p["rank_score"] for p in got] == [n for _, _, n in plain]
