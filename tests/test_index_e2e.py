"""End-to-end rank-identity gate: Spark-built index + SearchEngine must equal
the pure-Python oracle fixtures EXACTLY — doc_ids and float64 BM25 scores
(BASELINE.json: "rank-identical top-k (docIDs and BM25 scores)")."""

import numpy as np
import pytest

from engine.query import SearchEngine


@pytest.fixture(scope="module")
def engine(spark, built_index):
    out, _ = built_index
    return SearchEngine(spark, out)


def test_stats_match_oracle(engine, fixture_corpus_pdf):
    from engine.oracle import Bm25Oracle
    oracle = Bm25Oracle(dict(zip(fixture_corpus_pdf["doc_id"],
                                 fixture_corpus_pdf["content"])))
    assert engine.n_docs == oracle.n_docs
    assert engine.avgdl == oracle.avgdl  # exact: both total/n in float64


def test_rank_identical_all_fixtures(engine, golden):
    queries, by_q = golden
    checked = 0
    for q in queries:
        got = engine.search(q["query"], k=q["k"], mode=q["mode"])
        want = by_q.get(q["query_id"], [])
        assert [(r, d) for r, d, _ in got] == [(r, d) for r, d, _ in want], \
            f"doc/rank mismatch for {q}"
        got_scores = np.array([s for _, _, s in got])
        want_scores = np.array([s for _, _, s in want])
        assert got_scores.tolist() == want_scores.tolist(), \
            f"score mismatch for {q}"  # bitwise float64 equality
        checked += 1
    assert checked == len(queries)


def test_pruned_equals_exhaustive(engine, golden):
    """Block-max pruning must be score-safe: identical top-k either way."""
    queries, _ = golden
    for q in queries:
        if q["mode"] != "ranked":
            continue
        pruned = engine.search(q["query"], k=q["k"], mode="ranked", prune=True)
        full = engine.search(q["query"], k=q["k"], mode="ranked", prune=False)
        assert pruned == full, f"pruning changed top-k for {q}"


def test_rounded_topk_equals_full_rerank(engine, golden):
    """rounded=True (rank by round(score,6), doc_id tie-break, inside the
    engine with the rounding-safe pruned θ cut) must equal the old contract
    path: fetch ALL matches unpruned, round, re-rank on the driver."""
    queries, _ = golden
    checked = 0
    for q in queries:
        if q["mode"] != "ranked":
            continue
        got = engine.search(q["query"], k=q["k"], mode="ranked",
                            rounded=True)
        full = engine.search(q["query"], k=2**31 - 1, mode="ranked",
                             prune=False)
        want = sorted(((round(s, 6), d) for _, d, s in full),
                      key=lambda x: (-x[0], x[1]))[:q["k"]]
        assert got == [(i + 1, d, s) for i, (s, d) in enumerate(want)], q
        # and pruning must not change the rounded answer either way
        assert got == engine.search(q["query"], k=q["k"], mode="ranked",
                                    prune=False, rounded=True), q
        checked += 1
    assert checked


def test_search_big_rounded_equals_engine_rounded(spark, built_index,
                                                  engine):
    from engine.query import search_big
    out, _ = built_index
    for q in ["def return", "def", "class self import"]:
        assert search_big(spark, out, q, k=7, rounded=True) == \
            engine.search(q, k=7, mode="ranked", rounded=True), q


def test_search_big_tfidf_and_prefix_bitwise_equal(spark, built_index,
                                                   engine):
    """The zero-driver-array tfidf and wildcard paths must be BITWISE
    equal to the driver-array engine (same NumPy log10, same sorted-term
    fold order, same threshold/tie-break)."""
    from engine.query import (
        search_big_prefix_federated,
        search_big_tfidf_federated,
    )
    out, _ = built_index
    for q in ["def return", "def", "class self import", "zzz_absent"]:
        assert search_big_tfidf_federated(spark, [out], q, k=300) == \
            engine.search_tfidf_reference(q, k=300), q
    for p in ["de", "cl"]:
        assert search_big_prefix_federated(spark, [out], p, k=7) == \
            engine.search_prefix(p, k=7), p
    with pytest.raises(ValueError, match="empty wildcard"):
        search_big_prefix_federated(spark, [out], "", k=5)


def test_conjunctive_subset_of_ranked(engine):
    conj = engine.search("def return", k=1000, mode="conjunctive")
    ranked = engine.search("def return", k=100000, mode="ranked")
    conj_docs = {d for _, d, _ in conj}
    ranked_docs = {d for _, d, _ in ranked}
    assert conj_docs <= ranked_docs
    # conjunctive docs score identically in both modes
    rscore = {d: s for _, d, s in ranked}
    for _, d, s in conj:
        assert rscore[d] == s


def test_tfidf_reference_scorer(engine, fixture_corpus_pdf):
    """Secondary scorer reproduces the reference TF-IDF semantics."""
    from engine.oracle import tfidf_reference_scores
    corpus = dict(zip(fixture_corpus_pdf["doc_id"],
                      fixture_corpus_pdf["content"]))
    for query in ["identifier_40", "identifier_100 identifier_101"]:
        want = tfidf_reference_scores(corpus, query, threshold=0.0, k=300)
        got = engine.search_tfidf_reference(query, k=300, threshold=0.0)
        assert [(d) for _, d, _ in got] == [(d) for _, d, _ in want]
        for (_, _, gs), (_, _, ws) in zip(got, want):
            assert gs == pytest.approx(ws, rel=1e-12)


def test_search_big_bitwise_equal(spark, built_index):
    """The zero-driver-array cluster path returns bitwise-identical results
    to the driver SearchEngine (and hence to the oracle) in both modes."""
    from engine.query import SearchEngine, search_big
    out, _ = built_index
    eng = SearchEngine(spark, out)
    for q in ["def", "def return", "class self value", "zzabsent",
              "def zzabsent"]:
        for mode in ["ranked", "conjunctive"]:
            want = eng.search(q, k=7, mode=mode)
            got = search_big(spark, out, q, k=7, mode=mode)
            assert got == want, (q, mode, got, want)


def test_prefix_search_equals_expanded_or_query(engine, fixture_corpus_pdf):
    """search_prefix == ranked OR over the manually-expanded term set, and
    expansion matches the corpus vocabulary."""
    from engine.tokenizer import tokenize
    vocab = set()
    for c in fixture_corpus_pdf["content"]:
        vocab.update(tokenize(c))
    prefix = "de"
    expected_terms = sorted(t for t in vocab if t.startswith(prefix))
    assert engine.expand_prefix(prefix) == expected_terms[:64]
    got = engine.search_prefix(prefix, k=10)
    manual = engine.search(" ".join(expected_terms), k=10, mode="ranked")
    assert got == manual
