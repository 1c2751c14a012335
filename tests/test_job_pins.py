"""Spark jobs per request, pinned — a deterministic cost proxy.

Wall times swing with the machine; the number of Spark jobs a request
runs does not. Each case below is warmed once (lazy stage builds, cache
persists), then run again inside its own job group, and the jobs that
group ran are counted (``setJobGroup`` + ``statusTracker``). A count may
go down, never up: ``BIG_JOBS`` holds the counts measured for the big
serving regime once every BM25/TF-IDF/BM25F top-k, phrase/NEAR match,
facet histogram and score explanation ran as one kernel task per member
— one job, whose tasks also read the result rows' display fields — and
a warm driver-regime query runs no Spark job at all — nor does a cold
phrase/NEAR one.

Stages that change the plan (positions, the fuzzy deletion table, the
path index) are ensured up front, so the counts do not depend on which
other tests ran first on the shared ``built_index``.
"""

import itertools

import pytest

from engine.server import SearchService

_gid = itertools.count()

#: jobs per warm request of ``serve --big`` (SearchService(big=True))
BIG_JOBS = {
    "ranked": 1,
    "conjunctive": 1,
    "filter": 1,
    "not": 1,
    "snippet": 1,
    "offset": 1,
    "tfidf": 1,
    "bm25f": 2,
    "wildcard": 3,
    "fuzzy": 4,
    "phrase": 1,
    "phrase_slop": 1,
    "near": 1,
    "explain": 1,
    "suggest": 1,
    "didyoumean": 4,
    "facets": 1,
}

SEARCH_CASES = {
    "ranked": dict(query="def return"),
    "conjunctive": dict(query="def return", mode="conjunctive"),
    "filter": dict(query="def return lang:python"),
    "not": dict(query="def return -class"),
    "snippet": dict(query="def return", snippet=True),
    "offset": dict(query="def return", offset=3),
    "tfidf": dict(query="identifier_10 identifier_11", scoring="tfidf"),
    "bm25f": dict(query="def return", scoring="bm25f"),
    "wildcard": dict(query="de*"),
    "fuzzy": dict(query="retrn~"),
    "phrase": dict(query="def return", mode="phrase"),
    "phrase_slop": dict(query="def return", mode="phrase", slop=3),
    "near": dict(query="def return", mode="near", slop=3),
}


def jobs_of(spark, fn) -> int:
    """Spark jobs run by fn() on this thread."""
    sc = spark.sparkContext
    gid = f"job-pin-{next(_gid)}"
    sc.setJobGroup(gid, "job pin")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(gid))


@pytest.fixture(scope="module")
def staged(spark, built_index, fixture_corpus_pdf):
    from engine.corpus import corpus_to_spark
    from engine.fields import ensure_path_index
    from engine.fuzzy import ensure_fuzzy
    from engine.positions import build_positions
    out, _man = built_index
    build_positions(spark, corpus_to_spark(spark, fixture_corpus_pdf),
                    out, n_salts=4, partitions=4)
    ensure_fuzzy(spark, out)
    ensure_path_index(spark, out)
    return out


@pytest.fixture(scope="module")
def big_service(spark, staged):
    svc = SearchService(spark, staged, big=True)
    yield svc
    svc.close()


def _big_calls(svc, doc_id: int) -> dict:
    calls = {name: (lambda c=case: svc.search_payload(k=5, **c))
             for name, case in SEARCH_CASES.items()}
    calls["explain"] = lambda: svc.explain_payload("def return", doc_id)
    calls["suggest"] = lambda: svc.suggest("de", k=5)
    calls["didyoumean"] = lambda: svc.dym_payload("retrn clas")
    calls["facets"] = lambda: svc.facets("def return", ["lang"])
    return calls


def test_big_jobs_per_request_never_grow(spark, big_service,
                                         fixture_corpus_pdf):
    doc_id = int(fixture_corpus_pdf["doc_id"].iloc[0])
    got = {}
    for name, fn in _big_calls(big_service, doc_id).items():
        fn()  # warm: lazy frames, stage checks
        got[name] = jobs_of(spark, fn)
    assert set(got) == set(BIG_JOBS)
    worse = {n: (got[n], BIG_JOBS[n]) for n in got if got[n] > BIG_JOBS[n]}
    assert not worse, f"jobs per request grew (got, pinned): {worse}"
    # NOT terms restrict inside the scoring task: no extra probe job
    assert got["not"] <= got["ranked"], got


def test_warm_driver_query_runs_no_job(spark, staged):
    svc = SearchService(spark, staged)
    svc.search_payload("def return", k=5)
    assert jobs_of(spark, lambda: svc.search_payload("def return",
                                                     k=5)) == 0
    # the positional matcher reads the stage itself: no job even cold
    for name in ("phrase", "phrase_slop", "near"):
        def run(case=SEARCH_CASES[name]):
            assert svc.search_payload(k=5, **case)
        assert jobs_of(spark, run) == 0, (name, "cold")
        assert jobs_of(spark, run) == 0, (name, "warm")


def test_federated_kernel_is_one_job(spark, staged, tmp_path):
    """search_big_terms_federated, search_positional_federated and
    explain_big_federated score, match or explain every member in ONE
    Spark job (a task per member): over one segment and over two
    doc-disjoint ones. facets_federated adds its reduce to that job: none
    over one segment (a single partition needs no exchange), the groupBy
    and the per-field rank over two. A service's search_payload over two
    members is that one job too: the scoring tasks return the display
    fields of their rows."""
    from engine.corpus import corpus_to_spark, make_corpus
    from engine.index_build import build_index
    from engine.positions import search_positional_federated
    from engine.query import (
        explain_big_federated,
        facets_federated,
        search_big_terms_federated,
    )
    from engine.server import FederatedSearchService

    pdf = make_corpus(160, seed=91)
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    build_index(spark, corpus_to_spark(spark, pdf.iloc[:90]), a,
                n_salts=2, partitions=2, with_positions=True)
    build_index(spark, corpus_to_spark(spark, pdf.iloc[90:]), b,
                n_salts=2, partitions=2, with_positions=True)
    for dirs, facet_jobs in (([staged], 1), ([a, b], 3)):
        def run(dirs=dirs):
            assert search_big_terms_federated(spark, dirs, ["def", "return"],
                                              k=5)

        def phrase(dirs=dirs):
            assert search_positional_federated(spark, dirs,
                                               ["def", "return"], k=5)

        # owned by the last member: the other tasks answer nothing
        doc_id = search_big_terms_federated(spark, dirs[-1:], ["def"],
                                            k=1)[0][1]

        def explain(dirs=dirs, doc_id=doc_id):
            assert explain_big_federated(spark, dirs, "def return",
                                         doc_id)["score"] > 0

        def facets(dirs=dirs):
            assert facets_federated(spark, dirs, ["def", "return"],
                                    ["lang"])["lang"]
        assert jobs_of(spark, run) == 1, dirs
        assert jobs_of(spark, phrase) == 1, dirs
        assert jobs_of(spark, explain) == 1, dirs
        assert jobs_of(spark, facets) == facet_jobs, dirs

    svc = FederatedSearchService(spark, [a, b])
    urls = {f"{r.repo}/{r.path}@{r.commit}" for r in pdf.itertuples()}
    got = []

    def payload():
        got[:] = svc.search_payload("def return", k=5, snippet=True)
    payload()  # warm
    assert jobs_of(spark, payload) == 1
    assert len(got) == 5 and all(r["url"] in urls for r in got), got


def test_large_member_display_resolves_in_one_more_job(spark, built_index,
                                                       monkeypatch):
    """A member past query.TASK_DISPLAY_MAX_DOCS leaves its rows' display
    fields to resolve_many: the same payload, one more job."""
    from engine import query
    from engine.server import FederatedSearchService

    svc = FederatedSearchService(spark, [built_index[0]])
    got = []

    def payload():
        got.append(svc.search_payload("def return", k=5, snippet=True))
    payload()  # warm
    assert jobs_of(spark, payload) == 1
    monkeypatch.setattr(query, "TASK_DISPLAY_MAX_DOCS", 0)
    assert jobs_of(spark, payload) == 2
    assert got[-1] == got[-2] and len(got[-1]) == 5
