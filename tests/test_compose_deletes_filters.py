"""Three-way composition: metadata filters + NOT terms + tombstone deletes
on the NRT federated view, in one serving stack.

Why this composition needs its own test: logical deletes, NOT terms and
metadata filters all restrict each member's candidate set in the scoring
kernel (kernel.Segment._restrict) before θ is taken. Each mechanism is
green in isolation (test_deletes, test_filtered_search); a faulty
composition would silently resurrect one restriction only when the others
are active.

Expectation model (all three are result-set restrictions under the Lucene
stats-until-merge discipline — statistics stay as built, a surviving doc's
score is unchanged): the full-corpus reference service answering the SAME
filtered query string, minus the tombstoned classes' urls, truncated to k.
"""

import os

import pandas as pd

from engine.corpus import corpus_to_spark, make_corpus
from engine.deletes import delete_docs
from engine.index_build import build_index
from engine.positions import build_positions
from engine.server import FederatedSearchService, SearchService
from engine.streaming import compact_incremental
from engine.tokenizer import tokenize
from tests.test_dedup import _with_duplicates
from tests.test_incremental_compact import _ingest_wave

def _checks(lang: str, nt: str) -> list[dict]:
    """The mode matrix; the first check's filter/NOT are derived from the
    corpus so the tombstoned docs provably intersect its result set."""
    return [
        # filter + NOT on the ranked scorer (exclusion-array union path)
        {"query": f"lang:{lang} def return -{nt}", "mode": "ranked",
         "k": 10},
        # filter narrowing a conjunctive AND
        {"query": "lang:java def return import", "mode": "conjunctive",
         "k": 10},
        # path-prefix filter + NOT on the TF-IDF twin
        {"query": f"path:src/pkg1 def return -{nt}", "scoring": "tfidf",
         "k": 20},
        # filter + wildcard expansion + NOT
        {"query": f"lang:{lang} identifier_1* -{nt}", "mode": "ranked",
         "k": 10},
        # positional modes under filter (+ NOT for NEAR)
        {"query": f"lang:{lang} def return", "mode": "phrase", "k": 10},
        {"query": "lang:js def import -return", "mode": "near", "slop": 3,
         "k": 10},
    ]


def test_filters_nots_and_tombstones_compose_on_federated_view(
        spark, tmp_path):
    pdf = make_corpus(160, seed=33)
    big, _ = _with_duplicates(pdf, 8)
    # duplicates ride with their canonicals (same wave) so the federated
    # view matches the dedup semantics of the monolithic reference index
    wave1 = pd.concat([pdf.iloc[:100], big.iloc[160:]], ignore_index=True)
    wave2 = pdf.iloc[100:]
    src, work, out = (str(tmp_path / n) for n in ("src", "work", "out"))
    os.makedirs(src)
    _ingest_wave(spark, wave1, src, work, with_positions=True)
    compact_incremental(spark, work, out, partitions=4)
    _ingest_wave(spark, wave2, src, work, with_positions=True)

    # full-corpus reference (stats include the dead until compaction)
    full = str(tmp_path / "full")
    cfull = corpus_to_spark(spark, big)
    build_index(spark, cfull, full, n_salts=8, partitions=4)
    build_positions(spark, cfull, full, n_salts=8, partitions=4)
    ref = SearchService(spark, full, big=True)

    # seeds chosen so the deletes INTERSECT the filtered result sets: a
    # doc with a duplicate (compacted generation — class delete must kill
    # canonical + alias) and a fresh doc in the uncompacted segment; the
    # first check's lang: filter and NOT term derive from these seeds
    def pick(frame, lo, hi, lang=None):
        for i in range(lo, hi):
            r = frame.iloc[i]
            if lang is not None and r["lang"] != lang:
                continue
            if {"def", "return"} <= set(tokenize(r["content"])):
                return int(r["doc_id"]), str(r["lang"])
        raise AssertionError("corpus draw lacks a def+return doc in window")

    s1, lang = pick(pdf, 0, 8)
    s2, _ = pick(pdf, 100, 160, lang=lang)
    seed = [s1, s2]
    seed_toks = set().union(*(tokenize(
        pdf.loc[pdf["doc_id"] == s, "content"].iloc[0]) for s in seed))
    # the NOT term must be a POST-TOKENIZE vocabulary token ("identifier_10"
    # splits to identifier+10) present somewhere but absent from both seeds
    corpus_toks = set().union(*(tokenize(c) for c in pdf["content"]))
    nt = sorted(t for t in corpus_toks - seed_toks if t.isalpha())[0]
    CHECKS = _checks(lang, nt)
    delete_docs(work, seed)
    dead = big[big["doc_id"].isin(seed)]
    dead_ids = set(big.loc[big["content_sha256"].isin(
        dead["content_sha256"]), "doc_id"].astype(int))
    dead_urls = {f"{r.repo}/{r.path}@{r.commit}"
                 for r in big[big["doc_id"].isin(dead_ids)]
                 .itertuples(index=False)}

    fed = FederatedSearchService(spark, work_dir=work, out_dir=out,
                                 partitions=4)
    assert fed._view.excludes is not None  # tombstones actually loaded

    def expect(cargs):
        wide = dict(cargs)
        wide["k"] = 250
        return [r for r in ref.search_payload(**wide)
                if r["url"] not in dead_urls][:cargs["k"]]

    # the composition must actually be exercised: the ranked filtered query
    # matches at least one tombstoned doc on the reference
    wide0 = dict(CHECKS[0])
    wide0["k"] = 250
    assert any(r["url"] in dead_urls for r in ref.search_payload(**wide0)), \
        "seed choice never intersects the filtered result set"

    for cargs in CHECKS:
        got = fed.search_payload(**cargs)
        assert got == expect(cargs), cargs
        assert not any(r["url"] in dead_urls for r in got), cargs

    # after physical compaction the same filtered queries equal the
    # survivors-only reference exactly (filters/NOTs over rebuilt stats)
    gen = compact_incremental(spark, work, out, partitions=4)
    assert fed.refresh() == [gen]
    survivors = big[~big["doc_id"].isin(dead_ids)]
    sv = str(tmp_path / "sv")
    csv_ = corpus_to_spark(spark, survivors)
    build_index(spark, csv_, sv, n_salts=8, partitions=4)
    build_positions(spark, csv_, sv, n_salts=8, partitions=4)
    ref2 = SearchService(spark, sv, big=True)
    for cargs in CHECKS:
        assert fed.search_payload(**cargs) == ref2.search_payload(**cargs), \
            ("post-compaction", cargs)
    fed.close()
    ref.close()
    ref2.close()
