"""Document deletion (engine/deletes.py): tombstones apply PHYSICALLY at
compact_incremental (byte-identical to a monolithic batch build over the
surviving corpus — postings, positions, docs, aliases, stats) and
LOGICALLY on the NRT serving view (deleted docs vanish from every mode's
results while statistics stay as built — Lucene stats-until-merge; for
doc-local scores that equals filtering the full result list, which is
what the tests assert). Delete semantics are content-identity CLASS
deletes: any member id kills canonical + every alias. Unknown ids are
idempotent no-ops."""

import hashlib
import os

import numpy as np
import pytest

from engine.corpus import corpus_to_spark, make_corpus
from engine.deletes import delete_docs, pending_delete_files
from engine.index_build import build_index
from engine.streaming import (
    _load_compaction_state,
    compact_incremental,
    current_index_dir,
)
from tests.test_dedup import _with_duplicates
from tests.test_incremental_compact import _ingest_wave
from tests.test_streaming import _fingerprint, _pos_fingerprint


def _sha(text: str) -> str:
    return hashlib.sha256(text.encode()).hexdigest()


def _dead_class(pdf, seed_ids):
    """Expected class closure in pandas: every doc_id whose content sha
    matches any seeded id's sha (unknown ids drop out)."""
    shas = set(pdf[pdf["doc_id"].isin(seed_ids)]["content"].map(_sha))
    dead = pdf[pdf["content"].map(_sha).isin(shas)]
    return set(int(i) for i in dead["doc_id"]), shas


def _docs_rows(spark, d):
    return sorted(
        (int(r["ordinal"]), int(r["doc_id"]), int(r["doc_len"]),
         r["content_sha256"])
        for r in spark.read.parquet(os.path.join(d, "docs"))
        .select("ordinal", "doc_id", "doc_len", "content_sha256").collect())


def _alias_rows(spark, d):
    return sorted(
        (int(r["doc_id"]), int(r["canonical_doc_id"]))
        for r in spark.read.parquet(os.path.join(d, "aliases")).collect())


def test_physical_delete_byte_identity(spark, tmp_path):
    """Ingest two waves (duplicate content spanning them), tombstone a
    canonical-with-duplicate, an ALIAS member (must kill its canonical
    too), an uncompacted wave-2 doc, and an unknown id; compact. The new
    generation must be byte-identical to a monolithic batch build over
    the surviving docs — index, positions, docs, aliases — and the
    consumed tombstones must not re-apply."""
    from engine.positions import build_positions

    pdf = make_corpus(200, seed=57)
    big, alias_map = _with_duplicates(pdf, 12)  # dups of first 12 docs
    wave1, wave2 = big.iloc[:140], big.iloc[140:]
    src, work, out = (str(tmp_path / n) for n in ("src", "work", "out"))
    os.makedirs(src)

    _ingest_wave(spark, wave1, src, work, with_positions=True)
    compact_incremental(spark, work, out, partitions=4)
    _ingest_wave(spark, wave2, src, work, with_positions=True)

    # seeds: the canonical of dup'd doc 0; the ALIAS id of dup'd doc 1;
    # a plain wave-2 doc; an unknown id
    dup_ids = list(alias_map)  # duplicate (alias) doc_ids
    seed = [int(pdf.iloc[0]["doc_id"]), int(dup_ids[1]),
            int(wave2.iloc[-1]["doc_id"]), 12345]
    dead_ids, _ = _dead_class(big, seed)
    assert len(dead_ids) >= 5  # 2 classes of 2 + 1 singleton
    delete_docs(work, seed)

    gen = compact_incremental(spark, work, out, partitions=4)
    assert gen == current_index_dir(out)
    assert pending_delete_files(work, _load_compaction_state(out)) == []

    survivors = big[~big["doc_id"].isin(dead_ids)]
    batch = str(tmp_path / "batch")
    c = corpus_to_spark(spark, survivors)
    build_index(spark, c, batch, n_salts=8, partitions=4)
    build_positions(spark, c, batch, n_salts=8, partitions=4)

    assert _fingerprint(spark, gen) == _fingerprint(spark, batch)
    assert _pos_fingerprint(spark, gen) == _pos_fingerprint(spark, batch)
    assert _docs_rows(spark, gen) == _docs_rows(spark, batch)
    assert _alias_rows(spark, gen) == _alias_rows(spark, batch)

    # nothing pending -> no-op, same generation (consumed tombstones
    # never re-apply)
    assert compact_incremental(spark, work, out, partitions=4) == gen


def test_delete_only_generation(spark, tmp_path):
    """Deletes with NO new ingested data produce a delete-only generation
    (single-input merge of the previous one), byte-identical to a batch
    build over the survivors."""
    pdf = make_corpus(120, seed=71)
    src, work, out = (str(tmp_path / n) for n in ("src", "work", "out"))
    os.makedirs(src)
    _ingest_wave(spark, pdf, src, work)
    gen1 = compact_incremental(spark, work, out, partitions=4)

    seed = [int(pdf.iloc[3]["doc_id"]), int(pdf.iloc[50]["doc_id"])]
    delete_docs(work, seed)
    gen2 = compact_incremental(spark, work, out, partitions=4)
    assert gen2 != gen1

    survivors = pdf[~pdf["doc_id"].isin(seed)]
    batch = str(tmp_path / "batch")
    build_index(spark, corpus_to_spark(spark, survivors), batch,
                n_salts=8, partitions=4)
    assert _fingerprint(spark, gen2) == _fingerprint(spark, batch)
    assert _docs_rows(spark, gen2) == _docs_rows(spark, batch)


def test_logical_delete_serving_all_modes(spark, tmp_path):
    """Pre-compaction NRT serving: FederatedSearchService excludes the
    tombstoned classes from EVERY mode's results while statistics stay as
    built — payload-equal to the full-corpus reference service's results
    with the dead docs filtered out (exact for doc-local scores). After
    compaction + refresh the payloads equal the survivors-only service
    exactly. New tombstones take effect on an unchanged view via
    refresh()."""
    import pandas as pd

    from engine.positions import build_positions
    from engine.server import FederatedSearchService, SearchService

    pdf = make_corpus(160, seed=29)
    big, alias_map = _with_duplicates(pdf, 8)
    # duplicates ride in the SAME wave as their canonicals: cross-member
    # duplicate content is a documented serving_view freshness trade-off
    # (served distinct until the merge), which would break parity with
    # the deduped monolithic reference this test compares against
    wave1 = pd.concat([pdf.iloc[:100], big.iloc[160:]], ignore_index=True)
    wave2 = pdf.iloc[100:]
    src, work, out = (str(tmp_path / n) for n in ("src", "work", "out"))
    os.makedirs(src)
    _ingest_wave(spark, wave1, src, work, with_positions=True)
    compact_incremental(spark, work, out, partitions=4)
    _ingest_wave(spark, wave2, src, work, with_positions=True)

    # full-corpus reference (stats INCLUDE the dead until compaction)
    full = str(tmp_path / "full")
    cfull = corpus_to_spark(spark, big)
    build_index(spark, cfull, full, n_salts=8, partitions=4)
    build_positions(spark, cfull, full, n_salts=8, partitions=4)
    ref = SearchService(spark, full, big=True)

    seed = [int(pdf.iloc[0]["doc_id"]),     # canonical w/ duplicate
            int(wave2.iloc[-1]["doc_id"])]  # fresh uncompacted doc
    dead_ids, _ = _dead_class(big, seed)
    delete_docs(work, seed)

    fed = FederatedSearchService(spark, work_dir=work, out_dir=out,
                                 partitions=4)
    assert fed._view.excludes is not None

    dead_urls = {f"{r.repo}/{r.path}@{r.commit}"
                 for r in big[big["doc_id"].isin(dead_ids)]
                 .itertuples(index=False)}

    checks = [
        {"query": "def return", "mode": "ranked", "k": 10},
        {"query": "def return import", "mode": "conjunctive", "k": 10},
        {"query": "def return", "scoring": "tfidf", "k": 20},
        {"query": "identifier_1*", "mode": "ranked", "k": 10},
        {"query": "def return", "mode": "phrase", "k": 10},
        {"query": "def import", "mode": "near", "slop": 3, "k": 10},
    ]

    def expect(cargs):
        wide = dict(cargs)
        wide["k"] = 250  # < REFERENCE_MAX_RESULTS; corpus has < 250 hits
        return [r for r in ref.search_payload(**wide)
                if r["url"] not in dead_urls][:cargs["k"]]

    for cargs in checks:
        assert fed.search_payload(**cargs) == expect(cargs), cargs

    # a NEW tombstone takes effect through refresh() on the unchanged view
    extra = int(pdf.iloc[5]["doc_id"])
    delete_docs(work, [extra])
    dead_ids2, _ = _dead_class(big, seed + [extra])
    assert fed.refresh() == fed.index_dirs
    dead_urls |= {f"{r.repo}/{r.path}@{r.commit}"
                  for r in big[big["doc_id"].isin(dead_ids2)]
                  .itertuples(index=False)}
    q = checks[0]
    assert fed.search_payload(**q) == expect(q)
    assert not any(r["url"] in dead_urls for r in fed.search_payload(**q))

    # compaction applies physically; refresh clears exclusions and the
    # payloads now equal the survivors-only service EXACTLY
    gen = compact_incremental(spark, work, out, partitions=4)
    assert fed.refresh() == [gen]
    assert fed._view.excludes is None

    survivors = big[~big["doc_id"].isin(dead_ids2)]
    sv = str(tmp_path / "sv")
    csv_ = corpus_to_spark(spark, survivors)
    build_index(spark, csv_, sv, n_salts=8, partitions=4)
    build_positions(spark, csv_, sv, n_salts=8, partitions=4)
    ref2 = SearchService(spark, sv, big=True)
    for cargs in checks:
        assert fed.search_payload(**cargs) == ref2.search_payload(**cargs), \
            ("post-compaction", cargs)
    fed.close()
    ref.close()
    ref2.close()


def test_exclusion_prune_bitwise_and_idempotent_api(spark, tmp_path):
    """search_big_terms_federated with an exclusion array: pruned == unpruned
    bitwise (θ and block bounds stay score-safe under masking), results
    never contain excluded docs, and the deletes API rejects empty input
    while tolerating duplicate/unknown ids."""
    from engine.query import search_big_terms_federated

    pdf = make_corpus(150, seed=13)
    idx = str(tmp_path / "idx")
    build_index(spark, corpus_to_spark(spark, pdf), idx,
                n_salts=8, partitions=4)

    docs = spark.read.parquet(os.path.join(idx, "docs")) \
        .select("ordinal", "doc_id").collect()
    ord_of = {int(r["doc_id"]): int(r["ordinal"]) for r in docs}

    base = search_big_terms_federated(spark, [idx], ["def", "return"], k=8)
    assert base
    # exclude the top-2 docs -> they must vanish, rest must shift up
    dead = sorted(ord_of[d] for _, d, _ in base[:2])
    exc = np.array(dead, dtype=np.int64)
    pruned = search_big_terms_federated(spark, [idx], ["def", "return"],
                                        k=8, excludes=[exc], prune=True)
    nopr = search_big_terms_federated(spark, [idx], ["def", "return"],
                                      k=8, excludes=[exc], prune=False)
    assert pruned == nopr
    got_ids = {d for _, d, _ in pruned}
    assert not got_ids & {d for _, d, _ in base[:2]}
    # surviving docs keep their exact scores (stats as built)
    kept = [(d, s) for _, d, s in base[2:]]
    assert [(d, s) for _, d, s in pruned[:len(kept)]] == kept

    with pytest.raises(ValueError, match="empty"):
        delete_docs(str(tmp_path / "w"), [])
    p1 = delete_docs(str(tmp_path / "w"), [1, 1, 2])
    p2 = delete_docs(str(tmp_path / "w"), [2, 3])
    assert p1 != p2 and os.path.exists(p1) and os.path.exists(p2)


def test_refresh_never_serves_a_tombstoned_doc(spark, tmp_path,
                                               monkeypatch):
    """A query that runs while refresh() resolves the next view's
    exclusions is answered by the whole previous view: the tombstoned
    doc stays absent (the next view swaps in with one assignment, once
    its exclusions exist)."""
    import threading
    from concurrent.futures import ThreadPoolExecutor

    import engine.deletes as ed
    from engine.server import FederatedSearchService
    from engine.tokenizer import tokenize

    pdf = make_corpus(120, seed=71)
    src, work, out = (str(tmp_path / d) for d in ("src", "work", "out"))
    os.makedirs(src)
    _ingest_wave(spark, pdf, src, work)
    compact_incremental(spark, work, out, partitions=4)
    row = pdf.iloc[0]
    delete_docs(work, [int(row.doc_id)])
    dead_url = f"{row.repo}/{row.path}@{row.commit}"
    q = f"{tokenize(row.content)[0]} path:{row.path}"

    def urls(rows):
        return {r["url"] for r in rows}

    fed = FederatedSearchService(spark, work_dir=work, out_dir=out,
                                 partitions=4)
    # without its exclusions the view serves the doc for this query
    assert dead_url in urls(FederatedSearchService(
        spark, fed.index_dirs).search_payload(q, k=50))
    before = fed.search_payload(q, k=50)
    assert dead_url not in urls(before)

    entered, release = threading.Event(), threading.Event()
    resolve = ed.member_exclusions

    def blocked(*a, **kw):
        entered.set()
        assert release.wait(300)
        return resolve(*a, **kw)

    monkeypatch.setattr(ed, "member_exclusions", blocked)
    with ThreadPoolExecutor(1) as pool:
        refresh = pool.submit(fed.refresh)
        try:
            assert entered.wait(300)
            during = fed.search_payload(q, k=50)
        finally:
            release.set()
        assert refresh.result(timeout=300) == fed.index_dirs
    assert during == before
    assert fed.search_payload(q, k=50) == before


def test_explain_of_a_tombstoned_doc_is_unknown(spark, tmp_path):
    """GET /explain on the NRT view answers "unknown doc_id" (a 400) for a
    logically deleted doc, as every /search mode leaves it out; the same
    members without their exclusions still explain it."""
    from engine.server import FederatedSearchService
    from engine.tokenizer import tokenize

    pdf = make_corpus(80, seed=73)
    src, work, out = (str(tmp_path / d) for d in ("src", "work", "out"))
    os.makedirs(src)
    _ingest_wave(spark, pdf, src, work)
    compact_incremental(spark, work, out, partitions=4)
    dead, live = (pdf.iloc[i] for i in (0, 1))
    delete_docs(work, [int(dead.doc_id)])
    fed = FederatedSearchService(spark, work_dir=work, out_dir=out,
                                 partitions=4)
    q = tokenize(dead.content)[0]
    try:
        plain = FederatedSearchService(spark, fed.index_dirs)
        assert plain.explain_payload(q, int(dead.doc_id))["score"] > 0
        with pytest.raises(ValueError, match="unknown doc_id"):
            fed.explain_payload(q, int(dead.doc_id))
        assert fed.explain_payload(q, int(live.doc_id)) == \
            plain.explain_payload(q, int(live.doc_id))
    finally:
        fed.close()


def test_alias_resolution_broadcasts_the_tombstones(spark, tmp_path):
    """deletes._canonical (member_exclusions' and filter_dead's alias
    resolution) maps a tombstoned alias to its canonical and keeps any
    other id, with both joins planned as broadcast hash joins even when
    Spark would broadcast nothing by size."""
    from engine.deletes import _aliases_frame, _canonical, tombstones_frame
    from tests.test_dedup import _with_duplicates

    big, alias_map = _with_duplicates(make_corpus(60, seed=17), 3)
    idx = str(tmp_path / "idx")
    build_index(spark, corpus_to_spark(spark, big), idx, n_salts=2,
                partitions=2)
    alias, canon = next(iter(alias_map.items()))
    plain = int(big.iloc[10]["doc_id"])
    files = [delete_docs(str(tmp_path / "w"), [alias, plain, 12345])]
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        got = _canonical(tombstones_frame(spark, files),
                         _aliases_frame(spark, idx))
        assert sorted(r["doc_id"] for r in got.collect()) == \
            sorted([int(canon), plain, 12345])
        plan = got._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set(key, old)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
