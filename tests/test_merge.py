"""Segment merge: build two disjoint batches separately, merge, compare to
one monolithic build over the union — index byte-identical, search
rank-identical to the oracle; disjointness violation rejected."""

import numpy as np
import pytest

from engine.corpus import corpus_to_spark, make_corpus
from engine.index_build import build_index
from engine.merge import merge_indexes
from engine.oracle import Bm25Oracle
from engine.query import SearchEngine


def _fingerprint(spark, out):
    rows = (spark.read.parquet(f"{out}/index")
            .select("term", "df", "postings").collect())
    return sorted((r["term"], r["df"], bytes(r["postings"])) for r in rows)


def test_merge_equals_monolithic_build(spark, tmp_path):
    pdf = make_corpus(500, seed=17)
    a, b = pdf.iloc[:300], pdf.iloc[300:]

    out_a, out_b = str(tmp_path / "a"), str(tmp_path / "b")
    build_index(spark, corpus_to_spark(spark, a), out_a,
                n_salts=4, partitions=4)
    build_index(spark, corpus_to_spark(spark, b), out_b,
                n_salts=4, partitions=4)

    out_m = str(tmp_path / "merged")
    merge_indexes(spark, [out_a, out_b], out_m, n_salts=4, partitions=4)

    out_full = str(tmp_path / "full")
    build_index(spark, corpus_to_spark(spark, pdf), out_full,
                n_salts=4, partitions=4)
    assert _fingerprint(spark, out_m) == _fingerprint(spark, out_full)

    # and the merged index serves rank-identical BM25
    eng = SearchEngine(spark, out_m)
    oracle = Bm25Oracle(dict(zip(pdf["doc_id"], pdf["content"])))
    for q in ["def return", "class self", "value index merge"]:
        assert eng.search(q, k=10) == oracle.topk(q, 10), q
        assert eng.search(q, k=10, mode="conjunctive") == \
            oracle.topk(q, 10, "conjunctive"), q


def _dup_rows(rows, tag):
    """Duplicate-content copies of `rows` under new paths chosen so each
    copy's doc_id hashes HIGHER than its original's (canonical = min)."""
    from engine.corpus import doc_id_of
    dups = rows.copy()
    paths, ids = [], []
    for r in dups.itertuples():
        k = 0
        while True:
            p = f"{r.path}.{tag}{k}"
            did = doc_id_of(r.repo, p, r.commit)
            if did > r.doc_id:
                break
            k += 1
        paths.append(p)
        ids.append(did)
    dups["path"] = paths
    dups["doc_id"] = ids
    return dups


def test_merge_cross_segment_duplicate_content(spark, tmp_path, monkeypatch):
    """Content-dedup parity for segment merge (VERDICT r2 #2 / ADVICE r2):
    duplicate content SPANNING segments must collapse exactly as a
    monolithic build over the union corpus collapses it — byte-identical
    postings, identical alias map (including re-pointing an input's own
    internal canonical at the global one), on BOTH remap regimes."""
    import pandas as pd

    pdf = make_corpus(250, seed=29)
    a = pdf.iloc[:150].reset_index(drop=True)
    b_orig = pdf.iloc[150:].reset_index(drop=True)
    d1 = _dup_rows(a.iloc[:10], "dA")   # cross-segment dups of A's docs
    d2 = _dup_rows(a.iloc[:5], "dB")    # 5 docs get TWO copies in B ->
    # B's internal canonical min(d1,d2) must re-point to A's original
    b = pd.concat([b_orig, d1, d2], ignore_index=True)
    union = pd.concat([a, b], ignore_index=True)

    out_a, out_b = str(tmp_path / "a"), str(tmp_path / "b")
    build_index(spark, corpus_to_spark(spark, a), out_a,
                n_salts=4, partitions=4)
    build_index(spark, corpus_to_spark(spark, b), out_b,
                n_salts=4, partitions=4)
    out_full = str(tmp_path / "full")
    build_index(spark, corpus_to_spark(spark, union), out_full,
                n_salts=4, partitions=4)

    def aliases_of(out):
        return {r["doc_id"]: r["canonical_doc_id"] for r in
                spark.read.parquet(f"{out}/aliases").collect()}

    out_m = str(tmp_path / "merged")
    merge_indexes(spark, [out_a, out_b], out_m, n_salts=4, partitions=4)
    assert _fingerprint(spark, out_m) == _fingerprint(spark, out_full)
    assert spark.read.parquet(f"{out_m}/docs").count() == len(pdf)
    assert aliases_of(out_m) == aliases_of(out_full)

    # the over-BROADCAST_DOC_LIMIT regime must dedup identically
    import engine.index_build as ib
    monkeypatch.setattr(ib, "BROADCAST_DOC_LIMIT", 0)
    out_m2 = str(tmp_path / "merged_fallback")
    merge_indexes(spark, [out_a, out_b], out_m2, n_salts=4, partitions=4)
    assert _fingerprint(spark, out_m2) == _fingerprint(spark, out_full)
    assert aliases_of(out_m2) == aliases_of(out_full)

    # serving resolves a cross-segment alias to the canonical display row
    from engine.server import SearchService
    svc = SearchService(spark, out_m)
    assert svc.resolve(int(d1.iloc[0]["doc_id"])) == \
        svc.resolve(int(a.iloc[0]["doc_id"]))
    assert svc.resolve(int(d2.iloc[0]["doc_id"])) == \
        svc.resolve(int(a.iloc[0]["doc_id"]))


def test_merge_positions_match_monolithic(spark, tmp_path, monkeypatch):
    """Segment merge carries the positional store: when every input was
    built --positions, the merged store must be byte-identical to batch
    build_positions over the union corpus — incl. cross-segment duplicate
    content and the beyond-broadcast regime — and phrase/NEAR queries
    must agree."""
    import pandas as pd

    from engine.positions import PhraseEngine, build_positions

    pdf = make_corpus(220, seed=37)
    a = pdf.iloc[:120].reset_index(drop=True)
    b = pd.concat([pdf.iloc[120:], _dup_rows(a.iloc[:8], "pD")],
                  ignore_index=True)
    union = pd.concat([a, b], ignore_index=True)

    dirs = {}
    for name, frame in [("a", a), ("b", b), ("full", union)]:
        out = str(tmp_path / name)
        build_index(spark, corpus_to_spark(spark, frame), out,
                    n_salts=4, partitions=4)
        build_positions(spark, corpus_to_spark(spark, frame), out,
                        n_salts=4, partitions=4)
        dirs[name] = out

    def pos_fp(out):
        rows = spark.read.parquet(f"{out}/positions").collect()
        return sorted((r["term"], r["block"], r["df"], r["n"],
                       bytes(r["ords"]), bytes(r["counts"]),
                       bytes(r["pos"])) for r in rows)

    out_m = str(tmp_path / "m")
    merge_indexes(spark, [dirs["a"], dirs["b"]], out_m,
                  n_salts=4, partitions=4)
    assert pos_fp(out_m) == pos_fp(dirs["full"])

    pe_m, pe_f = PhraseEngine(out_m), PhraseEngine(dirs["full"])
    for phrase in ["def return", "class self"]:
        assert pe_m.search_phrase(phrase, k=10) == \
            pe_f.search_phrase(phrase, k=10), phrase
    assert pe_m.search_near("def", "return", slop=3, k=10) == \
        pe_f.search_near("def", "return", slop=3, k=10)

    import engine.index_build as ib
    monkeypatch.setattr(ib, "BROADCAST_DOC_LIMIT", 0)
    out_fb = str(tmp_path / "m_fb")
    merge_indexes(spark, [dirs["a"], dirs["b"]], out_fb,
                  n_salts=4, partitions=4)
    assert pos_fp(out_fb) == pos_fp(dirs["full"])

    # an input WITHOUT positions -> merged index has no positional store
    out_np = str(tmp_path / "np")
    build_index(spark, corpus_to_spark(spark, a), out_np,
                n_salts=4, partitions=4)
    out_m2 = str(tmp_path / "m2")
    merge_indexes(spark, [out_np, dirs["b"]], out_m2,
                  n_salts=4, partitions=4)
    from engine.checkpoint import BuildManifest
    assert not BuildManifest(out_m2).is_complete("positions")


def test_merge_rejects_overlapping_doc_ids(spark, tmp_path):
    pdf = make_corpus(100, seed=19)
    out_a, out_b = str(tmp_path / "a"), str(tmp_path / "b")
    build_index(spark, corpus_to_spark(spark, pdf.iloc[:60]), out_a,
                n_salts=2, partitions=2)
    build_index(spark, corpus_to_spark(spark, pdf.iloc[40:]), out_b,
                n_salts=2, partitions=2)  # overlaps rows 40..59
    with pytest.raises(ValueError, match="disjoint"):
        merge_indexes(spark, [out_a, out_b], str(tmp_path / "m"))


def test_merge_beyond_broadcast_limit_identical(spark, tmp_path, monkeypatch):
    """Force the over-BROADCAST_DOC_LIMIT merge path (postings decode to
    rows and JOIN the partitioned ordinal maps — no driver arrays): the
    result must stay byte-identical to the monolithic build."""
    import engine.index_build as ib
    pdf = make_corpus(300, seed=23)
    a, b = pdf.iloc[:180], pdf.iloc[180:]
    out_a, out_b = str(tmp_path / "a"), str(tmp_path / "b")
    build_index(spark, corpus_to_spark(spark, a), out_a,
                n_salts=4, partitions=4)
    build_index(spark, corpus_to_spark(spark, b), out_b,
                n_salts=4, partitions=4)
    out_full = str(tmp_path / "full")
    build_index(spark, corpus_to_spark(spark, pdf), out_full,
                n_salts=4, partitions=4)

    monkeypatch.setattr(ib, "BROADCAST_DOC_LIMIT", 0)
    out_m = str(tmp_path / "merged_fallback")
    merge_indexes(spark, [out_a, out_b], out_m, n_salts=4, partitions=4)
    assert _fingerprint(spark, out_m) == _fingerprint(spark, out_full)
