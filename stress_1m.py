#!/usr/bin/env python
"""1M-doc adversarial stress protocol (BENCH/BASELINE.md §2b, R2.4, R3.5).

The synthetic generator caps the vocabulary at ~2,000 terms, so at 1M docs
EVERY term is hot (posting lists of 50k-500k docs, ~107M postings) — the
worst case for the term-keyed merge and for ranked-query pruning. Run:

    python stress_1m.py [n_docs]      # default 1,000,000

Prints one JSON line with build/query walls and the block-max skip rate.
Corpus + outputs live under /dev/shm (tmpfs — the sandbox stand-in for
node-local NVMe scratch); the corpus is reused across runs."""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

N_DOCS = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
BASE = os.environ.get("STRESS_BASE", "/dev/shm/stress_1m")


def main() -> None:
    from engine import query as q
    from engine.corpus import make_corpus_spark
    from engine.index_build import build_index
    from engine.positions import near_terms, search_positional_federated
    from engine.query import SearchEngine, search_big
    from engine.session import get_spark

    os.makedirs(BASE, exist_ok=True)
    spark = get_spark(master="local[32]", app_name="stress_1m",
                      shuffle_partitions=64)
    res: dict = {"n_docs": N_DOCS}
    corpus_dir = os.path.join(BASE, f"corpus_{N_DOCS}")
    if not os.path.exists(os.path.join(corpus_dir, "_SUCCESS")):
        t0 = time.time()
        make_corpus_spark(spark, N_DOCS, seed=5, partitions=256) \
            .write.mode("overwrite").parquet(corpus_dir)
        res["corpus_gen_s"] = round(time.time() - t0, 2)
    corpus = spark.read.parquet(corpus_dir)

    out = os.path.join(BASE, f"index_{N_DOCS}")
    import shutil
    shutil.rmtree(out, ignore_errors=True)
    # single-scan build: ONE tokenization feeds docs + tf postings +
    # positions (round 4's architecture change — R2.4/R3.5 built the
    # positional store as a second full content pass)
    t0 = time.time()
    build_index(spark, corpus, out, n_salts=16, partitions=64,
                with_positions=True)
    res["build_with_positions_s"] = round(time.time() - t0, 2)
    res["build_docs_per_sec"] = round(N_DOCS / (time.time() - t0))

    idx = spark.read.parquet(os.path.join(out, "index"))
    res["postings_total"] = int(
        idx.agg({"df": "sum"}).collect()[0][0])
    res["index_bytes"] = sum(
        os.path.getsize(os.path.join(r, f))
        for r, _, fs in os.walk(os.path.join(out, "index")) for f in fs)
    res["bytes_per_posting"] = round(
        res["index_bytes"] / res["postings_total"], 2)

    eng = SearchEngine(spark, out)
    # hot + rare: the block-max pruning showcase (driver engine)
    hot_rare = "def identifier_1965"   # Zipf rank 0 + rank 1999
    t0 = time.time()
    r1 = eng.search(hot_rare, k=10, mode="ranked")
    res["ranked_hot_rare_s"] = round(time.time() - t0, 3)
    assert len(r1) == 10
    st = eng.last_prune_stats if hasattr(eng, "last_prune_stats") else None
    if st:
        res["driver_prune_stats"] = st
    # all-hot 3-term: nothing prunable, the upper-bound pass's worst case
    t0 = time.time()
    r2 = eng.search("def return import", k=10, mode="ranked")
    res["ranked_all_hot_s"] = round(time.time() - t0, 3)
    assert len(r2) == 10
    t0 = time.time()
    r3 = eng.search("def return import", k=10, mode="conjunctive")
    res["conjunctive_all_hot_s"] = round(time.time() - t0, 3)

    # zero-driver-array path with block-max pruning (r4: search_big prunes)
    t0 = time.time()
    rb = search_big(spark, out, hot_rare, k=10)
    res["big_ranked_hot_rare_s"] = round(time.time() - t0, 3)
    assert [x[1] for x in rb] == [x[1] for x in r1]
    ps = dict(q.last_big_prune_stats)
    ps["skip_pct"] = round(100.0 * ps["postings_skipped"]
                           / max(ps["postings_total"], 1), 1)
    res["big_prune_stats"] = ps
    t0 = time.time()
    search_big(spark, out, "def return import", k=10)
    res["big_ranked_all_hot_s"] = round(time.time() - t0, 3)

    # metadata-filtered search at 1M docs (round 4: result-set
    # restriction — lang filter keeps ~35%, NOT 'import' excludes a
    # Zipf-hot term via the gated exclusion array)
    filt = {"lang": "python"}
    t0 = time.time()
    rf = eng.search(hot_rare, k=10, filters=filt, not_terms=["import"])
    res["ranked_filtered_s"] = round(time.time() - t0, 3)
    assert rf
    t0 = time.time()
    rbf = search_big(spark, out, hot_rare, k=10, filters=filt,
                     not_terms=["import"])
    res["big_ranked_filtered_s"] = round(time.time() - t0, 3)
    assert [x[1] for x in rbf] == [x[1] for x in rf]

    # positional operators through the federated entry (one task matches
    # the segment block by block), 100%-hot terms
    t0 = time.time()
    ph = search_positional_federated(spark, [out], ["def", "return"], k=10)
    res["phrase_distributed_s"] = round(time.time() - t0, 3)
    assert ph
    t0 = time.time()
    nr = search_positional_federated(spark, [out],
                                     near_terms("def", "import"), slop=3,
                                     k=10)
    res["near3_distributed_s"] = round(time.time() - t0, 3)
    assert nr
    t0 = time.time()
    sl = search_positional_federated(spark, [out],
                                     ["def", "return", "import"], slop=4,
                                     k=10)
    res["sloppy4_distributed_s"] = round(time.time() - t0, 3)
    assert sl
    t0 = time.time()
    pf = search_positional_federated(spark, [out], ["def", "return"], k=10,
                                     filters=filt)
    res["phrase_filtered_distributed_s"] = round(time.time() - t0, 3)
    assert pf

    # regex search at 1M docs (round 4): a rare-literal pattern — the
    # analyzer pins {identifier, 1965}, so the verify scan touches only
    # that conjunction's candidates, vs the unpruned full-content scan
    from engine.regex_query import regex_candidates, regex_search_federated
    pat = r"\bdef identifier_1965\b"
    t0 = time.time()
    n_cand = regex_candidates(spark, out, pat).count()
    res["regex_candidates_s"] = round(time.time() - t0, 3)
    res["regex_candidates_n"] = int(n_cand)
    t0 = time.time()
    n_pruned = regex_search_federated(spark, [out], corpus, pat).count()
    res["regex_pruned_s"] = round(time.time() - t0, 3)
    res["regex_matches_n"] = int(n_pruned)
    t0 = time.time()
    n_full = regex_search_federated(spark, [out], corpus, pat,
                                    prune=False).count()
    res["regex_fullscan_s"] = round(time.time() - t0, 3)
    assert n_full == n_pruned and n_cand < N_DOCS / 10

    # index fsck at 1M docs (round 4): the standing pre-promotion check —
    # every posting decoded + block-max metadata recomputed, 107M postings
    from engine.verify_index import verify_index
    t0 = time.time()
    rep = verify_index(spark, out)
    res["verify_index_s"] = round(time.time() - t0, 3)
    assert rep["ok"], rep

    # field-boosted ranking at 1M docs (round 4): the path index builds
    # from the metadata snapshot only (never re-reads content)
    from engine.fields import FieldedEngine, ensure_path_index
    t0 = time.time()
    ensure_path_index(spark, out)
    res["path_index_build_s"] = round(time.time() - t0, 2)
    fe = FieldedEngine(eng)
    t0 = time.time()
    rf2 = fe.search("def mod777 return", k=10)
    res["bm25f_query_s"] = round(time.time() - t0, 3)
    assert rf2

    # round 5: the zero-driver-array FIELDED path at 1M docs — pruned
    # (MaxScore + path upper bound), bitwise equal to the driver engine
    from engine import fields as FD
    t0 = time.time()
    rfb = FD.search_big_fielded_federated(spark, [out], "def mod777 return",
                                          k=10)
    res["bm25f_big_query_s"] = round(time.time() - t0, 3)
    assert rfb == rf2
    t0 = time.time()
    rfb2 = FD.search_big_fielded_federated(spark, [out], hot_rare, k=10)
    res["bm25f_big_hot_rare_s"] = round(time.time() - t0, 3)
    fps = dict(FD.last_fielded_prune_stats)
    fps["skip_pct"] = round(100.0 * fps["postings_skipped"]
                            / max(fps["postings_total"], 1), 1)
    res["bm25f_big_prune_stats"] = fps
    assert rfb2 == fe.search(hot_rare, k=10)

    # round 5: case-insensitive regex pruning at 1M docs — the icase
    # analyzer pins the digits-only '1965' segment exactly (letters are
    # case-ambiguous, digits are not), so candidates match the
    # case-exact pattern's on this lowercase corpus
    ipat = r"(?i)\bDEF IDENTIFIER_1965\b"
    t0 = time.time()
    icands = regex_candidates(spark, out, ipat)
    assert icands is not None, "icase pattern must prune"
    n_icand = icands.count()
    res["regex_icase_candidates_s"] = round(time.time() - t0, 3)
    res["regex_icase_candidates_n"] = int(n_icand)
    t0 = time.time()
    n_ip = regex_search_federated(spark, [out], corpus, ipat).count()
    res["regex_icase_pruned_s"] = round(time.time() - t0, 3)
    res["regex_icase_matches_n"] = int(n_ip)
    assert n_ip == n_pruned and n_icand < N_DOCS / 10

    print(json.dumps(res))
    spark.stop()


if __name__ == "__main__":
    main()
