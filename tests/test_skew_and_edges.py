"""Skew + edge-case coverage:
- adversarial hot term (in EVERY doc): salted build stays correct and the
  hot term's partial runs are actually spread across salt buckets (the
  north-rule skew story, verifiable at small scale);
- unicode content end-to-end rank-identity;
- degenerate queries (k=0, huge k, >50 terms, all-absent).
"""

import numpy as np
import pandas as pd
import pytest

from engine.corpus import corpus_to_spark, doc_id_of, content_sha256
from engine.index_build import build_index
from engine.oracle import Bm25Oracle
from engine.query import SearchEngine


def _mk(rows):
    pdf = pd.DataFrame(rows, columns=["repo", "path", "commit", "lang",
                                      "content"])
    pdf["content_sha256"] = pdf["content"].map(content_sha256)
    pdf["doc_id"] = [doc_id_of(r, p, c) for r, p, c in
                     zip(pdf["repo"], pdf["path"], pdf["commit"])]
    return pdf


@pytest.fixture(scope="module")
def skew_setup(spark, tmp_path_factory):
    rng = np.random.default_rng(3)
    rows = []
    for i in range(600):
        # "hot" in every doc; tail terms rare
        toks = ["hot"] * int(rng.integers(1, 4)) + [
            f"tail_{int(rng.integers(0, 500))}" for _ in range(20)]
        rng.shuffle(toks)
        rows.append((f"o/r{i%5}", f"p/{i}.py", f"c{i:04d}", "python",
                     " ".join(toks)))
    pdf = _mk(rows)
    out = str(tmp_path_factory.mktemp("skew") / "idx")
    build_index(spark, corpus_to_spark(spark, pdf), out,
                n_salts=8, partitions=4)
    return pdf, out


def test_hot_term_correct_and_salted(spark, skew_setup):
    pdf, out = skew_setup
    eng = SearchEngine(spark, out)
    oracle = Bm25Oracle(dict(zip(pdf["doc_id"], pdf["content"])))
    assert eng.search("hot", k=20) == oracle.topk("hot", 20)
    assert eng.search("hot tail_1", k=20, mode="conjunctive") == \
        oracle.topk("hot tail_1", 20, "conjunctive")
    # the hot posting list covers all docs
    tp = eng._fetch(["hot"])["hot"]
    assert tp.df == len(pdf)


def test_hot_term_salt_distribution(spark, skew_setup):
    """Re-run just the map phase and check the hot term's runs land in
    multiple salt buckets — the explicit skew defusal."""
    from pyspark.sql import functions as F

    pdf, out = skew_setup
    # content lives only in the source; join the snapshot's ordinal map back
    ordmap = spark.read.parquet(f"{out}/docs").select("doc_id", "ordinal")
    src = corpus_to_spark(spark, pdf).select("doc_id", "content")
    pair = src.join(F.broadcast(ordmap), "doc_id").select("ordinal", "content")
    from engine.index_build import _map_partial_runs_factory
    fn = _map_partial_runs_factory(len(pdf), 8)
    runs = pair.mapInArrow(fn, schema="term string, salt int, n long, "
                                      "ids binary, tfs binary")
    hot = runs.where(F.col("term") == "hot").groupBy("salt").agg(
        F.sum("n").alias("n")).collect()
    salts = {r["salt"]: r["n"] for r in hot}
    assert len(salts) >= 4  # spread across buckets, not one reducer
    assert sum(salts.values()) == len(pdf)
    assert max(salts.values()) <= len(pdf) / 2  # no bucket holds the list


def test_unicode_corpus_end_to_end(spark, tmp_path):
    rows = [
        ("o/r", "a.py", "c1", "python", "café naïve déjà café"),
        ("o/r", "b.py", "c2", "python", "中文 分词 搜索 中文"),
        ("o/r", "c.py", "c3", "python", "naïve search 中文 engine"),
        ("o/r", "d.py", "c4", "python", "plain ascii words only"),
    ]
    pdf = _mk(rows)
    out = str(tmp_path / "idx")
    build_index(spark, corpus_to_spark(spark, pdf), out,
                n_salts=2, partitions=2)
    eng = SearchEngine(spark, out)
    oracle = Bm25Oracle(dict(zip(pdf["doc_id"], pdf["content"])))
    for q in ["café", "中文", "naïve 中文", "CAFÉ"]:
        assert eng.search(q, k=10) == oracle.topk(q, 10), q


def test_degenerate_queries(spark, built_index):
    out, _ = built_index
    eng = SearchEngine(spark, out)
    assert eng.search("def", k=0) == []
    assert len(eng.search("def", k=10**9)) == eng._fetch(["def"])["def"].df
    many = " ".join(f"identifier_{i}" for i in range(60))
    assert isinstance(eng.search(many, k=5), list)
    # terms absent from the corpus (tokenizer splits "_" and digits, so use
    # pure-alpha nonsense): both modes must return empty
    assert eng.search("zzqxj wwvbk qqprt", k=5) == []
    assert eng.search("zzqxj wwvbk qqprt", k=5, mode="conjunctive") == []
    # conjunctive with one absent term is empty even if others are hot
    assert eng.search("def zzqxj", k=5, mode="conjunctive") == []


def test_null_and_empty_content(spark, tmp_path):
    """Null content rows are dropped (reference fromTable semantics,
    FlameContextImpl.java:62-67); empty/whitespace docs index cleanly with
    doc_len 0 and never appear in results."""
    import pandas as pd
    rows = [("o/r", f"p{i}.py", f"c{i}", "python", t) for i, t in enumerate(
        ["def foo bar", "", "   ", "def baz", None])]
    pdf = pd.DataFrame(rows, columns=["repo", "path", "commit", "lang",
                                      "content"])
    out = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(pdf), out,
                n_salts=2, partitions=2)
    docs = spark.read.parquet(f"{out}/docs")
    assert docs.count() == 4  # null dropped
    assert docs.where("doc_len = 0").count() == 2
    assert docs.where("doc_len is null").count() == 0
    eng = SearchEngine(spark, out)
    got = eng.search("def", k=5)
    keep = pdf[pdf["content"].notna()]
    oracle = Bm25Oracle({doc_id_of(r, p, c): t for r, p, c, t in
                         zip(keep["repo"], keep["path"], keep["commit"],
                             keep["content"])})
    assert got == oracle.topk("def", 5)


def test_duplicate_doc_ids_fail_fast(spark, tmp_path):
    """Duplicate doc_id rows would k^2-fan-out through the ordinal joins and
    silently corrupt postings — the build must refuse them instead."""
    import pytest

    from engine.index_build import build_index
    corpus = spark.createDataFrame(
        [("r", "a.py", "c1", "py", "def f"),
         ("r", "a.py", "c1", "py", "def g")],  # same identity twice
        "repo string, path string, commit string, lang string, "
        "content string")
    with pytest.raises(ValueError, match="duplicate doc_id"):
        build_index(spark, corpus, str(tmp_path / "dup_idx"))


@pytest.fixture(scope="module")
def hot_rare_setup(spark, tmp_path_factory):
    """5,000 docs all containing 'hot' (40 posting blocks of 128) and a
    'needle' term in only 6 of them — the hot+rare shape where block-max
    pruning on the big path must drop most of the hot posting list."""
    rng = np.random.default_rng(11)
    rows = []
    needle_docs = {17, 800, 1604, 2989, 3777, 4444}
    for i in range(5000):
        toks = ["hot"] * int(rng.integers(1, 4)) + [
            f"w{int(rng.integers(0, 50))}" for _ in range(10)]
        if i in needle_docs:
            toks.append("needle")
        rng.shuffle(toks)
        rows.append((f"o/r{i%7}", f"p/{i}.py", f"c{i:05d}", "python",
                     " ".join(toks)))
    pdf = _mk(rows)
    out = str(tmp_path_factory.mktemp("hotrare") / "idx")
    build_index(spark, corpus_to_spark(spark, pdf), out,
                n_salts=4, partitions=4)
    return pdf, out


def test_search_big_block_pruning_skips_and_stays_bitwise(spark,
                                                          hot_rare_setup):
    """VERDICT r3 #3: the zero-driver-array path must use the block-max
    metadata — a hot+rare ranked query emits only the candidate-bearing
    hot blocks (most postings never reach the exchange) while returning
    results bitwise equal to the unpruned path, the driver engine, and
    the oracle, in plain AND rounded regimes."""
    from engine import query as Q

    pdf, out = hot_rare_setup
    eng = SearchEngine(spark, out)
    oracle = Bm25Oracle(dict(zip(pdf["doc_id"], pdf["content"])))
    q = "hot needle"
    for rounded in (False, True):
        want = eng.search(q, k=5, mode="ranked", rounded=rounded)
        got = Q.search_big(spark, out, q, k=5, rounded=rounded)
        stats = Q.last_big_prune_stats
        assert got == want, (rounded, got, want)
        assert Q.search_big(spark, out, q, k=5, rounded=rounded,
                            prune=False) == want
        # the hot list is 5000 postings in 40 blocks; only blocks holding
        # one of the 6 needle docs (<= 6) may survive
        assert stats["pruned_terms"] >= 1, stats
        assert stats["postings_skipped"] >= 5000 - 6 * 128, stats
        assert stats["postings_emitted"] + stats["postings_skipped"] == \
            stats["postings_total"]
    assert eng.search(q, k=5) == oracle.topk(q, 5)
    # three-term query (two hot-ish, one rare) stays bitwise equal too
    q3 = "hot w3 needle"
    want3 = eng.search(q3, k=5, mode="ranked")
    assert Q.search_big(spark, out, q3, k=5) == want3
    # conjunctive never prunes and stays equal
    wantc = eng.search(q, k=5, mode="conjunctive")
    assert Q.search_big(spark, out, q, k=5, mode="conjunctive") == wantc
    assert Q.last_big_prune_stats["postings_skipped"] == 0


def test_prefix_overflow_expands_to_top_df_subset(spark, tmp_path):
    """VERDICT r3 #7: a wildcard matching more terms than the cap no
    longer errors — it expands to the cap highest-df terms (df DESC, term
    ASC), identically on the driver and big paths, and the BM25 result
    equals a ranked OR over exactly that subset."""
    import itertools

    from engine.query import expand_prefix_big, search_big_terms_federated

    # 80 distinct terms sharing prefix 'px'; term j appears in j+1 docs
    suffixes = ["".join(p) for p in itertools.product(
        "abcdefghi", repeat=2)][:80]
    terms = [f"px{s}" for s in suffixes]
    rows = []
    for i in range(81):
        toks = ["base"] + [t for j, t in enumerate(terms) if i <= j]
        rows.append((f"o/r", f"p/{i}.py", f"c{i:03d}", "python",
                     " ".join(toks)))
    pdf = _mk(rows)
    out = str(tmp_path / "idx")
    build_index(spark, corpus_to_spark(spark, pdf), out,
                n_salts=2, partitions=2)
    eng = SearchEngine(spark, out)
    # df(term j) = j+1 -> top-64 by df = the LAST 64 terms; ties none
    expected = sorted(terms[-64:])
    got = eng.expand_prefix("px")
    assert got == expected
    index_df = spark.read.parquet(f"{out}/index")
    assert expand_prefix_big(index_df, "px") == expected
    want = eng.search(" ".join(expected), k=10, mode="ranked")
    assert eng.search_prefix("px", k=10) == want
    assert search_big_terms_federated(spark, [out], expected, k=10) == want
    # under the cap nothing changes: full expansion, sorted
    assert eng.expand_prefix("pxa") == sorted(
        t for t in terms if t.startswith("pxa"))


def test_pruned_traversal_actually_skips(spark, skew_setup, monkeypatch):
    """The block-max traversal must genuinely skip low-upper-bound
    candidates on a skewed corpus (hot term in all 600 docs), while staying
    identical to the exhaustive path."""
    pdf, out = skew_setup
    eng = SearchEngine(spark, out)
    monkeypatch.setattr(SearchEngine, "PRUNE_CHUNK", 64)
    q = "hot tail_7"
    pruned = eng.search(q, k=5, mode="ranked", prune=True)
    stats = eng.last_prune_stats
    assert pruned == eng.search(q, k=5, mode="ranked", prune=False)
    assert stats["skipped"] > 0, stats
    assert stats["scored"] + stats["skipped"] == stats["candidates"]
    oracle = Bm25Oracle(dict(zip(pdf["doc_id"], pdf["content"])))
    assert pruned == oracle.topk(q, 5)


def test_fielded_big_pruning_skips_and_stays_bitwise(spark,
                                                     hot_rare_setup):
    """r5: the zero-driver-array FIELDED path prunes too (MaxScore with
    the path field's upper bound folded into 'max help elsewhere') — a
    hot+rare query skips most hot body blocks while staying bitwise
    equal to the driver FieldedEngine and the unpruned path, in plain
    and rounded regimes; a query whose PATH term matches every doc
    degrades pruning but never correctness."""
    from engine import fields as FD

    pdf, out = hot_rare_setup
    fe = FD.FieldedEngine(SearchEngine(spark, out))
    # 'py' hits every doc's path; 'needle' is the rare body term
    for q in ("hot needle", "hot needle py"):
        for rounded in (False, True):
            want = fe.search(q, k=5, rounded=rounded)
            got = FD.search_big_fielded_federated(spark, [out], q, k=5,
                                                  rounded=rounded)
            assert got == want, (q, rounded)
            assert FD.search_big_fielded_federated(
                spark, [out], q, k=5, rounded=rounded,
                prune=False) == want, (q, rounded)
    # engagement on the pure body hot+rare shape: the hot list is 5000
    # postings in 40 blocks; only candidate-bearing blocks survive
    FD.search_big_fielded_federated(spark, [out], "hot needle", k=5)
    stats = FD.last_fielded_prune_stats
    assert stats["pruned_terms"] >= 1, stats
    assert stats["postings_skipped"] >= 5000 - 6 * 128, stats
    assert stats["postings_emitted"] + stats["postings_skipped"] == \
        stats["postings_total"]
    # filters/NOT compose with the pruned traversal exactly
    want = fe.search("hot needle", k=5, filters={"lang": "python"},
                     not_terms=["w3"])
    got = FD.search_big_fielded_federated(spark, [out], "hot needle", k=5,
                                          filters={"lang": "python"},
                                          not_terms=["w3"])
    assert got == want
    assert FD.search_big_fielded_federated(spark, [out], "hot needle",
                                           k=5, prune=False,
                                           filters={"lang": "python"},
                                           not_terms=["w3"]) == want
