"""More-like-this (engine/mlt.py): term vectors from the built index,
interesting-term expansion, ranked-OR similarity with source-doc drop —
all against brute-force oracles over the fixture corpus, and bitwise
equal across driver and big regimes and the HTTP endpoint."""

import json
import math
import os
import threading
import urllib.request

import pytest

from engine.mlt import (
    DOC_TERMS_M,
    MLT_QUERY_TERMS,
    ensure_doc_terms,
    mlt_terms,
    more_like_this,
    more_like_this_federated,
)
from engine.query import SearchEngine
from engine.server import SearchService, make_server
from engine.tokenizer import tokenize


@pytest.fixture(scope="module")
def prepared(spark, built_index):
    out, _man = built_index
    ensure_doc_terms(spark, out)
    return out


@pytest.fixture(scope="module")
def engine(spark, prepared):
    return SearchEngine(spark, prepared)


def _brute_vectors(pdf, top_m=DOC_TERMS_M):
    """doc_id -> {term: tf} truncated to the stored top-M rule."""
    out = {}
    for r in pdf.itertuples():
        tf = {}
        for t in tokenize(r.content):
            tf[t] = tf.get(t, 0) + 1
        keep = sorted(tf.items(), key=lambda kv: (-kv[1], kv[0]))[:top_m]
        out[int(r.doc_id)] = dict(keep)
    return out


def _brute_df(pdf):
    df = {}
    for r in pdf.itertuples():
        for t in set(tokenize(r.content)):
            df[t] = df.get(t, 0) + 1
    return df


def test_doc_terms_stage_matches_brute_force(spark, prepared,
                                             fixture_corpus_pdf):
    got = (spark.read.parquet(os.path.join(prepared, "doc_terms"))
           .toPandas())
    by_doc = {}
    for d, t, tf in zip(got["doc_id"], got["term"], got["tf"]):
        by_doc.setdefault(int(d), {})[t] = int(tf)
    assert by_doc == _brute_vectors(fixture_corpus_pdf)


def test_interesting_terms_match_brute_force(spark, prepared, engine,
                                             fixture_corpus_pdf):
    vecs = _brute_vectors(fixture_corpus_pdf)
    dfs = _brute_df(fixture_corpus_pdf)
    n = len(fixture_corpus_pdf)
    doc = sorted(vecs)[len(vecs) // 3]

    def w(t):
        return vecs[doc][t] * math.log(
            (n - dfs[t] + 0.5) / (dfs[t] + 0.5) + 1.0)

    want = sorted(sorted(vecs[doc], key=lambda t: (-w(t), t))
                  [:MLT_QUERY_TERMS])  # selection ranked, result sorted
    got_doc, got = mlt_terms(spark, prepared, doc)
    assert got_doc == doc and got == want


def test_mlt_equals_expansion_search_minus_source(spark, prepared, engine):
    doc = int(engine._ext_ids[7])
    _d, terms = mlt_terms(spark, prepared, doc)
    assert len(terms) == MLT_QUERY_TERMS
    got = more_like_this(engine, doc, k=10)
    want = [(i + 1, d, s) for i, (_r, d, s) in enumerate(
        r for r in engine.search(" ".join(terms), k=11) if r[1] != doc)][:10]
    assert got == want
    assert all(d != doc for _r, d, _s in got)
    assert [r for r, _d, _s in got] == list(range(1, len(got) + 1))


def test_mlt_big_bitwise_equal(spark, prepared, engine):
    for doc in map(int, engine._ext_ids[[3, 19]]):
        want = more_like_this(engine, doc, k=8)
        got = more_like_this_federated(spark, [prepared], doc, k=8)
        assert got == want, doc


def test_mlt_top_hit_shares_vocabulary(spark, prepared, engine,
                                       fixture_corpus_pdf):
    """Sanity: the best match shares interesting terms with the source."""
    doc = int(engine._ext_ids[0])
    _d, terms = mlt_terms(spark, prepared, doc)
    got = more_like_this(engine, doc, k=3)
    assert got
    by_id = {int(r.doc_id): r.content for r in
             fixture_corpus_pdf.itertuples()}
    hit_toks = set(tokenize(by_id[got[0][1]]))
    assert hit_toks & set(terms)


def test_mlt_unknown_doc_and_missing_stage(spark, prepared, engine,
                                           tmp_path, fixture_corpus_pdf):
    with pytest.raises(ValueError, match="unknown doc_id"):
        more_like_this(engine, 123456789, k=5)
    # an index without the stage raises with the ensure one-liner
    from engine.corpus import corpus_to_spark
    from engine.index_build import build_index
    bare = str(tmp_path / "bare")
    build_index(spark, corpus_to_spark(
        spark, fixture_corpus_pdf.iloc[:20].reset_index(drop=True)),
        bare, n_salts=4, partitions=4)
    eng = SearchEngine(spark, bare)
    with pytest.raises(ValueError, match="ensure_doc_terms"):
        more_like_this(eng, int(eng._ext_ids[0]), k=5)


def test_mlt_http_endpoint(spark, prepared, engine):
    service = SearchService(spark, prepared)
    srv = make_server(service, port=0)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    try:
        doc = int(engine._ext_ids[7])
        with urllib.request.urlopen(f"{base}/mlt?doc_id={doc}&k=5",
                                    timeout=30) as resp:
            got = json.loads(resp.read().decode())
        want = more_like_this(service.engine, doc, k=5)
        assert [h["rank_score"] for h in got] == [s for _, _, s in want]
        assert all(set(h) == {"url", "rank_score", "title", "body"}
                   for h in got)
        with pytest.raises(urllib.error.HTTPError) as ei:
            urllib.request.urlopen(f"{base}/mlt?doc_id=999999999&k=5",
                                   timeout=30)
        assert ei.value.code == 400
    finally:
        srv.shutdown()
