"""Positional index + exact-phrase search: results must equal a sequential
Python oracle (tokenize each doc, scan for the exact token subsequence),
ranked by occurrence count desc then doc_id asc."""

import os

import numpy as np
import pytest

from engine.positions import (
    PhraseEngine,
    build_positions,
    near_terms,
    search_positional_federated,
)
from engine.tokenizer import tokenize


@pytest.fixture(scope="module")
def phrase_engine(spark, built_index, fixture_corpus_pdf):
    out, _man = built_index
    from engine.corpus import corpus_to_spark
    build_positions(spark, corpus_to_spark(spark, fixture_corpus_pdf),
                    out, n_salts=4, partitions=4)
    return PhraseEngine(out)


def _oracle(pdf, phrase, k=10):
    terms = tokenize(phrase)
    hits = []
    for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
        toks = tokenize(content)
        n = sum(1 for i in range(len(toks) - len(terms) + 1)
                if toks[i:i + len(terms)] == terms)
        if n:
            hits.append((int(doc_id), n))
    hits.sort(key=lambda x: (-x[1], x[0]))
    return [(i + 1, d, n) for i, (d, n) in enumerate(hits[:k])]


def test_phrases_match_oracle(phrase_engine, fixture_corpus_pdf):
    checked = 0
    for phrase in ["def return", "class self", "value index",
                   "return return", "import def value"]:
        got = phrase_engine.search_phrase(phrase, k=10)
        want = _oracle(fixture_corpus_pdf, phrase, k=10)
        assert got == want, phrase
        checked += len(want)
    assert checked > 0  # the fixture corpus must actually contain phrases


def test_single_term_phrase_counts_occurrences(phrase_engine,
                                               fixture_corpus_pdf):
    got = phrase_engine.search_phrase("def", k=5)
    assert got == _oracle(fixture_corpus_pdf, "def", k=5)
    assert got and all(n >= 1 for _, _, n in got)


def test_absent_term_empty(phrase_engine):
    assert phrase_engine.search_phrase("zzz_not_a_token def", k=5) == []
    assert phrase_engine.search_phrase("", k=5) == []


def test_phrase_tokenizer_consistency(phrase_engine, fixture_corpus_pdf):
    """camelCase/punctuation normalize identically on both sides."""
    got = phrase_engine.search_phrase("defReturn", k=10)  # -> "def return"
    assert got == _oracle(fixture_corpus_pdf, "def return", k=10)


def test_positions_decode_roundtrip(spark, phrase_engine):
    """Every stored row decodes to sorted ordinals, counts matching the
    position segment lengths, and in-doc ascending positions."""
    from engine.positions import decode_position_row
    rows = (spark.read.parquet(os.path.join(phrase_engine.index_dir,
                                            "positions"))
            .limit(50).collect())
    assert rows
    for r in rows:
        ords, counts, pos = decode_position_row(
            bytes(r["ords"]), bytes(r["counts"]), bytes(r["pos"]))
        assert len(ords) == r["df"] == len(counts)
        assert (np.diff(ords) > 0).all() if len(ords) > 1 else True
        assert counts.sum() == len(pos)
        starts = np.concatenate(([0], np.cumsum(counts[:-1])))
        for s, c in zip(starts, counts):  # test-only loop
            seg = pos[s:s + c]
            assert (np.diff(seg) > 0).all() if c > 1 else True


def test_distributed_phrase_equals_driver(spark, phrase_engine,
                                          fixture_corpus_pdf):
    dirs = [phrase_engine.index_dir]
    for phrase in ["def return", "class self", "return return", "def"]:
        assert search_positional_federated(spark, dirs, tokenize(phrase),
                                           k=10) == \
            phrase_engine.search_phrase(phrase, k=10), phrase
    assert search_positional_federated(spark, dirs,
                                       tokenize("zzz_nope def"), k=5) == []


# ------------------------------------------------------- NEAR/slop queries

def _near_oracle(pdf, t1, t2, slop, k=10):
    """Sequential oracle: count positions i with toks[i]==t1 and some
    toks[j]==t2, i < j <= i+slop."""
    hits = []
    for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
        toks = tokenize(content)
        n = sum(1 for i, t in enumerate(toks) if t == t1
                and any(toks[j] == t2
                        for j in range(i + 1, min(i + slop, len(toks) - 1)
                                       + 1)))
        if n:
            hits.append((int(doc_id), n))
    hits.sort(key=lambda x: (-x[1], x[0]))
    return [(i + 1, d, n) for i, (d, n) in enumerate(hits[:k])]


def test_near_matches_oracle(phrase_engine, fixture_corpus_pdf):
    checked = 0
    for t1, t2, slop in [("def", "return", 3), ("class", "self", 2),
                         ("value", "index", 4), ("return", "return", 2),
                         ("def", "def", 5)]:
        got = phrase_engine.search_near(t1, t2, slop=slop, k=10)
        want = _near_oracle(fixture_corpus_pdf, t1, t2, slop, k=10)
        assert got == want, (t1, t2, slop)
        checked += len(want)
    assert checked > 0


def test_near_slop1_equals_exact_bigram(phrase_engine):
    """NEAR/1 is exact adjacency — must agree with the phrase path."""
    for t1, t2 in [("def", "return"), ("class", "self")]:
        assert phrase_engine.search_near(t1, t2, slop=1, k=10) == \
            phrase_engine.search_phrase(f"{t1} {t2}", k=10), (t1, t2)


def test_near_distributed_equals_driver(spark, phrase_engine):
    dirs = [phrase_engine.index_dir]
    for t1, t2, slop in [("def", "return", 3), ("return", "return", 2),
                         ("value", "index", 4)]:
        assert search_positional_federated(spark, dirs, near_terms(t1, t2),
                                           slop=slop, k=10) == \
            phrase_engine.search_near(t1, t2, slop=slop, k=10), (t1, t2)
    assert search_positional_federated(spark, dirs,
                                       near_terms("zzz_nope", "def"),
                                       slop=3, k=5) == []


def test_near_edge_cases(phrase_engine):
    assert phrase_engine.search_near("def", "return", slop=0, k=5) == []
    assert phrase_engine.search_near("def", "return", slop=1, k=0) == []
    assert phrase_engine.search_near("zzz_nope", "def", slop=2, k=5) == []
    assert phrase_engine.search_near("def return", "self", slop=2,
                                     k=5) == []  # multi-token side rejected


def _sloppy_oracle(pdf, phrase, slop, k=10):
    """Sequential oracle: positions p_0 < ... < p_{m-1} of the phrase
    terms in order with every consecutive gap <= slop; n_occ = distinct
    valid starting positions."""
    terms = tokenize(phrase)
    m = len(terms)
    hits = []
    for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
        toks = tokenize(content)
        valid = {i for i, t in enumerate(toks) if t == terms[m - 1]}
        for j in range(m - 2, -1, -1):
            valid = {i for i, t in enumerate(toks) if t == terms[j]
                     and any(i + d in valid for d in range(1, slop + 1))}
        if valid:
            hits.append((int(doc_id), len(valid)))
    hits.sort(key=lambda x: (-x[1], x[0]))
    return [(i + 1, d, n) for i, (d, n) in enumerate(hits[:k])]


def test_sloppy_phrase_matches_oracle(phrase_engine, fixture_corpus_pdf):
    checked = 0
    for phrase, slop in [("def return", 3), ("class self", 2),
                         ("def value return", 4), ("import def value", 3),
                         ("return return", 2)]:
        got = phrase_engine.search_phrase_sloppy(phrase, slop=slop, k=10)
        want = _sloppy_oracle(fixture_corpus_pdf, phrase, slop, k=10)
        assert got == want, (phrase, slop)
        checked += len(want)
    assert checked > 0


def test_sloppy_slop1_equals_exact_phrase(phrase_engine):
    for phrase in ["def return", "class self", "import def value"]:
        assert phrase_engine.search_phrase_sloppy(phrase, slop=1, k=10) == \
            phrase_engine.search_phrase(phrase, k=10), phrase


def test_sloppy_distributed_equals_driver(spark, phrase_engine):
    dirs = [phrase_engine.index_dir]
    for phrase, slop in [("def return", 3), ("def value return", 4),
                         ("return return", 2)]:
        assert search_positional_federated(spark, dirs, tokenize(phrase),
                                           slop=slop, k=10) == \
            phrase_engine.search_phrase_sloppy(phrase, slop=slop, k=10), \
            (phrase, slop)
    assert search_positional_federated(spark, dirs,
                                       tokenize("zzz_nope def"), slop=3,
                                       k=5) == []


# ---------------------------------------- kernel property tests (no Spark)

from hypothesis import given, settings
from hypothesis import strategies as st

from engine.positions import _SHIFT, _near_match


@st.composite
def _tiny_corpus(draw):
    n_docs = draw(st.integers(1, 5))
    return [draw(st.lists(st.sampled_from("abc"), min_size=0, max_size=12))
            for _ in range(n_docs)]


def _keys_of(docs, w):
    ks = [ordn * int(_SHIFT) + p
          for ordn, toks in enumerate(docs)
          for p, t in enumerate(toks) if t == w]
    return np.array(sorted(ks), dtype=np.int64)


@given(_tiny_corpus(), st.sampled_from("abc"), st.sampled_from("abc"),
       st.integers(1, 4))
@settings(max_examples=200, deadline=None)
def test_near_match_kernel_property(docs, w1, w2, slop):
    """_near_match == brute force on random tiny corpora: the set of w1
    composite keys with a w2 occurrence in (pos, pos+slop]."""
    k1, k2 = _keys_of(docs, w1), _keys_of(docs, w2)
    p2 = (k2 % int(_SHIFT)).astype(np.int64)
    got = set(_near_match(k1, k2, p2, slop).tolist())
    want = {ordn * int(_SHIFT) + i
            for ordn, toks in enumerate(docs)
            for i, t in enumerate(toks)
            if t == w1 and any(
                toks[j] == w2
                for j in range(i + 1, min(i + slop, len(toks) - 1) + 1))}
    assert got == want


@given(_tiny_corpus(),
       st.lists(st.sampled_from("abc"), min_size=2, max_size=3),
       st.integers(1, 4))
@settings(max_examples=200, deadline=None)
def test_sloppy_chain_kernel_property(docs, terms, slop):
    """The backward shifted-key chain == brute-force backward DP for the
    windowed-chain phrase semantics, on random tiny corpora."""
    keys = [_keys_of(docs, t) for t in terms]
    if any(kk.size == 0 for kk in keys):
        got = set()
    else:
        valid = keys[-1]
        for j in range(len(terms) - 2, -1, -1):
            pv = (valid % int(_SHIFT)).astype(np.int64)
            valid = _near_match(keys[j], valid, pv, slop)
        got = set(valid.tolist())
    want = set()
    for ordn, toks in enumerate(docs):
        vs = {i for i, t in enumerate(toks) if t == terms[-1]}
        for j in range(len(terms) - 2, -1, -1):
            vs = {i for i, t in enumerate(toks) if t == terms[j]
                  and any(i + d in vs for d in range(1, slop + 1))}
        want |= {ordn * int(_SHIFT) + i for i in vs}
    assert got == want


def test_lru_cache_bound_preserves_results(spark, built_index,
                                           phrase_engine):
    """A pathologically tiny cache budget (forcing constant eviction) must
    not change any result — the cache is an accelerator, never a
    correctness dependency (ADVICE r2: unbounded growth in serving)."""
    out, _man = built_index
    tiny = PhraseEngine(out, cache_max_blocks=1)
    full = phrase_engine
    for phrase in ["def return", "class self", "def"]:
        assert tiny.search_phrase(phrase, k=10) == \
            full.search_phrase(phrase, k=10), phrase
    for t1, t2, slop in [("def", "return", 3), ("value", "index", 4)]:
        assert tiny.search_near(t1, t2, slop=slop, k=10) == \
            full.search_near(t1, t2, slop=slop, k=10)
    assert len(tiny._blocks) <= 1


def test_single_scan_positions_byte_identical(spark, tmp_path):
    """build_index(with_positions=True) builds the positional store from
    the SAME single content scan as the tf index; its output must be
    byte-identical to the post-hoc build_positions content re-scan —
    including duplicate content aliased out, and in both broadcast
    regimes."""
    import engine.index_build as ib
    from engine.corpus import corpus_to_spark, make_corpus
    from engine.index_build import build_index
    from engine.positions import build_positions
    from tests.test_dedup import _with_duplicates
    from tests.test_streaming import _fingerprint, _pos_fingerprint

    pdf, _alias = _with_duplicates(make_corpus(220, seed=93), 18)
    corpus = corpus_to_spark(spark, pdf)

    a = str(tmp_path / "posthoc")
    build_index(spark, corpus, a, n_salts=4, partitions=4)
    build_positions(spark, corpus, a, n_salts=4, partitions=4)

    b = str(tmp_path / "integrated")
    build_index(spark, corpus, b, n_salts=4, partitions=4,
                with_positions=True)
    assert _fingerprint(spark, b) == _fingerprint(spark, a)
    assert _pos_fingerprint(spark, b) == _pos_fingerprint(spark, a)

    # beyond-broadcast regime: partitioned ordinal join path
    import pytest  # noqa: F401
    old = ib.BROADCAST_DOC_LIMIT
    try:
        ib.BROADCAST_DOC_LIMIT = 0
        c = str(tmp_path / "integrated_big")
        build_index(spark, corpus, c, n_salts=4, partitions=4,
                    with_positions=True)
    finally:
        ib.BROADCAST_DOC_LIMIT = old
    assert _pos_fingerprint(spark, c) == _pos_fingerprint(spark, a)


def test_single_scan_positions_phrase_serves(spark, tmp_path):
    """PhraseEngine over an integrated (single-scan) positional build must
    answer phrase queries identically to one over a post-hoc build."""
    from engine.corpus import corpus_to_spark, make_corpus
    from engine.index_build import build_index
    from engine.positions import PhraseEngine, build_positions

    pdf = make_corpus(150, seed=94)
    corpus = corpus_to_spark(spark, pdf)
    a = str(tmp_path / "ph_a")
    build_index(spark, corpus, a, n_salts=2, partitions=2)
    build_positions(spark, corpus, a, n_salts=2, partitions=2)
    b = str(tmp_path / "ph_b")
    build_index(spark, corpus, b, n_salts=2, partitions=2,
                with_positions=True)
    ea, eb = PhraseEngine(a), PhraseEngine(b)
    for q in ["join spark", "scan window", "slow fast", "order by key"]:
        assert eb.search_phrase(q, k=20) == ea.search_phrase(q, k=20)


# --------------------------- multi-block matching (no Spark, edge ordinals)

_BITS = 14  # POS_BLOCK_BITS
_EDGE_ORDS = [0, 5, (1 << _BITS) - 1, 1 << _BITS, (1 << _BITS) + 3,
              2 << _BITS, (2 << _BITS) + 1]
_N_SEG_DOCS = (2 << _BITS) + 2


def _ext_id(ordinal: int) -> int:
    return 3 * ordinal + 7  # monotone in the ordinal, like a real build


def _write_segment(root: str, docs: dict[int, list[str]]) -> None:
    """A minimal segment: the positions stage written row for row by the
    build's block emitter, and a docs stage of ordinal/doc_id/doc_len."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from engine.positions import POS_BLOCK_BITS, _emit_pos_blocks
    assert POS_BLOCK_BITS == _BITS
    occ: dict[str, list[tuple[int, int]]] = {}
    for o in sorted(docs):
        for p, t in enumerate(docs[o]):
            occ.setdefault(t, []).append((o, p))
    rows: list = []
    for t in sorted(occ):
        ords = np.array([o for o, _p in occ[t]], dtype=np.int64)
        pos = np.array([p for _o, p in occ[t]], dtype=np.int64)
        ids, counts = np.unique(ords, return_counts=True)
        _emit_pos_blocks(t, ids, counts.astype(np.int32), pos, rows)
    cols = list(zip(*rows)) if rows else [[]] * 7
    os.makedirs(os.path.join(root, "positions"))
    pq.write_table(pa.table({
        "term": pa.array(cols[0], pa.string()),
        "block": pa.array(cols[1], pa.int64()),
        "df": pa.array(cols[2], pa.int64()),
        "n": pa.array(cols[3], pa.int64()),
        "ords": pa.array(cols[4], pa.binary()),
        "counts": pa.array(cols[5], pa.binary()),
        "pos": pa.array(cols[6], pa.binary())}),
        os.path.join(root, "positions", "part-0.parquet"))
    ordinal = np.arange(_N_SEG_DOCS, dtype=np.int64)
    os.makedirs(os.path.join(root, "docs"))
    pq.write_table(pa.table({
        "ordinal": ordinal, "doc_id": _ext_id(ordinal),
        "doc_len": np.array([max(len(docs.get(o, [])), 1)
                             for o in range(_N_SEG_DOCS)], np.int64)}),
        os.path.join(root, "docs", "part-0.parquet"))


def _brute(docs, count) -> list[tuple[int, int, int]]:
    hits = [(_ext_id(o), n) for o, toks in docs.items() if (n := count(toks))]
    hits.sort(key=lambda x: (-x[1], x[0]))
    return [(i + 1, d, n) for i, (d, n) in enumerate(hits)]


def _brute_phrase(terms):
    m = len(terms)
    return lambda toks: sum(toks[i:i + m] == terms
                            for i in range(len(toks) - m + 1))


def _brute_chain(terms, slop):
    def count(toks):
        valid = {i for i, t in enumerate(toks) if t == terms[-1]}
        for j in range(len(terms) - 2, -1, -1):
            valid = {i for i, t in enumerate(toks) if t == terms[j]
                     and any(i + d in valid for d in range(1, slop + 1))}
        return len(valid)
    return count


def _brute_near(t1, t2, slop):
    return lambda toks: sum(t == t1 and t2 in toks[i + 1:i + 1 + slop]
                            for i, t in enumerate(toks))


@given(st.lists(st.lists(st.sampled_from("abc"), max_size=10),
                min_size=len(_EDGE_ORDS), max_size=len(_EDGE_ORDS)),
       st.lists(st.sampled_from("abc"), min_size=1, max_size=3),
       st.integers(1, 3))
@settings(max_examples=40, deadline=None)
def test_matcher_across_storage_blocks(tokens, terms, slop):
    """Phrase, sloppy and NEAR over docs in three storage blocks — the
    ordinals at both sides of each block edge (2^14-1, 2^14, 2·2^14) —
    equal a brute-force token scan, doc ids mapped through the segment."""
    import tempfile
    docs = dict(zip(_EDGE_ORDS, tokens))
    with tempfile.TemporaryDirectory() as root:
        _write_segment(root, docs)
        eng = PhraseEngine(root)
        k = len(docs)
        assert eng.topk(terms, None, k) == _brute(docs, _brute_phrase(terms))
        assert eng.topk(terms, slop, k) == \
            _brute(docs, _brute_chain(terms, slop))
        t1, t2 = terms[0], terms[-1]
        assert eng.search_near(t1, t2, slop=slop, k=k) == \
            _brute(docs, _brute_near(t1, t2, slop))
