"""Regex search (engine/regex_query.py).

Three layers:
1. token-space parity: tokenize_with_offsets/token_spans emit exactly
   tokenize()'s term list (the offsets bridge must never drift from the
   index term space).
2. literal-analysis SOUNDNESS (the load-bearing property): for any text
   whose document model matches a pattern (judged by the ``regex`` module
   the verify pass runs — ``re`` can backtrack for minutes on generated
   nested quantifiers), every required clause is
   satisfied by the text's token set — pruning may never lose a match.
   Property-tested over adversarial generated texts (tags, camelCase,
   underscores, token fragments).
3. e2e on the real index: pruned result == unpruned full-scan result ==
   a pure-Python re oracle, for patterns that prune, patterns that can't,
   and patterns with disjunctive requirements; plus: pruning actually
   prunes (candidate frame smaller than the corpus).
"""

import re

import pytest
import regex
from hypothesis import given, settings, strategies as st

from engine.regex_query import (regex_candidates, regex_search_federated,
                                required_clauses)
from engine.tokenizer import tokenize, tokenize_with_offsets

# patterns over the fixture corpus vocabulary (code-ish keywords +
# identifier_N), chosen to cover: conjunctive literals, \b anchors,
# parser-hoisted alternation, charset-folded alternation ([rz]-style),
# optional groups, classes (unprunable), case-insensitive (unprunable)
E2E_PATTERNS = [
    r"\bdef identifier_41\b",
    r"return (new|self)\b",
    r"\bstatic function identifier_\d+",
    r"(class|struct) def\b",
    r"identifier_8[05] range",
    r"void identifier_\w+ string",
    r"print\nidentifier_79",
    r"[a-z]+_\d+",            # no requirement -> full-scan fallback
    r"(?i)STATIC FUNCTION",   # icase w/o boundary proofs -> full scan
    r"zzz_not_in_corpus\b",   # prunable, empty result
    r"(?i)\bIDENTIFIER_41\b",   # icase WITH boundary proofs -> prunable
    r"(?i)\bRANGE\b (if|FOR)",  # icase variant clauses + branch
]

_TAG = re.compile(r"<[^>]*>")


def _model(text: str) -> str:
    return _TAG.sub(" ", text)


# ---------------------------------------------------------------- layer 1

TRICKY = [
    "", "a", "FooBar", "foo_bar", "a<b>c", "<div class='x'>hi</div>",
    "x<unclosed tag", "closed>y", "Foo1Bar2 baz__qux",
    "tabs\tand\nnewlines", "ALLCAPS MixedCase xX", "a<b<c>d>e",
]


def test_offsets_parity_fixture(fixture_corpus_pdf):
    for text in fixture_corpus_pdf["content"].head(200):
        spans = tokenize_with_offsets(text)
        assert [t for t, _, _ in spans] == tokenize(text)


@pytest.mark.parametrize("text", TRICKY)
def test_offsets_parity_tricky(text):
    spans = tokenize_with_offsets(text)
    assert [t for t, _, _ in spans] == tokenize(text)
    # spans index into a length-preserving model of the input
    for term, s, e in spans:
        assert 0 <= s < e <= len(text)


@settings(max_examples=200, deadline=None)
@given(st.text(alphabet="aB <>_.1\n", max_size=40))
def test_offsets_parity_hypothesis(text):
    assert [t for t, _, _ in tokenize_with_offsets(text)] == tokenize(text)


# ---------------------------------------------------------------- layer 2

SOUNDNESS_PATTERNS = E2E_PATTERNS + [
    r"\breturn new HashMap\b",
    r"(\bfoo\b|\bbarBaz\b) qux corge",
    r"foo\.(bar|baz)\(",
    r"x (aa|bb)+ y",
    r"def (\w+)_test\b",
    r"[gs]etattr\(",
    r"getOrCreateTable",
    r"(?:public|private) static\b",
    r"import (numpy|pandas) as",
    # camel-context propagation across node edges
    r"raise (Value|Type)Error\(",
    r"\b(get|set)Value\b",
    r"(get|set)Value",
    r"newHash(Map|Set)",
]

_WORDS = ["foo", "bar", "Baz", "qux", "corge", "aa", "bb", "def", "new",
          "Hash", "Map", "return", "static", "function", "identifier_41",
          "identifier_85", "range", "self", "class", "struct", "void",
          "print", "public", "private", "numpy", "pandas", "as", "import",
          "getattr", "setattr", "_test", "x", "y", "attr",
          "raise", "Value", "Type", "Error", "get", "set", "Set",
          "newHash", "Values", "GETValue"]


@settings(max_examples=300, deadline=None)
@given(st.lists(
    st.one_of(st.sampled_from(_WORDS + list("ab_ <>.xY(=\n") + [" "])),
    max_size=20).map("".join))
def test_required_clauses_sound(text):
    """If the document model matches, every clause holds on the tokens."""
    model = _model(text)
    toks = set(tokenize(text))
    for pat in SOUNDNESS_PATTERNS:
        if regex.search(pat, model, regex.V0):
            for clause in required_clauses(pat):
                assert any(set(alt) <= toks for alt in clause), \
                    (pat, text, clause, toks)


def test_required_clauses_shapes():
    # conjunction of interior + anchored-edge tokens
    got = {t for cl in required_clauses(r"\breturn new HashMap\b")
           for alt in cl for t in alt}
    assert got == {"return", "new", "hash", "map"}
    # parser-hoisted \b still reaches the branch alternatives
    cls = required_clauses(r"(\bfoo\b|\bbarBaz\b) qux corge")
    assert (frozenset({"foo"}),) not in cls  # foo only as an alternative
    assert any(len(cl) == 2 for cl in cls)
    # charset-folded alternation (parser turns bar|baz into ba[rz])
    assert any(len(cl) == 2 for cl in required_clauses(r"foo\.(bar|baz)\("))
    # unprunable shapes yield no clauses (fallback path)
    assert required_clauses(r"[a-z]+") == []
    assert required_clauses(r"(?i)FooBar") == []
    # repeated groups concatenate -> edge tokens must not be required
    assert required_clauses(r"x (aa|bb)+ y") == []
    # camelCase context propagates across node edges: the branch's
    # uppercase follower proves get/set's right boundary, the branch's
    # lowercase trail proves Value/Error's left boundary
    got = required_clauses(r"raise (Value|Type)Error\(")
    assert (frozenset({"error"}),) in got
    assert (frozenset({"type"}), frozenset({"value"})) in got or \
           (frozenset({"value"}), frozenset({"type"})) in got
    got = required_clauses(r"\b(get|set)Value\b")
    assert (frozenset({"value"}),) in got
    # ...but NOT without the anchors: getValues / xsetValue must match
    assert required_clauses(r"(get|set)Value") == []


def test_bad_pattern_raises():
    with pytest.raises(re.error):
        required_clauses(r"(unclosed")
    with pytest.raises(re.error):
        regex_search_federated(None, None, None, r"[bad")


_ATOMS = ["foo", "bar", "Baz", "get", "Set", "Value", "new", "x", "_",
          " ", r"\w+", "[rz]", "(aa|bb)", r"\b", ".", "<", ">", "9"]


@st.composite
def _patterns(draw):
    """Random valid patterns from a small grammar: concatenations of
    atoms, with optional grouping/alternation/repetition wrappers."""
    n = draw(st.integers(1, 6))
    parts = []
    for _ in range(n):
        p = draw(st.sampled_from(_ATOMS))
        wrap = draw(st.integers(0, 5))
        if wrap == 1:
            p = f"({p})"
        elif wrap == 2:
            p = f"({p})?"
        elif wrap == 3 and p not in (r"\b",):
            p = f"(?:{p})+"
        parts.append(p)
    return "".join(parts)


@settings(max_examples=300, deadline=None)
@given(pat=_patterns(),
       text=st.lists(st.sampled_from(
           _WORDS + list("aB <>_.x(")), max_size=15).map("".join))
def test_generated_patterns_sound(pat, text):
    """For ANY grammar-generated pattern: analysis never crashes, is
    deterministic, and its clauses hold on every matching text."""
    cls = required_clauses(pat)
    assert cls == required_clauses(pat)
    if regex.search(pat, _model(text), regex.V0):
        toks = set(tokenize(text))
        for clause in cls:
            assert any(set(alt) <= toks for alt in clause), \
                (pat, text, clause, toks)


# ---------------------------------------------------------------- layer 3

@pytest.fixture(scope="module")
def source_df(spark, fixture_corpus_pdf):
    from engine.corpus import corpus_to_spark
    return corpus_to_spark(spark, fixture_corpus_pdf).select(
        "doc_id", "content")


@pytest.mark.parametrize("pattern", E2E_PATTERNS)
def test_regex_search_matches_oracle(spark, built_index, source_df,
                                     fixture_corpus_pdf, pattern):
    idx, _ = built_index
    got = {r["doc_id"] for r in
           regex_search_federated(spark, [idx], source_df,
                                  pattern).collect()}
    unpruned = {r["doc_id"] for r in
                regex_search_federated(spark, [idx], source_df, pattern,
                                       prune=False).collect()}
    rx = re.compile(pattern)
    want = {int(d) for d, c in zip(fixture_corpus_pdf["doc_id"],
                                   fixture_corpus_pdf["content"])
            if rx.search(_model(c))}
    assert got == want
    assert unpruned == want


def test_pruning_actually_prunes(spark, built_index, fixture_corpus_pdf):
    idx, _ = built_index
    n_docs = len(fixture_corpus_pdf)
    cands = regex_candidates(spark, idx, r"\bstatic function identifier_1\b")
    assert cands is not None
    n_cands = cands.count()
    assert 0 < n_cands < n_docs / 2  # the index did real work
    # and the unprunable shapes report so instead of a fake candidate set
    assert regex_candidates(spark, idx, r"[a-z]+") is None
    assert regex_candidates(spark, idx, r"(?i)static") is None


@pytest.fixture(scope="module")
def regex_served(spark, built_index, source_df, tmp_path_factory):
    import threading

    from engine.server import SearchService, make_server
    idx, _ = built_index
    src = str(tmp_path_factory.mktemp("regex_src") / "corpus")
    source_df.write.parquet(src)
    service = SearchService(spark, idx, source_path=src)
    srv = make_server(service, port=0)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()


def test_regex_endpoint(regex_served, spark, built_index, source_df,
                        fixture_corpus_pdf):
    import json
    import urllib.parse
    import urllib.request
    pattern = r"\bdef identifier_41\b"
    url = (f"{regex_served}/regex?k=50&pattern="
           f"{urllib.parse.quote(pattern)}")
    with urllib.request.urlopen(url, timeout=60) as resp:
        assert resp.headers["Access-Control-Allow-Origin"] == "*"
        hits = json.loads(resp.read().decode())
    rx = re.compile(pattern)
    want = sorted(int(d) for d, c in zip(fixture_corpus_pdf["doc_id"],
                                         fixture_corpus_pdf["content"])
                  if rx.search(_model(c)))[:50]
    assert [h["doc_id"] for h in hits] == want
    by_id = {r.doc_id: r for r in fixture_corpus_pdf.itertuples()}
    for h in hits:
        src = by_id[h["doc_id"]]
        assert h["url"] == f"{src.repo}/{src.path}@{src.commit}"
        assert h["title"] == src.path.split("/")[-1]


def test_regex_endpoint_errors(regex_served, spark, built_index):
    import urllib.error
    import urllib.request

    from engine.server import SearchService, make_server
    for bad in ("/regex?pattern=", "/regex?pattern=%28unclosed",
                "/regex?pattern=x&k=abc"):
        with pytest.raises(urllib.error.HTTPError) as e:
            urllib.request.urlopen(f"{regex_served}{bad}", timeout=60)
        assert e.value.code == 400
    # a service without a registered source refuses with a clear message
    idx, _ = built_index
    svc = SearchService(spark, idx)
    with pytest.raises(ValueError, match="--source"):
        svc.regex_payload(r"\bx\b")


def test_regex_endpoint_answers_nested_quantifiers(regex_served):
    """A nested-quantifier pattern that makes ``re`` backtrack
    exponentially on long word runs answers within the request deadline
    (the verify pass runs the ``regex`` module)."""
    import json
    import urllib.parse
    import urllib.request
    pattern = urllib.parse.quote(r"(?:\w+)+(?:\w+)+<")
    url = f"{regex_served}/regex?pattern={pattern}"
    with urllib.request.urlopen(url, timeout=30) as resp:
        assert resp.status == 200
        assert isinstance(json.loads(resp.read().decode()), list)


def test_regex_verify_timeout_is_a_400(spark, built_index, tmp_path,
                                       fixture_corpus_pdf):
    """A pattern whose backtracking outlasts the per-document verify
    budget fails the request with a 400 naming the cause — the document
    is never silently dropped. The source rows carry served doc ids: /regex
    verifies the index's docs only."""
    import json
    import threading
    import urllib.error
    import urllib.parse
    import urllib.request

    from engine.regex_query import TOO_EXPENSIVE
    from engine.server import SearchService, make_server
    idx, _ = built_index
    src = str(tmp_path / "src")
    slow, plain = (int(d) for d in fixture_corpus_pdf["doc_id"].iloc[:2])
    spark.createDataFrame([(slow, "a" * 40 + "b"), (plain, "plain text")],
                          "doc_id long, content string").write.parquet(src)
    srv = make_server(SearchService(spark, idx, source_path=src), port=0)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        url = (f"http://127.0.0.1:{srv.server_address[1]}/regex?pattern="
               f"{urllib.parse.quote('(a|aa)+$')}")
        with pytest.raises(urllib.error.HTTPError) as e:
            urllib.request.urlopen(url, timeout=60)
        assert e.value.code == 400
        assert TOO_EXPENSIVE in json.loads(e.value.read().decode())["error"]
    finally:
        srv.shutdown()


def test_empty_and_zero_row_source(spark, built_index, source_df):
    idx, _ = built_index
    # prunable pattern with an empty candidate set: no verify scan needed,
    # still returns a well-formed empty frame
    out = regex_search_federated(spark, [idx], source_df,
                                 r"zzz_not_in_corpus\b")
    assert out.count() == 0 and out.columns == ["doc_id"]
    # zero-row source through the mapInPandas verify path
    out2 = regex_search_federated(spark, [idx], source_df.limit(0),
                                  r"[a-z]+")
    assert out2.count() == 0


# ------------------------------------------------- federated NRT regex

def test_regex_federated_nrt_with_tombstone(spark, tmp_path):
    """VERDICT r4 #2: /regex over the NRT federation — a freshly ingested
    (uncompacted) doc is regex-visible, a tombstoned doc is not, and the
    result set equals the single-index search on a monolithic batch
    index of the same docs minus the tombstone. Per-segment candidate
    pruning must actually engage (the pattern has selective required
    terms in every segment)."""
    import os

    from engine.corpus import corpus_to_spark, make_corpus
    from engine.deletes import delete_docs
    from engine.index_build import build_index
    from engine.regex_query import regex_search_federated
    from engine.server import FederatedSearchService, SearchService
    from engine.streaming import compact_incremental
    from engine.tokenizer import tokenize
    from tests.test_incremental_compact import _ingest_wave

    pdf = make_corpus(180, seed=61)
    wave1, wave2 = pdf.iloc[:110], pdf.iloc[110:]

    # a mid-frequency identifier present in BOTH waves (>=2 matches in
    # wave 1 so one can be tombstoned and one survives)
    tok = None
    for k in range(10, 80):
        cand = f"identifier_{k}"
        n1 = wave1["content"].str.contains(cand + r"\b").sum()
        n2 = wave2["content"].str.contains(cand + r"\b").sum()
        if n1 >= 2 and n2 >= 1:
            tok = cand
            break
    assert tok is not None, "corpus draw lacks a shared mid-freq token"
    pattern = rf"\b{tok}\b"

    src, work, out = (str(tmp_path / d) for d in ("src", "work", "out"))
    os.makedirs(src)
    _ingest_wave(spark, wave1, src, work)
    compact_incremental(spark, work, out, partitions=4)
    _ingest_wave(spark, wave2, src, work)

    m1 = wave1[wave1["content"].str.contains(pattern)]
    seed = int(m1["doc_id"].iloc[0])
    delete_docs(work, [seed])

    src_pq = str(tmp_path / "corpus_pq")
    corpus_to_spark(spark, pdf).write.parquet(src_pq)

    batch = str(tmp_path / "batch")
    build_index(spark, corpus_to_spark(spark, pdf), batch,
                n_salts=8, partitions=4)
    ref = SearchService(spark, batch, big=True, source_path=src_pq)
    fed = FederatedSearchService(spark, work_dir=work, out_dir=out,
                                 partitions=4, source_path=src_pq)
    assert len(fed.index_dirs) == 2
    assert fed._view.excludes is not None  # the tombstone actually loaded

    # per-segment pruning engaged: every member derives a candidate frame
    for d in fed.index_dirs:
        assert regex_candidates(spark, d, pattern) is not None, d

    got = fed.regex_payload(pattern, k=250)
    want = [r for r in ref.regex_payload(pattern, k=250)
            if r["doc_id"] != seed]
    assert got == want
    got_ids = {r["doc_id"] for r in got}
    assert seed not in got_ids
    fresh = set(wave2.loc[wave2["content"].str.contains(pattern),
                          "doc_id"].astype(int))
    assert fresh and fresh <= got_ids, "uncompacted docs must be visible"

    # the library-level frame agrees with an unpruned full federated scan
    corpus_df = spark.read.parquet(src_pq).select(
        "doc_id", "content")
    pruned = regex_search_federated(spark, fed.index_dirs, corpus_df,
                                    pattern, excludes=fed._view.excludes)
    full = regex_search_federated(spark, fed.index_dirs, corpus_df,
                                  pattern, excludes=fed._view.excludes,
                                  prune=False)
    assert sorted(r["doc_id"] for r in pruned.collect()) == \
        sorted(r["doc_id"] for r in full.collect()) == sorted(got_ids)
    fed.close()
    ref.close()


# ------------------------------------------- re.IGNORECASE analysis (r5)

ICASE_PATTERNS = [
    r"(?i)\berror\b",
    r"(?i)\bNEEDLEZZ\b",
    r"(?i)\bfoo_bar\b",
    r"(?i)\b42\b",
    r"(?i)\b123x\b",
    r"(?i)error|fatal",          # no boundary proofs -> no clauses
    r"(?i)\b(foo|barbaz)_qux\b",
    r"(?i:foo_bar)\b Baz",       # scoped (?i:) group
    r"\bValue\b(?i: error\b)",   # mixed-case / scoped-icase sequence
    r"(?i)\bident\b",            # İ/ı equivalence territory
    r"(?i)\bstatic\b",           # ſ equivalence territory
    r"(?i)\bİtem\b",             # multi-char lower() İ IN THE PATTERN
    r"(?i)error İtem\b",         # İ adjacent to a provable segment
]

#: texts with hostile case mappings: camel-splitting case flips, the
#: re.I-equivalent exotics (İ ı ſ K-Kelvin), mixed snake/camel
_ICASE_TEXTS = _WORDS + [
    "ERRor", "erROR", "ErRoR", "İdent", "ıdent", "IDENT", "ſtatic",
    "STATIC", "StAtIc", "NEEDLEZZ", "nEeDlEzZ", "FOO_bar", "foo_BAR",
    "BARBAZ_QUX", "barBaz_Qux", "42", "123X", "x42x", "a123Xb",
    "error", "fatal", "FATAL", "Value ERROR", "Kelvin",
    "item", "İtem", "i̇tem", "error item", "ERROR İTEM",
]


#: the one (pattern, text) pair of the fixed lists where ``re`` and
#: ``regex`` disagree: under IGNORECASE ``re`` also equates 'i' with the
#: dotless 'ı' (its extra case equivalences), ``regex`` folds by Unicode
#: simple case folding, where 'ı' stays apart from 'i'
RE_ONLY_MATCH = (r"(?i)\bident\b", "ıdent")


def test_re_and_regex_agree_on_fixed_lists():
    """The verify pass runs ``regex`` (VERSION0) where the analysis reasons
    in ``re`` semantics: on every fixed pattern x fixed text pair (where
    ``re`` terminates) both find the same first match, the İ/ı/ſ/Kelvin
    rows included — except where a text holds the pinned RE_ONLY_MATCH."""
    texts = [_model(t) for t in TRICKY + _ICASE_TEXTS]
    texts += [a + " " + b for a in texts for b in texts[:30]]
    differ = set()
    for pat in SOUNDNESS_PATTERNS + ICASE_PATTERNS:
        for text in texts:
            a = re.search(pat, text)
            b = regex.search(pat, text, regex.V0)
            if (a and a.span()) != (b and b.span()):
                differ.add((pat, text))
    pat, word = RE_ONLY_MATCH
    assert (pat, word) in differ
    assert all(p == pat and word in t for p, t in differ), differ


def test_icase_multichar_lower_pattern_literal_is_opaque():
    """r5 review: 'İ'.lower() is 2 chars ('i' + combining dot) and under
    re.I the literal İ ALSO matches bare 'i' — so a pattern-İ must not
    fabricate an 'i' term requirement or a fake boundary at the combining
    mark. The İ node is opaque; neighboring proven segments keep their
    clauses; a document matching via plain 'item' must satisfy every
    clause."""
    assert required_clauses(r"(?i)\bİtem") == []
    cls = required_clauses(r"(?i)\berror İtem\b")
    toks = {"error", "item"}  # tokenize(' error item ')
    assert cls, "the provable 'error' segment must still emit clauses"
    for clause in cls:
        assert any(set(alt) <= toks for alt in clause), clause


@settings(max_examples=300, deadline=None)
@given(st.lists(st.sampled_from(_ICASE_TEXTS + list("aB <>_.xı ")),
                max_size=12).map(" ".join))
def test_icase_clauses_sound(text):
    """re.I soundness: any document whose model matches an icase pattern
    satisfies every derived clause — across camel-hostile case mappings
    AND the re.I equivalence exotics (İ ı ſ Kelvin-K)."""
    model = _model(text)
    toks = set(tokenize(text))
    for pat in ICASE_PATTERNS:
        if regex.search(pat, model, regex.V0):
            for clause in required_clauses(pat):
                assert any(set(alt) <= toks for alt in clause), \
                    (pat, text, clause, toks)


@settings(max_examples=200, deadline=None)
@given(pat=_patterns(),
       text=st.lists(st.sampled_from(
           _ICASE_TEXTS + list("aB <>_.x(ı")), max_size=12).map("".join))
def test_generated_icase_patterns_sound(pat, text):
    """Grammar-generated patterns under a global (?i): analysis never
    crashes, is deterministic, and stays sound on hostile-case texts."""
    pat = "(?i)" + pat
    cls = required_clauses(pat)
    assert cls == required_clauses(pat)
    if regex.search(pat, _model(text), regex.V0):
        toks = set(tokenize(text))
        for clause in cls:
            assert any(set(alt) <= toks for alt in clause), \
                (pat, text, clause, toks)


def test_icase_clause_shapes():
    # boundary-proven icase literal: prefix + suffix variant disjunctions
    cls = required_clauses(r"(?i)\bneedlezz\b")
    assert len(cls) == 2
    flat = [{next(iter(a)) for a in cl} for cl in cls]
    assert {"n", "ne", "nee", "need", "needl", "needle", "needlez",
            "needlezz"} <= (flat[0] | flat[1])
    assert {"needlezz", "eedlezz", "z", "zz"} <= (flat[0] | flat[1])
    # digits-only segment: exact single term (cannot case-vary or split)
    assert (frozenset(["42"]),) in required_clauses(r"(?i)\b42\b")
    # the İ/ı equivalences ride along for i-containing prefixes
    cls = required_clauses(r"(?i)\bif_x\b")
    alts = {next(iter(a)) for cl in cls for a in cl}
    assert {"i", "ı", "i̇", "if"} <= alts
    # without boundary proofs: nothing (the unsound cases of r4)
    assert required_clauses(r"(?i)error|fatal") == []
    assert required_clauses(r"(?i)FooBar") == []


def test_icase_pruning_engages(spark, built_index, fixture_corpus_pdf):
    """VERDICT r4 #6 done-criterion: a (?i)-flagged rare-literal pattern
    hits the CANDIDATES path (not the full scan) with matches == full
    scan == the python-re oracle."""
    idx, _ = built_index
    pat = r"(?i)\bIDENTIFIER_41\b"
    cands = regex_candidates(spark, idx, pat)
    assert cands is not None, "icase pattern must prune now"
    n_docs = len(fixture_corpus_pdf)
    assert 0 < cands.count() < n_docs / 2
