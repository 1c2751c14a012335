"""Did-you-mean spell correction (engine/fuzzy.py correct_terms +
server /didyoumean): dictionary-missing query terms map to their best
ED<=1 dictionary replacement (df DESC, term ASC); known terms are never
second-guessed; stage and scan paths agree."""

import json
import os
import threading
import urllib.request

import pytest

from engine.fuzzy import (apply_corrections, correct_terms,
                          correct_terms_federated, ensure_fuzzy)
from engine.server import SearchService, make_server


@pytest.fixture(scope="module")
def idx(spark, built_index):
    out, _man = built_index
    ensure_fuzzy(spark, out)  # idempotent; stage path below
    return out, spark.read.parquet(os.path.join(out, "index"))


def test_corrects_missing_terms_only(spark, idx):
    out, index_df = idx
    corr = correct_terms(spark, out, ["retur", "claas", "def", "return"],
                         index_df=index_df)
    assert corr.get("retur") == "return"
    assert corr.get("claas") == "class"
    assert "def" not in corr and "return" not in corr


def test_no_candidate_terms_absent(spark, idx):
    out, index_df = idx
    corr = correct_terms(spark, out, ["qqqqzzzz"], index_df=index_df)
    assert corr == {}


def test_rank_rule_df_desc_term_asc(spark, idx):
    """'ler' has two ED-1 keyword candidates (let, len): the winner must
    be the higher-df one, term-asc on a df tie — computed from the real
    dictionary, not hardcoded."""
    out, index_df = idx
    cands = {r["term"]: r["df"] for r in
             index_df.where(index_df.term.isin(["let", "len"])).collect()}
    assert len(cands) == 2, "fixture corpus must contain let and len"
    want = sorted(cands, key=lambda t: (-cands[t], t))[0]
    corr = correct_terms(spark, out, ["ler"], index_df=index_df)
    assert corr["ler"] == want


def test_stage_equals_scan(spark, idx):
    out, index_df = idx
    missing = ["retur", "claas", "ler", "vod"]
    via_stage = correct_terms(spark, out, missing, index_df=index_df)
    via_scan = correct_terms_federated([index_df], missing)  # no dirs:
    # every member is scanned
    assert via_stage == via_scan


def test_apply_corrections_order_and_multiplicity():
    corr = {"retur": "return", "claas": "class"}
    assert apply_corrections("retur self retur claas", corr) == \
        "return self return class"
    assert apply_corrections("def self", corr) is None
    assert apply_corrections("", corr) is None


def test_federated_union_presence(spark, idx):
    """A term present in ANY segment is never corrected; dfs sum across
    segments before the rank rule."""
    _out, index_df = idx
    corr = correct_terms_federated([index_df, index_df],
                                   ["retur", "def"])
    assert corr == {"retur": "return"}


def test_dym_payload_both_regimes(spark, built_index):
    out, _man = built_index
    small = SearchService(spark, out)
    big = SearchService(spark, out, big=True)
    q = "lang:python retur claas -def"
    a, b = small.dym_payload(q), big.dym_payload(q)
    assert a == b == {"query": q, "did_you_mean": "return class"}
    ok = small.dym_payload("def return")
    assert ok["did_you_mean"] is None


def test_didyoumean_endpoint(spark, built_index):
    out, _man = built_index
    service = SearchService(spark, out)
    srv = make_server(service, port=0)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        base = f"http://127.0.0.1:{srv.server_address[1]}"
        with urllib.request.urlopen(
                f"{base}/didyoumean?q=retur+self", timeout=30) as resp:
            got = json.loads(resp.read().decode())
            assert resp.headers["Access-Control-Allow-Origin"] == "*"
        assert got == {"query": "retur self",
                       "did_you_mean": "return self"}
    finally:
        srv.shutdown()
