"""Fuzzy term matching (edit distance <= 1) — `term~` queries.

The reference has no fuzzy surface (Searcher.java matches exact terms
only); Lucene's FuzzyQuery walks a Levenshtein automaton over its FST
dictionary. The Spark-native equivalent of "don't scan the whole
dictionary per query" is the SymSpell deletion-neighborhood table, built
ONCE from the dictionary and probed with equi-lookups:

- build: every dictionary term explodes to itself plus its |term|
  one-character deletions -> ``fuzzy/`` parquet ``(del_key, term, df)``,
  written sorted by del_key so a lookup prunes to the key's row groups.
  ~(avg_len+1) rows per dictionary term — dictionary-sized metadata,
  nothing like the postings.
- query: ED(q, t) <= 1 implies keys(q) ∩ keys(t) != ∅ (delete the
  edited position from whichever side has it; equality trivially shares
  the identity key), so the |q|+1 keys of q fetch a complete candidate
  set via parquet-pushdown IN, and one JVM ``levenshtein`` verify on
  that small slice removes the few ED=2 false candidates (e.g.
  transpositions share deletion keys). Expansion then ranks df DESC,
  term ASC and caps at FUZZY_EXPANSION_CAP — the same deterministic
  overflow rule as wildcard expansion (query.expand_prefix).

Indexes without the artifact fall back to one length-banded dictionary
scan with the same verify + rank rule (``expand_fuzzy`` is semantically
identical either way — test-enforced); ``ensure_fuzzy`` materializes the
stage for any existing index. Over a federation (every big-regime query;
one index is a federation of one) each member answers from its own
stage or scan, and the bounded candidate sets df-sum on the driver.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .checkpoint import BuildManifest

#: expansion cap — same value and overflow rule as wildcard expansion
FUZZY_EXPANSION_CAP = 64

#: SQL for a term column's deletion neighborhood: the term itself plus
#: every one-character deletion (array_distinct collapses repeats like
#: 'aa' -> 'a' twice)
_KEYS_SQL = ("array_distinct(concat(array(term), "
             "transform(sequence(1, length(term)), "
             "i -> concat(substring(term, 1, i-1), substring(term, i+1)))))")


def deletion_keys(term: str) -> list[str]:
    """Python mirror of _KEYS_SQL (query side + oracles): the term and its
    one-character deletions, deduped, sorted."""
    return sorted({term} | {term[:i] + term[i + 1:]
                            for i in range(len(term))})


def ensure_fuzzy(spark: SparkSession, index_dir: str) -> str:
    """Materialize (once) the deletion-neighborhood table for an index:
    ``index_dir/fuzzy`` = (del_key, term, df), sorted by del_key, stage
    'fuzzy' committed in the manifest. Derived purely from the dictionary,
    so it can be (re)built for any index at dictionary-scan cost."""
    man = BuildManifest(index_dir)
    if man.is_complete("fuzzy"):
        return man.stage_path("fuzzy")
    t0 = man.begin("fuzzy")
    idx = spark.read.parquet(os.path.join(index_dir, "index"))
    from pyspark.sql import Observation
    obs = Observation("fuzzy_rows")
    tbl = (idx.select("term", "df")
           .select(F.explode(F.expr(_KEYS_SQL)).alias("del_key"),
                   "term", "df")
           # global sort by del_key: lookups prune to the key's row groups
           .sort("del_key")
           .observe(obs, F.count(F.lit(1)).alias("rows")))
    tbl.write.mode("overwrite").parquet(man.stage_path("fuzzy"))
    man.commit("fuzzy", t0, int(obs.get["rows"] or 0))
    return man.stage_path("fuzzy")


def _member_candidates(idx, index_dir: str | None, qterms: list[str]):
    """(qterm, term, df) rows of ONE segment's dictionary terms within edit
    distance 1 of each query term. With the segment's fuzzy stage built:
    a pushdown IN over the query terms' deletion keys, broadcast-joined
    back to their query terms, JVM levenshtein verify on that slice (a
    term may arrive once per shared key — callers dedupe). Otherwise one
    length-banded dictionary scan (|len| difference <= 1 is necessary for
    ED <= 1) broadcast-joined to the query terms."""
    spark = idx.sparkSession
    man = BuildManifest(index_dir) if index_dir is not None else None
    if man is not None and man.is_complete("fuzzy"):
        keys = [(t, kk) for t in qterms for kk in deletion_keys(t)]
        qdf = spark.createDataFrame(keys, "qterm string, del_key string")
        return (spark.read.parquet(man.stage_path("fuzzy"))
                .where(F.col("del_key").isin(sorted({k for _, k in keys})))
                .join(F.broadcast(qdf), "del_key")
                .where(F.levenshtein(F.col("term"), F.col("qterm")) <= 1)
                .select("qterm", "term", "df"))
    qdf = spark.createDataFrame([(t,) for t in qterms], "qterm string")
    lo = min(len(t) for t in qterms) - 1
    hi = max(len(t) for t in qterms) + 1
    return (idx.where(F.length("term").between(lo, hi))
            .select("term", "df")
            .join(F.broadcast(qdf),
                  F.levenshtein(F.col("term"), F.col("qterm")) <= 1)
            .select("qterm", "term", "df"))


def _fuzzy_candidates(idx_dfs: list, index_dirs: list | None,
                      qterms: list[str]) -> dict[str, dict[str, int]]:
    """qterm -> {candidate term: federation-wide df}: each member's ED<=1
    candidates (_member_candidates, one job per member), collected and
    df-summed on the driver — the edit neighbourhood bounds every set,
    so the union needs no shuffle."""
    out: dict[str, dict[str, int]] = {}
    for i, idx in enumerate(idx_dfs):
        rows = {(r["qterm"], r["term"], int(r["df"])) for r in
                _member_candidates(
                    idx, index_dirs[i] if index_dirs else None,
                    qterms).collect()}
        for q, t, df in rows:
            c = out.setdefault(q, {})
            c[t] = c.get(t, 0) + df
    return out


def _ranked(cands: dict[str, int]) -> list[str]:
    """The fuzzy/wildcard rank rule: df DESC, term ASC."""
    return sorted(cands, key=lambda t: (-cands[t], t))


def expand_fuzzy(spark: SparkSession, index_dir: str, term: str,
                 index_df=None, cap: int = FUZZY_EXPANSION_CAP
                 ) -> list[str]:
    """Dictionary terms within edit distance 1 of ``term`` (itself
    included when present), df-ranked and capped like wildcard expansion
    — expand_fuzzy_federated over the one index (fuzzy stage when built,
    length-banded scan otherwise)."""
    if index_df is None:
        index_df = spark.read.parquet(os.path.join(index_dir, "index"))
    return expand_fuzzy_federated([index_df], term, cap=cap,
                                  index_dirs=[index_dir])


def expand_fuzzy_federated(idx_dfs: list, term: str,
                           cap: int = FUZZY_EXPANSION_CAP,
                           index_dirs: list[str] | None = None
                           ) -> list[str]:
    """Fuzzy expansion over a federation's UNION dictionary — per-segment
    dfs integer-sum to the federation-wide df before the shared rank+cap
    rule (same summation as wildcard/suggest federation). index_dirs lets
    each member use its fuzzy stage when its manifest marks it complete;
    without them every member is scanned."""
    if not term:
        raise ValueError("empty fuzzy term")
    cands = _fuzzy_candidates(idx_dfs, index_dirs, [term]).get(term, {})
    return sorted(_ranked(cands)[:cap])


# ------------------------------------------------------------- did-you-mean

def correct_terms(spark: SparkSession, index_dir: str, terms: list[str],
                  index_df=None) -> dict[str, str]:
    """Spell correction for a query's term list over one index —
    correct_terms_federated over ``[index_dir]``."""
    if index_df is None:
        index_df = spark.read.parquet(os.path.join(index_dir, "index"))
    return correct_terms_federated([index_df], terms,
                                   index_dirs=[index_dir])


def correct_terms_federated(idx_dfs: list, terms: list[str],
                            index_dirs: list[str] | None = None
                            ) -> dict[str, str]:
    """Spell correction: every term MISSING from the (union) dictionary
    maps to its best ED<=1 dictionary replacement (df DESC, term ASC,
    federation-wide dfs); a term ANY member knows is never second-guessed
    (the conservative missing-terms-only mode, like Lucene's
    spellchecker default). One presence probe and one batched candidate
    job per member for the whole query (_fuzzy_candidates: fuzzy-stage
    pushdown when built, length-banded scan otherwise). Terms with no
    candidate are absent from the map."""
    uniq = sorted(set(terms))
    if not uniq:
        return {}
    present: set[str] = set()
    for idx in idx_dfs:
        present |= {r["term"] for r in (idx.where(F.col("term").isin(uniq))
                                        .select("term").collect())}
    missing = sorted(set(uniq) - present)
    if not missing:
        return {}
    return {q: _ranked(c)[0] for q, c in
            _fuzzy_candidates(idx_dfs, index_dirs, missing).items() if c}


def apply_corrections(query_text: str, corrections: dict[str, str]
                      ) -> str | None:
    """Rewrite the (already filter-stripped) query text with the
    correction map, preserving token order and multiplicity; returns the
    NORMALIZED corrected query (tokenizer output joined by spaces), or
    None when nothing changed."""
    from .tokenizer import tokenize
    toks = tokenize(query_text)
    out = [corrections.get(t, t) for t in toks]
    return " ".join(out) if out != toks else None
