"""BM25 top-k query engine over the built index.

Replaces the reference Searcher (searchEngine/src/cis5550/search/Searcher.java):
where the reference re-scans the whole `urls` table per query (:44-57) and
point-looks-up posting strings per term (:78-101), we load doc-length stats
once (broadcast-style driver arrays; at cluster scale these are the
"broadcast lookup tables" of BASELINE.json) and fetch only the queried terms'
posting blobs via Parquet predicate pushdown on `term`.

Scoring: BM25 (k1=1.2, b=0.75) per BASELINE.json north_rule, conjunctive
(AND) and ranked (OR) modes, tie-break score DESC then doc_id ASC.

Rank-identity discipline (SURVEY.md §7.4): scores accumulate per doc over
query terms in SORTED term order, float64 throughout, idf via math.log
(scalar libm — identical to the oracle); NumPy is used only for elementwise
arithmetic (+,*,/) which is IEEE-deterministic. The result is bitwise equal
to engine.oracle.Bm25Oracle — tests assert exact float equality.

Pruning: score-safe block-max pruning (a block-max WAND/MaxScore variant):
candidates are visited in descending block-upper-bound order (per-term
bounds from the max tf of the exact block holding the candidate's posting,
membership-aware) and exactly scored in geometrically-growing chunks; once
the k-th best exact score strictly exceeds the next candidate's bound, the
whole low-bound tail is skipped unscored. Tests assert identical top-k vs
the exhaustive path on every fixture, and that skipping actually fires on
skewed corpora.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass
from typing import NamedTuple

import numpy as np
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from . import B, K1
from .codec import decode_postings
from .index_build import load_stats
from .tokenizer import query_terms


def bm25_idf(n_docs: int, df: int) -> float:
    """BM25 idf with the oracle's scalar libm op order (every driver-side
    scorer calls this one; the JVM column form is _bm25_contrib_col)."""
    return math.log((n_docs - df + 0.5) / (df + 0.5) + 1.0)


def bm25_tfw(tf, dl, avgdl: float):
    """BM25 tf-weight, mirror of Bm25Oracle._tf_weight — elementwise
    float64 on NumPy arrays, same op order on scalars."""
    return (tf * (K1 + 1.0)) / (tf + K1 * ((1.0 - B) + B * (dl / avgdl)))


@dataclass
class TermPostings:
    term: str
    df: int
    doc_ids: np.ndarray  # dense ordinals, int64 asc (monotone in ext doc_id)
    tfs: np.ndarray      # int64
    block_last_ids: np.ndarray
    block_max_tfs: np.ndarray


class SearchEngine:
    #: driver posting-cache budget — LRU-evicted past this many distinct
    #: terms (a hot-term entry is O(df) int64s), so a long-lived serve
    #: process holds bounded driver memory no matter how many distinct
    #: query terms it answers (same discipline as PhraseEngine's
    #: CACHE_MAX_BLOCKS)
    CACHE_MAX_TERMS = 4096

    def __init__(self, spark: SparkSession, index_dir: str,
                 cache_max_terms: int | None = None):
        from collections import OrderedDict
        self.spark = spark
        self.index_dir = index_dir
        self.n_docs, self.avgdl = load_stats(spark, index_dir)
        self.index_df = spark.read.parquet(os.path.join(index_dir, "index"))
        # doc stats keyed by dense ordinal -> direct array indexing.
        # Ordinals are assigned in ascending doc_id order (index_build stage
        # "docs"), so ordinal order == doc_id order and tie-breaks carry.
        docs = (spark.read.parquet(os.path.join(index_dir, "docs"))
                .select("ordinal", "doc_id", "doc_len")
                .orderBy("ordinal").toPandas())
        self._ext_ids = docs["doc_id"].to_numpy(np.int64)
        self._doc_lens = docs["doc_len"].to_numpy(np.int64)
        self._min_dl = int(self._doc_lens.min()) if len(docs) else 1
        # term -> TermPostings (None marks a fetched-absent term);
        # LRU-bounded (VERDICT r4: the unbounded dict grew with every
        # distinct query term for the service lifetime)
        self._term_cache: "OrderedDict[str, TermPostings | None]" = \
            OrderedDict()
        self._cache_max = (cache_max_terms if cache_max_terms is not None
                           else self.CACHE_MAX_TERMS)
        self._meta_cache: dict[str, np.ndarray] = {}

    # ------------------------------------------------------------- postings IO

    def _fetch(self, terms: list[str]) -> dict[str, TermPostings]:
        out: dict[str, TermPostings] = {}
        missing = []
        for t in terms:
            if t in self._term_cache:
                self._term_cache.move_to_end(t)  # LRU touch
                if (tp := self._term_cache[t]) is not None:
                    out[t] = tp
            else:
                missing.append(t)
        if missing:
            rows = (self.index_df
                    .where(F.col("term").isin(missing))  # parquet pushdown
                    .collect())
            got = {}
            for r in rows:
                ids, tfs = decode_postings(bytes(r["postings"]))
                got[r["term"]] = TermPostings(
                    r["term"], int(r["df"]), ids, tfs,
                    np.array(r["block_last_ids"], dtype=np.int64),
                    np.array(r["block_max_tfs"], dtype=np.int64))
            for t in missing:
                tp = got.get(t)
                self._term_cache[t] = tp
                if tp is not None:
                    out[t] = tp
            # evict AFTER collecting this query's results — a query wider
            # than the whole budget still answers exactly
            while len(self._term_cache) > self._cache_max:
                self._term_cache.popitem(last=False)
        return {t: out[t] for t in terms if t in out}

    # -------------------------------------------- result-set restriction
    # (metadata filters + NOT terms — Lucene filter-query semantics: the
    # result SET shrinks, the statistics N/avgdl/df stay as built, so a
    # surviving doc's score is unchanged and exclusion commutes with
    # ranking. Restriction is applied to the CANDIDATE set before any
    # scoring/θ derivation, so the pruned traversal stays exact.)

    def _meta_col(self, name: str) -> np.ndarray:
        """Metadata column values ordered by ordinal (array index ==
        ordinal) — loaded lazily on the first filtered query, cached.
        Stays within the driver-map regime's budget: one string per doc,
        the same order as the display map the serving tier holds."""
        if name not in self._meta_cache:
            docs = self.spark.read.parquet(
                os.path.join(self.index_dir, "docs"))
            if name not in docs.columns:
                raise ValueError(
                    f"this index's docs snapshot has no {name!r} column "
                    "(stats-only legacy snapshot?) — metadata filters need "
                    "the full input_hint metadata")
            pdf = (docs.select("ordinal", name).orderBy("ordinal")
                   .toPandas())
            # fixed-width 'U' dtype at cache time: equality and
            # np.char.startswith vectorize without a per-query conversion
            self._meta_cache[name] = np.asarray(
                pdf[name].fillna("").astype(str).to_numpy(dtype=object),
                dtype=str)
        return self._meta_cache[name]

    def _filter_mask(self, filters: dict[str, str]) -> np.ndarray:
        """Boolean allowed-mask over ordinals for metadata filters
        (tokenizer.FILTER_FIELDS semantics: path is a prefix, the rest
        exact)."""
        mask = np.ones(self._ext_ids.size, dtype=bool)
        for field, value in filters.items():
            col = self._meta_col(field)
            if field == "path":
                mask &= np.char.startswith(col, value)
            else:
                mask &= (col == value)
        return mask

    def _restrict(self, cands: np.ndarray,
                  filters: dict[str, str] | None,
                  not_terms: list[str] | None) -> np.ndarray:
        """Candidate ordinals minus metadata-filtered-out docs and minus
        docs containing any NOT term."""
        if filters:
            cands = cands[self._filter_mask(filters)[cands]]
        if not_terms and cands.size:
            bad = self._fetch(sorted(set(not_terms)))
            if bad:
                from .index_build import remap_keep
                excl = np.unique(np.concatenate(
                    [tp.doc_ids for tp in bad.values()]))
                _, hit = remap_keep(excl, cands)
                cands = cands[~hit]
        return cands

    # ------------------------------------------------------------ BM25 scoring

    def _idf(self, df: int) -> float:
        return bm25_idf(self.n_docs, df)

    def _doc_len_of(self, ordinals: np.ndarray) -> np.ndarray:
        return self._doc_lens[ordinals]

    def _tfw(self, tf, dl):
        return bm25_tfw(tf, dl, self.avgdl)

    def _score(self, terms: list[str], postings: dict[str, TermPostings],
               candidates: np.ndarray) -> np.ndarray:
        """Exact BM25 for sorted candidate doc_ids; sorted-term sum order."""
        dl = self._doc_len_of(candidates).astype(np.float64)
        scores = np.zeros(candidates.size, dtype=np.float64)
        for t in terms:  # terms pre-sorted — fixed accumulation order
            tp = postings.get(t)
            if tp is None:
                continue
            pos = np.searchsorted(tp.doc_ids, candidates)
            pos_c = np.minimum(pos, tp.doc_ids.size - 1)
            mask = (pos < tp.doc_ids.size) & (tp.doc_ids[pos_c] == candidates)
            if not mask.any():
                continue
            tf = tp.tfs[pos_c[mask]].astype(np.float64)
            idf = self._idf(tp.df)
            scores[mask] += idf * self._tfw(tf, dl[mask])
        return scores

    def _topk(self, candidates: np.ndarray, scores: np.ndarray,
              k: int, rounded: bool = False) -> list[tuple[int, int, float]]:
        # candidates are ordinals; ordinal asc == external doc_id asc, so the
        # lexsort tie-break matches the oracle's (score DESC, doc_id ASC).
        # rounded mode ranks by round(score, 6) — the cross-engine contract
        # ordering, where ulp-close scores must tie-break by doc_id.
        if rounded:
            scores = np.round(scores, 6)
        order = np.lexsort((candidates, -scores))[:k]
        return [(i + 1, int(self._ext_ids[candidates[j]]), float(scores[j]))
                for i, j in enumerate(order)]

    # --------------------------------------------------------------- search API

    def search(self, query: str, k: int = 10, mode: str = "ranked",
               prune: bool = True, rounded: bool = False,
               filters: dict[str, str] | None = None,
               not_terms: list[str] | None = None
               ) -> list[tuple[int, int, float]]:
        """Return [(rank, doc_id, score)]; rank-identical to Bm25Oracle.
        rounded=True ranks by round(score, 6) with doc_id tie-break (the
        cross-engine contract ordering) and returns rounded scores — the
        pruned traversal stays active with a rounding-safe θ cut, so a
        contract caller fetches k rows like every other caller instead of
        re-ranking all matches on the driver.

        filters/not_terms (tokenizer.parse_query): restrict the RESULT SET
        — candidates drop before any scoring or θ derivation, so the
        pruned top-k over the surviving docs is exact while N/avgdl/df
        stay as built (Lucene filter-query / stats-until-merge
        semantics)."""
        terms = query_terms(query)
        if not terms or k <= 0:
            return []
        postings = self._fetch(terms)
        if mode == "conjunctive":
            if len(postings) < len(terms):
                return []  # some term absent from corpus -> empty AND
            cands = None
            for tp in sorted(postings.values(), key=lambda x: x.df):
                ids = tp.doc_ids
                cands = ids if cands is None else np.intersect1d(
                    cands, ids, assume_unique=True)
                if cands.size == 0:
                    return []
            cands = self._restrict(cands, filters, not_terms)
            scores = self._score(terms, postings, cands)
            return self._topk(cands, scores, k, rounded)
        if mode != "ranked":
            raise ValueError(f"unknown mode {mode!r}")
        if not postings:
            return []
        if prune:
            return self._ranked_pruned(terms, postings, k, rounded,
                                       filters=filters, not_terms=not_terms)
        cands = self._restrict(self._union(postings), filters, not_terms)
        return self._topk(cands, self._score(terms, postings, cands), k,
                          rounded)

    def explain(self, query: str, doc_id: int) -> dict:
        """Lucene-style score explanation: the per-term BM25 breakdown of
        ``doc_id``'s score for ``query``, computed with the EXACT float64
        op order ranking uses (sorted terms, ``idf * tfw`` accumulation),
        so ``total`` is bitwise equal to the score ``search`` ranks by
        (test-enforced). Terms absent from the doc (or the corpus)
        contribute 0 and still appear, with their stats — that is the
        point of an explain: showing why something did NOT score."""
        terms = query_terms(query)
        pos = int(np.searchsorted(self._ext_ids, doc_id))
        # ordinals ascend in doc_id order, so _ext_ids is sorted
        if pos >= self._ext_ids.size or self._ext_ids[pos] != doc_id:
            raise ValueError(f"unknown doc_id {doc_id}")
        ordinal, dl = pos, float(self._doc_lens[pos])
        postings = self._fetch(terms)
        total = np.float64(0.0)
        parts = []
        for t in terms:
            tp = postings.get(t)
            ent = {"term": t, "df": int(tp.df) if tp else 0,
                   "idf": self._idf(tp.df) if tp else None,
                   "tf": 0, "contribution": 0.0}
            if tp is not None:
                p = int(np.searchsorted(tp.doc_ids, ordinal))
                if p < tp.doc_ids.size and tp.doc_ids[p] == ordinal:
                    tf = np.float64(tp.tfs[p])
                    c = self._idf(tp.df) * self._tfw(tf, np.float64(dl))
                    total = total + c
                    ent["tf"] = int(tp.tfs[p])
                    ent["contribution"] = float(c)
            parts.append(ent)
        return {"query": query, "doc_id": int(doc_id), "doc_len": int(dl),
                "n_docs": int(self.n_docs), "avgdl": float(self.avgdl),
                "k1": K1, "b": B, "score": float(total), "terms": parts}

    @staticmethod
    def _union(postings: dict[str, TermPostings]) -> np.ndarray:
        arrays = [tp.doc_ids for tp in postings.values()]
        return arrays[0] if len(arrays) == 1 else np.unique(
            np.concatenate(arrays))

    # ------------------------------------------------- block-max pruned ranked

    PRUNE_CHUNK = 1024  # exact-scoring batch size for the pruned traversal

    def _term_ub(self, tp: TermPostings) -> float:
        return self._idf(tp.df) * float(
            self._tfw(np.float64(tp.tfs.max()), np.float64(self._min_dl)))

    def _block_ubs(self, terms: list[str],
                   postings: dict[str, TermPostings],
                   cands: np.ndarray) -> np.ndarray:
        """Per-candidate score upper bound from per-BLOCK max tfs (+ global
        min doc_len) — the block-max metadata the index stores. The bound
        is membership-aware: a candidate absent from a term's posting list
        contributes 0 for that term (its tf IS 0), and a present one is
        bounded by the max tf of the exact block holding its posting —
        without the membership test, a short posting list's single block
        spans nearly the whole ordinal range and the bound collapses to
        'everything might match everything' (no pruning ever fires)."""
        from .codec import BLOCK_SIZE
        ub = np.zeros(cands.size, dtype=np.float64)
        for t in terms:
            tp = postings.get(t)
            if tp is None:
                continue
            pos = np.searchsorted(tp.doc_ids, cands)
            pos_c = np.minimum(pos, tp.doc_ids.size - 1)
            present = (pos < tp.doc_ids.size) & (tp.doc_ids[pos_c] == cands)
            btf = tp.block_max_tfs[pos_c // BLOCK_SIZE].astype(np.float64)
            ub[present] += (self._idf(tp.df)
                            * self._tfw(btf,
                                        np.float64(self._min_dl)))[present]
        return ub

    def _ranked_pruned(self, terms: list[str],
                       postings: dict[str, TermPostings],
                       k: int, rounded: bool = False,
                       filters: dict[str, str] | None = None,
                       not_terms: list[str] | None = None
                       ) -> list[tuple[int, int, float]]:
        """Score-safe block-max traversal (block-max WAND/MaxScore family):
        candidates are visited in DESCENDING block-upper-bound order and
        exactly scored in chunks; θ = the k-th best exact score so far.
        Once θ strictly exceeds the next candidate's upper bound, every
        remaining candidate (the whole low-ub tail — entire blocks of the
        hot terms) is skipped without scoring. Strict inequality keeps the
        skip score-safe under the (score DESC, doc_id ASC) tie-break: a
        skipped candidate has score <= ub < θ, so it cannot displace or tie
        any top-k member. The old seed scheme exactly scored the ENTIRE
        highest-impact term's posting list (O(df) for a stopword seed);
        this one scores O(k + chunk) per θ refinement. last_prune_stats
        records candidates/scored/skipped (tests assert real skipping on
        the skewed corpus)."""
        union = self._restrict(self._union(postings), filters, not_terms)
        ub = self._block_ubs(terms, postings, union)
        order = np.argsort(-ub, kind="stable")
        sorted_c, sorted_ub = union[order], ub[order]
        neg_ub = -sorted_ub  # ascending view for searchsorted cuts
        n = sorted_c.size
        # exponentially growing chunks: worst case (nothing prunable) costs
        # a geometric series ~1.3x one exhaustive pass, not 1000 tiny
        # passes; θ maintenance is a bounded k-element partial sort per
        # chunk, never a re-scan of everything scored so far
        chunk = max(self.PRUNE_CHUNK, k)
        scored_c: list[np.ndarray] = []
        scored_s: list[np.ndarray] = []
        top = np.empty(0, dtype=np.float64)
        n_scored = 0
        pos = 0
        while pos < n:
            end = min(pos + chunk, n)
            c = sorted_c[pos:end]
            s = self._score(terms, postings, c)
            scored_c.append(c)
            scored_s.append(s)
            n_scored += c.size
            merged = np.concatenate([top, s])
            if merged.size > k:
                top = np.partition(merged, merged.size - k)[merged.size - k:]
            else:
                top = merged
            if top.size >= k:
                theta = float(top.min())
                if rounded:
                    # rounding-safe cut: a skipped candidate must not even
                    # be able to ROUND to the k-th best's rounded score —
                    # s < round(θ,6) - 6e-7 ⟹ round(s,6) < round(θ,6),
                    # while ≥k scored docs have s ≥ θ ⟹ round(s) ≥ round(θ)
                    # (round is monotone), so no skipped doc can enter the
                    # rounded top-k even on a doc_id tie. Uses np.round
                    # (the SAME rounding _topk ranks by — its scaling
                    # error is ~1e-10 at these magnitudes) with a 6e-7
                    # margin that absorbs it while staying under the
                    # 1e-6 grid spacing the argument needs
                    theta = float(np.round(theta, 6)) - 6e-7
                # every candidate with ub STRICTLY below θ can never enter
                # the top-k (even on ties) — chop the tail in one binary
                # search on the descending-ub array
                cut = int(np.searchsorted(neg_ub, -theta, side="right"))
                n = min(n, max(cut, end))
            pos = end
            chunk *= 4
        self.last_prune_stats = {
            "candidates": int(union.size), "scored": int(n_scored),
            "skipped": int(union.size - n_scored)}
        return self._topk(np.concatenate(scored_c) if scored_c
                          else np.empty(0, dtype=np.int64),
                          np.concatenate(scored_s) if scored_s
                          else np.empty(0, dtype=np.float64), k, rounded)

    # ---------------------------------------------------------- prefix query

    PREFIX_EXPANSION_CAP = 64  # max terms a wildcard may expand to

    def expand_prefix(self, prefix: str) -> list[str]:
        """Terms starting with `prefix`, via a pushdown scan of the term
        dictionary (StringStartsWith reaches the parquet scan; the index is
        term-sorted so at scale this touches the prefix's row groups only).
        A limit(cap+1) bounds what ever reaches the driver. A prefix
        expanding past PREFIX_EXPANSION_CAP no longer errors (VERDICT r3
        #7): it expands to the cap HIGHEST-df matching terms — a
        DETERMINISTIC, documented subset (ORDER BY df DESC, term ASC LIMIT
        cap: the high-df terms are the ones that dominate recall for a
        wildcard; rare long-tail variants are the ones dropped), computed
        as a distributed sort+limit so only cap rows reach the driver.
        The rule is expand_prefix_big's, shared with the big path and
        the contract oracle."""
        return expand_prefix_big(self.index_df, prefix)

    def search_prefix(self, prefix: str, k: int = 10, rounded: bool = False,
                      filters: dict[str, str] | None = None,
                      not_terms: list[str] | None = None
                      ) -> list[tuple[int, int, float]]:
        """Ranked (OR) BM25 over every term matching the prefix — the
        wildcard query `prefix*`. Same scoring/tie-break as search()."""
        terms = self.expand_prefix(prefix)
        if not terms or k <= 0:
            return []
        postings = self._fetch(terms)
        if not postings:
            return []
        return self._ranked_pruned(terms, postings, k, rounded,
                                   filters=filters, not_terms=not_terms)

    def search_fuzzy(self, term: str, k: int = 10, rounded: bool = False,
                     filters: dict[str, str] | None = None,
                     not_terms: list[str] | None = None
                     ) -> list[tuple[int, int, float]]:
        """Ranked (OR) BM25 over every dictionary term within edit
        distance 1 of ``term`` — the fuzzy query `term~` (engine/fuzzy.py:
        SymSpell deletion-neighborhood expansion, df-ranked cap like
        wildcard). Same scoring/tie-break as search()."""
        from .fuzzy import expand_fuzzy
        terms = expand_fuzzy(self.spark, self.index_dir, term,
                             index_df=self.index_df)
        if not terms or k <= 0:
            return []
        postings = self._fetch(terms)
        if not postings:
            return []
        return self._ranked_pruned(terms, postings, k, rounded,
                                   filters=filters, not_terms=not_terms)

    # ------------------------------------------------------------- facets

    def facet_counts(self, query: str, fields: list[str],
                     k_values: int = 10, mode: str = "ranked",
                     filters: dict[str, str] | None = None,
                     not_terms: list[str] | None = None
                     ) -> dict[str, list[tuple[str, int]]]:
        """Per-field (value, count) histograms over the FULL matching set
        (not the top-k page) — count DESC then value ASC, k_values values
        per field. Matching/restriction semantics identical to search()
        (ranked=union, conjunctive=intersection; filters/NOT restrict the
        set). Driver-map regime: candidates and the cached per-ordinal
        metadata arrays are already in memory, so this is pure NumPy.
        The big-path twin (facet_frame + facet_topn) is test-asserted
        equal."""
        terms = query_terms(query)
        if not terms:
            return {f: [] for f in fields}
        cols = {f: self._meta_col(f) for f in fields}  # validate first
        postings = self._fetch(terms)
        if mode == "conjunctive":
            if len(postings) < len(terms):
                return {f: [] for f in fields}
            cands: np.ndarray | None = None
            for tp in sorted(postings.values(), key=lambda x: x.df):
                ids = tp.doc_ids
                cands = ids if cands is None else np.intersect1d(
                    cands, ids, assume_unique=True)
        elif mode == "ranked":
            if not postings:
                return {f: [] for f in fields}
            cands = self._union(postings)
        else:
            raise ValueError(f"unknown mode {mode!r}")
        cands = self._restrict(cands, filters, not_terms)
        out: dict[str, list[tuple[str, int]]] = {}
        for f in fields:
            if k_values <= 0 or cands.size == 0:
                out[f] = []
                continue
            vals, cnts = np.unique(cols[f][cands], return_counts=True)
            order = np.lexsort((vals, -cnts))[:k_values]
            out[f] = [(str(vals[i]), int(cnts[i])) for i in order]
        return out

    # ------------------------------------------- reference TF-IDF (secondary)

    def search_tfidf_reference(self, query: str, k: int = 300,
                               threshold: float = 0.3,
                               filters: dict[str, str] | None = None,
                               not_terms: list[str] | None = None
                               ) -> list[tuple[int, int, float]]:
        """The reference's actual scoring (Searcher.java:108,113,139-159,196):
        Σ (1+log10 tf)·log10(N/df), OR semantics, score>threshold, top-k."""
        if k <= 0:
            return []  # order[:k] below would negative-slice
        terms = query_terms(query)
        postings = self._fetch(terms)
        if not postings:
            return []
        # vectorized OR-accumulation: ordinals+weights concatenated in
        # sorted-term order, np.unique inverse indices group per doc, and
        # np.add.at preserves left-to-right (term-order) summation — same
        # float64 accumulation order as the reference's per-posting loop
        ord_parts, w_parts = [], []
        for t in terms:  # sorted order
            tp = postings.get(t)
            if tp is None:
                continue
            idf = math.log10(self.n_docs / tp.df)
            ord_parts.append(tp.doc_ids)
            w_parts.append((1.0 + np.log10(tp.tfs.astype(np.float64))) * idf)
        ords = np.concatenate(ord_parts)
        ws = np.concatenate(w_parts)
        uniq, inv = np.unique(ords, return_inverse=True)
        acc = np.zeros(uniq.size, dtype=np.float64)
        np.add.at(acc, inv, ws)
        if filters or not_terms:
            from .index_build import remap_keep
            allowed = self._restrict(uniq, filters, not_terms)
            _, sel = remap_keep(allowed, uniq)
            uniq, acc = uniq[sel], acc[sel]
        keep = acc > threshold
        docs = self._ext_ids[uniq[keep]]
        scores = acc[keep]
        order = np.lexsort((docs, -scores))[:k]
        return [(i + 1, int(docs[j]), float(scores[j]))
                for i, j in enumerate(order)]


# ------------------------------------------------- fully-cluster query path

#: stats of the last search_big_terms call (driver-side): total postings of
#: the queried terms vs posting rows actually emitted by the decode stage
#: (block-max pruning drops the rest before the exchange). Test/bench hook.
last_big_prune_stats: dict[str, int] = {}


def search_big(spark: SparkSession, index_dir: str, query: str, k: int = 10,
               mode: str = "ranked", rounded: bool = False,
               prune: bool = True, index_df=None, docs_df=None,
               filters: dict[str, str] | None = None,
               not_terms: list[str] | None = None
               ) -> list[tuple[int, int, float]]:
    """Query WITHOUT any driver-side doc arrays — the 10^12-doc serving
    path, as the federation of one segment (search_big_federated over
    ``[index_dir]``). ``SearchEngine`` keeps doc_len/doc_id as driver
    arrays (the "broadcast lookup tables" — fine up to ~10^8 docs); past
    that they cannot exist on one machine, so here:

    - corpus stats come from the manifest (two scalars);
    - per-term df/max_tf from one pushdown probe of just the queried
      terms' dictionary rows (len(terms) rows collected);
    - posting blobs decode to (ordinal, term_idx, tf) in Arrow batches and
      JOIN doc_len from the docs table (at scale: co-partitioned on
      ordinal);
    - the BM25 weight is a JVM column expression with the exact float64 op
      order of the NumPy/oracle path, and the per-doc sum folds a
      sort_array'd (term_idx, contrib) list — same sorted-term accumulation
      order, so results are BITWISE equal to SearchEngine.search (tests
      assert it);
    - the final top-k maps ordinal -> external doc_id via a broadcast join
      of just k rows, not a driver array.
    """
    return search_big_federated(
        spark, [index_dir], query, k=k, mode=mode, rounded=rounded,
        prune=prune, idx_dfs=None if index_df is None else [index_df],
        docs_dfs=None if docs_df is None else [docs_df],
        filters=filters, not_terms=not_terms)


def _bm25_contrib_col(avgdl: float):
    """JVM BM25 contribution with the exact float64 op order of
    Bm25Oracle/_tfw: idf * ((tf*(k1+1)) / (tf + k1*((1-b) + b*(dl/avgdl))))
    over columns (idf, tf, dl)."""
    tf = F.col("tf")
    return (F.col("idf")
            * ((tf * F.lit(K1 + 1.0))
               / (tf + F.lit(K1) * (F.lit(1.0 - B)
                                    + F.lit(B) * (F.col("dl")
                                                  / F.lit(avgdl))))))


def _tfw_zero_dl(tf):
    """BM25 tf-weight upper bound at dl=0 (tfw is decreasing in dl and
    doc_len >= 0, so this bounds every real tf-weight without the docs
    scan a min(doc_len) would cost). Works on scalars and NumPy arrays."""
    return (tf * (K1 + 1.0)) / (tf + K1 * (1.0 - B))


#: ordinals the pruned big path will ship to executors as the candidate
#: set (int64 -> ~8 B each; 4M = 32 MB, the same order as the gated driver
#: arrays elsewhere). Past this, hot-term block gating is skipped.
CANDIDATE_SHIP_LIMIT = 4_000_000


def _collect_ordinals(index_df, terms: list[str]) -> np.ndarray:
    """Sorted unique ordinals of the given terms' postings (the candidate
    set for hot-term block gating) — one job over Σ df postings, fetched
    as a single Arrow transfer (<= CANDIDATE_SHIP_LIMIT int64s, the gated
    bounded-driver-array regime; never a docs/display materialization)."""
    import pandas as pd

    def dec(batches):
        for pdf in batches:
            for blob in pdf["postings"]:
                ids, _ = decode_postings(bytes(blob))
                yield pd.DataFrame({"ordinal": ids})

    tbl = (index_df.where(F.col("term").isin(terms))
           .select("postings")
           .mapInPandas(dec, schema="ordinal long")
           .toArrow())
    return np.unique(tbl.column("ordinal").to_numpy(zero_copy_only=False))


def _excl_frame(spark, exc: np.ndarray):
    """A (driver-held) exclusion ordinal array as a broadcast one-column
    DataFrame, shipped as ONE Arrow batch — building it from a Python
    list of tuples would materialize len(exc) tuples on the driver per
    query (the array is bounded only by the ship gate, ~4M)."""
    import pandas as pd
    return F.broadcast(spark.createDataFrame(
        pd.DataFrame({"ordinal": np.asarray(exc, dtype=np.int64)})))


def _ordinals_frame(index_df, terms: list[str]):
    """DISTINCT ordinals of the given terms' postings as a DataFrame — the
    stay-distributed twin of _collect_ordinals, for exclusion sets past
    CANDIDATE_SHIP_LIMIT (hot NOT terms): the frame anti-joins the scored
    docs instead of shipping an ordinal array to the driver."""
    import pandas as pd

    def dec(batches):
        for pdf in batches:
            for blob in pdf["postings"]:
                ids, _ = decode_postings(bytes(blob))
                yield pd.DataFrame({"ordinal": ids})

    return (index_df.where(F.col("term").isin(terms))
            .select("postings")
            .mapInPandas(dec, schema="ordinal long").distinct())


def _filters_col(filters: dict[str, str], columns) -> "F.Column":
    """Metadata filters (tokenizer.parse_query) -> one JVM predicate over
    the docs snapshot — pushes down to the docs parquet scan. `path` is a
    prefix match, the rest exact; a field the snapshot lacks raises (a
    silently-ignored filter would return wrong results)."""
    pred = None
    for field, value in filters.items():
        if field not in columns:
            raise ValueError(
                f"this index's docs snapshot has no {field!r} column "
                "(stats-only legacy snapshot?) — metadata filters need "
                "the full input_hint metadata")
        c = (F.col(field).startswith(value) if field == "path"
             else F.col(field) == F.lit(value))
        pred = c if pred is None else (pred & c)
    return pred


def _mask_excluded(ids: np.ndarray, tfs: np.ndarray, exc: np.ndarray
                   ) -> tuple[np.ndarray, np.ndarray]:
    """Drop postings whose ordinal is in the sorted exclusion array `exc`
    — the LOGICAL-delete filter (deletes.py): applied at decode, the whole
    query pipeline behaves as if the index simply lacked those postings,
    so every downstream step (θ, pruning, conjunctive counting, top-k) is
    exact over the surviving docs under the index's as-built statistics
    (Lucene's stats-until-merge semantics)."""
    pos = np.searchsorted(exc, ids)
    pos_c = np.minimum(pos, exc.size - 1)
    dead = (pos < exc.size) & (exc[pos_c] == ids)
    if dead.any():
        return ids[~dead], tfs[~dead]
    return ids, tfs


def _excl_value(exclude) -> np.ndarray | None:
    """Unwrap a Spark Broadcast (serving path: ONE executor copy per
    refresh, not per query) or pass a bare sorted array (tests) through."""
    if exclude is None:
        return None
    arr = exclude.value if hasattr(exclude, "value") else exclude
    return arr if arr is not None and arr.size else None


def _make_explode_blobs(noness: frozenset, skip_target: dict,
                        idf_of: dict, term_idx_of: dict,
                        cand_bc, exclude):
    """The block-max decode/prune kernel shared by the big regimes
    (search_big_terms and fields.search_big_fielded — ONE kernel so a fix
    reaches both): per posting blob, (a) a NON-ESSENTIAL term keeps only
    blocks holding >=1 candidate ordinal (block i spans
    (last_ids[i-1], last_ids[i]] in ordinal space, membership by two
    searchsorteds against the broadcast sorted candidate array);
    (b) an essential term keeps blocks whose idf * tfw(block max tf,
    min_dl) upper bound meets its skip_target (skip iff STRICTLY below —
    the conservative side of the MaxScore proof); then decodes survivors,
    slices by the BLOCK_SIZE repeat mask (last block may be short), and
    masks tombstoned ordinals. Emits (ordinal, term_idx, tf) rows."""
    def explode_blobs(batches):
        import pandas as pd

        from .codec import BLOCK_SIZE, decode_postings
        cand = cand_bc.value if cand_bc is not None else None
        exc = _excl_value(exclude)
        for pdf in batches:
            outs = []
            for term, blob, bmax, blast in zip(
                    pdf["term"], pdf["postings"], pdf["block_max_tfs"],
                    pdf["block_last_ids"]):
                if term in noness:
                    last_ids = np.asarray(blast, dtype=np.int64)
                    lo = np.concatenate(([np.int64(-1)], last_ids[:-1]))
                    keep_b = (np.searchsorted(cand, last_ids, "right")
                              > np.searchsorted(cand, lo, "right"))
                else:
                    target = skip_target.get(term)
                    if target is None:
                        keep_b = None
                    else:
                        bounds = idf_of[term] * _tfw_zero_dl(
                            np.asarray(bmax, dtype=np.float64))
                        keep_b = bounds >= target
                if keep_b is not None and not keep_b.any():
                    continue
                ids, tfs = decode_postings(bytes(blob))
                if keep_b is not None and not keep_b.all():
                    keep = np.repeat(keep_b, BLOCK_SIZE)[:ids.size]
                    ids, tfs = ids[keep], tfs[keep]
                if exc is not None and ids.size:
                    ids, tfs = _mask_excluded(ids, tfs, exc)
                outs.append(pd.DataFrame(
                    {"ordinal": ids, "term_idx": term_idx_of[term],
                     "tf": tfs.astype(np.float64)}))
            if outs:
                yield pd.concat(outs, ignore_index=True)
    return explode_blobs


def _maxscore_state(spark, index_df, theta: float, rounded: bool,
                    ubmax: dict[str, float], dfs: dict[str, int],
                    *, extra_help: float = 0.0, extra_df: int = 0,
                    extra_cands=None):
    """MaxScore pruning state shared by the big regimes (search_big_terms
    and fields.search_big_fielded — ONE construction, like the decode
    kernel, so a safety fix reaches both): the rounded-mode θ margin
    (round(θ,6) - 6e-7 keeps pruning conservative across the rounding
    the two engines agree on), per-term block skip targets (θ minus the
    max help all OTHER terms — plus, on the fielded path, the other
    FIELD's total upper bound (extra_help) — can contribute), the
    ascending-upper-bound non-essential set, and the ship-gated
    broadcast candidate array (essential-term postings ∪ extra_cands(),
    e.g. the fielded path's path-posting ordinals; extra_df joins the
    gate sum). Returns (skip_target, noness, cand_bc); cand_bc is None
    (no candidate gating) when the gate fails or nothing is
    non-essential."""
    if rounded:
        theta = float(np.round(theta, 6)) - 6e-7
    skip_target: dict[str, float] = {}
    total_ub = sum(ubmax.values())
    for t, ub in ubmax.items():
        target = theta - (total_ub - ub) - extra_help
        if target > 0.0:    # else every block passes trivially
            skip_target[t] = target
    n_set: list[str] = []
    acc = 0.0
    for t in sorted(ubmax, key=lambda t: (ubmax[t], t)):
        if acc + ubmax[t] >= theta:
            break
        acc += ubmax[t]
        n_set.append(t)
    essential = [t for t in ubmax if t not in n_set]
    if not n_set or sum(dfs[t] for t in essential) + extra_df \
            > CANDIDATE_SHIP_LIMIT:
        return skip_target, frozenset(), None
    ess = _collect_ordinals(index_df, essential)
    if extra_cands is not None:
        extra = extra_cands()
        if extra is not None:
            ess = np.union1d(ess, extra)
    # ship as a Spark broadcast — ONE copy per executor, not a
    # re-serialized task-closure copy (32 MB at the gate limit; same
    # pattern as the remap doc_id array in runs_to_index)
    return (skip_target, frozenset(n_set),
            spark.sparkContext.broadcast(ess))


def _big_theta(index_df, dl, rare_term: str, rare_idf: float, k: int,
               avgdl: float, exclude=None):
    """Phase-1 θ: the k-th best EXACT single-term BM25 contribution of the
    rarest query term — a lower bound on the k-th best final score (totals
    only add non-negative contributions), derived from one cheap job over
    O(min df) postings. None when the term can't fill k slots. Logical
    deletes mask here too: θ derived over surviving docs stays a valid
    lower bound for the surviving top-k."""
    import pandas as pd

    def explode(batches):
        exc = _excl_value(exclude)
        for pdf in batches:
            for blob in pdf["postings"]:
                ids, tfs = decode_postings(bytes(blob))
                if exc is not None:
                    ids, tfs = _mask_excluded(ids, tfs, exc)
                yield pd.DataFrame({"ordinal": ids,
                                    "tf": tfs.astype(np.float64)})

    sub = (index_df.where(F.col("term") == rare_term)
           .select("postings")
           .mapInPandas(explode, schema="ordinal long, tf double")
           .join(dl, "ordinal")
           .withColumn("idf", F.lit(rare_idf))
           .select(_bm25_contrib_col(avgdl).alias("c"))
           .orderBy(F.col("c").desc()).limit(k))
    rows = sub.collect()
    if len(rows) < k:
        return None
    return float(rows[-1]["c"])


def search_big_terms(spark: SparkSession, index_df, docs_df,
                     terms: list[str], meta: dict[str, tuple[int, int]],
                     weights: FedWeights, k: int = 10,
                     mode: str = "ranked", rounded: bool = False,
                     prune: bool = True, exclude=None,
                     filters: dict[str, str] | None = None,
                     not_terms: list[str] | None = None
                     ) -> list[tuple[int, int, float]]:
    """One segment's BM25 top-k over an explicit (already-normalized)
    term list — the per-segment kernel of search_big_terms_federated,
    which every big-regime query (plain, wildcard, fuzzy, more-like-this)
    goes through. index_df/docs_df are the segment's frames (the serving
    path passes them persisted).

    meta: the segment's own dictionary rows of the query terms,
    term -> (df, max_tf), and weights: the federation's (n_docs, avgdl,
    df) — both from _federation_weights' one probe per segment, so the
    kernel re-probes no query term. Each segment scores its docs with
    the FEDERATION's BM25 weights so per-segment top-ks merge exactly;
    segment-local df/max_tf drive the pruning geometry (rarest-term
    choice, candidate-ship gating) — θ stays a valid lower bound because
    it is an exact k-th best single-term score under the global weights.

    exclude: sorted dead-ordinal array (or its Broadcast — the serving
    path creates ONE per refresh) of LOGICALLY deleted docs
    (deletes.member_exclusions): masked at blob decode, so θ, pruning,
    conjunctive counts and the top-k are all exact over the surviving
    docs while N/avgdl/df stay as built (Lucene stats-until-merge).
    Block bounds computed from as-built max_tf stay valid upper bounds —
    a dead doc holding the block max only makes pruning conservative.

    Block-max pruning (VERDICT r3 #3) on the ranked path: without it a
    hot-term query moves the term's ENTIRE posting list through the
    exchange. MaxScore-style, score-safe:

    - θ = k-th best exact single-term score of the RAREST term (one job
      over O(min df) postings, _big_theta);
    - terms split into NON-ESSENTIAL N (longest ascending-ubmax prefix
      with Σ ubmax < θ, from the index's max_tf scalars — a doc matching
      only N scores below θ) and ESSENTIAL E (the rest; always contains
      the rarest term, since ubmax(rare) ≥ θ);
    - essential terms: the decode stage drops blocks whose bound
      idf·tfw(block_max_tf, dl=0) + Σ_{t'≠t} ubmax(t') falls strictly
      below θ (a doc there can't reach θ even with max help elsewhere);
    - non-essential (hot) terms: only blocks CONTAINING a candidate —
      a doc of the essential-postings union — are decoded+emitted, found
      by a searchsorted of the candidate ordinals against the per-row
      block_last_ids ranges, no decode needed to decide. The candidate
      array ships to executors when Σ_E df ≤ CANDIDATE_SHIP_LIMIT (the
      same gated-driver-array regime as BROADCAST_DOC_LIMIT elsewhere;
      past the gate hot terms fall back to full emission — an all-hot
      query has no small side to prune against anyway).

    Score-safety (tests assert bitwise equality with the unpruned path):
    any doc with true score ≥ θ keeps ALL its blocks (its essential
    blocks pass the bound test — ub_block + REST ≥ its own score ≥ θ —
    so it enters the candidate set, which keeps its hot blocks), hence
    its computed score is complete and exact; every skipped or partially
    scored doc is provably below θ and the ≥k phase-1 docs all score
    ≥ θ, so the (score DESC, ordinal ASC) top-k is unchanged, ties
    included. rounded mode prunes against round(θ,6)-6e-7 (same margin
    argument as the driver engine's _ranked_pruned). Conjunctive mode
    never prunes: a missing hot contribution would break the match-all
    count.

    The kept blob rows are still decoded (varint blocks are
    byte-contiguous and the NumPy decode is memory-bandwidth cheap);
    what pruning removes is the per-posting ROW volume downstream — the
    exchange/join/agg, the actual distributed cost.
    last_big_prune_stats records emitted vs total postings (Observation,
    no extra action)."""
    import pandas as pd
    from pyspark.sql import Observation

    global last_big_prune_stats
    avgdl = weights.avgdl
    if not terms or k <= 0 or not meta or (
            mode == "conjunctive" and len(meta) < len(set(terms))):
        return []
    dfs = {t: df for t, (df, _mt) in meta.items()}  # segment-local
    term_meta = {t: (i, bm25_idf(weights.n_docs, weights.df[t]))
                 for i, t in enumerate(sorted(meta))}
    n_required = len(meta) if mode == "conjunctive" else 1
    docs = docs_df

    # ---- result-set restriction (filters / NOT terms; Lucene filter-query
    # semantics — stats stay as built, the candidate set shrinks) ----
    # Metadata filters restrict the doc-length frame: the scoring join
    # (cdf ⋈ dl) is inner, so filtered-out docs drop from scoring, from
    # conjunctive counts AND from _big_theta (which joins the same dl) —
    # θ stays an exact k-th-best bound over the SURVIVING docs and the
    # pruned traversal is exact under the filter. The predicate pushes
    # down to the docs parquet scan; no driver array.
    dl_src = docs
    if filters:
        dl_src = docs.where(_filters_col(filters, docs.columns))
    dl = dl_src.select("ordinal",
                       F.col("doc_len").cast("double").alias("dl"))

    # NOT terms exclude every doc containing them. Under the gated-array
    # regime (Σ df ≤ CANDIDATE_SHIP_LIMIT — the same budget as the hot-term
    # candidate set) their ordinals merge into the decode-level exclusion
    # array, so θ/pruning/conjunctive counts stay exact over the survivors;
    # a hotter NOT set stays fully distributed: the scored frame anti-joins
    # the NOT ordinals and pruning is disabled (θ derived before an
    # anti-join could over-prune survivors).
    anti_df = None
    if not_terms:
        nts = sorted(set(not_terms))
        nmeta = (index_df.where(F.col("term").isin(nts))
                 .select("term", "df").collect())
        npresent = sorted(r["term"] for r in nmeta)
        if npresent:
            if sum(int(r["df"]) for r in nmeta) <= CANDIDATE_SHIP_LIMIT:
                not_ords = _collect_ordinals(index_df, npresent)
                base = _excl_value(exclude)
                exclude = (not_ords if base is None
                           else np.union1d(base, not_ords))
            else:
                prune = False
                anti_df = _ordinals_frame(index_df, npresent)

    # ---- block-pruning state (ranked multi-term only) ----
    skip_target: dict[str, float] = {}      # essential-term bound targets
    noness: frozenset[str] = frozenset()    # candidate-gated hot terms
    cand_sorted = None                      # sorted essential ordinals
    if prune and mode == "ranked" and len(meta) >= 2:
        rare = min(meta, key=lambda t: (dfs[t], t))
        theta = _big_theta(index_df, dl, rare, term_meta[rare][1], k, avgdl,
                           exclude=exclude)
        if theta is not None:
            ubmax = {t: term_meta[t][1] * _tfw_zero_dl(float(mt))
                     for t, (_df, mt) in meta.items()}
            skip_target, noness, cand_sorted = _maxscore_state(
                spark, index_df, theta, rounded, ubmax, dfs)

    idf_of = {t: v[1] for t, v in term_meta.items()}
    explode_blobs = _make_explode_blobs(
        noness, skip_target, idf_of,
        {t: v[0] for t, v in term_meta.items()}, cand_sorted, exclude)

    obs = Observation()
    cdf = (index_df.where(F.col("term").isin(terms))
           .select("term", "postings", "block_max_tfs", "block_last_ids")
           .mapInPandas(explode_blobs,
                        schema="ordinal long, term_idx int, tf double")
           .observe(obs, F.count(F.lit(1)).alias("emitted")))
    idf_df = F.broadcast(spark.createDataFrame(
        [(i, idf) for _, (i, idf) in term_meta.items()],
        "term_idx int, idf double"))
    scored = (cdf.join(dl, "ordinal").join(idf_df, "term_idx")
              .withColumn("contrib", _bm25_contrib_col(avgdl))
              .groupBy("ordinal")
              .agg(F.count("*").alias("nt"),
                   F.aggregate(
                       F.sort_array(F.collect_list(
                           F.struct("term_idx", "contrib"))),
                       F.lit(0.0),
                       lambda acc, x: acc + x["contrib"]).alias("score"))
              .where(F.col("nt") >= n_required))
    if anti_df is not None:
        scored = scored.join(anti_df, "ordinal", "left_anti")
    def _finish(result):
        global last_big_prune_stats
        if rounded:
            scored.unpersist()
        if cand_sorted is not None:
            # release the executor-side candidate copies; a long-lived
            # serving session would otherwise accumulate one per query
            cand_sorted.unpersist()
        total_postings = sum(dfs.values())
        try:
            emitted = int(obs.get["emitted"] or 0)
        except Exception:
            # diagnostics only: when an exclusion/filter empties the whole
            # plan, AQE collapses the join to an empty relation and the
            # observation row comes back schema-less (Spark 4.1 toPyRow
            # assertion) — zero rows were emitted in that case
            emitted = 0
        last_big_prune_stats = {
            "postings_total": total_postings, "postings_emitted": emitted,
            "postings_skipped": total_postings - emitted,
            "pruned_terms": len(skip_target) + len(noness)}
        return result

    if rounded:
        # contract ordering: rank by round(score, 6), doc_id tie-break.
        # The scored frame is persisted across the two passes (released
        # in _finish) so the decode+join+agg pipeline runs once.
        scored = scored.persist()
        pairs = _rounded_pairs(spark, scored, k)
        if not pairs:
            return _finish([])
        return _finish(_pairs_to_results(spark, pairs, docs))

    return _finish(_plain_topk(spark, scored, docs, k))


def _rounded_pairs(spark, scored, k: int) -> list[tuple[int, float]]:
    """Contract-ordering top-k over a PERSISTED scored frame (ordinal,
    score): rank by round(score, 6) with ordinal tie-break, returned as
    [(ordinal, rounded_score)].

    ADVICE r3: rank with the SAME np.round the driver engine uses
    (F.round is HALF_UP, np.round half-even — a grid-boundary score
    could order differently across the bitwise-compared paths).
    Two-pass: unrounded top-k gives the boundary; every doc whose
    ROUNDED score could reach the k-th rounded value has unrounded
    score >= round(θ_k,6)-6e-7 (round is monotone), so that bounded
    slice is fetched and ranked in NumPy exactly like _topk."""
    top_rows = (scored.orderBy(F.col("score").desc(), F.col("ordinal"))
                .limit(k).select("ordinal", "score").collect())
    if not top_rows:
        return []
    if len(top_rows) >= k:
        cutoff = float(np.round(
            float(top_rows[-1]["score"]), 6)) - 6e-7
        tie_cap = max(4 * k, 1024)
        cand_rows = (scored.where(F.col("score") >= cutoff)
                     .orderBy(F.col("score").desc(), F.col("ordinal"))
                     .limit(tie_cap)
                     .select("ordinal", "score").collect())
        if len(cand_rows) >= tie_cap:
            # pathological grid-boundary mass tie: stay distributed
            # with HALF_UP ordering (positive scores: identical to
            # the oracle's round-half-away) instead of shipping an
            # unbounded tie set to the driver
            cand_rows = (scored
                         .withColumn("score", F.round("score", 6))
                         .orderBy(F.col("score").desc(),
                                  F.col("ordinal"))
                         .limit(k).select("ordinal", "score")
                         .collect())
            return [(int(r["ordinal"]), float(r["score"]))
                    for r in cand_rows]
        ords = np.array([r["ordinal"] for r in cand_rows],
                        dtype=np.int64)
        scs = np.round(np.array([r["score"] for r in cand_rows],
                                dtype=np.float64), 6)
        order = np.lexsort((ords, -scs))[:k]
        return [(int(ords[j]), float(scs[j])) for j in order]
    ords = np.array([r["ordinal"] for r in top_rows],
                    dtype=np.int64)
    scs = np.round(np.array([r["score"] for r in top_rows],
                            dtype=np.float64), 6)
    order = np.lexsort((ords, -scs))[:k]
    return [(int(ords[j]), float(scs[j])) for j in order]


def _pairs_to_results(spark, pairs: list[tuple[int, float]], docs
                      ) -> list[tuple[int, int, float]]:
    """Resolve ranked (ordinal, score) pairs to external doc_ids via the
    k-row broadcast join (never a driver array)."""
    top = spark.createDataFrame(pairs, "ordinal long, score double")
    id_rows = (F.broadcast(top)
               .join(docs.select("ordinal", "doc_id"), "ordinal")
               .collect())
    id_of = {int(r["ordinal"]): int(r["doc_id"]) for r in id_rows}
    return [(i + 1, id_of[o], s) for i, (o, s) in enumerate(pairs)]


def _plain_topk(spark, scored, docs, k: int) -> list[tuple[int, int, float]]:
    """Unrounded top-k tail: distributed sort+limit on (score DESC,
    ordinal ASC), doc_id via the k-row broadcast join."""
    top = (scored.orderBy(F.col("score").desc(), F.col("ordinal"))
           .limit(k).select("ordinal", "score"))
    rows = (F.broadcast(top)
            .join(docs.select("ordinal", "doc_id"), "ordinal")
            .orderBy(F.col("score").desc(), F.col("ordinal"))
            .collect())
    return [(i + 1, int(r["doc_id"]), float(r["score"]))
            for i, r in enumerate(rows)]


def _doc_term_stats(index_df, terms: list[str], ordinal: int
                    ) -> dict[str, tuple[int, int, int]]:
    """term -> (df, max_tf, tf at ``ordinal``) for the query terms one
    segment knows: an Arrow probe over just their posting rows — blobs
    decode on the EXECUTOR, one (term, df, max_tf, tf) row per term
    reaches the driver. The (df, max_tf) part doubles as the segment's
    dictionary rows for _federation_weights."""
    import pandas as pd

    def probe(batches):
        for pdf in batches:
            outs = []
            for term, df_, mt, blob in zip(pdf["term"], pdf["df"],
                                           pdf["max_tf"], pdf["postings"]):
                ids, tfs = decode_postings(bytes(blob))
                p = int(np.searchsorted(ids, ordinal))
                tf = (int(tfs[p])
                      if p < ids.size and ids[p] == ordinal else 0)
                outs.append({"term": term, "df": int(df_),
                             "max_tf": int(mt), "tf": tf})
            if outs:
                yield pd.DataFrame(outs)

    return {r["term"]: (int(r["df"]), int(r["max_tf"]), int(r["tf"]))
            for r in (index_df.where(F.col("term").isin(terms))
                      .select("term", "df", "max_tf", "postings")
                      .mapInPandas(probe,  # df is LongType in the index —
                                   # at the 10^12-doc scale a stopword df
                                   # overflows int32
                                   schema="term string, df long, "
                                          "max_tf long, tf int")
                      .collect())}


def explain_big(query: str, doc_id: int, dl: int,
                tf_at: dict[str, int], weights: FedWeights) -> dict:
    """SearchEngine.explain WITHOUT driver doc arrays: the per-term BM25
    breakdown of one doc (doc_len ``dl``, tf per term ``tf_at`` — from its
    owning segment's _doc_term_stats probe) under the federation's
    ``weights``, computed with the driver engine's exact float64 op order
    — ``score`` is bitwise the score the big path ranks by (tests assert
    dict equality vs SearchEngine.explain)."""
    total = np.float64(0.0)
    parts = []
    for t in query_terms(query):  # sorted — the engines' accumulation order
        df = weights.df.get(t, 0)
        # idf keys off the federation-wide df: a term the owning segment
        # lacks but another segment knows shows its idf exactly like the
        # merged index would (merged parity is the payload contract);
        # df == 0 (term nowhere in the corpus) -> None, as the driver engine
        ent = {"term": t, "df": df,
               "idf": bm25_idf(weights.n_docs, df) if df > 0 else None,
               "tf": 0, "contribution": 0.0}
        tf = tf_at.get(t, 0)
        if tf > 0:
            c = bm25_idf(weights.n_docs, df) * bm25_tfw(
                np.float64(tf), np.float64(dl), weights.avgdl)
            total = total + c
            ent["tf"] = tf
            ent["contribution"] = float(c)
        parts.append(ent)
    return {"query": query, "doc_id": int(doc_id), "doc_len": int(dl),
            "n_docs": int(weights.n_docs), "avgdl": float(weights.avgdl),
            "k1": K1, "b": B, "score": float(total), "terms": parts}


def explain_big_federated(spark: SparkSession, index_dirs: list[str],
                          query: str, doc_id: int,
                          idx_dfs: list | None = None,
                          docs_dfs: list | None = None) -> dict:
    """explain over a federation: the doc's tf/doc_len from its OWNING
    segment (one pushdown doc_id lookup per segment until found), df/
    n_docs/avgdl the federation's integer sums — so ``score`` is bitwise
    the score search_big_terms_federated ranks this doc by. The owner's
    tf probe also yields its dictionary rows, so only the other segments
    run a weights probe (a federation of one runs none)."""
    terms = query_terms(query)
    idx_dfs, docs_dfs = _member_frames(spark, index_dirs, idx_dfs, docs_dfs)
    for i, docs in enumerate(docs_dfs):
        drow = (docs.where(F.col("doc_id") == int(doc_id))
                .select("ordinal", "doc_len").collect())
        if drow:
            break
    else:
        raise ValueError(f"unknown doc_id {doc_id}")
    got = (_doc_term_stats(idx_dfs[i], terms, int(drow[0]["ordinal"]))
           if terms else {})
    weights = _federation_weights(
        index_dirs, terms, idx_dfs,
        known={i: {t: (df, mt) for t, (df, mt, _tf) in got.items()}})
    return explain_big(query, doc_id, int(drow[0]["doc_len"]),
                       {t: tf for t, (_df, _mt, tf) in got.items()}, weights)


def search_big_federated(spark: SparkSession, index_dirs: list[str],
                         query: str, k: int = 10, mode: str = "ranked",
                         rounded: bool = False, prune: bool = True, **kw
                         ) -> list[tuple[int, int, float]]:
    """BM25 top-k over a FEDERATION of doc-disjoint index segments —
    rank-identical to searching the physically merged index, without the
    merge (the Lucene NRT shape: streaming.serving_view hands this the
    [current generation, fresh uncompacted segment] pair so queries see
    newly ingested docs immediately; a single index is the federation of
    one — search_big).

    Exactness: every doc lives in exactly ONE segment (serving_view /
    compact_incremental enforce doc-disjointness), so a doc's full BM25
    score is computable inside its own segment — provided the WEIGHTS are
    the federation's, not the segment's. So: global n_docs = Σ n_docs_i,
    global avgdl = Σ total_len_i / Σ n_docs_i, global df(t) = Σ df_i(t)
    (disjoint doc sets ⇒ dfs add), each shipped into the per-segment
    search_big_terms. Per-segment top-k under those global weights
    then contains the global top-k's members from that segment, and the
    k×S driver-side merge sorts by (score DESC, doc_id ASC) — identical
    to the merged index's (score DESC, ordinal ASC) because ordinals are
    monotone in doc_id within AND across segments after a merge. Tests
    assert list equality vs search_big on merge_indexes' output.

    A term absent from one segment simply contributes nothing there (its
    docs don't contain it); conjunctive mode short-circuits per segment
    when any query term is missing from that segment's dictionary.
    kw: search_big_terms_federated's frame/exclusion/restriction
    keywords."""
    return search_big_terms_federated(spark, index_dirs, query_terms(query),
                                      k=k, mode=mode, rounded=rounded,
                                      prune=prune, **kw)


class FedWeights(NamedTuple):
    """A doc-disjoint federation's BM25/TF-IDF weights for one query's
    terms, plus each member's own dictionary rows."""
    n_docs: int
    avgdl: float
    df: dict[str, int]                      # federation-wide df per term
    rows: list[dict[str, tuple[int, int]]]  # per member: term -> (df, max_tf)


def _member_frames(spark, index_dirs: list[str], idx_dfs: list | None,
                   docs_dfs: list | None) -> tuple[list, list]:
    """Per-member (index, docs) frames: the caller's warm (persisted)
    ones, else fresh parquet reads."""
    if idx_dfs is None:
        idx_dfs = [spark.read.parquet(os.path.join(d, "index"))
                   for d in index_dirs]
    if docs_dfs is None:
        docs_dfs = [spark.read.parquet(os.path.join(d, "docs"))
                    for d in index_dirs]
    return idx_dfs, docs_dfs


def _federation_weights(index_dirs: list[str], terms: list[str],
                        idx_dfs: list, known: dict | None = None
                        ) -> FedWeights:
    """Corpus-wide BM25/TF-IDF weights of a doc-disjoint federation.
    n_docs/total_len are INTEGER sums with one division (bit-identical to
    the merged index's avgdl); df(t) sums the members' dictionary rows,
    probed ONCE per member as (term, df, max_tf) — the rows the
    per-segment kernels prune with, so no kernel probes again. known:
    {member position: rows} a caller already holds (explain's tf probe
    yields them), skipping that member's probe."""
    from .index_build import load_stats_totals
    totals = [load_stats_totals(d) for d in index_dirs]
    n_total = sum(n for n, _ in totals)
    avgdl = (sum(t for _, t in totals) / n_total) if n_total else 0.0
    known = known or {}
    rows: list[dict[str, tuple[int, int]]] = []
    df_map: dict[str, int] = {}
    for i, idx in enumerate(idx_dfs):
        m = known.get(i)
        if m is None:
            m = {r["term"]: (int(r["df"]), int(r["max_tf"])) for r in
                 (idx.where(F.col("term").isin(terms))
                  .select("term", "df", "max_tf").collect())} \
                if terms else {}
        rows.append(m)
        for t, (df, _mt) in m.items():
            df_map[t] = df_map.get(t, 0) + df
    return FedWeights(n_total, avgdl, df_map, rows)


def _merge_federated(per: list[tuple[int, float]], k: int
                     ) -> list[tuple[int, int, float]]:
    """k×S per-segment rows -> global top-k by (score DESC, doc_id ASC) —
    identical to the merged index's (score DESC, ordinal ASC) because
    ordinals are monotone in doc_id within and across segments."""
    per.sort(key=lambda t: (-t[1], t[0]))
    return [(i + 1, doc_id, score)
            for i, (doc_id, score) in enumerate(per[:k])]


def search_big_terms_federated(spark: SparkSession, index_dirs: list[str],
                               terms: list[str], k: int = 10,
                               mode: str = "ranked", rounded: bool = False,
                               prune: bool = True,
                               idx_dfs: list | None = None,
                               docs_dfs: list | None = None,
                               excludes: list | None = None,
                               filters: dict[str, str] | None = None,
                               not_terms: list[str] | None = None
                               ) -> list[tuple[int, int, float]]:
    """search_big_federated over an explicit term list (see there).
    idx_dfs/docs_dfs: per-segment pre-loaded (persisted) frames — the
    serving warm path. excludes: per-segment dead-ordinal
    arrays/Broadcasts (logical deletes, deletes.member_exclusions) —
    exclusion inside each segment's top-k keeps the k×S merge exact over
    the surviving docs; the federation weights stay as built (Lucene
    stats-until-merge). filters/not_terms apply inside each segment
    (metadata filters are doc-local; a NOT term's exclusion set is
    segment-local ordinals) — restriction commutes with the k×S merge
    because every doc lives in exactly one segment."""
    if not terms or k <= 0 or not index_dirs:
        return []
    idx_dfs, docs_dfs = _member_frames(spark, index_dirs, idx_dfs, docs_dfs)
    w = _federation_weights(index_dirs, terms, idx_dfs)
    if w.n_docs == 0:
        return []
    if mode == "conjunctive" and len(w.df) < len(set(terms)):
        return []
    merged: list[tuple[int, float]] = []
    for i, idx in enumerate(idx_dfs):
        for _, doc_id, score in search_big_terms(
                spark, idx, docs_dfs[i], terms, w.rows[i], w, k=k,
                mode=mode, rounded=rounded, prune=prune,
                exclude=excludes[i] if excludes else None,
                filters=filters, not_terms=not_terms):
            merged.append((doc_id, score))
    return _merge_federated(merged, k)


def search_big_tfidf_federated(spark: SparkSession, index_dirs: list[str],
                               query: str, k: int = 300,
                               threshold: float = 0.3,
                               idx_dfs: list | None = None,
                               docs_dfs: list | None = None,
                               excludes: list | None = None,
                               filters: dict[str, str] | None = None,
                               not_terms: list[str] | None = None
                               ) -> list[tuple[int, int, float]]:
    """The reference's TF-IDF scoring over a doc-disjoint federation —
    same exactness argument as search_big_federated: per-segment scores
    under global (n_docs, df) weights are the merged index's scores, and
    `score > threshold` filters identically, so the k×S merge is exact
    (logical deletes, being doc-local, filter identically too — as do
    metadata filters and NOT-term exclusions)."""
    terms = query_terms(query)
    if not terms or k <= 0 or not index_dirs:
        return []
    idx_dfs, docs_dfs = _member_frames(spark, index_dirs, idx_dfs, docs_dfs)
    w = _federation_weights(index_dirs, terms, idx_dfs)
    if w.n_docs == 0 or not w.df:
        return []
    merged: list[tuple[int, float]] = []
    for i, idx in enumerate(idx_dfs):
        for _, doc_id, score in search_big_tfidf(
                spark, idx, docs_dfs[i], terms, w.rows[i], w, k=k,
                threshold=threshold,
                exclude=excludes[i] if excludes else None,
                filters=filters, not_terms=not_terms):
            merged.append((doc_id, score))
    return _merge_federated(merged, k)


def union_dictionary(idx_dfs: list):
    """(term, df) over a federation's UNION dictionary: per-segment dfs
    integer-sum to the federation-wide df (doc-disjoint segments, stats
    as built — the summation every federated scorer weights by). One
    segment is its own dictionary, read without a shuffle."""
    if len(idx_dfs) == 1:
        return idx_dfs[0].select("term", "df")
    from functools import reduce
    return (reduce(lambda a, b: a.unionByName(b),
                   [idx.select("term", "df") for idx in idx_dfs])
            .groupBy("term").agg(F.sum("df").alias("df")))


def search_big_prefix_federated(spark: SparkSession, index_dirs: list[str],
                                prefix: str, k: int = 10,
                                rounded: bool = False,
                                idx_dfs: list | None = None,
                                docs_dfs: list | None = None,
                                excludes: list | None = None,
                                filters: dict[str, str] | None = None,
                                not_terms: list[str] | None = None
                                ) -> list[tuple[int, int, float]]:
    """Wildcard `prefix*` over a federation: the expansion rule of
    expand_prefix_big over the union dictionary (so it equals the merged
    index's expansion — past the cap, the highest CORPUS-WIDE dfs win),
    then the shared federated ranked-OR tail."""
    idx_dfs, docs_dfs = _member_frames(spark, index_dirs, idx_dfs, docs_dfs)
    terms = expand_prefix_big(union_dictionary(idx_dfs), prefix)
    return search_big_terms_federated(spark, index_dirs, terms, k=k,
                                      rounded=rounded, idx_dfs=idx_dfs,
                                      docs_dfs=docs_dfs, excludes=excludes,
                                      filters=filters, not_terms=not_terms)


def search_big_fuzzy_federated(spark: SparkSession, index_dirs: list[str],
                               term: str, k: int = 10,
                               rounded: bool = False,
                               idx_dfs: list | None = None,
                               docs_dfs: list | None = None,
                               excludes: list | None = None,
                               filters: dict[str, str] | None = None,
                               not_terms: list[str] | None = None
                               ) -> list[tuple[int, int, float]]:
    """Fuzzy `term~` over a federation: ED<=1 expansion on the union
    dictionary (df sums; each member's candidates from its fuzzy stage
    when built), then the shared federated ranked-OR tail."""
    from .fuzzy import expand_fuzzy_federated
    idx_dfs, docs_dfs = _member_frames(spark, index_dirs, idx_dfs, docs_dfs)
    terms = expand_fuzzy_federated(idx_dfs, term, index_dirs=index_dirs)
    return search_big_terms_federated(spark, index_dirs, terms, k=k,
                                      rounded=rounded, idx_dfs=idx_dfs,
                                      docs_dfs=docs_dfs, excludes=excludes,
                                      filters=filters, not_terms=not_terms)


def expand_prefix_big(index_df, prefix: str) -> list[str]:
    """Wildcard expansion over a (term, df) dictionary frame — the one
    rule (SearchEngine.expand_prefix's docstring) every regime applies:
    up to PREFIX_EXPANSION_CAP matching terms, past it the cap
    highest-df ones (df DESC, term ASC)."""
    if not prefix:
        raise ValueError("empty wildcard prefix")
    cap = SearchEngine.PREFIX_EXPANSION_CAP
    rows = (index_df.where(F.col("term").startswith(prefix))
            .select("term").limit(cap + 1).collect())
    if len(rows) > cap:
        rows = (index_df.where(F.col("term").startswith(prefix))
                .orderBy(F.col("df").desc(), F.col("term"))
                .select("term").limit(cap).collect())
    return sorted(r["term"] for r in rows)


def facet_frame(spark: SparkSession, index_dir: str, terms: list[str],
                fields: list[str], mode: str = "ranked",
                index_df=None, docs_df=None, exclude=None,
                filters: dict[str, str] | None = None,
                not_terms: list[str] | None = None):
    """One row of metadata per MATCHING doc — the distributed half of
    facet aggregation (Elasticsearch-style aggs over the full result set,
    not the top-k page). Matching = the query's candidate semantics:
    ranked -> union of the terms' postings, conjunctive -> docs containing
    every term; then the same restriction stack as search (metadata
    filters pushed to the docs scan, NOT-term anti-join, logical-delete
    exclusion masked at posting decode). Stays a DataFrame end-to-end so
    federations can union members' frames BEFORE counting — facet counts
    over a federation are exact, not per-member-truncated approximations.
    Cost: one job over Σ df postings of the query terms + a join to the
    docs snapshot projected to `fields` (column-pruned scan)."""
    import pandas as pd

    if index_df is None:
        index_df = spark.read.parquet(os.path.join(index_dir, "index"))
    if docs_df is None:
        docs_df = spark.read.parquet(os.path.join(index_dir, "docs"))
    for f in fields:
        if f not in docs_df.columns:
            raise ValueError(
                f"this index's docs snapshot has no {f!r} column — facet "
                "fields need the full input_hint metadata")
    terms = sorted(set(terms))
    empty = docs_df.select(*fields).limit(0)
    if not terms:
        return empty
    exc_bc = exclude

    def dec(batches):
        exc = _excl_value(exc_bc)
        for pdf in batches:
            for blob in pdf["postings"]:
                ids, tfs = decode_postings(bytes(blob))
                if exc is not None:
                    ids, _ = _mask_excluded(ids, tfs, exc)
                yield pd.DataFrame({"ordinal": ids})

    hits = (index_df.where(F.col("term").isin(terms)).select("postings")
            .mapInPandas(dec, schema="ordinal long"))
    if mode == "conjunctive":
        # presence check: <= len(terms) dictionary rows via pushdown
        n_present = index_df.where(F.col("term").isin(terms)).count()
        if n_present < len(terms):
            return empty  # some term absent from corpus -> empty AND
        # each term lists an ordinal at most once, so the per-ordinal row
        # count IS the distinct-term count
        cand = (hits.groupBy("ordinal").agg(F.count(F.lit(1)).alias("nt"))
                .where(F.col("nt") == len(terms)).select("ordinal"))
    elif mode == "ranked":
        cand = hits.distinct()
    else:
        raise ValueError(f"unknown mode {mode!r}")
    if not_terms:
        bad = _ordinals_frame(index_df, sorted(set(not_terms)))
        cand = cand.join(bad, "ordinal", "left_anti")
    docs_sel = docs_df.select("ordinal", *fields)
    if filters:
        docs_sel = docs_sel.where(_filters_col(filters, docs_df.columns))
    return cand.join(docs_sel, "ordinal").select(*fields)


def facet_topn(frames: list, fields: list[str], k_values: int = 10
               ) -> dict[str, list[tuple[str, int]]]:
    """Reduce facet_frame outputs to per-field top-k_values (value, count)
    lists, count DESC then value ASC — a distributed groupBy + sort+limit
    per field, so only k_values rows per field reach the driver. Multiple
    frames union first (doc-disjoint federation members), making the
    federation counts exact."""
    from functools import reduce

    from pyspark import StorageLevel
    if k_values <= 0:
        return {f: [] for f in fields}
    u = reduce(lambda a, b: a.unionByName(b), frames)
    # the fields share one candidate derivation — materialize it once
    u = u.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        out = {}
        for f in fields:
            rows = (u.groupBy(f).agg(F.count(F.lit(1)).alias("cnt"))
                    .orderBy(F.col("cnt").desc(), F.col(f))
                    .limit(k_values).collect())
            out[f] = [(r[f], int(r["cnt"])) for r in rows]
        return out
    finally:
        u.unpersist()


def suggest_terms(index_df, prefix: str, k: int = 8
                  ) -> list[tuple[str, int]]:
    """Autocomplete: the k highest-df dictionary terms starting with
    ``prefix`` (ties term ASC) as ``[(term, df)]`` — the search-as-you-type
    surface the reference's frontend lacks (frontEnd/search_engine/src/
    pages/Results.jsx renders results only). One pushdown StringStartsWith
    scan of the term dictionary plus a DISTRIBUTED sort+limit, so exactly
    k rows reach the driver regardless of dictionary size; the index is
    term-sorted parquet, so at scale the scan touches the prefix's row
    groups only. Both serving regimes call this one function — the index
    DataFrame is the dictionary in both."""
    if not prefix:
        raise ValueError("empty suggest prefix")
    if k <= 0:
        return []
    rows = (index_df.where(F.col("term").startswith(prefix))
            .orderBy(F.col("df").desc(), F.col("term"))
            .select("term", "df").limit(k).collect())
    return [(r["term"], int(r["df"])) for r in rows]


def suggest_terms_federated(idx_dfs: list, prefix: str, k: int = 8
                            ) -> list[tuple[str, int]]:
    """Autocomplete over a federation's union dictionary
    (union_dictionary's df sums), same (df DESC, term ASC) top-k rule."""
    return suggest_terms(union_dictionary(idx_dfs), prefix, k=k)


def search_big_tfidf(spark: SparkSession, index_df, docs_df,
                     terms: list[str], meta: dict[str, tuple[int, int]],
                     weights: FedWeights, k: int = 300,
                     threshold: float = 0.3, exclude=None,
                     filters: dict[str, str] | None = None,
                     not_terms: list[str] | None = None
                     ) -> list[tuple[int, int, float]]:
    """One segment's share of the reference's TF-IDF scoring
    (Searcher.java:108,113,139-159,196) on the zero-driver-array path —
    the per-segment kernel of search_big_tfidf_federated, bitwise equal to
    SearchEngine.search_tfidf_reference (tests assert it):

    - per-term idf = log10(N/df) from the federation's ``weights``;
      ``meta`` (the segment's own dictionary rows, from the same probe)
      says which terms this segment holds;
    - (1 + log10 tf) * idf computed with NumPy INSIDE the Arrow decode
      step (the same np.log10 the driver path uses — shipping the log to
      the JVM could differ in the last ulp across libm implementations);
    - per-doc sum folds a sort_array'd (term_idx, contrib) list — the
      driver path's np.add.at adds contributions in sorted-term
      concatenation order, which is exactly this fold order;
    - score > threshold, top-k via distributed sort+limit, doc_id via the
      k-row broadcast join."""
    import pandas as pd

    if not terms or k <= 0 or not meta:
        return []
    term_meta = {t: (i, math.log10(weights.n_docs / weights.df[t]))
                 for i, t in enumerate(sorted(meta))}

    def contribs(batches):
        exc = _excl_value(exclude)
        for pdf in batches:
            outs = []
            for term, blob in zip(pdf["term"], pdf["postings"]):
                ti, idf = term_meta[term]
                ids, tfs = decode_postings(bytes(blob))
                if exc is not None and ids.size:
                    ids, tfs = _mask_excluded(ids, tfs, exc)
                w = (1.0 + np.log10(tfs.astype(np.float64))) * idf
                outs.append(pd.DataFrame(
                    {"ordinal": ids, "term_idx": ti, "contrib": w}))
            if outs:
                yield pd.concat(outs, ignore_index=True)

    cdf = (index_df.where(F.col("term").isin(terms))
           .select("term", "postings")
           .mapInPandas(contribs,
                        schema="ordinal long, term_idx int, contrib double"))
    scored = (cdf.groupBy("ordinal")
              .agg(F.aggregate(
                  F.sort_array(F.collect_list(
                      F.struct("term_idx", "contrib"))),
                  F.lit(0.0),
                  lambda acc, x: acc + x["contrib"]).alias("score"))
              .where(F.col("score") > threshold))
    # result-set restriction (stats as built; tf-idf has no pruning, so
    # plain semi/anti joins are exact — both stay fully distributed)
    if filters:
        scored = scored.join(
            docs_df.where(_filters_col(filters, docs_df.columns))
            .select("ordinal"), "ordinal", "leftsemi")
    if not_terms:
        scored = scored.join(
            _ordinals_frame(index_df, sorted(set(not_terms))),
            "ordinal", "left_anti")
    return _plain_topk(spark, scored, docs_df, k)
