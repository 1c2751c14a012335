"""The one top-k scorer: BM25, the reference's TF-IDF and the path-boosted
BM25F over ONE index segment, in NumPy, with no Spark anywhere — plus the
one candidate derivation (Segment.candidates) that the top-k, the facet
histograms (Segment.facet_counts) and the score explanation
(Segment.explain) share.

Both serving regimes run these functions. The driver-map SearchEngine is a
``Segment`` that keeps its doc arrays and a posting cache for the process
lifetime; the big regime runs each federation member's ``Segment`` inside
one Spark task (query.member_frame), where it lives for one request and
its doc arrays never reach the driver.

Everything a segment needs it reads with ``pyarrow.dataset`` straight from
the segment's parquet stages: the queried terms' posting rows (a term
filter over the term-sorted index prunes row groups by their statistics),
the (ordinal, doc_id, doc_len) columns of the docs snapshot, and metadata
columns for filters.

Rank-identity discipline (SURVEY.md §7.4): scores accumulate per doc over
query terms in SORTED term order, float64 throughout, idf via math.log
(scalar libm — identical to engine.oracle); NumPy is used only for
elementwise arithmetic, which is IEEE-deterministic. Ties break by
(score DESC, doc_id ASC); ordinals ascend with doc_id, so an ordinal
tie-break is the same order.
"""

from __future__ import annotations

import math
import os
import threading
from collections import OrderedDict
from dataclasses import dataclass
from typing import NamedTuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds

from . import B, K1
from .codec import BLOCK_SIZE, decode_postings


def bm25_idf(n_docs: int, df: int) -> float:
    """BM25 idf with the oracle's scalar libm op order (every driver-side
    scorer calls this one; the JVM column form is query._bm25_contrib_col)."""
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


class FedWeights(NamedTuple):
    """A doc-disjoint federation's BM25/TF-IDF weights for one query's
    terms, plus each member's own dictionary rows."""
    n_docs: int
    avgdl: float
    df: dict[str, int]                      # federation-wide df per term
    rows: list[dict[str, tuple[int, int]]]  # per member: term -> (df, max_tf)


def missing_column(name: str) -> ValueError:
    return ValueError(
        f"this index's docs snapshot has no {name!r} column "
        "(stats-only legacy snapshot?) — metadata filters need "
        "the full input_hint metadata")


_NONE = np.empty(0, dtype=np.int64)  # the empty ordinal set
_NONE.flags.writeable = False


def _lookup(sorted_ids: np.ndarray, x: np.ndarray
            ) -> tuple[np.ndarray, np.ndarray]:
    """(clamped positions in sorted_ids, membership mask) of the values x."""
    if not sorted_ids.size:
        return np.zeros(x.size, np.intp), np.zeros(x.size, bool)
    pos = np.searchsorted(sorted_ids, x)
    pos_c = np.minimum(pos, sorted_ids.size - 1)
    return pos_c, (pos < sorted_ids.size) & (sorted_ids[pos_c] == x)


# ------------------------------------------------------------------ readers

def _stage(index_dir: str, stage: str) -> ds.Dataset:
    # Spark's _SUCCESS and .crc side files are skipped by the default
    # ignore_prefixes ('.', '_')
    return ds.dataset(os.path.join(index_dir, stage), format="parquet")


def _term_rows(path: str, terms: list[str], columns: list[str],
               where: pc.Expression | None = None) -> pa.Table:
    cond = pc.field("term").isin(list(terms))
    return ds.dataset(path, format="parquet").to_table(
        columns=columns, filter=cond if where is None else cond & where)


def read_dictionary(index_dir: str, terms: list[str]
                    ) -> dict[str, tuple[int, int]]:
    """term -> (df, max_tf) for the terms this segment holds."""
    if not terms:
        return {}
    tbl = _term_rows(os.path.join(index_dir, "index"), terms,
                     ["term", "df", "max_tf"])
    return {t: (int(df), int(mt)) for t, df, mt in zip(
        *(tbl.column(c).to_pylist() for c in ("term", "df", "max_tf")))}


def read_postings(index_dir: str, terms: list[str]
                  ) -> dict[str, TermPostings]:
    """The decoded posting lists (and block-max metadata) of the terms
    this segment holds."""
    if not terms:
        return {}
    cols = ["term", "df", "postings", "block_last_ids", "block_max_tfs"]
    tbl = _term_rows(os.path.join(index_dir, "index"), terms, cols)
    out = {}
    for term, df, blob, last, bmax in zip(
            *(tbl.column(c).to_pylist() for c in cols)):
        ids, tfs = decode_postings(bytes(blob))
        out[term] = TermPostings(term, int(df), ids, tfs,
                                 np.array(last, dtype=np.int64),
                                 np.array(bmax, dtype=np.int64))
    return out


def docs_columns(index_dir: str) -> list[str]:
    """Column names of a segment's docs snapshot (schema only, no scan)."""
    return _stage(index_dir, "docs").schema.names


def read_docs(index_dir: str, columns: list[str]) -> dict[str, pa.Array]:
    """Docs-snapshot columns ordered by ordinal (array index == ordinal)."""
    tbl = _stage(index_dir, "docs").to_table(columns=["ordinal", *columns])
    tbl = tbl.take(pc.sort_indices(tbl.column("ordinal")))
    return {c: tbl.column(c) for c in columns}


#: the docs-snapshot columns a result row displays from
DISPLAY = ("repo", "path", "commit", "title", "snippet")


def display_of(row: dict) -> tuple[str, str, str]:
    """(url, title, body) of one docs row: url is repo/path@commit (the
    doc_id for a stats-only snapshot), body the stored leading snippet."""
    url = (f'{row["repo"]}/{row.get("path")}@{row.get("commit")}'
           if row.get("repo") is not None else str(row["doc_id"]))
    return url, row.get("title") or "", row.get("snippet") or ""


def read_display(index_dir: str, doc_ids: list[int]
                 ) -> dict[int, tuple[str, str, str]]:
    """doc_id -> display_of for the ``doc_ids`` this segment holds, in one
    doc_id-filtered read of its docs snapshot (a result page's k rows).
    The filter prunes no row group of the build's docs layout, so the
    read decodes the snapshot's display columns whole."""
    if not doc_ids:
        return {}
    dset = _stage(index_dir, "docs")
    cols = ["doc_id", *(c for c in DISPLAY if c in dset.schema.names)]
    tbl = dset.to_table(columns=cols,
                        filter=pc.field("doc_id").isin(list(doc_ids)))
    return {int(r["doc_id"]): display_of(r) for r in tbl.to_pylist()}


def canonical_id(index_dir: str, doc_id: int) -> int:
    """The canonical doc_id of an alias (a duplicate the build dropped
    from docs) in this segment, else ``doc_id`` itself. The manifest
    gates the stage: an aliases dir an older build left behind is not
    read."""
    from .checkpoint import BuildManifest
    if not BuildManifest(index_dir).is_complete("aliases"):
        return doc_id
    tbl = _stage(index_dir, "aliases").to_table(
        columns=["canonical_doc_id"], filter=pc.field("doc_id") == doc_id)
    return int(tbl.column(0)[0].as_py()) if tbl.num_rows else doc_id


def meta_column(index_dir: str, name: str) -> np.ndarray:
    """A docs-snapshot metadata column ordered by ordinal, as a fixed-width
    'U' array (nulls -> ''), so equality and np.char.startswith
    vectorize. A column the snapshot lacks raises missing_column."""
    if name not in docs_columns(index_dir):
        raise missing_column(name)
    col = pc.fill_null(pc.cast(read_docs(index_dir, [name])[name],
                               pa.string()), "")
    return np.asarray(col.to_numpy(zero_copy_only=False), dtype=str)


class _TermCache:
    """LRU key -> value cache over a batch loader; evicts AFTER answering,
    so a query wider than the whole budget still answers exactly. One lock
    guards the dict work (not the load), so concurrent requests can share
    a cache: another thread's eviction never lands between a membership
    check and its read."""

    def __init__(self, load, max_keys: int):
        self._load = load
        self._max = max_keys
        self._d: OrderedDict = OrderedDict()
        self._lock = threading.Lock()

    def __len__(self) -> int:
        return len(self._d)

    def get(self, keys: list) -> dict:
        out = {}
        missing = []
        with self._lock:
            for t in keys:
                if t in self._d:
                    self._d.move_to_end(t)  # LRU touch
                    if (v := self._d[t]) is not None:
                        out[t] = v
                else:
                    missing.append(t)
        if missing:
            got = self._load(missing)
            with self._lock:
                for t in missing:
                    self._d[t] = v = got.get(t)  # None marks an absent key
                    if v is not None:
                        out[t] = v
                while len(self._d) > self._max:
                    self._d.popitem(last=False)
        return {t: out[t] for t in keys if t in out}


# ----------------------------------------------------------- path field

class PathField:
    """The path field of BM25F (engine/fields.py): plain (term, ordinal,
    tf) rows of the path_index stage, per-doc path lengths, and the
    field's own average length. ``df``: the federation-wide path df per
    term; None means this segment's own (its posting count)."""

    def __init__(self, path_index: str, path_lens: str, n_segment_docs: int,
                 avg_pl: float, w_path: float, df: dict | None = None,
                 cache_max_terms: int = 4096):
        self.avg_pl = avg_pl
        self.w_path = float(w_path)
        self._df = df
        self._path_index = path_index
        lens = ds.dataset(path_lens, format="parquet").to_table(
            columns=["ordinal", "plen"])
        self._plens = np.zeros(n_segment_docs, dtype=np.int64)
        self._plens[lens.column("ordinal").to_numpy()] = \
            lens.column("plen").to_numpy()
        self._cache = _TermCache(self._read, cache_max_terms)

    def _read(self, terms: list[str]
              ) -> dict[str, tuple[np.ndarray, np.ndarray]]:
        tbl = _term_rows(self._path_index, terms, ["term", "ordinal", "tf"])
        tbl = tbl.sort_by([("term", "ascending"), ("ordinal", "ascending")])
        term = tbl.column("term").to_numpy(zero_copy_only=False)
        ords = tbl.column("ordinal").to_numpy().astype(np.int64)
        tfs = tbl.column("tf").to_numpy().astype(np.int64)
        lo = np.searchsorted(term, terms, side="left")
        hi = np.searchsorted(term, terms, side="right")
        return {t: (ords[a:b], tfs[a:b]) for t, a, b in zip(terms, lo, hi)}

    def postings(self, terms: list[str]
                 ) -> dict[str, tuple[np.ndarray, np.ndarray]]:
        return self._cache.get(terms)

    def weighted_scores(self, n_docs: int, terms: list[str],
                        cands: np.ndarray) -> np.ndarray:
        """w_path * bm25_path per candidate (sorted-term accumulation with
        the PATH field's length statistics)."""
        path = self.postings(terms)
        pl = self._plens[cands].astype(np.float64)
        out = np.zeros(cands.size, dtype=np.float64)
        for t in terms:
            ords, tfs = path[t]
            pos_c, mask = _lookup(ords, cands)
            if not mask.any():
                continue
            tf = tfs[pos_c[mask]].astype(np.float64)
            df = int(ords.size) if self._df is None else self._df[t]
            out[mask] += bm25_idf(n_docs, df) * bm25_tfw(
                tf, pl[mask], self.avg_pl)
        return self.w_path * out


# ------------------------------------------------------------------ segment

class Segment:
    """One index segment's scorer. ``n_docs``/``avgdl``/``df``: the BM25
    weights to score with — the segment's own (df=None: each term's
    segment df) or a federation's, so per-segment top-ks merge exactly.
    Segment-local rows always drive the pruning geometry."""

    #: posting-cache budget — LRU-evicted past this many distinct terms
    #: (a hot-term entry is O(df) int64s), so a long-lived process holds
    #: bounded memory no matter how many distinct terms it answers
    CACHE_MAX_TERMS = 4096
    PRUNE_CHUNK = 1024  # exact-scoring batch size for the pruned traversal

    def __init__(self, index_dir: str, n_docs: int, avgdl: float,
                 df: dict[str, int] | None = None,
                 cache_max_terms: int | None = None):
        self.index_dir = index_dir
        self.n_docs, self.avgdl = n_docs, avgdl
        self._df = df
        # ordinals are assigned in ascending doc_id order (index_build
        # stage "docs"), so ordinal order == doc_id order and tie-breaks
        # carry
        cols = read_docs(index_dir, ["doc_id", "doc_len"])
        self._ext_ids = cols["doc_id"].to_numpy().astype(np.int64)
        self._doc_lens = cols["doc_len"].to_numpy().astype(np.int64)
        self._min_dl = int(self._doc_lens.min()) if self._doc_lens.size \
            else 1
        self._term_cache = _TermCache(
            lambda ts: read_postings(index_dir, ts),
            cache_max_terms if cache_max_terms is not None
            else self.CACHE_MAX_TERMS)
        self._meta_cache: dict[str, np.ndarray] = {}

    def _fetch(self, terms: list[str]) -> dict[str, TermPostings]:
        return self._term_cache.get(terms)

    # -------------------------------------------- result-set restriction
    # (metadata filters + NOT terms + logical deletes — Lucene filter-query
    # semantics: the result SET shrinks, the statistics N/avgdl/df stay as
    # built, so a surviving doc's score is unchanged and exclusion commutes
    # with ranking. Restriction is applied to the CANDIDATE set before any
    # scoring or θ derivation, so the pruned traversal stays exact.)

    def _meta_col(self, name: str) -> np.ndarray:
        """Metadata column values ordered by ordinal, loaded on the first
        filtered query and cached with the segment."""
        if name not in self._meta_cache:
            self._meta_cache[name] = meta_column(self.index_dir, name)
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
                  not_terms: list[str] | None,
                  exclude: np.ndarray | None = None) -> np.ndarray:
        """Candidate ordinals minus metadata-filtered-out docs, docs
        containing any NOT term, and the sorted dead ordinals
        ``exclude``."""
        if filters:
            cands = cands[self._filter_mask(filters)[cands]]
        if not_terms and cands.size:
            bad = self._fetch(sorted(set(not_terms)))
            if bad:
                excl = np.unique(np.concatenate(
                    [tp.doc_ids for tp in bad.values()]))
                cands = cands[~_lookup(excl, cands)[1]]
        if exclude is not None and cands.size:
            cands = cands[~_lookup(exclude, cands)[1]]
        return cands

    # ------------------------------------------------------------ scoring

    def _idf(self, term: str, tp: TermPostings) -> float:
        return bm25_idf(self.n_docs,
                        tp.df if self._df is None else self._df[term])

    def _tfw(self, tf, dl):
        return bm25_tfw(tf, dl, self.avgdl)

    def _score(self, terms: list[str], postings: dict[str, TermPostings],
               candidates: np.ndarray) -> np.ndarray:
        """Exact BM25 for sorted candidate ordinals; sorted-term sum order."""
        dl = self._doc_lens[candidates].astype(np.float64)
        scores = np.zeros(candidates.size, dtype=np.float64)
        for t in terms:  # terms pre-sorted — fixed accumulation order
            tp = postings.get(t)
            if tp is None:
                continue
            pos_c, mask = _lookup(tp.doc_ids, candidates)
            if not mask.any():
                continue
            tf = tp.tfs[pos_c[mask]].astype(np.float64)
            scores[mask] += self._idf(t, tp) * self._tfw(tf, dl[mask])
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

    @staticmethod
    def _union(arrays: list[np.ndarray]) -> np.ndarray:
        return arrays[0] if len(arrays) == 1 else np.unique(
            np.concatenate(arrays))

    def candidates(self, terms: list[str],
                   postings: dict[str, TermPostings], mode: str = "ranked",
                   filters: dict[str, str] | None = None,
                   not_terms: list[str] | None = None,
                   exclude: np.ndarray | None = None,
                   extra: list[np.ndarray] = ()) -> np.ndarray:
        """The matching set of a query, as sorted ordinals: ranked = the
        union of the terms' postings (and of ``extra`` ordinal arrays, the
        BM25F path matches), conjunctive = the docs holding every term;
        then _restrict. Every mode's top-k and the facet histograms count
        over this one set."""
        if mode == "conjunctive":
            if len(postings) < len(terms):
                return _NONE  # some term absent from the segment
            cands = None
            for tp in sorted(postings.values(), key=lambda x: x.df):
                cands = tp.doc_ids if cands is None else np.intersect1d(
                    cands, tp.doc_ids, assume_unique=True)
                if cands.size == 0:
                    return cands
        elif mode == "ranked":
            arrays = [tp.doc_ids for tp in postings.values()]
            arrays += [a for a in extra if a.size]
            if not arrays:
                return _NONE
            cands = self._union(arrays)
        else:
            raise ValueError(f"unknown mode {mode!r}")
        return self._restrict(cands, filters, not_terms, exclude)

    def topk(self, terms: list[str], k: int = 10, mode: str = "ranked",
             prune: bool = True, rounded: bool = False,
             filters: dict[str, str] | None = None,
             not_terms: list[str] | None = None,
             exclude: np.ndarray | None = None,
             path: PathField | None = None
             ) -> list[tuple[int, int, float]]:
        """[(rank, doc_id, score)] over sorted unique ``terms``: ranked
        (OR) or conjunctive (AND) BM25; with ``path``, ranked BM25F
        (score = body + w_path * path, candidates = body ∪ path matches).
        rounded=True ranks by round(score, 6) and returns rounded scores."""
        self.last_prune_stats = {}
        if not terms or k <= 0:
            return []
        postings = self._fetch(terms)
        if mode == "ranked":
            return self._ranked_pruned(terms, postings, k, rounded, filters,
                                       not_terms, exclude, path, prune)
        cands = self.candidates(terms, postings, mode, filters, not_terms,
                                exclude)
        return self._topk(cands, self._score(terms, postings, cands), k,
                          rounded)

    def facet_counts(self, terms: list[str], fields: list[str],
                     k_values: int | None = None, mode: str = "ranked",
                     filters: dict[str, str] | None = None,
                     not_terms: list[str] | None = None,
                     exclude: np.ndarray | None = None
                     ) -> dict[str, list[tuple[str, int]]]:
        """Per-field (value, count) histograms over the FULL matching set
        (candidates), count DESC then value ASC; the first ``k_values``
        per field, or all of them (None). A field the docs snapshot lacks
        raises missing_column."""
        if not terms:
            return {f: [] for f in fields}
        cols = {f: self._meta_col(f) for f in fields}  # validate first
        cands = self.candidates(terms, self._fetch(terms), mode, filters,
                                not_terms, exclude)
        cut = None if k_values is None else max(k_values, 0)
        out = {}
        for f in fields:
            vals, cnts = np.unique(cols[f][cands], return_counts=True)
            order = np.lexsort((vals, -cnts))[:cut]
            out[f] = [(str(vals[i]), int(cnts[i])) for i in order]
        return out

    def ordinal_of(self, doc_id: int) -> int | None:
        # ordinals ascend in doc_id order, so _ext_ids is sorted
        pos = int(np.searchsorted(self._ext_ids, doc_id))
        if pos < self._ext_ids.size and self._ext_ids[pos] == doc_id:
            return pos
        return None

    def explain(self, terms: list[str], doc_id: int) -> dict:
        """Lucene-style score explanation: the per-term BM25 breakdown of
        ``doc_id``'s score over sorted ``terms``, with the EXACT float64
        op order ranking uses (sorted terms, ``idf * tfw`` accumulation),
        so ``score`` is bitwise the score topk ranks by. A term absent
        from the doc (or the corpus) contributes 0 and still appears with
        its df/idf — the segment's own, or the federation's under
        federation weights, so a term only another member holds shows the
        merged index's stats. df == 0 -> idf None."""
        ordinal = self.ordinal_of(doc_id)
        if ordinal is None:
            raise ValueError(f"unknown doc_id {doc_id}")
        dl = np.float64(self._doc_lens[ordinal])
        postings = self._fetch(terms)
        total = np.float64(0.0)
        parts = []
        for t in terms:
            tp = postings.get(t)
            df = ((tp.df if tp else 0) if self._df is None
                  else self._df.get(t, 0))
            ent = {"term": t, "df": df,
                   "idf": bm25_idf(self.n_docs, df) if df > 0 else None,
                   "tf": 0, "contribution": 0.0}
            if tp is not None:
                p = int(np.searchsorted(tp.doc_ids, ordinal))
                if p < tp.doc_ids.size and tp.doc_ids[p] == ordinal:
                    c = self._idf(t, tp) * self._tfw(
                        np.float64(tp.tfs[p]), dl)
                    total = total + c
                    ent["tf"] = int(tp.tfs[p])
                    ent["contribution"] = float(c)
            parts.append(ent)
        return {"doc_id": int(doc_id), "doc_len": int(dl),
                "n_docs": int(self.n_docs), "avgdl": float(self.avgdl),
                "k1": K1, "b": B, "score": float(total), "terms": parts}

    # ------------------------------------------------- block-max pruned ranked

    def _block_ubs(self, terms: list[str],
                   postings: dict[str, TermPostings],
                   cands: np.ndarray) -> tuple[np.ndarray, dict]:
        """Per-candidate score upper bound from per-BLOCK max tfs (+ the
        segment's min doc_len), and each term's _lookup of cands
        (positions, membership mask). The bound is membership-aware: a
        candidate absent from a term's posting list contributes 0 for that
        term (its tf IS 0), and a present one is bounded by the max tf of
        the exact block holding its posting — without the membership test,
        a short posting list's single block spans nearly the whole ordinal
        range and the bound collapses to 'everything might match
        everything'."""
        ub = np.zeros(cands.size, dtype=np.float64)
        present = {}
        for t in terms:
            tp = postings.get(t)
            if tp is None:
                continue
            pos_c, hit = present[t] = _lookup(tp.doc_ids, cands)
            btf = tp.block_max_tfs[pos_c // BLOCK_SIZE].astype(np.float64)
            ub[hit] += (self._idf(t, tp)
                        * self._tfw(btf, np.float64(self._min_dl)))[hit]
        return ub, present

    def _seed_theta(self, terms: list[str],
                    postings: dict[str, TermPostings], cands: np.ndarray,
                    present: dict, k: int) -> float | None:
        """θ seed: the rarest term's exact k-th best single-term score over
        the restricted candidates — a lower bound on the k-th best final
        score (every other contribution is non-negative and float addition
        of non-negatives is monotone). None when it cannot fill k slots."""
        if not present:
            return None
        rare = min(present, key=lambda t: (postings[t].df, t))
        tp, (pos_c, hit) = postings[rare], present[rare]
        if int(hit.sum()) < k:
            return None
        s = self._idf(rare, tp) * self._tfw(
            tp.tfs[pos_c[hit]].astype(np.float64),
            self._doc_lens[cands[hit]].astype(np.float64))
        return float(np.partition(s, s.size - k)[s.size - k])

    def _ranked_pruned(self, terms: list[str],
                       postings: dict[str, TermPostings],
                       k: int, rounded: bool = False,
                       filters: dict[str, str] | None = None,
                       not_terms: list[str] | None = None,
                       exclude: np.ndarray | None = None,
                       path: PathField | None = None,
                       prune: bool = True
                       ) -> list[tuple[int, int, float]]:
        """Score-safe block-max traversal (block-max WAND/MaxScore family):
        candidates are visited in DESCENDING upper-bound order and exactly
        scored in chunks; θ = the k-th best exact score so far, seeded
        before the first chunk by _seed_theta. Once θ strictly exceeds the
        next candidate's upper bound, every remaining candidate (the whole
        low-ub tail — entire blocks of the hot terms) is skipped without
        scoring. Strict inequality keeps the skip score-safe under the
        (score DESC, doc_id ASC) tie-break: a skipped candidate has score
        <= ub < θ, so it cannot displace or tie any top-k member.

        With ``path`` (BM25F) the exact weighted path score of every
        candidate is added to both the bound and the score, so the body
        bound carries the pruning. prune=False scores every candidate.

        last_prune_stats records candidates/scored/skipped, and the body
        postings of the skipped candidates (postings_skipped, per term in
        pruned_terms)."""
        pw = None
        extra = ([o for o, _tf in path.postings(terms).values()]
                 if path is not None else [])
        union = self.candidates(terms, postings, "ranked", filters,
                                not_terms, exclude, extra)
        if path is not None:
            pw = path.weighted_scores(self.n_docs, terms, union)
        if not prune:
            s = self._score(terms, postings, union)
            self.last_prune_stats = {
                "candidates": int(union.size), "scored": int(union.size),
                "skipped": 0, "postings_skipped": 0, "pruned_terms": []}
            return self._topk(union, s if pw is None else s + pw, k,
                              rounded)
        ub, present = self._block_ubs(terms, postings, union)
        if pw is not None:
            ub = ub + pw
        order = np.argsort(-ub, kind="stable")
        sorted_c, neg_ub = union[order], -ub[order]
        sorted_pw = None if pw is None else pw[order]

        def cut_at(theta: float) -> int:
            if rounded:
                # rounding-safe cut: a skipped candidate must not even be
                # able to ROUND to the k-th best's rounded score —
                # s < round(θ,6) - 6e-7 ⟹ round(s,6) < round(θ,6), while
                # ≥k docs have s ≥ θ ⟹ round(s) ≥ round(θ) (round is
                # monotone). Uses np.round (the SAME rounding _topk ranks
                # by — its scaling error is ~1e-10 at these magnitudes)
                # with a 6e-7 margin that absorbs it while staying under
                # the 1e-6 grid spacing the argument needs
                theta = float(np.round(theta, 6)) - 6e-7
            # every candidate with ub STRICTLY below θ can never enter the
            # top-k (even on ties) — one binary search on the descending
            # ub array
            return int(np.searchsorted(neg_ub, -theta, side="right"))

        n = sorted_c.size
        seed = self._seed_theta(terms, postings, union, present, k)
        if seed is not None:
            n = min(n, cut_at(seed))
        # exponentially growing chunks: worst case (nothing prunable) costs
        # a geometric series ~1.3x one exhaustive pass; θ maintenance is a
        # bounded k-element partial sort per chunk
        chunk = max(self.PRUNE_CHUNK, k)
        scored_s: list[np.ndarray] = []
        top = np.empty(0, dtype=np.float64)
        pos = 0
        while pos < n:
            end = min(pos + chunk, n)
            s = self._score(terms, postings, sorted_c[pos:end])
            if sorted_pw is not None:
                s = s + sorted_pw[pos:end]
            scored_s.append(s)
            merged = np.concatenate([top, s])
            top = (np.partition(merged, merged.size - k)[merged.size - k:]
                   if merged.size > k else merged)
            if top.size >= k:
                n = min(n, max(cut_at(float(top.min())), end))
            pos = end
            chunk *= 4
        tail = order[pos:]
        skipped = {t: int(hit[tail].sum())
                   for t, (_pos, hit) in present.items()} if tail.size else {}
        self.last_prune_stats = {
            "candidates": int(union.size), "scored": pos,
            "skipped": int(union.size - pos),
            "postings_skipped": sum(skipped.values()),
            "pruned_terms": sorted(t for t, n_ in skipped.items() if n_)}
        return self._topk(sorted_c[:pos],
                          np.concatenate(scored_s) if scored_s
                          else np.empty(0, dtype=np.float64), k, rounded)

    # ------------------------------------------- reference TF-IDF (secondary)

    def tfidf_topk(self, terms: list[str], k: int = 300,
                   threshold: float = 0.3,
                   filters: dict[str, str] | None = None,
                   not_terms: list[str] | None = None,
                   exclude: np.ndarray | None = None
                   ) -> list[tuple[int, int, float]]:
        """The reference's actual scoring (Searcher.java:108,113,139-159,196):
        Σ (1+log10 tf)·log10(N/df), OR semantics, score>threshold, top-k."""
        if k <= 0:
            return []
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
            df = tp.df if self._df is None else self._df[t]
            idf = math.log10(self.n_docs / df)
            ord_parts.append(tp.doc_ids)
            w_parts.append((1.0 + np.log10(tp.tfs.astype(np.float64))) * idf)
        uniq, inv = np.unique(np.concatenate(ord_parts), return_inverse=True)
        acc = np.zeros(uniq.size, dtype=np.float64)
        np.add.at(acc, inv, np.concatenate(w_parts))
        if filters or not_terms or exclude is not None:
            sel = _lookup(self._restrict(uniq, filters, not_terms, exclude),
                          uniq)[1]
            uniq, acc = uniq[sel], acc[sel]
        keep = acc > threshold
        return self._topk(uniq[keep], acc[keep], k)

    def counters(self, terms: list[str]) -> tuple[int, int, list[str]]:
        """(postings_total, postings_skipped, pruned_terms) of the last
        topk call: Σ segment df over the query terms, and the body postings
        of candidates the θ cut dropped unscored."""
        st = self.last_prune_stats
        total = sum(tp.df for tp in self._fetch(terms).values())
        return (total, st.get("postings_skipped", 0),
                st.get("pruned_terms", []))
