"""HTTP serving shim — the reference Searcher's query surface, rebuilt.

The reference serves ``GET /search?query=...`` from a tiny embedded
webserver and returns a JSON array of ``{url, rank_score, title, body}``
objects with a CORS header (searchEngine/src/cis5550/search/
Searcher.java:37-44,186-207; result-shape fixture
frontEnd/search_engine/src/fakeData.js:1-20, fetch path
frontEnd/search_engine/src/fetcher.js:3-9). This module is the Spark-side
twin: the same route, same JSON field names, same CORS behavior, backed by
the real BM25/TF-IDF engine instead of a KVS full scan.

Display fields come from the docs snapshot (title = last path component,
body = the bounded leading-content snippet the build materializes —
~200 B/doc, the serving-tier analog of the reference's per-URL
title/body columns in the `urls` table). Two serving regimes:

- ``SearchService``: the default driver-map service (display dict keyed
  by doc_id — the "broadcast lookup table" regime, fine to ~10^8 docs);
- ``FederatedSearchService``: the zero-driver-array regime: every
  BM25/TF-IDF/BM25F top-k, phrase/NEAR match, facet histogram and score
  explanation runs the driver regime's own Spark-free kernel
  (kernel.Segment, positions.PhraseEngine) in one Spark task per
  segment under the federation's weights — one job per request for any
  number of segments (query.member_frame). The same tasks read their
  result rows' display fields from their own docs snapshots, so a
  ranked /search (or /mlt) page is that one job. /regex, and the rows
  of a segment past query.TASK_DISPLAY_MAX_DOCS docs, resolve with a
  pushdown job over the segments' docs frames (resolve_many). No
  full-docs materialization anywhere, test-enforced.
  One task per segment bounds a segment by what one executor can score
  or match (the build does not write doc-range shards yet).
  One index is a federation of one: ``serve --big`` and
  ``SearchService(big=True)`` build exactly that; the NRT serving view
  (``serve --work``) is a federation of its live segments.

Scoring modes:
- ``scoring=bm25`` (default): the north-rule BM25 engine (ranked or
  conjunctive via ``mode=``);
- ``scoring=tfidf``: the reference's actual formula + threshold semantics
  (Searcher.java:108,113,139-159) via search_tfidf_reference, k<=300.
"""

from __future__ import annotations

import json
import os
import threading
from functools import reduce
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import NamedTuple
from urllib.parse import parse_qs, urlparse

from pyspark.sql import SparkSession

from .kernel import DISPLAY

REFERENCE_MAX_RESULTS = 300  # Searcher.java:203 caps the result list


def _stage_complete(index_dir: str, stage: str) -> bool:
    """The manifest's word on a stage, not just a leftover _SUCCESS file."""
    from .checkpoint import BuildManifest
    return BuildManifest(index_dir).is_complete(stage)


def _contents_from_source(source_df, ids: list[int]) -> dict[int, str]:
    """doc_id -> full content for a RESULT SET (k ids) from a registered
    source table — one pushdown k-row job (the /regex plumbing), used by
    both services' match-aware snippet fallback."""
    from pyspark.sql import functions as F
    if source_df is None or not ids:
        return {}
    return {int(r["doc_id"]): r["content"] for r in
            (source_df.select("doc_id", "content")
             .where(F.col("doc_id").isin(ids)).collect())}


def pd_series_empty(n: int):
    import pandas as pd
    return pd.Series([""] * n)


def render_rows(rows, disp, q: str, is_wild: bool, *, highlight: bool,
                snippet: bool, snippet_w: int,
                fetch_content=None) -> list[dict]:
    """The shared display tail of both serving services: resolve k rows
    into the reference's result shape, optionally replacing ``body`` with
    the query's best-window snippet (engine/snippets.py) and wrapping
    matches in <em>..</em>. Pure driver-side work on the display tail
    only; highlight runs AFTER snippet so marks land in the window.

    fetch_content (VERDICT r4 #5 — match-aware snippets past the stored
    prefix): a ``list[doc_id] -> {doc_id: content}`` callback backed by
    the registered source table (the /regex plumbing). When the best
    window over the STORED leading snippet matches zero query terms —
    the match sits past SNIPPET_LEN — the k result docs' full content is
    fetched in ONE pushdown k-row job and windowed instead, so the
    snippet is query-relevant wherever the match lives. No source table
    registered -> the stored-prefix behavior stands (documented
    fallback); never in a plan either way."""
    hl_terms: list[str] = []
    hl_pfx: tuple[str, ...] = ()
    if highlight or snippet:
        from .tokenizer import tokenize
        if is_wild:
            hl_pfx = (q[:-1].lower(),)
        else:
            hl_terms = tokenize(q)
    bodies: dict[int, str] = {}
    if snippet:
        from .snippets import make_snippet
        pending: list[int] = []
        for _rank, doc_id, _s in rows:
            _url, _title, body = disp[int(doc_id)]
            snip = make_snippet(body, hl_terms, hl_pfx, width=snippet_w)
            if snip is not None:
                bodies[int(doc_id)] = snip
            elif fetch_content is not None:
                pending.append(int(doc_id))
        if pending:
            for did, text in fetch_content(sorted(set(pending))).items():
                snip = make_snippet(text or "", hl_terms, hl_pfx,
                                    width=snippet_w)
                if snip is not None:
                    bodies[int(did)] = snip
    out = []
    for _rank, doc_id, score in rows:
        url, title, body = disp[int(doc_id)]
        body = bodies.get(int(doc_id), body)
        if highlight:
            from .tokenizer import highlight as hl
            title = hl(title, hl_terms, hl_pfx)
            body = hl(body, hl_terms, hl_pfx)
        out.append({"url": url, "rank_score": score,
                    "title": title, "body": body})
    return out


def _manifest_stats(index_dir: str) -> dict:
    """Index statistics straight from the build manifest — no Spark job
    (the serving analog of Lucene's IndexReader stats): n_docs,
    total_len, avgdl, n_terms, postings, compressed bytes."""
    from .checkpoint import BuildManifest
    man = BuildManifest(index_dir)
    sm = man.state["completed"]["stats"]["metrics"]
    im = man.state["completed"].get("index", {})
    n_docs = int(sm["n_docs"])
    return {
        "n_docs": n_docs,
        "total_len": int(sm["total_len"]),
        "avgdl": (sm["total_len"] / n_docs) if n_docs else 0.0,
        "n_terms": int(im.get("rows", 0)),
        "postings": int(im.get("metrics", {})
                        .get("postings_emitted", 0)),
        "bytes_compressed": int(im.get("metrics", {})
                                .get("bytes_compressed", 0)),
    }


def _no_positions(where: str) -> ValueError:
    return ValueError(f"{where} has no positional store "
                      "(build with --positions for phrase search)")


class SearchService:
    """Query engine + display-field resolution for one built index, in
    the driver-map regime: driver-side display/alias dicts + the
    driver-array SearchEngine — the "broadcast lookup tables" regime,
    fine to ~10^8 docs.

    ``big=True`` asks for the zero-driver-array regime instead. A single
    index is a federation of one, so construction then returns
    ``FederatedSearchService(spark, [index_dir])``: NO full-docs
    materialization anywhere (test-enforced), every mode byte-identical
    to this service's payloads (tests)."""

    def __new__(cls, spark: SparkSession, index_dir: str,
                big: bool = False, source_path: str | None = None):
        if big:
            return FederatedSearchService(spark, [index_dir],
                                          source_path=source_path)
        return super().__new__(cls)

    def __init__(self, spark: SparkSession, index_dir: str,
                 big: bool = False, source_path: str | None = None):
        self.spark = spark
        self.index_dir = index_dir
        self._phrase = None
        self._fielded = None  # lazy FieldedEngine (scoring=bm25f)
        # the corpus table backing GET /regex (the index stores no
        # content); None = endpoint disabled with a clear 400
        self._source_df = (spark.read.parquet(source_path)
                           if source_path else None)
        from .query import SearchEngine
        self.engine = SearchEngine(spark, index_dir)
        docs = spark.read.parquet(os.path.join(index_dir, "docs"))
        cols = set(docs.columns)
        pdf = docs.select("doc_id", *[c for c in DISPLAY
                                      if c in cols]).toPandas()
        # vectorized display-map build (pandas C string ops + dict(zip)):
        # a per-row Python loop here would be minutes of driver CPU at the
        # upper end of the driver-map regime
        ids = pdf["doc_id"].astype("int64")
        if {"repo", "path", "commit"} <= cols:
            urls = (pdf["repo"].astype(str) + "/" + pdf["path"].astype(str)
                    + "@" + pdf["commit"].astype(str))
        else:  # compacted/merged snapshots carry stats only
            urls = ids.astype(str)
        titles = (pdf["title"].fillna("").astype(str)
                  if "title" in cols else pd_series_empty(len(pdf)))
        snippets = (pdf["snippet"].fillna("").astype(str)
                    if "snippet" in cols else pd_series_empty(len(pdf)))
        self._display: dict[int, tuple[str, str, str]] = dict(
            zip(ids.tolist(), zip(urls.tolist(), titles.tolist(),
                                  snippets.tolist())))
        self._alias: dict[int, int] = {}
        # Gate aliases on the MANIFEST, not a bare _SUCCESS marker: a stage
        # dir left behind by an older build must not be trusted.
        if _stage_complete(index_dir, "aliases"):
            apdf = spark.read.parquet(
                os.path.join(index_dir, "aliases")).toPandas()
            self._alias = dict(zip(apdf["doc_id"].astype("int64").tolist(),
                                   apdf["canonical_doc_id"]
                                   .astype("int64").tolist()))

    def close(self) -> None:
        """Nothing to release: the driver-map regime persists no frames
        (same call as the big regime's, for callers serving either)."""

    def resolve(self, doc_id: int) -> tuple[str, str, str]:
        doc_id = self._alias.get(doc_id, doc_id)
        return self._display.get(doc_id, (str(doc_id), "", ""))

    def resolve_many(self, doc_ids) -> dict[int, tuple[str, str, str]]:
        """doc_id -> (url, title, body) for a RESULT SET (k ids): dict
        lookups, with a str(id) fallback for unknown ids."""
        return {int(d): self.resolve(int(d)) for d in doc_ids}

    def _contents_of(self, ids: list[int]) -> dict[int, str]:
        return _contents_from_source(self._source_df, ids)

    def _phrase_engine(self):
        if self._phrase is None:
            if not _stage_complete(self.index_dir, "positions"):
                raise _no_positions("this index")
            from .positions import PhraseEngine
            self._phrase = PhraseEngine(self.index_dir, segment=self.engine)
        return self._phrase

    def stats(self) -> dict:
        return _manifest_stats(self.index_dir)

    def suggest(self, prefix: str, k: int = 8) -> list[dict]:
        """Autocomplete: the k highest-df dictionary terms starting with
        ``prefix`` as ``[{"term", "df"}]`` — one pushdown scan + distributed
        sort+limit (query.suggest_terms; the big regime runs the same rule
        over its union dictionary)."""
        from .query import suggest_terms
        return [{"term": t, "df": df}
                for t, df in suggest_terms(self.engine.index_df, prefix,
                                           k=k)]

    def dym_payload(self, query: str) -> dict:
        """Spell correction ("did you mean"): dictionary-MISSING terms of
        the query's text part map to their best ED<=1 dictionary
        replacement (df DESC, term ASC — the fuzzy/wildcard rank rule);
        known terms are never second-guessed. One batched Spark job for
        the whole query (engine/fuzzy.py correct_terms: fuzzy-stage
        deletion-key pushdown when built, length-banded scan otherwise).
        Returns {"query", "did_you_mean": corrected-normalized-text|null}
        — filter/NOT syntax is parsed off before correction."""
        from .fuzzy import apply_corrections, correct_terms
        from .tokenizer import parse_query, tokenize
        q, _filters, _nots = parse_query(query.strip())
        corr = correct_terms(self.spark, self.index_dir, tokenize(q),
                             index_df=self.engine.index_df)
        return {"query": query,
                "did_you_mean": apply_corrections(q, corr)}

    def explain_payload(self, query: str, doc_id: int) -> dict:
        """GET /explain: the per-term BM25 breakdown of one document's
        score for a query (kernel.Segment.explain) — bitwise the ranked
        score, and equal to the big regime's query.explain_big_federated.
        Filter/NOT syntax is parsed off first (they restrict result sets,
        never scores); alias doc_ids resolve to their canonical before
        lookup."""
        from .tokenizer import parse_query, query_terms
        q, _filters, _nots = parse_query(query.strip())
        did = int(doc_id)
        return {"query": q, **self.engine.explain(
            query_terms(q), self._alias.get(did, did))}

    def regex_payload(self, pattern: str, k: int = 100) -> list[dict]:
        """GET /regex: index-pruned regex content search
        (engine/regex_query.py) over the source table registered at
        service construction (``serve --source`` — the index itself
        stores no content). Returns up to k matches as
        {url, title, doc_id}, doc_id ASC (regex matches carry no score).
        The distributed sort+limit ships exactly k ids to the driver;
        display fields resolve like every other endpoint."""
        from .regex_query import matched_ids, regex_search_federated
        _need_source(self._source_df)
        ids = matched_ids(regex_search_federated(
            self.spark, [self.index_dir], self._source_df, pattern), k)
        return _regex_rows(self.resolve_many(ids), ids)

    def mlt_payload(self, doc_id: int, k: int = 10) -> list[dict]:
        """More-like-this (engine/mlt.py): the k docs most similar to
        ``doc_id`` in the reference's JSON result shape. Needs the
        doc_terms stage (mlt.ensure_doc_terms) — a missing stage raises
        with the one-liner to build it."""
        from .mlt import more_like_this
        rows = more_like_this(self.engine, doc_id, k=k)
        return _mlt_rows(self.resolve_many([d for _r, d, _s in rows]),
                         rows)

    def facets(self, query: str, fields: list[str], k_values: int = 10,
               mode: str = "ranked") -> dict[str, list[dict]]:
        """Per-field (value, count) histograms over the FULL matching set
        of ``query`` (filters/NOT syntax included) — Elasticsearch-style
        aggs, NumPy over the cached metadata arrays
        (kernel.Segment.facet_counts, in-process); the big regime runs
        the same kernel per member (query.facets_federated)."""
        from .tokenizer import parse_query, query_terms
        q, filters, nots = parse_query(query.strip())
        return _facet_rows(self.engine.facet_counts(
            query_terms(q), fields, k_values=k_values, mode=mode,
            filters=filters, not_terms=nots))

    def search_payload(self, query: str, k: int = 10, mode: str = "ranked",
                       scoring: str = "bm25", slop: int = 1,
                       offset: int = 0, highlight: bool = False,
                       snippet: bool = False, snippet_w: int = 30
                       ) -> list[dict]:
        """The reference's JSON result shape, field for field. Extensions
        beyond the reference: mode=phrase (positional store; rank_score is
        the occurrence count; slop>1 relaxes to a windowed-chain sloppy
        phrase — consecutive terms within `slop` positions), mode=near
        (two terms within `slop` positions, ordered), a trailing `*`
        wildcard (prefix expansion + ranked OR), metadata filters
        (``lang:python``, ``repo:org/x``, ``path:src/`` — prefix) and NOT
        terms (``-term``) in EVERY mode (tokenizer.parse_query; proximity
        ranking is doc-local, so restriction commutes there too), and
        ``offset`` pagination (results ranked offset+1..offset+k: the
        engines fetch the exact top-(offset+k) prefix, the slice is
        driver-side — offset+k rows is the gated-driver-tail budget, the
        same bound as k itself). Filters/NOT restrict the result set only
        — scoring statistics stay as built (Lucene filter-query
        semantics). highlight=True wraps matched token occurrences in the
        k result rows' title/body in <em>..</em> (tokenizer.highlight —
        camelCase/snake_case-aware, driver-side on the display tail
        only)."""
        q, filters, not_terms, k, offset, is_wild, is_fuzzy = \
            _parse_search(query, k, offset, mode)
        if mode in ("phrase", "near"):
            rows = self._phrase_engine().topk(
                *_positional(q, mode, slop), k=k, filters=filters,
                not_terms=not_terms)
        elif scoring == "tfidf":
            rows = self.engine.search_tfidf_reference(
                q, k=min(k, REFERENCE_MAX_RESULTS),
                filters=filters, not_terms=not_terms)
        elif scoring == "bm25f":
            # field-boosted ranking (engine/fields.py): path hits weigh in
            if self._fielded is None:
                from .fields import FieldedEngine
                self._fielded = FieldedEngine(self.engine)
            rows = self._fielded.search(q, k=k, filters=filters,
                                        not_terms=not_terms)
        elif is_fuzzy:
            # single-token trailing-~ fuzzy (edit distance <= 1); like the
            # wildcard, multi-term queries fall through to normal search
            # (the tokenizer strips '~' as punctuation)
            rows = self.engine.search_fuzzy(q[:-1].lower(), k=k,
                                            filters=filters,
                                            not_terms=not_terms)
        elif is_wild:
            # single-token trailing-* wildcard only; a multi-term query
            # with a '*' falls through to normal search (the tokenizer
            # strips punctuation), and conjunctive mode is never hijacked
            rows = self.engine.search_prefix(q[:-1].lower(), k=k,
                                             filters=filters,
                                             not_terms=not_terms)
        else:
            rows = self.engine.search(q, k=k, mode=mode, filters=filters,
                                      not_terms=not_terms)
        return _render(self, rows[offset:], q, is_wild, highlight, snippet,
                       snippet_w, self.resolve_many)


def _parse_search(query: str, k: int, offset: int, mode: str):
    """Shared /search preamble of both services: (text, filters, NOT
    terms, fetch depth k+offset, offset, is_wildcard, is_fuzzy)."""
    from .tokenizer import parse_query
    q, filters, not_terms = parse_query(query.strip())
    k = max(0, k)  # a negative k would negative-slice inside the
    # engines (ADVICE r2: tfidf's order[:k] returned ~every match)
    offset = max(0, offset)
    k += offset  # fetch the full prefix; slice at the end
    single = mode == "ranked" and len(q) > 1 and " " not in q
    return (q, filters, not_terms, k, offset,
            single and q.endswith("*"), single and q.endswith("~"))


def _positional(q: str, mode: str, slop: int
                ) -> tuple[list[str], int | None]:
    """A phrase/near request as PhraseEngine.topk's (terms, slop): a
    phrase with slop<=1 is exact, a larger slop the windowed chain; near
    is the two-slot chain."""
    from .positions import near_terms
    from .tokenizer import tokenize
    if mode == "phrase":
        return tokenize(q), (slop if slop > 1 else None)
    parts = q.split()
    if len(parts) != 2:
        raise ValueError("mode=near needs exactly two terms")
    return near_terms(*parts), slop


def _render(svc, rows, q: str, is_wild: bool, highlight: bool,
            snippet: bool, snippet_w: int, resolve) -> list[dict]:
    disp = resolve([doc_id for _r, doc_id, _s in rows])
    return render_rows(rows, disp, q, is_wild, highlight=highlight,
                       snippet=snippet, snippet_w=snippet_w,
                       fetch_content=(svc._contents_of
                                      if svc._source_df is not None
                                      else None))


def _mlt_rows(disp, rows) -> list[dict]:
    return [{"url": disp[int(d)][0], "rank_score": s,
             "title": disp[int(d)][1], "body": disp[int(d)][2]}
            for _r, d, s in rows]


def _regex_rows(disp, ids: list[int]) -> list[dict]:
    return [{"url": disp[i][0], "title": disp[i][1], "doc_id": i}
            for i in ids]


def _facet_rows(got: dict) -> dict[str, list[dict]]:
    return {f: [{"value": v, "count": c} for v, c in vals]
            for f, vals in got.items()}


def _need_source(source_df) -> None:
    if source_df is None:
        raise ValueError("regex search needs the corpus table: start "
                         "the service with --source <corpus parquet>")


class _Member:
    """One segment of the big (zero-driver-array) regime: its index and
    docs frames, built once and not persisted (persisted partitions
    measured no faster than re-scanning the parquet the frame was built
    over, and the display resolve's pushdown scan was slower), and its
    path_index frame (bm25f), ensured on the first bm25f query. The
    segment's doc arrays and postings are read inside its kernel task."""

    def __init__(self, spark: SparkSession, index_dir: str):
        self.spark = spark
        self.index_dir = index_dir
        self.index_df = spark.read.parquet(os.path.join(index_dir, "index"))
        self.docs_df = spark.read.parquet(os.path.join(index_dir, "docs"))
        self._path_df = None

    def path_frame(self):
        if self._path_df is None:
            from .fields import ensure_path_index
            self._path_df = self.spark.read.parquet(
                ensure_path_index(self.spark, self.index_dir))
        return self._path_df


class _View(NamedTuple):
    """One serving view, immutable: the member dirs, their records and
    the per-member exclusion broadcasts (None: nothing deleted). A
    refresh builds the next view completely and swaps it in with one
    assignment; a request reads the view once, so it never sees a
    half-built view or pairs one view's members with another's
    exclusions."""
    index_dirs: list[str]
    members: list[_Member]
    excludes: list | None


class FederatedSearchService:
    """search_payload over a doc-disjoint FEDERATION of index dirs — the
    big (zero-driver-array) serving regime. A single index is the
    federation of one (``serve --big``, ``SearchService(big=True)``); the
    NRT serving view (streaming.serving_view) is the current compacted
    generation PLUS the fresh uncompacted segment, answered byte-identical
    to the merged index (query.search_big_federated's exactness argument),
    so newly ingested docs are searchable without a merge — the Lucene
    NRT-reader shape the reference's whole-table re-index (README.md:19-21)
    can't offer.

    The service serves one _View of _Member records; display fields of a
    result page come back from the members' scoring tasks (one job per
    ranked request; resolve_many adds one for the rows of members past
    query.TASK_DISPLAY_MAX_DOCS). Per query the federation's weights
    come from ONE dictionary probe per member, handed to the
    per-segment kernels. refresh() re-resolves the view — the NRT
    reopen: new ingests become searchable, partials consumed by a
    compaction drop out, and pending tombstones (deletes.py) re-resolve
    to per-member exclusion sets (LOGICAL delete: every mode filters the
    dead docs while stats stay as built — Lucene stats-until-merge).
    Construct either with explicit index_dirs or with work_dir/out_dir
    (view mode, refresh()-able)."""

    def __init__(self, spark: SparkSession,
                 index_dirs: list[str] | None = None, *,
                 work_dir: str | None = None, out_dir: str | None = None,
                 n_salts: int = 8, partitions: int = 16,
                 source_path: str | None = None):
        self.spark = spark
        self._work, self._out = work_dir, out_dir
        self._salts, self._parts = n_salts, partitions
        # the corpus table backing GET /regex; None = endpoint disabled
        # with a clear 400
        self._source_df = (spark.read.parquet(source_path)
                           if source_path else None)
        if index_dirs is None:
            if work_dir is None or out_dir is None:
                raise ValueError(
                    "pass index_dirs, or work_dir+out_dir for view mode")
            index_dirs = self._resolve_view()
        self._refresh_lock = threading.Lock()
        self._view = self._build_view(list(index_dirs), None)

    @property
    def index_dirs(self) -> list[str]:
        return self._view.index_dirs

    def _resolve_view(self) -> list[str]:
        from .streaming import serving_view
        return serving_view(self.spark, self._work, self._out,
                            n_salts=self._salts, partitions=self._parts)

    def _build_view(self, dirs: list[str], old: _View | None) -> _View:
        """The view over ``dirs``: the old view's members when the dirs
        did not change, and freshly resolved exclusions either way."""
        members = (old.members if old is not None and dirs == old.index_dirs
                   else [_Member(self.spark, d) for d in dirs])
        return _View(dirs, members, self._exclusions(members))

    def _exclusions(self, members: list[_Member]) -> list | None:
        """LOGICAL deletes (deletes.py): the work dir's pending tombstones
        as per-member dead-ordinal sets, shipped to queries as one Spark
        broadcast per member per refresh (never per query). Deleted docs
        vanish from every mode's results while each member's statistics
        stay as built — Lucene's stats-until-merge semantics; the next
        compact_incremental applies them physically and this resolves to
        no exclusions again."""
        if self._work is None:
            return None
        from .deletes import (
            member_exclusions,
            pending_delete_files,
            tombstones_frame,
        )
        from .streaming import _load_compaction_state
        files = pending_delete_files(
            self._work, _load_compaction_state(self._out))
        arrs = member_exclusions(self.spark, members,
                                 tombstones_frame(self.spark, files))
        if arrs is None:
            return None
        sc = self.spark.sparkContext
        return [sc.broadcast(a) if a is not None else None for a in arrs]

    def refresh(self) -> list[str]:
        """Re-resolve the serving view and swap it in whole. Members are
        kept when the view's dirs did not change; exclusions ALWAYS
        re-resolve: new tombstones take effect on an unchanged view, and
        a compaction that consumed them clears the old set. Requests in
        flight finish on the view they read."""
        if self._work is None:
            raise ValueError("refresh() requires view mode "
                             "(work_dir/out_dir)")
        with self._refresh_lock:
            old = self._view
            self._view = new = self._build_view(self._resolve_view(), old)
        _unpersist(old.excludes)
        return new.index_dirs

    def close(self) -> None:
        """Release the exclusion broadcasts' executor copies. Idempotent."""
        _unpersist(self._view.excludes)

    def _contents_of(self, ids: list[int]) -> dict[int, str]:
        # the source table is federation-wide (it backs /regex too)
        return _contents_from_source(self._source_df, ids)

    def resolve_many(self, doc_ids, view: _View | None = None,
                     found: dict | None = None
                     ) -> dict[int, tuple[str, str, str]]:
        """doc_id -> (url, title, body) for a RESULT SET (k ids) of
        ``view`` (default: the current one). Ids in ``found`` (the rows
        the scoring tasks read, query._member_topks) keep those; the
        rest resolve in ONE pushdown isin job over the union of the
        members' docs frames — result ids come from the docs stage,
        never alias ids — with a str(id) fallback for ids no member
        holds; a stats-only snapshot's url is str(id)."""
        from pyspark.sql import functions as F

        from .kernel import display_of
        ids = [int(d) for d in doc_ids]
        found = dict(found or {})
        missing = [i for i in ids if i not in found]
        if missing:
            docs = reduce(
                lambda a, b: a.unionByName(b, allowMissingColumns=True),
                [m.docs_df.select("doc_id", *[
                    c for c in DISPLAY if c in m.docs_df.columns])
                 for m in (view or self._view).members])
            for r in docs.where(F.col("doc_id").isin(missing)).collect():
                found[r["doc_id"]] = display_of(r.asDict())
        return {i: found.get(i, (str(i), "", "")) for i in ids}

    def stats(self) -> dict:
        """Federation-wide statistics: integer-summed member manifests
        (the same summation search_big_federated weights by). n_terms is
        a member's own dictionary size for a federation of one; the union
        dictionary of several needs a job, so it is omitted (null)."""
        per = [_manifest_stats(d) for d in self.index_dirs]
        n_docs = sum(p["n_docs"] for p in per)
        total_len = sum(p["total_len"] for p in per)
        return {
            "n_docs": n_docs,
            "total_len": total_len,
            "avgdl": (total_len / n_docs) if n_docs else 0.0,
            "n_terms": per[0]["n_terms"] if len(per) == 1 else None,
            "postings": sum(p["postings"] for p in per),
            "bytes_compressed": sum(p["bytes_compressed"] for p in per),
            "members": len(per),
        }

    def suggest(self, prefix: str, k: int = 8) -> list[dict]:
        """Autocomplete over the federation's UNION dictionary
        (query.suggest_terms_federated: per-segment dfs integer-sum to the
        federation-wide df — stats as built)."""
        from .query import suggest_terms_federated
        return [{"term": t, "df": df} for t, df in suggest_terms_federated(
            [m.index_df for m in self._view.members], prefix, k=k)]

    def dym_payload(self, query: str) -> dict:
        """Did-you-mean against the federation's UNION dictionary
        (per-segment dfs integer-sum before the rank rule; a term any
        segment knows is 'present'; each member's candidates from its
        fuzzy stage when built), so a fresh uncompacted segment's new
        identifiers count immediately."""
        from .fuzzy import apply_corrections, correct_terms_federated
        from .tokenizer import parse_query, tokenize
        v = self._view
        q, _filters, _nots = parse_query(query.strip())
        corr = correct_terms_federated([m.index_df for m in v.members],
                                       tokenize(q), index_dirs=v.index_dirs)
        return {"query": query,
                "did_you_mean": apply_corrections(q, corr)}

    def explain_payload(self, query: str, doc_id: int) -> dict:
        """GET /explain in one job (query.explain_big_federated): the
        owning member maps an alias doc_id to its canonical and explains
        the doc under the federation's weights — score bitwise what the
        federated ranker scores it. A logically deleted doc is unknown
        (400), as it is absent from every /search mode. Filter/NOT syntax
        is parsed off first (they restrict result sets, never scores)."""
        from .query import explain_big_federated
        from .tokenizer import parse_query
        v = self._view
        q, _filters, _nots = parse_query(query.strip())
        return explain_big_federated(self.spark, v.index_dirs, q,
                                     int(doc_id), excludes=v.excludes)

    def mlt_payload(self, doc_id: int, k: int = 10) -> list[dict]:
        """More-like-this over the federation (VERDICT r4 #8): the doc's
        stored vector from its owning segment, interesting-term ranking
        under the federation's statistics, the shared federated ranked
        tail (engine/mlt.py more_like_this_federated). Tombstoned docs
        drop from results via the members' exclusion sets. NRT view
        segments get their doc_terms stage built lazily; explicit index
        dirs must carry it (a missing stage raises with the one-liner).
        Display fields come back from the scoring tasks (resolve_many
        resolves those of members too large to read them in-task)."""
        from .mlt import more_like_this_federated
        v = self._view
        disp: dict = {}
        rows = more_like_this_federated(
            self.spark, v.index_dirs, doc_id, k=k, excludes=v.excludes,
            ensure=self._work is not None, display=disp)
        return _mlt_rows(
            self.resolve_many([d for _r, d, _s in rows], v, disp), rows)

    def regex_payload(self, pattern: str, k: int = 100) -> list[dict]:
        """GET /regex over the federation (VERDICT r4 #2): per-segment
        index-pruned candidates (regex_query.regex_search_federated) with
        tombstone exclusion, one verify pass over the union — freshly
        ingested docs are regex-visible before any compaction. Same
        payload shape as the driver regime's endpoint."""
        from .regex_query import matched_ids, regex_search_federated
        _need_source(self._source_df)
        v = self._view
        ids = matched_ids(regex_search_federated(
            self.spark, v.index_dirs, self._source_df, pattern,
            excludes=v.excludes,
            docs_dfs=[m.docs_df for m in v.members]), k)
        return _regex_rows(self.resolve_many(ids, v), ids)

    def facets(self, query: str, fields: list[str], k_values: int = 10,
               mode: str = "ranked") -> dict[str, list[dict]]:
        """EXACT federation facets in one kernel job
        (query.facets_federated): each member counts its full matching
        set, one groupBy sums the members' histograms BEFORE the top
        k_values per field are taken — no per-member truncation. Logical
        deletes restrict per member, same as search."""
        from .query import facets_federated, query_terms
        from .tokenizer import parse_query
        v = self._view
        q, filters, nots = parse_query(query.strip())
        return _facet_rows(facets_federated(
            self.spark, v.index_dirs, query_terms(q), fields,
            k_values=k_values, mode=mode, excludes=v.excludes,
            filters=filters, not_terms=nots))

    def search_payload(self, query: str, k: int = 10, mode: str = "ranked",
                       scoring: str = "bm25", slop: int = 1,
                       offset: int = 0, highlight: bool = False,
                       snippet: bool = False, snippet_w: int = 30
                       ) -> list[dict]:
        """Same payload contract as SearchService.search_payload, every
        mode federated (tests assert equality against the driver regime,
        and against a one-member federation over the merged index). Same
        routing precedence: phrase/near win, bm25f beats the trailing-* /
        ~ shorthands."""
        from .query import (
            query_terms,
            search_big_fuzzy_federated,
            search_big_prefix_federated,
            search_big_terms_federated,
            search_big_tfidf_federated,
        )
        v = self._view
        dirs = v.index_dirs
        idx_dfs = [m.index_df for m in v.members]
        q, filters, not_terms, k, offset, is_wild, is_fuzzy = \
            _parse_search(query, k, offset, mode)
        # display: the result rows' display fields, filled by the
        # members' scoring tasks (query._member_topks); resolve_many
        # runs a job only for rows of members past TASK_DISPLAY_MAX_DOCS
        disp: dict = {}
        common = {"excludes": v.excludes, "filters": filters,
                  "not_terms": not_terms, "display": disp}
        if mode in ("phrase", "near"):
            from .positions import search_positional_federated
            for d in dirs:
                if not _stage_complete(d, "positions"):
                    raise _no_positions("this index" if len(dirs) == 1
                                        else f"federation member {d}")
            rows = search_positional_federated(
                self.spark, dirs, *_positional(q, mode, slop), k=k,
                **common)
        elif scoring == "tfidf":
            rows = search_big_tfidf_federated(
                self.spark, dirs, q, k=min(k, REFERENCE_MAX_RESULTS),
                **common)
        elif scoring == "bm25f":
            # field-boosted ranking: each member scored under the
            # federation's global two-field weights, k×S merge — freshly
            # ingested docs get the path boost without waiting for a
            # compaction
            from .fields import search_big_fielded_federated
            rows = search_big_fielded_federated(
                self.spark, dirs, q, k=k,
                path_dfs=[m.path_frame() for m in v.members], **common)
        elif is_fuzzy:
            rows = search_big_fuzzy_federated(
                self.spark, dirs, q[:-1].lower(), k=k, idx_dfs=idx_dfs,
                **common)
        elif is_wild:
            rows = search_big_prefix_federated(
                self.spark, dirs, q[:-1].lower(), k=k, idx_dfs=idx_dfs,
                **common)
        else:
            rows = search_big_terms_federated(
                self.spark, dirs, query_terms(q), k=k, mode=mode,
                **common)
        return _render(self, rows[offset:], q, is_wild, highlight, snippet,
                       snippet_w, lambda ids: self.resolve_many(ids, v, disp))


def _unpersist(broadcasts: list | None) -> None:
    for b in broadcasts or ():
        if b is not None:
            b.unpersist()


def make_server(service, host: str = "127.0.0.1",
                port: int = 0) -> ThreadingHTTPServer:
    """Bind (port=0 -> ephemeral) and return the server for either
    service; caller drives serve_forever (tests run it on a thread, the
    CLI blocks on it)."""

    class Handler(BaseHTTPRequestHandler):
        def _reply(self, payload, code: int = 200) -> None:
            """A JSON body — every endpoint's success path, and errors as
            {"error": message}: the message travels in the (ASCII-escaped)
            body, the status line keeps the standard reason phrase, so a
            message with any character still arrives. The reference pins
            its frontend origin (Searcher.java:201); a library default
            can't know the deployment origin -> '*'."""
            body = json.dumps(payload).encode()
            self.send_response(code)
            self.send_header("Access-Control-Allow-Origin", "*")
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def _fail(self, code: int, message: str) -> None:
            self._reply({"error": message}, code)

        def _answer(self, compute, errors=(ValueError,)) -> None:
            """Reply with compute()'s payload; a rejected request (bad
            query, missing stage, ...) is a 400 with its message."""
            try:
                payload = compute()
            except errors as e:
                self._fail(400, str(e))
                return
            self._reply(payload)

        def do_GET(self):  # noqa: N802 (stdlib API name)
            u = urlparse(self.path)
            qs = parse_qs(u.query)

            def arg(name: str, default: str = "") -> str:
                return qs.get(name, [default])[0]

            if u.path == "/refresh" and hasattr(service, "refresh"):
                # NRT reopen: re-resolve the serving view (federated only;
                # a federation of explicit dirs answers 400)
                self._answer(lambda: {"view": service.refresh()})
                return
            if u.path == "/stats":
                self._reply(service.stats())
                return
            if u.path == "/suggest":
                try:
                    k = int(arg("k", "8"))
                except ValueError:
                    self._fail(400, "k must be an integer")
                    return
                self._answer(lambda: service.suggest(arg("q"), k=k))
                return
            if u.path == "/didyoumean":
                self._answer(lambda: service.dym_payload(arg("q")))
                return
            if u.path == "/mlt":
                try:
                    doc_id = int(arg("doc_id"))
                    k = int(arg("k", "10"))
                except ValueError:
                    self._fail(400, "doc_id/k must be integers")
                    return
                self._answer(lambda: service.mlt_payload(doc_id, k=k))
                return
            if u.path == "/explain":
                try:
                    doc_id = int(arg("doc_id"))
                except ValueError:
                    self._fail(400, "doc_id must be an integer")
                    return
                self._answer(lambda: service.explain_payload(arg("query"),
                                                             doc_id))
                return
            if u.path == "/regex":
                pattern = arg("pattern")
                try:
                    k = int(arg("k", "100"))
                except ValueError:
                    self._fail(400, "k must be an integer")
                    return
                if not pattern:
                    self._fail(400, "pattern is required")
                    return
                import re as _re

                import regex as _regex
                self._answer(lambda: service.regex_payload(pattern, k=k),
                             errors=(_re.error, _regex.error, ValueError))
                return
            if u.path == "/facets":
                fields = [f for f in arg("fields").split(",") if f]
                mode = arg("mode", "ranked")
                try:
                    kv = int(arg("k", "10"))
                except ValueError:
                    self._fail(400, "k must be an integer")
                    return
                if not fields or mode not in ("ranked", "conjunctive"):
                    self._fail(400, "need fields=...; mode "
                                    "ranked|conjunctive")
                    return
                self._answer(lambda: service.facets(
                    arg("query"), fields, k_values=kv, mode=mode))
                return
            if u.path != "/search":
                self._fail(404, "only /search is served")
                return
            try:
                k = int(arg("k", "10"))
                offset = int(arg("offset", "0"))
            except ValueError:
                self._fail(400, "k/offset must be integers")
                return
            mode = arg("mode", "ranked")
            scoring = arg("scoring", "bm25")
            try:
                slop = int(arg("slop", "1"))
            except ValueError:
                self._fail(400, "slop must be an integer")
                return
            if mode not in ("ranked", "conjunctive", "phrase", "near") or \
                    scoring not in ("bm25", "tfidf", "bm25f") or slop < 1 or \
                    offset < 0:
                self._fail(400, "bad mode/scoring/slop/offset")
                return
            hi = arg("highlight", "0") not in ("0", "", "false")
            snip = arg("snippet", "0") not in ("0", "", "false")
            try:
                snippet_w = int(arg("snippet_w", "30"))
            except ValueError:
                self._fail(400, "snippet_w must be an integer")
                return
            if snippet_w < 1:
                self._fail(400, "snippet_w must be >= 1")
                return
            self._answer(lambda: service.search_payload(
                arg("query"), k=k, mode=mode, scoring=scoring, slop=slop,
                offset=offset, highlight=hi, snippet=snip,
                snippet_w=snippet_w))

        def log_message(self, fmt, *args):  # quiet under pytest
            pass

    return ThreadingHTTPServer((host, port), Handler)


def serve(spark: SparkSession, index_dir: str, host: str = "127.0.0.1",
          port: int = 8080, big: bool = False,
          work_dir: str | None = None,
          source_path: str | None = None) -> None:
    """big -> the zero-driver-array regime: FederatedSearchService over
    [index_dir] (a single index is a federation of one). work_dir set ->
    NRT federated serving: index_dir is the compact_incremental out_dir,
    the service resolves serving_view(work, out) at startup and GET
    /refresh re-resolves it (new ingests become searchable without a
    compaction). Otherwise the driver-map SearchService. source_path
    enables GET /regex over that corpus table in every mode."""
    if work_dir is not None:
        svc: SearchService | FederatedSearchService = FederatedSearchService(
            spark, work_dir=work_dir, out_dir=index_dir,
            source_path=source_path)
    elif big:
        svc = FederatedSearchService(spark, [index_dir],
                                     source_path=source_path)
    else:
        svc = SearchService(spark, index_dir, source_path=source_path)
    srv = make_server(svc, host, port)
    print(json.dumps({"serving": f"http://{host}:{srv.server_address[1]}"
                      "/search?query=..."}))
    srv.serve_forever()
