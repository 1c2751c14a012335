"""BM25 top-k query engine over the built index.

Replaces the reference Searcher (searchEngine/src/cis5550/search/Searcher.java):
where the reference re-scans the whole `urls` table per query (:44-57) and
point-looks-up posting strings per term (:78-101), we read only the queried
terms' posting blobs (parquet predicate pushdown on the term-sorted index)
and score them with one NumPy kernel (engine/kernel.py) in both serving
regimes:

- driver-map: ``SearchEngine`` is a kernel.Segment holding the doc arrays
  (the "broadcast lookup tables" of BASELINE.json) and a posting cache;
  top-k, facet histograms and score explanations run in-process;
- big (zero driver arrays): each doc-disjoint federation member runs the
  same kernel inside one Spark task under the federation's weights, all
  members in one job (member_frame): top-k and phrase matches collect
  the k×S rows together with their display fields, read in the same
  task (_member_topks) for members of up to TASK_DISPLAY_MAX_DOCS docs,
  so a ranked request over such members is one job from query to
  rendered page; /explain the owning member's breakdown
  (explain_big_federated), /facets the members' histograms reduced by
  one groupBy and a per-field rank (facets_federated). The worker that
  runs a task is reused across requests; engine.compat keeps CPython
  3.11 from re-reading pyspark.zip's directory at each of its tasks.

Scoring: BM25 (k1=1.2, b=0.75) per BASELINE.json north_rule, conjunctive
(AND) and ranked (OR) modes, tie-break score DESC then doc_id ASC, bitwise
equal to engine.oracle.Bm25Oracle (tests assert exact float equality).
Ranked mode runs the kernel's score-safe block-max traversal; tests assert
identical top-k vs the exhaustive path on every fixture, and that skipping
actually fires on skewed corpora.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from . import B, K1
from .index_build import load_stats
from .kernel import (
    FedWeights,
    Segment,
    canonical_id,
    docs_columns,
    missing_column,
    read_dictionary,
    read_display,
)
from .tokenizer import query_terms


class SearchEngine(Segment):
    """The driver-map regime's engine: a kernel.Segment whose doc arrays
    and posting cache live for the process lifetime, plus the Spark-side
    dictionary operations (wildcard/fuzzy expansion)."""

    def __init__(self, spark: SparkSession, index_dir: str,
                 cache_max_terms: int | None = None):
        n_docs, avgdl = load_stats(spark, index_dir)
        super().__init__(index_dir, n_docs, avgdl,
                         cache_max_terms=cache_max_terms)
        self.spark = spark
        self.index_df = spark.read.parquet(os.path.join(index_dir, "index"))

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
        return self.topk(query_terms(query), k, mode=mode, prune=prune,
                         rounded=rounded, filters=filters,
                         not_terms=not_terms)

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
        return self.topk(self.expand_prefix(prefix), k, rounded=rounded,
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
        return self.topk(terms, k, rounded=rounded, filters=filters,
                         not_terms=not_terms)

    def search_tfidf_reference(self, query: str, k: int = 300,
                               threshold: float = 0.3,
                               filters: dict[str, str] | None = None,
                               not_terms: list[str] | None = None
                               ) -> list[tuple[int, int, float]]:
        """The reference's TF-IDF ranking (kernel.Segment.tfidf_topk)."""
        return self.tfidf_topk(query_terms(query), k, threshold,
                               filters=filters, not_terms=not_terms)


# ------------------------------------------------- fully-cluster query path

#: counters of the last search_big_terms_federated call, summed over the
#: members' tasks: postings_total = Σ segment df of the query terms,
#: postings_skipped = the postings of candidates the θ cut dropped
#: unscored (0 in conjunctive mode and with prune=False),
#: postings_emitted = the rest, pruned_terms = how many terms had a
#: skipped posting. Test/bench hook.
last_big_prune_stats: dict[str, int] = {}


def search_big(spark: SparkSession, index_dir: str, query: str, k: int = 10,
               mode: str = "ranked", rounded: bool = False,
               prune: bool = True,
               filters: dict[str, str] | None = None,
               not_terms: list[str] | None = None
               ) -> list[tuple[int, int, float]]:
    """Query WITHOUT any driver-side doc arrays, as the federation of one
    segment (search_big_federated over ``[index_dir]``). ``SearchEngine``
    keeps doc_len/doc_id as driver arrays (fine up to ~10^8 docs); here
    the driver holds only the query terms' dictionary rows and the k
    result rows, while the segment is scored by the SAME NumPy kernel
    (kernel.Segment) inside one Spark task that reads its doc lengths and
    postings itself — results are bitwise equal to SearchEngine.search
    (tests assert it). One task per segment is the unit of parallelism;
    scaling out within one segment needs doc-range shards, which the
    build does not write yet."""
    return search_big_federated(
        spark, [index_dir], query, k=k, mode=mode, rounded=rounded,
        prune=prune, filters=filters, not_terms=not_terms)


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


def _excl_frame(spark, exc: np.ndarray):
    """A (driver-held) exclusion ordinal array as a broadcast one-column
    DataFrame, shipped as ONE Arrow batch — building it from a Python
    list of tuples would materialize len(exc) tuples on the driver per
    query (the array is bounded only by the ship gate, ~4M)."""
    import pandas as pd
    return F.broadcast(spark.createDataFrame(
        pd.DataFrame({"ordinal": np.asarray(exc, dtype=np.int64)})))


def _filters_col(filters: dict[str, str], columns) -> "F.Column":
    """Metadata filters (tokenizer.parse_query) -> one JVM predicate over
    the docs snapshot — pushes down to the docs parquet scan. `path` is a
    prefix match, the rest exact; a field the snapshot lacks raises (a
    silently-ignored filter would return wrong results)."""
    pred = None
    for field, value in filters.items():
        if field not in columns:
            raise missing_column(field)
        c = (F.col(field).startswith(value) if field == "path"
             else F.col(field) == F.lit(value))
        pred = c if pred is None else (pred & c)
    return pred


def _excl_value(exclude) -> np.ndarray | None:
    """Unwrap a Spark Broadcast (serving path: ONE executor copy per
    refresh, not per query) or pass a bare sorted array (tests) through."""
    if exclude is None:
        return None
    arr = exclude.value if hasattr(exclude, "value") else exclude
    return arr if arr is not None and arr.size else None


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
    kernel. Per-segment top-k under those global weights then contains
    the global top-k's members from that segment, and the k×S driver-side
    merge sorts by (score DESC, doc_id ASC) — identical to the merged
    index's (score DESC, ordinal ASC) because ordinals are monotone in
    doc_id within AND across segments after a merge. Tests assert list
    equality vs search_big on merge_indexes' output.

    A term absent from one segment simply contributes nothing there (its
    docs don't contain it); conjunctive mode short-circuits per segment
    when any query term is missing from that segment's dictionary.
    kw: search_big_terms_federated's exclusion/restriction keywords."""
    return search_big_terms_federated(spark, index_dirs, query_terms(query),
                                      k=k, mode=mode, rounded=rounded,
                                      prune=prune, **kw)


def _member_frames(spark, index_dirs: list[str], stage: str,
                   dfs: list | None) -> list:
    """Per-member frames of one stage ("index" or "docs"): the caller's
    (built once per member), else fresh parquet reads."""
    if dfs is None:
        dfs = [spark.read.parquet(os.path.join(d, stage))
               for d in index_dirs]
    return dfs


def _federation_weights(index_dirs: list[str], terms: list[str]
                        ) -> FedWeights:
    """Corpus-wide BM25/TF-IDF weights of a doc-disjoint federation.
    n_docs/total_len are INTEGER sums with one division (bit-identical to
    the merged index's avgdl); df(t) sums the members' dictionary rows
    (term, df, max_tf), read on the driver with the kernel's parquet
    reader — no Spark job, len(terms) rows per member."""
    from .index_build import load_stats_totals
    totals = [load_stats_totals(d) for d in index_dirs]
    n_total = sum(n for n, _ in totals)
    avgdl = (sum(t for _, t in totals) / n_total) if n_total else 0.0
    rows = [read_dictionary(d, terms) for d in index_dirs]
    df_map: dict[str, int] = {}
    for m in rows:
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


def _check_columns(index_dirs: list[str], names, error=missing_column
                   ) -> None:
    """Reject a filter (or facet field) on a column some member's docs
    snapshot lacks, on the driver (a 400), before any task could fail on
    it."""
    for d in index_dirs:
        cols = docs_columns(d)
        for name in names or ():
            if name not in cols:
                raise error(name)


def member_frame(spark: SparkSession, n: int, rows, schema: pa.Schema):
    """The one runner of the big regime: a DataFrame of ``rows(i)`` (dicts
    of ``schema``) for every federation member i < n, computed in ONE
    Spark job — spark.range over n one-row partitions, one task per
    member, no shuffle. rows(i) runs the Spark-free kernels (kernel.py,
    positions.py) inside the task, so a member's doc arrays and postings
    never reach the driver, only its rows do. A federation of one is a
    single partition, so a groupBy or window on top needs no exchange."""
    from pyspark.sql.pandas.types import from_arrow_schema

    def task(batches):
        for b in batches:
            for i in b.column(0).to_pylist():
                yield pa.RecordBatch.from_pylist(rows(i), schema=schema)

    return spark.range(0, n, 1, n).mapInArrow(task,
                                              from_arrow_schema(schema))


#: the largest member (docs) whose scoring task reads its result rows'
#: display fields. kernel.read_display decodes the display columns of
#: the whole docs stage (one row group per docs file, so a doc_id filter
#: prunes nothing), and its cost outgrows that of the resolve job it
#: saves, which prunes by page index. Median ranked search_payload,
#: in-task read vs resolve job (local[4] on 4 vCPUs, 5 alternating
#: pairs per size): 558 vs 865 ms at 200k docs, 1007 vs 1237 ms at
#: 500k, 2348 vs 2117 ms at 1M.
TASK_DISPLAY_MAX_DOCS = 500_000

_TOPK = pa.schema([("doc_ids", pa.list_(pa.int64())),
                   ("scores", pa.list_(pa.float64())),
                   ("display", pa.list_(pa.list_(pa.string()))),
                   ("total", pa.int64()), ("skipped", pa.int64()),
                   ("pruned", pa.list_(pa.string()))])


def _member_topks(spark: SparkSession, index_dirs: list[str], score,
                  display: dict | None = None
                  ) -> tuple[list[tuple[int, float]], dict[str, int]]:
    """Run ``score(i)`` for every federation member i in one member_frame
    job. score(i) -> (rows, kernel.Segment.counters): only a member's k
    (doc_id, score) rows and counters reach the driver. Returns the k×S
    rows for _merge_federated and the summed counters.

    display: when given, filled with doc_id -> (url, title, body) of
    the rows of each member of at most TASK_DISPLAY_MAX_DOCS docs, read
    by its task from its own docs snapshot (kernel.read_display), so a
    result page over such members needs no second job to resolve its
    display fields. A larger member's rows are left for the caller's
    resolve job."""
    from .index_build import load_stats_totals
    shows = [display is not None
             and load_stats_totals(d)[0] <= TASK_DISPLAY_MAX_DOCS
             for d in index_dirs]

    def rows(i):
        hits, (total, skipped, pruned) = score(i)
        ids = [d for _r, d, _s in hits]
        shown = read_display(index_dirs[i], ids) if shows[i] else {}
        return [{"doc_ids": ids, "scores": [s for _r, _d, s in hits],
                 "display": [shown.get(d) for d in ids],
                 "total": total, "skipped": skipped, "pruned": pruned}]

    got = member_frame(spark, len(index_dirs), rows, _TOPK).collect()
    if display is not None:
        display.update((d, tuple(t)) for r in got
                       for d, t in zip(r["doc_ids"], r["display"]) if t)
    total = sum(r["total"] for r in got)
    skipped = sum(r["skipped"] for r in got)
    return ([(d, s) for r in got for d, s in zip(r["doc_ids"], r["scores"])],
            {"postings_total": total, "postings_emitted": total - skipped,
             "postings_skipped": skipped,
             "pruned_terms": len({t for r in got for t in r["pruned"]})})


_EXPLAIN = pa.schema([("alias", pa.bool_()), ("payload", pa.string())])


def explain_big_federated(spark: SparkSession, index_dirs: list[str],
                          query: str, doc_id: int,
                          excludes: list | None = None) -> dict:
    """GET /explain over a federation in ONE job: each member's task maps
    ``doc_id`` through its own aliases stage (kernel.canonical_id) and,
    when it owns the doc, answers kernel.Segment.explain under the
    federation's weights — tf/doc_len from the owning segment, df/
    n_docs/avgdl the federation's integer sums, so ``score`` is bitwise
    what the federated ranker scores this doc, and a term only another
    member holds shows the merged index's df/idf. The other members
    yield nothing, and so does the owner when the canonical doc is
    among its dead ordinals ``excludes`` (a logical delete): such a doc
    is unknown, as it is to every /search mode."""
    terms = query_terms(query)
    w = _federation_weights(index_dirs, terms)

    def rows(i):
        canon = canonical_id(index_dirs[i], doc_id)
        seg = Segment(index_dirs[i], w.n_docs, w.avgdl, df=w.df)
        ordinal = seg.ordinal_of(canon)
        dead = _excl_value(excludes[i]) if excludes else None
        if ordinal is None or (dead is not None and ordinal in dead):
            return []
        return [{"alias": canon != doc_id,
                 "payload": json.dumps(seg.explain(terms, canon))}]

    got = member_frame(spark, len(index_dirs), rows, _EXPLAIN).collect()
    if not got:
        raise ValueError(f"unknown doc_id {doc_id}")
    # an id one member aliases and another holds (re-ingested before a
    # compaction) explains as the alias's canonical doc
    best = max(got, key=lambda r: r["alias"])
    return {"query": query, **json.loads(best["payload"])}


_FACETS = pa.schema([("field", pa.string()), ("value", pa.string()),
                     ("count", pa.int64())])


def _no_facet_field(name: str) -> ValueError:
    return ValueError(
        f"this index's docs snapshot has no {name!r} column — facet "
        "fields need the full input_hint metadata")


def facets_federated(spark: SparkSession, index_dirs: list[str],
                     terms: list[str], fields: list[str],
                     k_values: int = 10, mode: str = "ranked",
                     excludes: list | None = None,
                     filters: dict[str, str] | None = None,
                     not_terms: list[str] | None = None
                     ) -> dict[str, list[tuple[str, int]]]:
    """Per-field (value, count) histograms over the FULL matching set of
    a federation (Elasticsearch-style aggs, not the top-k page), count
    DESC then value ASC, k_values values per field. Each member's task
    counts its own matching set with kernel.Segment.facet_counts (the
    top-k candidates, restriction stack included: filters, NOT terms,
    the member's dead ordinals ``excludes``); one groupBy(field, value)
    sums the members' full histograms — exact, since every doc lives in
    one member — and a per-field rank keeps k_values rows per field for
    the driver."""
    from pyspark.sql.window import Window
    _check_columns(index_dirs, fields, _no_facet_field)
    terms = sorted(set(terms))
    if not terms or k_values <= 0:
        return {f: [] for f in fields}
    if mode not in ("ranked", "conjunctive"):
        raise ValueError(f"unknown mode {mode!r}")
    _check_columns(index_dirs, filters)

    def rows(i):
        got = Segment(index_dirs[i], 0, 0.0).facet_counts(
            terms, fields, mode=mode, filters=filters, not_terms=not_terms,
            exclude=_excl_value(excludes[i]) if excludes else None)
        return [{"field": f, "value": v, "count": c}
                for f, vals in got.items() for v, c in vals]

    rank = F.row_number().over(Window.partitionBy("field").orderBy(
        F.col("count").desc(), F.col("value")))
    got = (member_frame(spark, len(index_dirs), rows, _FACETS)
           .groupBy("field", "value").agg(F.sum("count").alias("count"))
           .withColumn("rank", rank).where(F.col("rank") <= k_values)
           .collect())
    out: dict[str, list[tuple[str, int]]] = {f: [] for f in fields}
    for r in sorted(got, key=lambda r: r["rank"]):
        out[r["field"]].append((r["value"], int(r["count"])))
    return out


def search_big_terms_federated(spark: SparkSession, index_dirs: list[str],
                               terms: list[str], k: int = 10,
                               mode: str = "ranked", rounded: bool = False,
                               prune: bool = True,
                               excludes: list | None = None,
                               filters: dict[str, str] | None = None,
                               not_terms: list[str] | None = None,
                               display: dict | None = None
                               ) -> list[tuple[int, int, float]]:
    """search_big_federated over an explicit term list (see there) — the
    federated tail every big-regime BM25 query (plain, wildcard, fuzzy,
    more-like-this) goes through. Each member runs kernel.Segment.topk in
    its own task (_member_topks) under the federation's weights, with
    segment-local rows driving the pruning geometry. excludes: per-member
    dead-ordinal arrays/Broadcasts (logical deletes,
    deletes.member_exclusions; the task reads the broadcast value) —
    exclusion inside each segment's top-k keeps the k×S merge exact over
    the surviving docs; the federation weights stay as built (Lucene
    stats-until-merge). filters/not_terms restrict each segment's
    candidates before θ is taken (metadata filters are doc-local; a NOT
    term's exclusion set is segment-local ordinals) — restriction commutes
    with the k×S merge because every doc lives in exactly one segment.
    display: filled with the result rows' display fields, read in the
    same tasks (_member_topks; a member past TASK_DISPLAY_MAX_DOCS
    leaves its rows out)."""
    global last_big_prune_stats
    terms = sorted(set(terms))
    if not terms or k <= 0 or not index_dirs:
        return []
    if mode not in ("ranked", "conjunctive"):
        raise ValueError(f"unknown mode {mode!r}")
    w = _federation_weights(index_dirs, terms)
    if w.n_docs == 0 or not w.df or (
            mode == "conjunctive" and len(w.df) < len(terms)):
        return []
    _check_columns(index_dirs, filters)

    def score(i):
        if not w.rows[i]:
            return [], (0, 0, [])
        seg = Segment(index_dirs[i], w.n_docs, w.avgdl, df=w.df)
        rows = seg.topk(terms, k, mode=mode, prune=prune, rounded=rounded,
                        filters=filters, not_terms=not_terms,
                        exclude=_excl_value(excludes[i]) if excludes
                        else None)
        return rows, seg.counters(terms)

    merged, last_big_prune_stats = _member_topks(spark, index_dirs, score,
                                                 display)
    return _merge_federated(merged, k)


def search_big_tfidf_federated(spark: SparkSession, index_dirs: list[str],
                               query: str, k: int = 300,
                               threshold: float = 0.3,
                               excludes: list | None = None,
                               filters: dict[str, str] | None = None,
                               not_terms: list[str] | None = None,
                               display: dict | None = None
                               ) -> list[tuple[int, int, float]]:
    """The reference's TF-IDF scoring over a doc-disjoint federation —
    same exactness argument as search_big_federated: per-segment scores
    under global (n_docs, df) weights are the merged index's scores, and
    `score > threshold` filters identically, so the k×S merge is exact
    (logical deletes, being doc-local, filter identically too — as do
    metadata filters and NOT-term exclusions). Each member runs
    kernel.Segment.tfidf_topk in its own task; display as in
    search_big_terms_federated."""
    terms = query_terms(query)
    if not terms or k <= 0 or not index_dirs:
        return []
    w = _federation_weights(index_dirs, terms)
    if w.n_docs == 0 or not w.df:
        return []
    _check_columns(index_dirs, filters)

    def score(i):
        if not w.rows[i]:
            return [], (0, 0, [])
        seg = Segment(index_dirs[i], w.n_docs, w.avgdl, df=w.df)
        return seg.tfidf_topk(
            terms, k, threshold, filters=filters, not_terms=not_terms,
            exclude=_excl_value(excludes[i]) if excludes else None), \
            (0, 0, [])

    merged, _counters = _member_topks(spark, index_dirs, score, display)
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
                                excludes: list | None = None,
                                filters: dict[str, str] | None = None,
                                not_terms: list[str] | None = None,
                                display: dict | None = None
                                ) -> list[tuple[int, int, float]]:
    """Wildcard `prefix*` over a federation: the expansion rule of
    expand_prefix_big over the union dictionary (so it equals the merged
    index's expansion — past the cap, the highest CORPUS-WIDE dfs win),
    then the shared federated ranked-OR tail."""
    idx_dfs = _member_frames(spark, index_dirs, "index", idx_dfs)
    terms = expand_prefix_big(union_dictionary(idx_dfs), prefix)
    return search_big_terms_federated(spark, index_dirs, terms, k=k,
                                      rounded=rounded, excludes=excludes,
                                      filters=filters, not_terms=not_terms,
                                      display=display)


def search_big_fuzzy_federated(spark: SparkSession, index_dirs: list[str],
                               term: str, k: int = 10,
                               rounded: bool = False,
                               idx_dfs: list | None = None,
                               excludes: list | None = None,
                               filters: dict[str, str] | None = None,
                               not_terms: list[str] | None = None,
                               display: dict | None = None
                               ) -> list[tuple[int, int, float]]:
    """Fuzzy `term~` over a federation: ED<=1 expansion on the union
    dictionary (df sums; each member's candidates from its fuzzy stage
    when built), then the shared federated ranked-OR tail."""
    from .fuzzy import expand_fuzzy_federated
    idx_dfs = _member_frames(spark, index_dirs, "index", idx_dfs)
    terms = expand_fuzzy_federated(idx_dfs, term, index_dirs=index_dirs)
    return search_big_terms_federated(spark, index_dirs, terms, k=k,
                                      rounded=rounded, excludes=excludes,
                                      filters=filters, not_terms=not_terms,
                                      display=display)


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
