"""Field-boosted ranking — BM25 over (content, path) with a path weight.

The reference scores content only (Searcher.java's TF-IDF reads one
`index` table); every production code-search ranks a filename/path hit
above a body hit (Lucene multi-field query, GitHub code search's path
boost). This module adds that as a SECOND tiny index over the path
tokens the docs snapshot already carries — metadata-sized (a handful of
tokens per doc), so at 10^12 files it is ~1% of the content index and
builds from the ~50 B/doc snapshot without touching content.

Scoring (documented, oracle-mirrored):

    score(d) = bm25_body(d) + w_path * bm25_path(d)

where bm25_path uses the PATH field's own statistics (df over path
tokens, average path token count) and the same K1/B — the query-time
field-boost formulation (Lucene's MultiFieldQueryParser), not full BM25F
tf-blending; the simpler rule keeps each field's statistics honest and
is what the DuckDB oracle can mirror exactly. Accumulation order is
fixed (body sum in sorted-term order, then path contributions in
sorted-term order), so scores are reproducible float64 like the body
engine's.

Stage layout (ensure-style, like fuzzy/doc_terms — (re)buildable for any
index whose docs snapshot carries `path`):

    path_index/  (term, ordinal, tf)   sorted by term (pushdown)
    path_lens/   (ordinal, plen)
    manifest metrics: total_plen (avgdl_path = total_plen / n_docs)

Plain rows, not packed blobs: path-token postings are dictionary-scale
(df bounded by files-per-directory patterns), and term-sorted parquet
gives the same pushdown the blob index gets.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .checkpoint import BuildManifest
from .kernel import PathField, Segment
from .query import SearchEngine
from .tokenizer import query_terms, tokenize_series

#: default path-field weight (a path hit outranks ~2 body hits)
PATH_WEIGHT = 2.0


def ensure_path_index(spark: SparkSession, index_dir: str) -> str:
    """Materialize (once) the path-token index for ``index_dir``:
    path_index/ (term, ordinal, tf) + path_lens/ (ordinal, plen);
    path_index's manifest metrics carry total_plen."""
    man = BuildManifest(index_dir)
    if man.is_complete("path_index") and man.is_complete("path_lens"):
        return man.stage_path("path_index")
    docs = spark.read.parquet(man.stage_path("docs"))
    if "path" not in docs.columns:
        raise ValueError(
            f"{index_dir}: docs snapshot has no 'path' column (stats-only "
            "snapshot) — field boosts need the build-time metadata")
    t0 = man.begin("path_index")

    def tok(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            toks = tokenize_series(pdf["path"])
            n = int(toks.str.len().sum()) if len(pdf) else 0
            if not n:
                yield pd.DataFrame({"ordinal": np.empty(0, np.int64),
                                    "term": np.empty(0, object)})
                continue
            yield pd.DataFrame({
                "ordinal": pdf["ordinal"].repeat(
                    toks.str.len()).to_numpy(np.int64),
                "term": np.concatenate(
                    [np.asarray(t, dtype=object) for t in toks])})

    pairs = (docs.select("ordinal", "path")
             .mapInPandas(tok, schema="ordinal long, term string"))
    base = man.stage_path("path_index")
    from pyspark.sql import Observation
    obs = Observation("plen_total")
    (pairs.groupBy("term", "ordinal").agg(F.count("*").alias("tf"))
     .sort("term")
     .observe(obs, F.sum("tf").alias("total"))
     .write.mode("overwrite").parquet(base))
    man.commit("path_index", t0, 0,
               metrics={"total_plen": int(obs.get["total"] or 0)})
    t1 = man.begin("path_lens")
    (pairs.groupBy("ordinal").agg(F.count("*").alias("plen"))
     .write.mode("overwrite").parquet(man.stage_path("path_lens")))
    man.commit("path_lens", t1, 0)
    return base


def path_lens_parquet(index_dir: str) -> str:
    """Location of the per-doc path-length table (kernel.PathField reads
    it)."""
    return BuildManifest(index_dir).stage_path("path_lens")


class FieldedEngine:
    """Driver-regime field-boosted scorer on top of a SearchEngine: the
    kernel's ranked traversal (kernel.Segment.topk) with a PathField —
    per-doc path lengths in one int64 array, per-query path postings
    from a term-filtered read of the dictionary-scale path index, kept in
    an LRU cache like the body postings."""

    def __init__(self, engine: SearchEngine, w_path: float = PATH_WEIGHT,
                 cache_max_terms: int | None = None):
        self.engine = engine
        self.w_path = float(w_path)
        base = ensure_path_index(engine.spark, engine.index_dir)
        self.avg_pl = load_path_stats(engine.index_dir) / max(
            engine.n_docs, 1)
        self.path = PathField(
            base, path_lens_parquet(engine.index_dir),
            engine._ext_ids.size, self.avg_pl, self.w_path,
            cache_max_terms=(cache_max_terms if cache_max_terms is not None
                             else engine.CACHE_MAX_TERMS))
        self._cache = self.path._cache

    def search(self, query: str, k: int = 10, rounded: bool = False,
               filters: dict[str, str] | None = None,
               not_terms: list[str] | None = None
               ) -> list[tuple[int, int, float]]:
        """[(rank, doc_id, score)] under score = bm25_body + w*bm25_path.
        Candidates = union of body and path matches (a pure path hit
        ranks — that is the point of a filename boost). filters/not_terms
        restrict the RESULT SET exactly like the body engine's search
        (metadata filters + body NOT-term exclusion applied to the
        candidate set before scoring; statistics stay as built — Lucene
        filter-query semantics)."""
        return self.engine.topk(query_terms(query), k, rounded=rounded,
                                filters=filters, not_terms=not_terms,
                                path=self.path)


# --------------------------------------------- fully-cluster fielded path

def load_path_stats(index_dir: str) -> int:
    """total_plen of the (already-ensured) path_index stage."""
    man = BuildManifest(index_dir)
    return int(man.state["completed"]["path_index"]["metrics"]
               ["total_plen"])


#: counters of the last search_big_fielded_federated call — the keys and
#: meaning of query.last_big_prune_stats, over the body postings.
last_fielded_prune_stats: dict[str, int] = {}


def search_big_fielded_federated(spark: SparkSession,
                                 index_dirs: list[str], query: str,
                                 k: int = 10, w_path: float = PATH_WEIGHT,
                                 rounded: bool = False, prune: bool = True,
                                 path_dfs: list | None = None,
                                 excludes: list | None = None,
                                 filters: dict[str, str] | None = None,
                                 not_terms: list[str] | None = None,
                                 display: dict | None = None
                                 ) -> list[tuple[int, int, float]]:
    """BM25F (score = bm25_body + w*bm25_path) over a doc-disjoint
    federation WITHOUT any driver-side doc arrays — the big regime's
    field boost, rank-identical to FieldedEngine.search on the merged
    index (tests assert it; a single index is the federation of one).

    Every doc's full fielded score is computable inside its own segment
    (its body AND path postings live there) provided the WEIGHTS are the
    federation's: global n_docs/avgdl/df from _federation_weights, global
    path df = Σ per-segment path dfs, global avg_pl = Σ total_plen / Σ
    n_docs — integer sums over as-built stats, search_big_federated's
    argument extended to the second field. Each member then runs
    kernel.Segment.topk with a PathField in its own task (one Spark job
    for the federation): the body bound plus the exact weighted path
    score drives the pruned traversal, restriction (filters, NOT terms,
    logical deletes) applies before θ, and the k×S rows merge by (score
    DESC, doc_id ASC).

    The per-member path df stays a Spark aggregate: a token like ``py``
    has O(N) path postings, which must not reach the driver. path_dfs:
    per-member path_index frames (else read, the stage ensured
    first). display: filled with the result rows' display fields, read
    in the same tasks (query._member_topks)."""
    from .query import (
        _check_columns,
        _excl_value,
        _federation_weights,
        _member_topks,
        _merge_federated,
    )

    global last_fielded_prune_stats
    terms = query_terms(query)
    if not terms or k <= 0 or not index_dirs:
        return []
    w = _federation_weights(index_dirs, terms)
    if w.n_docs == 0:
        return []
    paths = [ensure_path_index(spark, d) for d in index_dirs]
    if path_dfs is None:
        path_dfs = [spark.read.parquet(p) for p in paths]
    avg_pl = sum(load_path_stats(d) for d in index_dirs) / w.n_docs
    pdf_map: dict[str, int] = {}
    for pdf_seg in path_dfs:
        for r in (pdf_seg.where(F.col("term").isin(terms))
                  .groupBy("term").agg(F.count(F.lit(1)).alias("df"))
                  .collect()):
            pdf_map[r["term"]] = pdf_map.get(r["term"], 0) + int(r["df"])
    if not w.df and not pdf_map:
        return []
    _check_columns(index_dirs, filters)
    lens = [path_lens_parquet(d) for d in index_dirs]

    def score(i):
        seg = Segment(index_dirs[i], w.n_docs, w.avgdl, df=w.df)
        path = PathField(paths[i], lens[i], seg._ext_ids.size, avg_pl,
                         w_path, df=pdf_map)
        rows = seg.topk(terms, k, prune=prune, rounded=rounded,
                        filters=filters, not_terms=not_terms,
                        exclude=_excl_value(excludes[i]) if excludes
                        else None, path=path)
        return rows, seg.counters(terms)

    merged, last_fielded_prune_stats = _member_topks(spark, index_dirs,
                                                     score, display)
    return _merge_federated(merged, k)
