"""More-like-this: given a document, find the documents most similar to it
— Lucene's MoreLikeThis, re-expressed Spark-first.

The reference has no document-similarity surface (Searcher.java serves
term queries only). Lucene's MLT needs per-document term vectors stored at
index time; our equivalent is a lazy ``doc_terms`` stage derived purely
from the built index (like the fuzzy stage): decode every posting back to
``(ordinal, term, tf)``, keep each doc's top ``DOC_TERMS_M`` terms by
(tf DESC, term ASC), join doc_id and write sorted by doc_id — one
postings-decode + one doc-keyed shuffle, the same cost class as a
positional-store build, run once per index.

Query time is two bounded lookups + one ranked-OR search:

1. the doc's stored vector: parquet-pushdown on doc_id (<= M rows; an
   alias doc_id resolves through the aliases stage first — content-class
   identity, same as display resolution);
2. INTERESTING terms: rank the vector by tf * bm25_idf(df) (df via a
   <= M-row dictionary lookup) and keep the top ``MLT_QUERY_TERMS`` —
   Lucene MLT's interestingness ranking with BM25's idf;
3. ranked-OR BM25 over the interesting terms, fetching k+1 and dropping
   the source doc (it is its own best match) — exact: any k survivors of
   the true top-(k+1) are the true top-k of the excluded set.

Both serving regimes share steps 1-2 verbatim; step 3 is the engine's
existing ranked tail (driver-map, or search_big_terms_federated in the big
regime — a single index there is the federation of one),
so MLT inherits pruning, filters/NOT restriction and rank determinism."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .checkpoint import BuildManifest

#: stored vector width: per-doc top-M terms by (tf DESC, term ASC)
DOC_TERMS_M = 64
#: query width: top-m interesting terms by (tf * idf DESC, term ASC)
MLT_QUERY_TERMS = 10


def ensure_doc_terms(spark: SparkSession, index_dir: str,
                     top_m: int = DOC_TERMS_M) -> str:
    """Materialize (once) the term-vector table for an index:
    ``index_dir/doc_terms`` = (doc_id, term, tf), each doc's top ``top_m``
    terms, sorted by doc_id for pushdown lookups. Stage 'doc_terms' is
    manifest-committed; derived purely from index + docs, so it can be
    (re)built for any index."""
    import numpy as np
    import pandas as pd

    from .codec import decode_postings
    man = BuildManifest(index_dir)
    if man.is_complete("doc_terms"):
        return man.stage_path("doc_terms")
    t0 = man.begin("doc_terms")
    idx = spark.read.parquet(os.path.join(index_dir, "index"))

    def dec(batches):
        for pdf in batches:
            for term, blob in zip(pdf["term"], pdf["postings"]):
                ids, tfs = decode_postings(bytes(blob))
                yield pd.DataFrame({"ordinal": ids, "term": term,
                                    "tf": tfs.astype(np.int64)})

    rows = (idx.select("term", "postings")
            .mapInPandas(dec, schema="ordinal long, term string, tf long"))
    from pyspark.sql import Observation, Window
    w = (Window.partitionBy("ordinal")
         .orderBy(F.col("tf").desc(), F.col("term")))
    top = (rows.withColumn("rn", F.row_number().over(w))
           .where(F.col("rn") <= top_m).drop("rn"))
    docs = (spark.read.parquet(os.path.join(index_dir, "docs"))
            .select("ordinal", "doc_id"))
    obs = Observation("doc_terms_rows")
    out = (top.join(docs, "ordinal").select("doc_id", "term", "tf")
           .sort("doc_id")
           .observe(obs, F.count(F.lit(1)).alias("rows")))
    out.write.mode("overwrite").parquet(man.stage_path("doc_terms"))
    man.commit("doc_terms", t0, int(obs.get["rows"] or 0),
               {"top_m": top_m})
    return man.stage_path("doc_terms")


def _resolve_alias(spark: SparkSession, index_dir: str, doc_id: int) -> int:
    """An alias doc_id (duplicate-content class member) resolves to its
    canonical — one pushdown lookup, only taken when the vector row is
    missing."""
    man = BuildManifest(index_dir)
    if not man.is_complete("aliases"):
        return doc_id
    rows = (spark.read.parquet(man.stage_path("aliases"))
            .where(F.col("doc_id") == doc_id)
            .select("canonical_doc_id").collect())
    return int(rows[0]["canonical_doc_id"]) if rows else doc_id


def mlt_terms(spark: SparkSession, index_dir: str, doc_id: int,
              m: int = MLT_QUERY_TERMS) -> tuple[int, list[str]]:
    """Steps 1-2 over one index (mlt_terms_federated over ``[index_dir]``,
    the doc_terms stage required): (resolved_doc_id, the top-m
    interesting terms of the doc's stored vector by tf * bm25_idf DESC,
    term ASC). Raises on an unknown doc_id or a missing doc_terms stage."""
    return mlt_terms_federated(spark, [index_dir], doc_id, m=m,
                               ensure=False)


def _drop_source(rows: list[tuple[int, int, float]], doc_id: int, k: int
                 ) -> list[tuple[int, int, float]]:
    out = [(i + 1, d, s) for i, (_r, d, s)
           in enumerate(r for r in rows if r[1] != doc_id)]
    return out[:k]


def more_like_this(engine, doc_id: int, k: int = 10,
                   m: int = MLT_QUERY_TERMS, rounded: bool = False,
                   filters: dict[str, str] | None = None,
                   not_terms: list[str] | None = None
                   ) -> list[tuple[int, int, float]]:
    """Driver-regime MLT over a SearchEngine: interesting-term expansion,
    then the engine's own pruned ranked-OR with k+1 fetch and source-doc
    drop."""
    doc_id, terms = mlt_terms(engine.spark, engine.index_dir, doc_id, m=m)
    if k <= 0:
        return []
    rows = engine.topk(terms, k + 1, rounded=rounded, filters=filters,
                       not_terms=not_terms)
    return _drop_source(rows, doc_id, k)


def mlt_terms_federated(spark: SparkSession, index_dirs: list[str],
                        doc_id: int, m: int = MLT_QUERY_TERMS,
                        ensure: bool = True
                        ) -> tuple[int, list[str]]:
    """Steps 1-2 over a doc-disjoint federation: the doc's stored vector
    comes from its OWNING segment (doc_terms probes segment by segment,
    alias resolution included), interestingness weights from the
    FEDERATION's statistics (n_docs = Σ n_docs_i, df(t) = Σ df_i(t) —
    the same integer sums every federated scorer uses), so the selected
    terms equal mlt_terms on the merged index (the vector is doc-local
    and identical in both; tests assert the end-to-end payload parity).
    ensure=True builds a missing doc_terms stage lazily per segment — NRT
    segments churn with every compaction, so requiring a manual staging
    step per segment would make the endpoint unusable; the ensure is one
    postings-decode job per fresh segment, manifest-cached after that.
    ensure=False (a static index) raises with the one-liner instead."""
    from .kernel import bm25_idf
    from .query import _federation_weights
    vec = None
    for d in index_dirs:
        man = BuildManifest(d)
        if ensure:
            ensure_doc_terms(spark, d)
        elif not man.is_complete("doc_terms"):
            raise ValueError(
                "this index has no doc_terms stage — run "
                "mlt.ensure_doc_terms(spark, index_dir) (one "
                "postings-decode job) to enable more-like-this")
        dt = spark.read.parquet(man.stage_path("doc_terms"))
        rows = dt.where(F.col("doc_id") == doc_id).collect()
        if not rows:
            canon = _resolve_alias(spark, d, doc_id)
            if canon != doc_id:
                rows = dt.where(F.col("doc_id") == canon).collect()
                if rows:
                    doc_id = canon
        if rows:
            vec = rows
            break
    if vec is None:
        raise ValueError(f"unknown doc_id {doc_id}")
    tfs = {r["term"]: int(r["tf"]) for r in vec}
    # federation-global stats from the ONE summing contract every other
    # federated scorer uses (query._federation_weights) — avgdl unused
    w = _federation_weights(index_dirs, list(tfs))

    def weight(t: str) -> float:
        return tfs[t] * bm25_idf(w.n_docs, w.df.get(t, 0))

    ranked = sorted(tfs, key=lambda t: (-weight(t), t))
    # SELECTION is interestingness-ranked; the returned list is then
    # term-sorted because scoring must sum contributions in sorted term
    # order on every path (the engine's bitwise rank-identity discipline —
    # float addition is not associative)
    return doc_id, sorted(ranked[:m])


def more_like_this_federated(spark: SparkSession, index_dirs: list[str],
                             doc_id: int, k: int = 10,
                             m: int = MLT_QUERY_TERMS,
                             rounded: bool = False,
                             excludes: list | None = None,
                             filters: dict[str, str] | None = None,
                             not_terms: list[str] | None = None,
                             ensure: bool = True,
                             display: dict | None = None
                             ) -> list[tuple[int, int, float]]:
    """More-like-this over a federation (the big regime's only MLT; one
    index is the federation of one): federation-weighted interesting-term
    expansion (mlt_terms_federated; ``ensure`` as there), then the shared
    federated ranked tail with k+1 fetch and source-doc drop — equal to
    the driver regime's more_like_this on the merged index (tests assert
    it). display: as in query.search_big_terms_federated."""
    from .query import search_big_terms_federated
    doc_id, terms = mlt_terms_federated(spark, index_dirs, doc_id, m=m,
                                        ensure=ensure)
    rows = search_big_terms_federated(spark, index_dirs, terms, k=k + 1,
                                      mode="ranked", rounded=rounded,
                                      excludes=excludes, filters=filters,
                                      not_terms=not_terms, display=display)
    return _drop_source(rows, doc_id, k)
