"""Driver-contract queries: Spark implementations + DuckDB oracle SQL.

Each entry runs on the driver-generated tables at an sf_dir
(documents/embeddings/lineitem/orders/customer/supplier/nation/events) and
has a matching ANSI-SQL oracle. Column names are aligned exactly (the driver
hashes values after sorting columns by name). Floats that involve arithmetic
are rounded to 6 dp on BOTH sides; ranks order by the ROUNDED score so ulp
differences between engines cannot flip ranks.

Coverage map (SURVEY.md §2.1 Flame operators -> entries here):
  count/fold/foldByKey -> fold_by_key;  distinct -> distinct_terms;
  filter -> filter_events_hourly;  flatMap(tokenize) -> term_counts;
  mapToPair/flatMapToPair -> term_df;  groupBy(collect) -> group_collect;
  join -> join_customer_orders;  cogroup -> cogroup_nation;
  intersection -> intersection_custkeys;  fromTable/select -> doc_sha256;
plus the query-side semantics (SURVEY.md §2.4): tfidf_rank (reference
formula), bm25_rank (north-rule scoring), conjunctive_docs (AND mode),
and the real engine end-to-end: inverted_index_stats / bm25_engine_topk
run the actual salted distributed build + SearchEngine and are verified
against SQL oracles.

Training-pipeline extras (task brief): dedup_exact, minhash_lsh_buckets,
ngram_jaccard_pairs, simhash64, fingerprint, quality_scores,
dominant_term (lang-id style argmax), token_stats, ann_cosine_topk,
embedding_norms; plus (engine/multimodal.py) media_metadata,
image_decode_features, frame_sample, audio_chunk_stats;
(engine/similarity.py) lsh_bucket_counts, ann_lsh_topk,
neardup_embedding_pairs, ivf_cells, ann_ivf_topk; and text-analysis
extras langid_ngram, bpe_token_count, winnow_fingerprints — every one
with a DuckDB oracle whose constants/literals are generated from the same
Python source of truth as the Spark plan.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

BM25_TERMS = ["join", "spark"]          # fixed fixture query
TFIDF_TERMS = ["scan", "window"]
CONJ_TERMS = ["join", "spark", "table"]
K1, B = 1.2, 0.75
TOPK = 20
ANN_QUERY_IDS = [0, 1, 2]
ANN_K = 5
STOPWORDS = ["the", "a", "and", "of", "to", "in", "row", "key"]
MINHASH_SEEDS = ["s0:", "s1:", "s2:", "s3:"]
SHINGLE_MAX_DF = 20     # hot-shingle cutoff for the near-dup candidate join


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _tokens(spark, sf_dir) -> DataFrame:
    """(doc_id, term) with one row per token occurrence (flatMap analog)."""
    return (_t(spark, sf_dir, "documents")
            .select("doc_id", F.explode(F.split("text", r"\s+")).alias("term"))
            .where(F.col("term") != ""))


_TOKENS_SQL = ("select doc_id, t.term as term from documents, "
               "unnest(string_split_regex(text, '\\s+')) as t(term) "
               "where t.term <> ''")


# --------------------------------------------------------------- core slices

def q_term_counts(spark, sf_dir):
    return _tokens(spark, sf_dir).groupBy("term").agg(
        F.count("*").alias("n"))


def q_term_df(spark, sf_dir):
    return _tokens(spark, sf_dir).distinct().groupBy("term").agg(
        F.count("*").alias("df"))


def q_doc_lengths(spark, sf_dir):
    return _tokens(spark, sf_dir).groupBy("doc_id").agg(
        F.count("*").alias("doc_len"))


def q_corpus_stats(spark, sf_dir):
    return q_doc_lengths(spark, sf_dir).agg(
        F.count("*").alias("n_docs"),
        F.sum("doc_len").alias("total_len"),
        F.round(F.sum("doc_len") / F.count("*"), 6).alias("avgdl"))


def q_doc_sha256(spark, sf_dir):
    return _t(spark, sf_dir, "documents").select(
        "doc_id", F.sha2(F.col("text"), 256).alias("sha"))


# ------------------------------------------------- scoring (SQL both engines)

def _bm25_spark_scored_sql(terms: list[str]) -> str:
    """Spark SQL producing (doc_id, score_r) — NO global rank window: the
    top-k + rank assignment happen via sort+limit (TakeOrderedAndProject)
    and a k-row driver pass in q_bm25_rank, so no single-partition window
    exists anywhere in the plan (a 100x-scale killer otherwise)."""
    tl = ",".join(f"'{t}'" for t in terms)
    return f"""
with tok as (
  select doc_id, term from (
    select doc_id, explode(split(text, '\\\\s+')) as term from documents
  ) where term <> ''
),
dl as (select doc_id, count(*) as doc_len from tok group by doc_id),
stats as (select count(*) as n_docs, sum(doc_len)/count(*) as avgdl from dl),
tf as (select doc_id, term, count(*) as tf from tok
       where term in ({tl}) group by doc_id, term),
dfs as (select term, count(*) as df from tf group by term),
scored as (
  select tf.doc_id,
         sum( ln((s.n_docs - dfs.df + 0.5)/(dfs.df + 0.5) + 1.0)
              * (tf.tf * ({K1} + 1.0))
              / (tf.tf + {K1} * ((1.0 - {B}) + {B} * (dl.doc_len / s.avgdl)))
            ) as score
  from tf join dfs on tf.term = dfs.term
        join dl on tf.doc_id = dl.doc_id cross join stats s
  group by tf.doc_id
)
select doc_id, round(score, 6) as score_r from scored
"""


def _rank_topk(spark, scored: DataFrame, k: int) -> DataFrame:
    """Distributed top-k (sort+limit -> TakeOrderedAndProject, per-partition
    heaps, no global window), then ranks assigned over the k collected rows
    — the same pattern as q_bm25_engine_topk."""
    rows = (scored.orderBy(F.col("score_r").desc(), "doc_id")
            .limit(k).collect())
    return spark.createDataFrame(
        [(int(r["doc_id"]), i + 1, float(r["score_r"]))
         for i, r in enumerate(rows)],
        "doc_id long, rank long, score_r double")


def _bm25_duck_sql(terms: list[str], k: int) -> str:
    tl = ",".join(f"'{t}'" for t in terms)
    return _bm25_duck_sql_pred(f"term in ({tl})", k)


def _bm25_duck_sql_pred(pred: str, k: int) -> str:
    return f"""
with tok as ({_TOKENS_SQL}),
dl as (select doc_id, count(*) as doc_len from tok group by doc_id),
stats as (select count(*) as n_docs, sum(doc_len)/count(*) as avgdl from dl),
tf as (select doc_id, term, count(*) as tf from tok
       where {pred} group by doc_id, term),
dfs as (select term, count(*) as df from tf group by term),
scored as (
  select tf.doc_id,
         sum( ln((s.n_docs - dfs.df + 0.5)/(dfs.df + 0.5) + 1.0)
              * (tf.tf * ({K1} + 1.0))
              / (tf.tf + {K1} * ((1.0 - {B}) + {B} * (dl.doc_len / s.avgdl)))
            ) as score
  from tf join dfs on tf.term = dfs.term
        join dl on tf.doc_id = dl.doc_id cross join stats s
  group by tf.doc_id
),
ranked as (
  select doc_id, round(score, 6) as score_r,
         row_number() over (order by round(score, 6) desc, doc_id) as rank
  from scored
)
select doc_id, rank, score_r from ranked where rank <= {k}
"""


def q_bm25_rank(spark, sf_dir):
    _t(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return _rank_topk(
        spark, spark.sql(_bm25_spark_scored_sql(BM25_TERMS)), TOPK)


def q_tfidf_rank(spark, sf_dir):
    """Reference TF-IDF semantics (Searcher.java:108,113): OR-mode
    sum((1+log10 tf) * log10(N/df)), top-k via sort+limit (no global
    window)."""
    tl = ",".join(f"'{t}'" for t in TFIDF_TERMS)
    _t(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    scored = spark.sql(f"""
with tok as (
  select doc_id, term from (
    select doc_id, explode(split(text, '\\\\s+')) as term from documents
  ) where term <> ''
),
n as (select count(distinct doc_id) as n_docs from tok),
tf as (select doc_id, term, count(*) as tf from tok
       where term in ({tl}) group by doc_id, term),
dfs as (select term, count(*) as df from tf group by term),
scored as (
  select tf.doc_id,
         sum((1.0 + log10(tf.tf)) * log10(n.n_docs / dfs.df)) as score
  from tf join dfs on tf.term = dfs.term cross join n
  group by tf.doc_id
)
select doc_id, round(score, 6) as score_r from scored
""")
    return _rank_topk(spark, scored, TOPK)


def q_conjunctive_docs(spark, sf_dir):
    toks = _tokens(spark, sf_dir).where(F.col("term").isin(CONJ_TERMS))
    return (toks.distinct().groupBy("doc_id")
            .agg(F.count("*").alias("nt"))
            .where(F.col("nt") == len(CONJ_TERMS))
            .select("doc_id"))


def q_distinct_terms(spark, sf_dir):
    return _tokens(spark, sf_dir).select("term").distinct()


# ------------------------------------------- Flame-operator relational parity

def q_fold_by_key(spark, sf_dir):
    return (_t(spark, sf_dir, "lineitem")
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.sum("l_quantity").alias("sum_qty"),
                 F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
                 F.count("*").alias("n")))


def q_join_customer_orders(spark, sf_dir):
    cust = F.broadcast(_t(spark, sf_dir, "customer"))  # small dim -> broadcast
    return (_t(spark, sf_dir, "orders")
            .join(cust, F.col("o_custkey") == F.col("c_custkey"))
            .groupBy("c_custkey", "c_mktsegment")
            .agg(F.count("*").alias("n_orders"),
                 F.round(F.sum("o_totalprice"), 2).alias("total_r")))


def q_cogroup_nation(spark, sf_dir):
    s = (_t(spark, sf_dir, "supplier").groupBy("s_nationkey")
         .agg(F.count("*").alias("n_supp"))
         .withColumnRenamed("s_nationkey", "nationkey"))
    c = (_t(spark, sf_dir, "customer").groupBy("c_nationkey")
         .agg(F.count("*").alias("n_cust"))
         .withColumnRenamed("c_nationkey", "nationkey"))
    return (s.join(c, "nationkey", "full_outer")
            .select("nationkey",
                    F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
                    F.coalesce("n_cust", F.lit(0)).alias("n_cust")))


def q_intersection_custkeys(spark, sf_dir):
    a = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"))
    b = _t(spark, sf_dir, "customer").where(F.col("c_acctbal") > 5000).select(
        F.col("c_custkey").alias("custkey"))
    return a.intersect(b)


def q_group_collect(spark, sf_dir):
    return (_t(spark, sf_dir, "supplier")
            .groupBy(F.col("s_nationkey").alias("nationkey"))
            .agg(F.concat_ws(",", F.sort_array(
                F.collect_list("s_name"))).alias("names")))


def q_filter_events_hourly(spark, sf_dir):
    return (_t(spark, sf_dir, "events")
            .where(F.col("event_type").isin("click", "error"))
            .groupBy("event_type",
                     F.date_format(F.date_trunc("hour", "ts"),
                                   "yyyy-MM-dd HH").alias("hour"))
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("value"), 2).alias("sum_value")))


def q_json_extract_events(spark, sf_dir):
    return (_t(spark, sf_dir, "events")
            .select("event_id",
                    F.get_json_object("props", "$.k").cast("long").alias("k"))
            .where(F.col("event_id") < 1000))


def q_window_top_order(spark, sf_dir):
    from pyspark.sql import Window
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (_t(spark, sf_dir, "orders")
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select(F.col("o_custkey").alias("custkey"),
                    F.col("o_orderkey").alias("orderkey"),
                    F.col("o_totalprice").alias("totalprice")))


# ------------------------------------------------ training-pipeline operators

def q_dedup_exact(spark, sf_dir):
    return (_t(spark, sf_dir, "documents")
            .groupBy(F.md5("text").alias("text_hash"))
            .agg(F.count("*").alias("n_docs"),
                 F.min("doc_id").alias("keeper")))


def q_fingerprint(spark, sf_dir):
    return (_tokens(spark, sf_dir).distinct()
            .groupBy("doc_id")
            .agg(F.md5(F.concat_ws(" ", F.sort_array(
                F.collect_list("term")))).alias("fp")))


def q_minhash_lsh_buckets(spark, sf_dir):
    toks = _tokens(spark, sf_dir)
    aggs = [F.min(F.md5(F.concat(F.lit(seed), F.col("term"))))
            .alias(f"mh{i}") for i, seed in enumerate(MINHASH_SEEDS)]
    sig = toks.groupBy("doc_id").agg(*aggs)
    return (sig.groupBy("mh0", "mh1", "mh2", "mh3")
            .agg(F.count("*").alias("n_docs")))


def q_ngram_jaccard_pairs(spark, sf_dir):
    """Word-3-gram shingle near-dup: candidate pairs sharing a shingle,
    exact Jaccard over shingle sets, threshold 0.2.

    Hot-shingle guard: shingles appearing in more than SHINGLE_MAX_DF docs
    are dropped BEFORE the candidate self-join — the standard
    stopword-shingle defense (a shingle in d docs creates d^2/2 candidate
    rows; one boilerplate shingle at 10^9 docs would melt the shuffle). The
    fixture's max shingle df is 5, so results are unchanged there; the
    oracle mirrors the cutoff."""
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    toks = docs.select("doc_id", F.split("text", r"\s+").alias("ts"))
    sh = toks.select(
        "doc_id",
        F.explode(F.expr(
            "transform(sequence(0, greatest(size(ts)-3, -1)), "
            "i -> concat_ws(' ', slice(ts, i+1, 3)))")).alias("shingle"))
    sh = sh.distinct()
    rare = (sh.groupBy("shingle").agg(F.count("*").alias("sdf"))
            .where(F.col("sdf") <= SHINGLE_MAX_DF).select("shingle"))
    sh = sh.join(rare, "shingle")  # pre-join df cutoff
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
                    & (F.col("a.doc_id") < F.col("b.doc_id")))
             .groupBy(F.col("a.doc_id").alias("ida"),
                      F.col("b.doc_id").alias("idb"))
             .agg(F.count("*").alias("inter")))
    sa = sizes.select(F.col("doc_id").alias("ida"), F.col("sz").alias("sza"))
    sb = sizes.select(F.col("doc_id").alias("idb"), F.col("sz").alias("szb"))
    return (inter.join(sa, "ida").join(sb, "idb")
            .withColumn("jaccard", F.round(
                F.col("inter") / (F.col("sza") + F.col("szb") - F.col("inter")),
                6))
            .where(F.col("jaccard") >= 0.2)
            .select("ida", "idb", "jaccard"))


def q_quality_scores(spark, sf_dir):
    toks = _tokens(spark, sf_dir)
    return (toks.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.round(F.sum(F.col("term").isin(STOPWORDS).cast("int"))
                / F.count("*"), 6).alias("stop_ratio"),
        F.round(F.avg(F.length("term")), 6).alias("avg_token_len")))


def q_dominant_term(spark, sf_dir):
    """Per-doc argmax term (lang-ID-style classification by marker counts)."""
    from pyspark.sql import Window
    tf = _tokens(spark, sf_dir).groupBy("doc_id", "term").agg(
        F.count("*").alias("tf"))
    w = Window.partitionBy("doc_id").orderBy(F.col("tf").desc(), F.col("term"))
    return (tf.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("doc_id", F.col("term").alias("dominant"),
                    F.col("tf").alias("dom_tf")))


def q_lang_distribution(spark, sf_dir):
    return _t(spark, sf_dir, "documents").groupBy("lang").agg(
        F.count("*").alias("n"))


def q_token_stats(spark, sf_dir):
    toks = _tokens(spark, sf_dir)
    return (toks.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.countDistinct("term").alias("n_unique")))


# ------------------------------------------------------------ embeddings / ANN

def _dots(a_col: str, b_col: str):
    prod = F.zip_with(F.col(a_col), F.col(b_col), lambda x, y: x * y)
    return F.aggregate(prod, F.lit(0.0), lambda acc, x: acc + x)


def q_ann_cosine_topk(spark, sf_dir):
    from pyspark.sql import Window
    emb = (_t(spark, sf_dir, "embeddings")
           .select("vec_id", F.col("embedding").cast("array<double>")
                   .alias("e")))
    emb = emb.withColumn("nrm", F.sqrt(_dots("e", "e")))
    q = (emb.where(F.col("vec_id").isin(ANN_QUERY_IDS))
         .select(F.col("vec_id").alias("qid"), F.col("e").alias("qe"),
                 F.col("nrm").alias("qn")))
    pairs = (q.crossJoin(emb).where(F.col("vec_id") != F.col("qid"))
             .withColumn("sim", F.round(
                 _dots("qe", "e") / (F.col("qn") * F.col("nrm")), 6)))
    w = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("vec_id"))
    return (pairs.withColumn("rank", F.row_number().over(w).cast("long"))
            .where(F.col("rank") <= ANN_K)
            .select("qid", "rank", "vec_id", "sim"))


def q_embedding_norms(spark, sf_dir):
    emb = (_t(spark, sf_dir, "embeddings")
           .select("vec_id", F.col("embedding").cast("array<double>")
                   .alias("e")))
    return emb.select("vec_id", F.round(F.sqrt(_dots("e", "e")), 6)
                      .alias("norm"))


# ----------------------------------- the real engine, SQL-verified end-to-end

_ENGINE_CACHE: dict[str, str] = {}


def _built_engine_dir(spark, sf_dir) -> str:
    """Build (once per sf_dir per process) the actual inverted index over the
    documents table mapped into the corpus shape."""
    if sf_dir in _ENGINE_CACHE:
        return _ENGINE_CACHE[sf_dir]
    from .index_build import build_index
    docs = _t(spark, sf_dir, "documents").select(
        F.lit("testdata").alias("repo"),
        F.concat(F.col("source"), F.lit("/"), F.col("doc_id")).alias("path"),
        F.lit("0000000000").alias("commit"),
        F.col("lang"),
        F.col("text").alias("content"),
        F.col("doc_id").alias("doc_id"),  # keep driver doc_ids as identity
    )
    out = os.path.join(tempfile.mkdtemp(prefix="engine_idx_"), "idx")
    build_index(spark, docs, out)
    _ENGINE_CACHE[sf_dir] = out
    return out


def q_inverted_index_stats(spark, sf_dir):
    """df/total_tf straight out of the REAL salted distributed index build —
    verified against plain SQL aggregation (binary postings themselves are
    covered by pytest round-trip tests)."""
    out = _built_engine_dir(spark, sf_dir)
    return (spark.read.parquet(os.path.join(out, "index"))
            .select("term", "df", "total_tf"))


def q_bm25_engine_topk(spark, sf_dir):
    """The REAL SearchEngine (varint postings, block-max pruning) answering
    the fixture query — verified against the pure-SQL BM25 oracle.
    rounded=True ranks by round(score,6) with doc_id tie-break INSIDE the
    engine (rounding-safe θ cut keeps the pruning active), so this fetches
    exactly k rows like every production caller — no O(N) driver re-rank."""
    from .query import SearchEngine
    out = _built_engine_dir(spark, sf_dir)
    eng = SearchEngine(spark, out)
    rows = eng.search(" ".join(BM25_TERMS), k=TOPK, mode="ranked",
                      rounded=True)
    pdf = [(int(d), r, float(s)) for r, d, s in rows]
    return spark.createDataFrame(pdf, "doc_id long, rank long, score_r double")


PREFIX_QUERY = "s"  # expands to spark/scan/slow/small/sort/stream
_PREFIX_CAP = 64    # == SearchEngine.PREFIX_EXPANSION_CAP (oracle mirror)


def q_prefix_bm25_topk(spark, sf_dir):
    """Wildcard query `s*` through the REAL engine: prefix expansion via a
    pushdown StringStartsWith scan of the term dictionary, then ranked OR
    BM25 over the expanded set — verified against the same pure-SQL BM25
    oracle with a LIKE predicate. k-row fetch via rounded in-engine
    ranking, like q_bm25_engine_topk."""
    from .query import SearchEngine
    out = _built_engine_dir(spark, sf_dir)
    eng = SearchEngine(spark, out)
    rows = eng.search_prefix(PREFIX_QUERY, k=TOPK, rounded=True)
    pdf = [(int(d), r, float(s)) for r, d, s in rows]
    return spark.createDataFrame(pdf, "doc_id long, rank long, score_r double")


def q_suggest_prefix(spark, sf_dir):
    """Autocomplete (query.suggest_terms) over the REAL engine dictionary:
    the k highest-df terms starting with the fixture prefix, via one
    pushdown StringStartsWith scan + a distributed sort+limit (exactly k
    rows to the driver) — verified against the same token-df SQL the
    term_df entry uses, restricted by LIKE."""
    from .query import SearchEngine, suggest_terms
    out = _built_engine_dir(spark, sf_dir)
    eng = SearchEngine(spark, out)
    got = suggest_terms(eng.index_df, PREFIX_QUERY, k=TOPK)
    return spark.createDataFrame([(t, d) for t, d in got],
                                 "term string, df long")


#: bulk-evaluation fixture query batch (engine/bulk.py) — terms chosen
#: from the documents vocabulary; includes multi-term, overlapping-term
#: and single-term queries so the fan-out join and the per-qid top-k both
#: exercise sharing
BULK_QUERIES = [(0, "join spark"), (1, "table scan"),
                (2, "stream sort slow"), (3, "small")]


def q_bulk_bm25_topk(spark, sf_dir):
    """The whole BULK_QUERIES batch answered by ONE distributed job
    (engine/bulk.py bulk_topk) over the REAL built index — per query the
    result is bitwise-identical to looping SearchEngine.search
    (tests/test_bulk.py); here the batch is verified against a per-query
    BM25 SQL oracle that shares the corpus-stats CTEs."""
    from .bulk import bulk_topk
    out = _built_engine_dir(spark, sf_dir)
    return bulk_topk(spark, out, BULK_QUERIES, k=TOPK, rounded=True)


def _bulk_duck_sql(queries: list[tuple[int, str]], k: int) -> str:
    """DuckDB mirror of bulk_topk: one shared tok/dl/stats/tf/dfs set of
    CTEs, a (qid, term) driver relation, per-(qid, doc) BM25 sum, top-k
    per qid."""
    from .tokenizer import query_terms
    qt = [(qid, t) for qid, q in queries for t in query_terms(q)]
    all_terms = sorted({t for _, t in qt})
    tl = ",".join(f"'{t}'" for t in all_terms)
    qsel = " union all ".join(
        f"select cast({qid} as bigint) as qid, '{t}' as term"
        for qid, t in qt)
    return f"""
with tok as ({_TOKENS_SQL}),
dl as (select doc_id, count(*) as doc_len from tok group by doc_id),
stats as (select count(*) as n_docs, sum(doc_len)/count(*) as avgdl from dl),
tf as (select doc_id, term, count(*) as tf from tok
       where term in ({tl}) group by doc_id, term),
dfs as (select term, count(*) as df from tf group by term),
qt as ({qsel}),
scored as (
  select qt.qid, tf.doc_id,
         sum( ln((s.n_docs - dfs.df + 0.5)/(dfs.df + 0.5) + 1.0)
              * (tf.tf * ({K1} + 1.0))
              / (tf.tf + {K1} * ((1.0 - {B}) + {B} * (dl.doc_len / s.avgdl)))
            ) as score
  from qt join tf on qt.term = tf.term
        join dfs on tf.term = dfs.term
        join dl on tf.doc_id = dl.doc_id cross join stats s
  group by qt.qid, tf.doc_id
),
ranked as (
  select qid, doc_id, round(score, 6) as score_r,
         row_number() over (partition by qid
                            order by round(score, 6) desc, doc_id) as rank
  from scored
)
select qid, doc_id, cast(rank as bigint) as rank, score_r
from ranked where rank <= {k}
"""


#: training-pair mining dials for the contract entry (small enough that
#: every query keeps pos+hard distinct at sf0.01, large enough to exercise
#: all three pair kinds)
PAIRS_K_POS, PAIRS_N_HARD, PAIRS_N_RAND = 10, 10, 5


#: field-boost fixture: two body terms + one PATH-only term (the engine
#: dir's path is source||'/'||doc_id, so 'src7' hits 1/20 of docs via the
#: path field only — the filename-boost case)
FIELD_QUERY = "join spark src7"
FIELD_W = 2.0


def q_bm25f_topk(spark, sf_dir):
    """Field-boosted ranking (engine/fields.py): bm25_body + w*bm25_path
    through the REAL engine (path_index ensure-stage + FieldedEngine) vs
    a two-field DuckDB mirror. Path tokens of the engine dir are exactly
    (source, doc_id) — the oracle derives them without a tokenizer."""
    from .fields import FieldedEngine
    from .query import SearchEngine
    out = _built_engine_dir(spark, sf_dir)
    fe = FieldedEngine(SearchEngine(spark, out), w_path=FIELD_W)
    rows = fe.search(FIELD_QUERY, k=TOPK, rounded=True)
    pdf = [(int(d), r, float(s)) for r, d, s in rows]
    return spark.createDataFrame(pdf, "doc_id long, rank long, score_r double")


def q_bm25f_big_topk(spark, sf_dir):
    """Field-boosted ranking on the ZERO-DRIVER-ARRAY path
    (fields.search_big_fielded_federated over the one index — VERDICT r4
    #1) vs the same two-field
    DuckDB mirror as bm25f_topk; bitwise driver-vs-big equality is
    separately pytest-asserted (tests/test_fields.py)."""
    from .fields import search_big_fielded_federated
    out = _built_engine_dir(spark, sf_dir)
    rows = search_big_fielded_federated(spark, [out], FIELD_QUERY, k=TOPK,
                                        w_path=FIELD_W, rounded=True)
    pdf = [(int(d), r, float(s)) for r, d, s in rows]
    return spark.createDataFrame(pdf, "doc_id long, rank long, score_r double")


def _bm25f_duck_sql(terms: list[str], k: int, w: float) -> str:
    tl = ",".join(f"'{t}'" for t in sorted(set(terms)))
    return f"""
with tok as ({_TOKENS_SQL}),
dl as (select doc_id, count(*) as doc_len from tok group by doc_id),
stats as (select count(*) as n_docs, sum(doc_len)/count(*) as avgdl from dl),
tf as (select doc_id, term, count(*) as tf from tok
       where term in ({tl}) group by doc_id, term),
dfs as (select term, count(*) as df from tf group by term),
body as (
  select tf.doc_id,
         sum( ln((s.n_docs - dfs.df + 0.5)/(dfs.df + 0.5) + 1.0)
              * (tf.tf * ({K1} + 1.0))
              / (tf.tf + {K1} * ((1.0 - {B}) + {B} * (dl.doc_len / s.avgdl)))
            ) as score
  from tf join dfs using (term) join dl using (doc_id) cross join stats s
  group by tf.doc_id),
ptok as (select doc_id, source as term from documents
         union all
         select doc_id, cast(doc_id as varchar) as term from documents),
pl as (select doc_id, count(*) as plen from ptok group by doc_id),
pstats as (select sum(plen) / (select n_docs from stats) as avgpl from pl),
ptf as (select doc_id, term, count(*) as tf from ptok
        where term in ({tl}) group by doc_id, term),
pdfs as (select term, count(*) as df from ptf group by term),
pbody as (
  select ptf.doc_id,
         sum( ln((s.n_docs - pdfs.df + 0.5)/(pdfs.df + 0.5) + 1.0)
              * (ptf.tf * ({K1} + 1.0))
              / (ptf.tf + {K1} * ((1.0 - {B}) + {B} * (pl.plen / ps.avgpl)))
            ) as score
  from ptf join pdfs using (term) join pl using (doc_id)
       cross join stats s cross join pstats ps
  group by ptf.doc_id),
scored as (
  select coalesce(b.doc_id, p.doc_id) as doc_id,
         coalesce(b.score, 0) + {w} * coalesce(p.score, 0) as score
  from body b full outer join pbody p on b.doc_id = p.doc_id),
ranked as (
  select doc_id, round(score, 6) as score_r,
         row_number() over (order by round(score, 6) desc, doc_id) as rank
  from scored)
select doc_id, rank, score_r from ranked where rank <= {k}
"""


#: regex fixture: \b anchor + parser-hoisted alternation + conjunctive
#: literal — the analyzer must pin {spark} and {order|sort} from it; inside
#: the Python-re ∩ RE2 common subset so the DuckDB oracle agrees
REGEX_PATTERN = r"\bspark (order|sort) data"


def q_regex_search(spark, sf_dir):
    """Index-accelerated regex search (engine/regex_query.py — Cox-style
    required-literal pruning + vectorized verify over candidates only) on
    the REAL engine index, vs a DuckDB regexp_matches oracle over the same
    document model. The pruned == unpruned invariant itself is
    property-tested in tests/test_regex_query.py."""
    from .regex_query import regex_search_federated
    out = _built_engine_dir(spark, sf_dir)
    src = _t(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").alias("content"))
    return regex_search_federated(spark, [out], src, REGEX_PATTERN)


#: case-insensitive twin (r5): same Python-re ∩ RE2 subset, upper-cased
#: literals under (?i) — the Spark side prunes via the boundary-proven
#: prefix/suffix variant clauses (regex_query module docstring)
REGEX_ICASE_PATTERN = r"(?i)\bSPARK (ORDER|SORT) DATA"


def q_regex_icase_search(spark, sf_dir):
    """The regex search under re.IGNORECASE — index-pruned since round 5
    (VERDICT r4 #6); DuckDB RE2 honors the same inline (?i)."""
    from .regex_query import regex_search_federated
    out = _built_engine_dir(spark, sf_dir)
    src = _t(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").alias("content"))
    return regex_search_federated(spark, [out], src, REGEX_ICASE_PATTERN)


def q_training_pairs(spark, sf_dir):
    """(query, doc) training-pair mining (engine/bulk.py
    mine_training_pairs) over the REAL index for the BULK_QUERIES batch:
    positives = BM25 top-k, hard negatives = the next n ranks (DPR-style
    BM25 mining), random negatives = deterministic md5(doc_id) hash pool
    excluding that query's mined prefix — verified against a DuckDB
    oracle that mirrors the scoring CTEs, the rank-boundary labels and
    the hash-pool selection rule."""
    from .bulk import mine_training_pairs
    out = _built_engine_dir(spark, sf_dir)
    df = mine_training_pairs(spark, out, BULK_QUERIES, k_pos=PAIRS_K_POS,
                             n_hard=PAIRS_N_HARD, n_rand=PAIRS_N_RAND,
                             rounded=True)
    return df.select("qid", "doc_id",
                     F.col("label").cast("long").alias("label"),
                     "kind", "score_r")


def _pairs_duck_sql(queries: list[tuple[int, str]], k_pos: int,
                    n_hard: int, n_rand: int) -> str:
    """DuckDB mirror of mine_training_pairs: the bulk-scoring CTEs, the
    rank-boundary pos/hard labels, and the md5 hash-pool random negatives
    (8-hex-prefix threshold sized for PAIR_HASH_OVERSAMPLE x n_rand
    expected rows — lexicographic compare of lowercase fixed-width hex ==
    numeric compare, so the SQL casts via '0x')."""
    from .bulk import PAIR_HASH_OVERSAMPLE
    from .tokenizer import query_terms
    qt = [(qid, t) for qid, q in queries for t in query_terms(q)]
    all_terms = sorted({t for _, t in qt})
    tl = ",".join(f"'{t}'" for t in all_terms)
    qsel = " union all ".join(
        f"select cast({qid} as bigint) as qid, '{t}' as term"
        for qid, t in qt)
    c = PAIR_HASH_OVERSAMPLE * n_rand
    return f"""
with tok as ({_TOKENS_SQL}),
dl as (select doc_id, count(*) as doc_len from tok group by doc_id),
stats as (select count(*) as n_docs, sum(doc_len)/count(*) as avgdl from dl),
tf as (select doc_id, term, count(*) as tf from tok
       where term in ({tl}) group by doc_id, term),
dfs as (select term, count(*) as df from tf group by term),
qt as ({qsel}),
scored as (
  select qt.qid, tf.doc_id,
         sum( ln((s.n_docs - dfs.df + 0.5)/(dfs.df + 0.5) + 1.0)
              * (tf.tf * ({K1} + 1.0))
              / (tf.tf + {K1} * ((1.0 - {B}) + {B} * (dl.doc_len / s.avgdl)))
            ) as score
  from qt join tf on qt.term = tf.term
        join dfs on tf.term = dfs.term
        join dl on tf.doc_id = dl.doc_id cross join stats s
  group by qt.qid, tf.doc_id
),
ranked as (
  select qid, doc_id, round(score, 6) as score_r,
         row_number() over (partition by qid
                            order by round(score, 6) desc, doc_id) as rank
  from scored
),
mined as (
  select qid, doc_id,
         cast(case when rank <= {k_pos} then 1 else 0 end as bigint)
           as label,
         case when rank <= {k_pos} then 'pos' else 'hard' end as kind,
         score_r
  from ranked where rank <= {k_pos + n_hard}
),
pool as (
  select d.doc_id, md5(cast(d.doc_id as varchar)) as h
  from documents d cross join stats s
  where cast(('0x' || substr(md5(cast(d.doc_id as varchar)), 1, 8))
             as bigint)
        < least(4294967295, cast(floor(least(1.0, {c}.0 / s.n_docs)
                                       * 4294967296.0) as bigint))
),
cand as (
  select q.qid, p.doc_id, p.h
  from (select distinct qid from qt) q cross join pool p
  where not exists (select 1 from mined m
                    where m.qid = q.qid and m.doc_id = p.doc_id)
),
rand as (
  select qid, doc_id, cast(0 as bigint) as label, 'rand' as kind,
         cast(null as double) as score_r
  from (select qid, doc_id,
               row_number() over (partition by qid
                                  order by h, doc_id) as rn
        from cand)
  where rn <= {n_rand}
)
select * from mined union all select * from rand
"""


def q_more_like_this(spark, sf_dir):
    """More-like-this (engine/mlt.py) for the corpus's MIN doc_id: stored
    term vector (top-64 by tf DESC, term ASC from the doc_terms stage) ->
    top-10 interesting terms by tf * bm25_idf -> ranked-OR BM25 fetching
    k+1 and dropping the source doc. Verified against a DuckDB oracle that
    mirrors every step (window-function vector + interestingness CTEs over
    the same token stream). The big path is pytest-asserted bitwise equal
    (tests/test_mlt.py)."""
    from .mlt import ensure_doc_terms, more_like_this
    from .query import SearchEngine
    out = _built_engine_dir(spark, sf_dir)
    ensure_doc_terms(spark, out)
    eng = SearchEngine(spark, out)
    q_doc = int(eng._ext_ids.min())  # ordinals ascend by doc_id
    rows = more_like_this(eng, q_doc, k=TOPK, rounded=True)
    pdf = [(int(d), r, float(s)) for r, d, s in rows]
    return spark.createDataFrame(pdf, "doc_id long, rank long, score_r double")


def _mlt_duck_sql(k: int) -> str:
    """DuckDB mirror of the full MLT pipeline. df for BOTH the
    interestingness weights and the final scoring is corpus-wide
    (stats-as-built; the source doc is excluded from the RESULT SET only)."""
    from .mlt import DOC_TERMS_M, MLT_QUERY_TERMS
    return f"""
with tok as ({_TOKENS_SQL}),
dl as (select doc_id, count(*) as doc_len from tok group by doc_id),
stats as (select count(*) as n_docs, sum(doc_len)/count(*) as avgdl from dl),
alltf as (select doc_id, term, count(*) as tf from tok
          group by doc_id, term),
alldf as (select term, count(*) as df from alltf group by term),
q as (select min(doc_id) as qid from documents),
vec as (select term, tf from alltf, q where doc_id = q.qid
        qualify row_number() over (order by tf desc, term)
                <= {DOC_TERMS_M}),
interesting as (
  select vec.term from vec join alldf using (term) cross join stats s
  qualify row_number() over (
      order by vec.tf * ln((s.n_docs - alldf.df + 0.5)
                           / (alldf.df + 0.5) + 1.0) desc, vec.term)
          <= {MLT_QUERY_TERMS}),
tf as (select alltf.* from alltf, q
       where term in (select term from interesting) and doc_id <> q.qid),
scored as (
  select tf.doc_id,
         sum( ln((s.n_docs - alldf.df + 0.5)/(alldf.df + 0.5) + 1.0)
              * (tf.tf * ({K1} + 1.0))
              / (tf.tf + {K1} * ((1.0 - {B}) + {B} * (dl.doc_len / s.avgdl)))
            ) as score
  from tf join alldf on tf.term = alldf.term
        join dl on tf.doc_id = dl.doc_id cross join stats s
  group by tf.doc_id
),
ranked as (
  select doc_id, round(score, 6) as score_r,
         row_number() over (order by round(score, 6) desc, doc_id) as rank
  from scored
)
select doc_id, rank, score_r from ranked where rank <= {k}
"""


FUZZY_QUERY = "spak"  # ED<=1 of dictionary term 'spark' (typo fixture)


def q_fuzzy_bm25_topk(spark, sf_dir):
    """Fuzzy query `spak~` through the REAL engine: SymSpell
    deletion-neighborhood expansion (engine/fuzzy.py — the artifact is
    materialized first, so this exercises the pushdown key-lookup path,
    not the scan fallback), then ranked OR BM25 over the ED<=1 terms —
    verified against the same pure-SQL BM25 oracle with a DuckDB
    levenshtein predicate. The scan fallback and the big path are
    pytest-asserted identical (tests/test_fuzzy.py)."""
    from .fuzzy import ensure_fuzzy
    from .query import SearchEngine
    out = _built_engine_dir(spark, sf_dir)
    ensure_fuzzy(spark, out)
    eng = SearchEngine(spark, out)
    rows = eng.search_fuzzy(FUZZY_QUERY, k=TOPK, rounded=True)
    pdf = [(int(d), r, float(s)) for r, d, s in rows]
    return spark.createDataFrame(pdf, "doc_id long, rank long, score_r double")


#: did-you-mean fixture: two correctable typos, one hopeless typo, one
#: dictionary term (must NOT be second-guessed)
DYM_TYPOS = ["spak", "tble", "joi", "join", "zzzzqqq"]


def q_did_you_mean(spark, sf_dir):
    """Spell correction (engine/fuzzy.py correct_terms) over the REAL
    engine dictionary: every dictionary-MISSING fixture term maps to its
    best ED<=1 replacement (df DESC, term ASC); present terms and
    no-candidate typos are absent from the output — verified against a
    DuckDB levenshtein + window oracle over the same token stream."""
    from .fuzzy import correct_terms
    out = _built_engine_dir(spark, sf_dir)
    corr = correct_terms(spark, out, DYM_TYPOS)
    return spark.createDataFrame(sorted(corr.items()),
                                 "qterm string, suggestion string")


def _dym_duck_sql(typos: list[str]) -> str:
    tl = ",".join(f"'{t}'" for t in typos)
    return f"""
with tok as ({_TOKENS_SQL}),
dic as (select term, count(distinct doc_id) as df from tok group by term),
q as (select unnest([{tl}]) as qterm),
missing as (select qterm from q
            where qterm not in (select term from dic)),
cand as (select m.qterm, d.term, d.df
         from missing m join dic d on levenshtein(d.term, m.qterm) <= 1)
select qterm, term as suggestion from cand
qualify row_number() over (partition by qterm order by df desc, term) = 1
"""


def q_facet_counts(spark, sf_dir):
    """Facet aggregation (query.facets_federated) over the REAL engine
    index: per-lang match counts of the fixture ranked query across the
    FULL matching set — the kernel's histogram of the segment's
    candidates in one Spark task, then groupBy + a per-field rank.
    Verified against the equivalent DuckDB histogram; the driver regime
    runs the same kernel in-process (tests/test_facets.py)."""
    from .query import facets_federated
    out = _built_engine_dir(spark, sf_dir)
    got = facets_federated(spark, [out], BM25_TERMS, ["lang"],
                           k_values=TOPK)
    return spark.createDataFrame(got["lang"], "value string, cnt long")


def q_bm25_big_topk(spark, sf_dir):
    """The ZERO-DRIVER-ARRAY cluster serving path (engine/query.py
    search_big: stats scalars from the manifest, doc_len via join, per-doc
    sum with oracle accumulation order, k-row broadcast id map) answering
    the fixture query — verified against the same pure-SQL BM25 oracle as
    the driver-array engine."""
    from .query import search_big
    out = _built_engine_dir(spark, sf_dir)
    rows = search_big(spark, out, " ".join(BM25_TERMS), k=TOPK,
                      mode="ranked", rounded=True)
    pdf = [(int(d), r, float(s)) for r, d, s in rows]
    return spark.createDataFrame(pdf, "doc_id long, rank long, score_r double")


FILTER_LANG = "en"      # metadata filter of the filtered-search fixture
FILTER_NOT = ["scan"]   # NOT term of the filtered-search fixture


def q_bm25_filtered_topk(spark, sf_dir):
    """The REAL engine answering a metadata-filtered + NOT-term query
    (the `lang:en join spark -scan` tokenizer.parse_query surface) —
    filters/NOTs restrict the RESULT SET while BM25 statistics stay as
    built (Lucene filter-query semantics), so the oracle scores with
    full-corpus stats and applies the restriction AFTER scoring. The
    driver↔big-path bitwise equality of the same restriction is
    pytest-asserted (tests/test_filtered_search.py)."""
    from .query import SearchEngine
    out = _built_engine_dir(spark, sf_dir)
    eng = SearchEngine(spark, out)
    rows = eng.search(" ".join(BM25_TERMS), k=TOPK, rounded=True,
                      filters={"lang": FILTER_LANG}, not_terms=FILTER_NOT)
    pdf = [(int(d), r, float(s)) for r, d, s in rows]
    return spark.createDataFrame(pdf, "doc_id long, rank long, score_r double")


def _bm25_filtered_duck_sql(terms: list[str], k: int, lang: str,
                            not_term: str) -> str:
    """BM25 with stats-as-built restriction: full-corpus scoring CTEs (the
    same ones as _bm25_duck_sql_pred), then the lang filter + NOT-term
    anti-join applied to the scored set before ranking."""
    tl = ",".join(f"'{t}'" for t in terms)
    return f"""
with tok as ({_TOKENS_SQL}),
dl as (select doc_id, count(*) as doc_len from tok group by doc_id),
stats as (select count(*) as n_docs, sum(doc_len)/count(*) as avgdl from dl),
tf as (select doc_id, term, count(*) as tf from tok
       where term in ({tl}) group by doc_id, term),
dfs as (select term, count(*) as df from tf group by term),
scored as (
  select tf.doc_id,
         sum( ln((s.n_docs - dfs.df + 0.5)/(dfs.df + 0.5) + 1.0)
              * (tf.tf * ({K1} + 1.0))
              / (tf.tf + {K1} * ((1.0 - {B}) + {B} * (dl.doc_len / s.avgdl)))
            ) as score
  from tf join dfs on tf.term = dfs.term
        join dl on tf.doc_id = dl.doc_id cross join stats s
  group by tf.doc_id
),
restricted as (
  select sc.doc_id, sc.score
  from scored sc join documents d on sc.doc_id = d.doc_id
  where d.lang = '{lang}'
    and sc.doc_id not in
        (select distinct doc_id from tok where term = '{not_term}')
),
ranked as (
  select doc_id, round(score, 6) as score_r,
         row_number() over (order by round(score, 6) desc, doc_id) as rank
  from restricted
)
select doc_id, rank, score_r from ranked where rank <= {k}
"""


def q_doc_display(spark, sf_dir):
    """Serving display fields straight out of the REAL build's docs
    snapshot (title = last path component, snippet = bounded leading
    content — what the HTTP shim returns as title/body per
    Searcher.java:186-207), verified against SQL over the source table."""
    out = _built_engine_dir(spark, sf_dir)
    return (spark.read.parquet(os.path.join(out, "docs"))
            .select("doc_id", "title", "snippet"))


_DEDUP_OFFSET = 1_000_000
_DEDUP_ENGINE_CACHE: dict[str, str] = {}


def _built_dedup_engine_dir(spark, sf_dir) -> str:
    """Build (once per sf_dir) an index over documents PLUS injected
    duplicate-content rows (same text, doc_id shifted up, '.dup' path) —
    exercises the build's contentSeen-analog dedup end-to-end."""
    if sf_dir in _DEDUP_ENGINE_CACHE:
        return _DEDUP_ENGINE_CACHE[sf_dir]
    from .index_build import build_index
    base = _t(spark, sf_dir, "documents").select(
        F.lit("testdata").alias("repo"),
        F.concat(F.col("source"), F.lit("/"), F.col("doc_id")).alias("path"),
        F.lit("0000000000").alias("commit"),
        F.col("lang"),
        F.col("text").alias("content"),
        F.col("doc_id"))
    dup = (base.withColumn("doc_id", F.col("doc_id") + _DEDUP_OFFSET)
           .withColumn("path", F.concat(F.col("path"), F.lit(".dup"))))
    out = os.path.join(tempfile.mkdtemp(prefix="engine_dedup_"), "idx")
    build_index(spark, base.unionByName(dup), out)
    _DEDUP_ENGINE_CACHE[sf_dir] = out
    return out


def q_dedup_aliases(spark, sf_dir):
    """The alias map the REAL build writes when duplicate content is
    injected: every injected doc must alias the min-doc_id holder of its
    text (the original)."""
    out = _built_dedup_engine_dir(spark, sf_dir)
    return (spark.read.parquet(os.path.join(out, "aliases"))
            .select("doc_id", "canonical_doc_id"))


def q_union_all_keys(spark, sf_dir):
    """union (the reference only gets this implicitly by two jobs writing
    one table — SURVEY.md §2.1 note): customer+supplier nation keys with
    provenance, aggregated."""
    a = _t(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey"), F.lit("cust").alias("src"))
    b = _t(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey"), F.lit("supp").alias("src"))
    return a.unionByName(b).groupBy("nationkey", "src").agg(
        F.count("*").alias("n"))


def q_except_orderkeys(spark, sf_dir):
    """except/anti: orders with no lineitem rows. (r2's
    customers-without-orders variant was a 0-row compare at every sf —
    correct but weak evidence; this one returns real rows.)"""
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("orderkey"))
    with_items = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("orderkey"))
    return orders.exceptAll(with_items.distinct())


def q_sample_hash(spark, sf_dir):
    """Deterministic ~10% Bernoulli sample via md5 of the key — the
    reproducible analog of the reference's (stubbed) sample(f) operator
    (flame/FlameRDDImpl.java:140-143). Hash-based sampling is also how a
    100 TB pipeline samples reproducibly across engines/retries (Spark's
    df.sample is seed-stable only within one Spark version/partitioning)."""
    docs = _t(spark, sf_dir, "documents")
    frac = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4),
                  16, 10).cast("long")
    return (docs.where(frac % 10 == 0)
            .select("doc_id", "lang", F.col("n_chars").cast("long")
                    .alias("n_chars")))


# --------------------------------------------- multimodal binary-column ops

def q_media_metadata(spark, sf_dir):
    """Typed metadata over opaque binary payloads (JVM-side, no Python)."""
    from .multimodal import with_media_columns
    return with_media_columns(_t(spark, sf_dir, "documents")) \
        .drop("payload")


def q_image_decode_features(spark, sf_dir):
    """Arrow-batched mapInPandas feature extraction over binary image
    payloads (deterministic fake decoder; real codec stubbed — see
    engine/multimodal.py)."""
    from .multimodal import image_features, with_media_columns
    return image_features(with_media_columns(_t(spark, sf_dir, "documents")))


def q_frame_sample(spark, sf_dir):
    """1->N frame sampling fan-out over video payloads via mapInPandas."""
    from .multimodal import frame_samples, with_media_columns
    return frame_samples(with_media_columns(_t(spark, sf_dir, "documents")))


def q_audio_chunk_stats(spark, sf_dir):
    from .multimodal import audio_chunks, with_media_columns
    return audio_chunks(with_media_columns(_t(spark, sf_dir, "documents")))


# ------------------------------------------------- similarity scale paths

def q_lsh_bucket_counts(spark, sf_dir):
    from .similarity import lsh_bucket_counts
    return lsh_bucket_counts(spark, sf_dir)


def q_ann_lsh_topk(spark, sf_dir):
    from .similarity import ann_lsh_topk
    return ann_lsh_topk(spark, sf_dir, ANN_QUERY_IDS, ANN_K)


def q_neardup_embedding_pairs(spark, sf_dir):
    from .similarity import neardup_pairs_lsh
    return neardup_pairs_lsh(spark, sf_dir)


def q_ann_lsh_multiprobe_topk(spark, sf_dir):
    from .similarity import ann_lsh_multiprobe_topk
    return ann_lsh_multiprobe_topk(spark, sf_dir, ANN_QUERY_IDS, ANN_K)


def q_ann_lsh_multitable_topk(spark, sf_dir):
    from .similarity import ann_lsh_multitable_topk
    return ann_lsh_multitable_topk(spark, sf_dir, ANN_QUERY_IDS, ANN_K)


def q_ivf_cells(spark, sf_dir):
    from .similarity import ivf_cells
    return ivf_cells(spark, sf_dir)


def q_ann_ivf_topk(spark, sf_dir):
    from .similarity import ann_ivf_topk
    return ann_ivf_topk(spark, sf_dir, ANN_QUERY_IDS, ANN_K)


def q_ann_ivf_nprobe4_topk(spark, sf_dir):
    """ann_ivf at a SECOND operating point of the nprobe recall dial
    (VERDICT r4 #7) — same trained index (the ivf_index cache hits),
    twice the probed cells, mirrored by the same SQL generator."""
    from .similarity import ann_ivf_topk
    return ann_ivf_topk(spark, sf_dir, ANN_QUERY_IDS, ANN_K, nprobe=4)


def q_ann_ivf_spill_topk(spark, sf_dir):
    """ann_ivf with CELL SPILLING (assign=2): each vector indexed in its
    top-2 cells, the standard memory-for-recall IVF dial — on this
    near-isotropic fixture (mean pairwise cosine ~0) cell membership
    carries little signal, so recall tracks candidate coverage
    1-(1-nprobe/K)^assign and spilling is the lever that moves it at a
    fixed nprobe. Same trained centroids (training is assign-invariant),
    2x the assignment rows, candidates deduped before ranking; mirrored
    by the same SQL generator at assign=2."""
    from .similarity import ann_ivf_topk
    return ann_ivf_topk(spark, sf_dir, ANN_QUERY_IDS, ANN_K, nprobe=2,
                        assign=2)


# ------------------------------------------------- text-analysis extras

LANG_PROFILES = [
    ("en", ["the ", " and ", "ing "]),
    ("de", [" der ", " und ", "sch"]),
    ("fr", [" le ", " que ", " des "]),
]
_BPE_RE = (r"'[sdmt]|'ll|'ve|'re| ?[A-Za-z]+| ?[0-9]+"
           r"| ?[^A-Za-z0-9\s]+|\s+")
WINNOW_K, WINNOW_W = 8, 4


def _marker_count(col, marker: str):
    """Occurrences of a literal marker: (len - len(remove)) / len(marker) —
    identical semantics in Spark and DuckDB (replace/length)."""
    return ((F.length(col) - F.length(F.replace(col, F.lit(marker))))
            / len(marker)).cast("long")


def q_langid_ngram(spark, sf_dir):
    """n-gram-marker language-ID heuristic: score each doc against each
    profile's markers, argmax (ties -> profile name asc).

    ONE scan, ZERO shuffles: all profile scores are columns of the same
    projection and the argmax is array_min over (-score, lang) structs
    (struct ordering: largest score, then lexicographically-first profile)
    — pure whole-stage codegen, vs the previous 3x unionAll scan + window."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    entries = [
        F.struct(
            (-sum(_marker_count(F.col("text"), m) for m in markers))
            .alias("ns"),
            F.lit(lang).alias("pred_lang"))
        for lang, markers in LANG_PROFILES]
    best = F.array_min(F.array(*entries))
    return docs.select(
        "doc_id", best["pred_lang"].alias("pred_lang"),
        (-best["ns"]).alias("score"))


def q_bpe_token_count(spark, sf_dir):
    """BPE-ish token counting: GPT-2-style pre-tokenizer regex, counted
    JVM-side (regexp_count); whitespace runs excluded."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.regexp_count("text", F.lit(_BPE_RE)).cast("long")
        .alias("n_pieces"),
        F.regexp_count("text", F.lit(r"\s+")).cast("long")
        .alias("n_ws"))


def q_winnow_fingerprints(spark, sf_dir):
    """Winnowing document fingerprints (rolling-hash): md5 over char
    k-grams, min per sliding window of w, count distinct selected hashes.
    Exploded k-grams + window min — all JVM expressions."""
    from pyspark.sql import Window
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    grams = docs.select(
        "doc_id",
        F.posexplode(F.expr(
            f"transform(sequence(1, greatest(length(text) - {WINNOW_K - 1},"
            f" 1)), i -> md5(substring(text, i, {WINNOW_K})))"))
        .alias("pos", "h"))
    w = (Window.partitionBy("doc_id").orderBy("pos")
         .rowsBetween(0, WINNOW_W - 1))
    return (grams.withColumn("wm", F.min("h").over(w))
            .groupBy("doc_id")
            .agg(F.countDistinct("wm").alias("n_fp")))


# ---------------------------------------------------------------- phrase

PHRASE_TERMS = ["part", "filter"]  # a bigram present at every sf
NEAR_TERMS = ["scan", "window"]    # proximity fixture present at every sf
NEAR_SLOP = 4


def q_phrase_docs(spark, sf_dir):
    """Exact-phrase (adjacent-bigram) match over whitespace tokens — the
    contract twin of the positional engine (engine/positions.py, which is
    pytest-verified under the full code tokenizer). ONE scan, zero
    shuffles, ONE fold pass per doc: an `aggregate` carrying (prev token,
    count). The earlier filtered-index-sequence form indexed `ts[i-1]`
    per element, and with the ts expression inlined by projection collapse
    that re-evaluated the split per index — O(tokens^2)/doc, measured
    2.7 s vs 0.18 s at sf0.1."""
    w1, w2 = PHRASE_TERMS
    docs = (_t(spark, sf_dir, "documents")
            .withColumn("ts", F.filter(F.split("text", r"\s+"),
                                       lambda x: x != F.lit(""))))
    n_occ = F.expr(f"""
      aggregate(ts,
        struct(cast('' as string) as prev, cast(0 as bigint) as cnt),
        (s, x) -> struct(x, s.cnt + if(s.prev = '{w1}' and x = '{w2}',
                                       1, 0)),
        s -> s.cnt)""").cast("long")
    return (docs.select("doc_id", n_occ.alias("n_occ"))
            .where(F.col("n_occ") > 0))


def q_phrase_slop_docs(spark, sf_dir):
    """Proximity (NEAR/slop) match over whitespace tokens — the contract
    twin of PhraseEngine.search_near (engine/positions.py, pytest-verified
    under the full code tokenizer). A doc position i counts iff ts[i]=w1
    and some ts[j]=w2 with i < j <= i+slop (ordered window, slop=1 would be
    exact adjacency). ONE scan, zero shuffles — nested higher-order
    functions, all whole-stage codegen."""
    w1, w2 = NEAR_TERMS
    docs = (_t(spark, sf_dir, "documents")
            .withColumn("ts", F.filter(F.split("text", r"\s+"),
                                       lambda x: x != F.lit(""))))
    # position arrays built by ONE `aggregate` fold each (single ts
    # reference, O(tokens)/doc) — a filter-over-sequence with ts[i-1]
    # indexing re-evaluates the collapse-inlined split PER INDEX
    # (O(tokens^2)/doc: 9 s vs 0.4 s at sf0.1); the match is then a tiny
    # |p1| x |p2| exists over the two arrays
    def positions_of(w):
        return F.expr(f"""
          aggregate(ts,
            struct(cast(1 as int) as i, cast(array() as array<int>) as acc),
            (s, x) -> struct(s.i + 1,
                             if(x = '{w}', array_append(s.acc, s.i),
                                s.acc)),
            s -> s.acc)""")
    docs = (docs.withColumn("p1", positions_of(w1))
            .withColumn("p2", positions_of(w2)))
    n_occ = F.expr(f"""
      size(filter(p1, i -> exists(p2,
           j -> j > i and j <= i + {NEAR_SLOP})))""").cast("long")
    return (docs.select("doc_id", n_occ.alias("n_occ"))
            .where(F.col("n_occ") > 0))

PR_DAMP = 0.85
PR_ITERS = 3


def q_pagerank_dominant(spark, sf_dir):
    """Iterative PageRank over a data-derived citation graph — the operator
    family behind the reference's (dead) rank multiplier
    (Searcher.java:48,155: `tf_idf = pageRankMap.get(...) * tf_idf`, and the
    `urls.acc` column it loads). Edges: every doc cites the min-doc_id
    exemplar of its dominant term (each node has out-degree 1; self-cites
    dropped, dangling mass lost — both engines identical). Three Lloyd-style
    power iterations as DataFrame join+groupBy rounds (the Pregel-lite
    shape: messages shuffle on src then dst, which at scale is the standard
    partition-by-vertex exchange); intermediate ranks rounded to 9 dp so
    cross-engine float summation order cannot reach the final 6 dp."""
    from pyspark.sql import Window
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    n = docs.count()
    tf = _tokens(spark, sf_dir).groupBy("doc_id", "term").agg(
        F.count("*").alias("tf"))
    w = Window.partitionBy("doc_id").orderBy(F.col("tf").desc(), F.col("term"))
    dom = (tf.withColumn("rn", F.row_number().over(w))
           .where(F.col("rn") == 1).select("doc_id", "term"))
    ex = dom.groupBy("term").agg(F.min("doc_id").alias("dst"))
    edges = (dom.join(ex, "term")
             .where(F.col("doc_id") != F.col("dst"))
             .select(F.col("doc_id").alias("src"), "dst"))
    # materialize the edge list once (same one-liner as
    # connected_components, VERDICT r3 #6): without it every power
    # iteration re-evaluates the window/dominant-term derivation, putting
    # PR_ITERS copies of that subtree in the plan. The final ranks are
    # checkpointed too so the edge blocks can be freed before returning —
    # only the k-row result frame stays resident.
    edges = edges.localCheckpoint(eager=True)
    pr = docs.select("doc_id", F.lit(1.0 / n).alias("pr"))
    base = (1.0 - PR_DAMP) / n
    for _ in range(PR_ITERS):
        msgs = (edges.join(pr.withColumnRenamed("doc_id", "src"), "src")
                .groupBy("dst").agg(F.sum("pr").alias("m")))
        pr = (docs.join(msgs.withColumnRenamed("dst", "doc_id"),
                        "doc_id", "left")
              .select("doc_id",
                      F.round(F.lit(base) + PR_DAMP
                              * F.coalesce("m", F.lit(0.0)), 9).alias("pr")))
    out = (pr.select("doc_id", F.round("pr", 6).alias("pr"))
           .localCheckpoint(eager=True))
    _free_local_checkpoint(edges)
    return out


def _ngram_pairs_sql() -> str:
    """DuckDB twin of q_ngram_jaccard_pairs (standalone SELECT — also
    nested as a subquery by the neardup_clusters oracle)."""
    return f"""
            with toks as (
              select doc_id,
                     list_filter(string_split_regex(text, '\\s+'),
                                 x -> x <> '') as ts
              from documents where doc_id < 200),
            sh0 as (
              select distinct doc_id, shingle from toks,
                unnest([array_to_string(ts[i:i+2], ' ')
                        for i in range(1, greatest(len(ts)-2, 0) + 1)])
                  as u(shingle)),
            sh as (
              select doc_id, shingle from sh0
              where shingle in (select shingle from sh0 group by shingle
                                having count(*) <= {SHINGLE_MAX_DF})),
            sizes as (select doc_id, count(*) as sz from sh group by doc_id),
            inter as (
              select a.doc_id as ida, b.doc_id as idb, count(*) as inter
              from sh a join sh b
                on a.shingle = b.shingle and a.doc_id < b.doc_id
              group by 1, 2)
            select ida, idb,
                   round(inter / (sa.sz + sb.sz - inter), 6) as jaccard
            from inter join sizes sa on ida = sa.doc_id
                       join sizes sb on idb = sb.doc_id
            where round(inter / (sa.sz + sb.sz - inter), 6) >= 0.2"""


TRAIN_MIN_TOKENS = 30      # selection thresholds for the corpus-export op
TRAIN_MAX_STOP_RATIO = 0.20
TRAIN_LANGS = ["en", "fr", "de"]
TRAIN_SHARDS = 16


def q_training_corpus_select(spark, sf_dir):
    """End-to-end training-corpus selection — the capstone pipeline op a
    100 TB data-curation job runs before export: keep exactly one doc per
    exact-duplicate group (min doc_id keeper), drop short docs
    (< TRAIN_MIN_TOKENS whitespace tokens), drop stopword-heavy docs
    (> TRAIN_MAX_STOP_RATIO), keep allow-listed languages, and assign a
    deterministic md5 shard (reproducible across engines/retries — how
    output files stay stable under re-runs). One groupBy for quality
    stats + one exact-dedup anti-condition + JVM hash sharding; every
    rule mirrored in the DuckDB oracle."""
    stop = F.col("term").isin(STOPWORDS).cast("int")
    stats = (_tokens(spark, sf_dir)
             .groupBy("doc_id")
             .agg(F.count("*").alias("n_tokens"),
                  F.sum(stop).alias("n_stop")))
    keeper = (_t(spark, sf_dir, "documents")
              .groupBy(F.md5("text").alias("h"))
              .agg(F.min("doc_id").alias("doc_id")))
    docs = (_t(spark, sf_dir, "documents")
            .join(keeper.select("doc_id"), "doc_id")   # dedup keepers only
            .join(stats, "doc_id")
            .where((F.col("n_tokens") >= TRAIN_MIN_TOKENS)
                   & (F.col("n_stop") / F.col("n_tokens")
                      <= TRAIN_MAX_STOP_RATIO)
                   & F.col("lang").isin(TRAIN_LANGS)))
    shard = (F.conv(F.substring(F.md5(F.col("doc_id").cast("string")),
                                1, 4), 16, 10).cast("long")
             % TRAIN_SHARDS)
    return docs.select("doc_id", "lang", "n_tokens",
                       shard.alias("shard"))


def _training_corpus_oracle() -> str:
    stop_tl = ",".join(f"'{t}'" for t in STOPWORDS)
    langs = ",".join(f"'{x}'" for x in TRAIN_LANGS)
    return f"""
        with stats as (
          select doc_id, count(*) as n_tokens,
                 sum(case when term in ({stop_tl}) then 1 else 0 end)
                   as n_stop
          from ({_TOKENS_SQL}) group by doc_id),
        keeper as (select min(doc_id) as doc_id from documents
                   group by md5(text))
        select d.doc_id, d.lang, s.n_tokens,
               cast(('0x' || substr(md5(cast(d.doc_id as varchar)), 1, 4))
                    as bigint) % {TRAIN_SHARDS} as shard
        from documents d
        join keeper k on d.doc_id = k.doc_id
        join stats s on d.doc_id = s.doc_id
        where s.n_tokens >= {TRAIN_MIN_TOKENS}
          and s.n_stop / s.n_tokens <= {TRAIN_MAX_STOP_RATIO}
          and d.lang in ({langs})"""


CC_MAX_ROUNDS = 64  # safety bound; convergence is DETECTED, not assumed


def _free_local_checkpoint(df) -> None:
    """Best-effort release of a localCheckpoint'd frame's storage blocks
    (the frame must not be used afterwards — its lineage is truncated).
    PySpark exposes no public unpersist for local checkpoints; reach the
    LogicalRDD's backing RDD. A failure just leaves the blocks cached."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass


def connected_components(pairs, max_rounds: int = CC_MAX_ROUNDS):
    """Connected components over an undirected pair graph as
    CONVERGENCE-DETECTED min-label propagation (VERDICT r3 #2: a fixed
    round count silently splits components deeper than the bound — real
    web-scale dup graphs have long A≈B≈C… chains).

    pairs: DataFrame with two int64 id columns (either orientation).
    Returns (doc_id, cluster_id = min id of the component).

    Each round is one join+groupBy (the Pregel-lite shape, messages
    shuffle on src then dst — the standard partition-by-vertex exchange).
    Self-loops carry each node's own label through the round, so every
    iteration references `labels` exactly ONCE and the per-round plan is
    O(1): each round's labels are localCheckpoint'd, so lineage never
    grows and the pair-mining subtree behind `pairs` evaluates exactly
    once per call. Convergence is exact and costs no extra pass: labels
    are monotone non-increasing (new = min over neighbors incl. self),
    so the per-round SUM of labels — computed over the just-materialized
    checkpoint, a metadata-cheap agg — is strictly decreasing until the
    fixpoint; an unchanged sum IS the fixpoint. Intermediate checkpoints
    and the edge list are freed as rounds retire (ADVICE r3: the old code
    accumulated checkpoint blocks per invocation); only the returned
    frame's blocks stay resident — callers may _free_local_checkpoint it
    after consuming."""
    ida, idb = pairs.columns[:2]
    edges = (pairs.select(F.col(ida).alias("src"), F.col(idb).alias("dst"))
             .unionByName(pairs.select(F.col(idb).alias("src"),
                                       F.col(ida).alias("dst"))))
    nodes = edges.select(F.col("src").alias("doc_id")).distinct()
    edges_sl = edges.unionByName(
        nodes.select(F.col("doc_id").alias("src"),
                     F.col("doc_id").alias("dst")))
    edges_sl = edges_sl.localCheckpoint(eager=True)
    labels = (edges_sl.select(F.col("src").alias("doc_id")).distinct()
              .withColumn("cluster_id", F.col("doc_id"))
              .localCheckpoint(eager=True))
    # decimal(38,0) sum: exact over int64 labels, no overflow at any scale
    lbl_sum = F.sum(F.col("cluster_id").cast("decimal(38,0)")).alias("s")
    cur = labels.agg(lbl_sum).collect()[0]["s"]
    try:
        for _ in range(max_rounds):
            new = (edges_sl
                   .join(labels.withColumnRenamed("doc_id", "src"), "src")
                   .groupBy(F.col("dst").alias("doc_id"))
                   .agg(F.min("cluster_id").alias("cluster_id"))
                   .localCheckpoint(eager=True))
            s = new.agg(lbl_sum).collect()[0]["s"]
            _free_local_checkpoint(labels)
            labels = new
            if s == cur:   # fixpoint: no label moved this round
                break
            cur = s
        else:
            _free_local_checkpoint(labels)
            raise RuntimeError(
                f"connected_components did not converge in {max_rounds} "
                "rounds — raise max_rounds (component diameter exceeds it)")
    finally:
        _free_local_checkpoint(edges_sl)
    return labels


def q_neardup_clusters(spark, sf_dir):
    """Near-duplicate CLUSTERS via connected components over the n-gram
    Jaccard pair graph — the operator a training pipeline actually wants
    (keep ONE doc per duplicate cluster, not a pair list). Every clustered
    doc converges to cluster_id = min doc_id of its component; iteration
    runs UNTIL the labels stop moving (connected_components), so deep
    duplicate chains cluster correctly regardless of diameter. Oracle: the
    transitive closure as a recursive CTE (converged by construction)."""
    return connected_components(
        q_ngram_jaccard_pairs(spark, sf_dir).select("ida", "idb"))


def _neardup_clusters_oracle() -> str:
    # converged formulation: min over the REACHABLE set via a recursive
    # CTE (UNION dedups, so the closure terminates); equals the label-
    # propagation fixpoint exactly
    return f"""
            with recursive
            pairs as (select ida, idb from ({_ngram_pairs_sql()})),
            edges as (
              select ida as src, idb as dst from pairs
              union all
              select idb as src, ida as dst from pairs),
            reach as (
              select distinct src as doc_id, src as r from edges
              union
              select rr.doc_id, e.dst as r
              from reach rr join edges e on rr.r = e.src)
            select doc_id, min(r) as cluster_id from reach group by doc_id"""


# ---------------------------------------------------------------- simhash

def q_simhash64(spark, sf_dir):
    """64-bit SimHash fingerprints via Arrow-batched mapInPandas.

    Vectorized per batch: whitespace-tokenize with pandas' C string ops,
    factorize tokens to integer codes, md5 ONLY the unique terms (the one
    spot hashlib must run, amortized over every occurrence), then NumPy bit
    math: each occurrence adds ±1 per bit, sign of the per-doc sum sets the
    bit. Bit 63 is cleared so the hash fits a signed long. Mirrored exactly
    by the DuckDB md5-hex bit-arithmetic oracle."""
    import hashlib

    import numpy as np
    import pandas as pd

    shifts = np.arange(64, dtype=np.uint64)

    def batches(it):
        for pdf in it:
            n = len(pdf)
            tok_lists = pdf["text"].fillna("").str.split()
            lens = tok_lists.map(len).to_numpy(dtype=np.int64)
            acc = np.zeros((n, 64), dtype=np.int64)
            if lens.sum():
                flat = np.concatenate(
                    [t for t in tok_lists if t]).astype(object)
                doc_idx = np.repeat(np.arange(n), lens)
                codes, uniques = pd.factorize(flat)
                hv = np.array(
                    [int.from_bytes(hashlib.md5(u.encode()).digest()[:8],
                                    "big") for u in uniques],
                    dtype=np.uint64)
                signs = (((hv[:, None] >> shifts) & np.uint64(1))
                         .astype(np.int64) * 2 - 1)      # (U, 64) in ±1
                np.add.at(acc, doc_idx, signs[codes])
            sh = (((acc > 0).astype(np.uint64) << shifts).sum(axis=1)
                  & np.uint64(0x7FFFFFFFFFFFFFFF)).astype(np.int64)
            yield pd.DataFrame({"doc_id": pdf["doc_id"].to_numpy(),
                                "simhash": sh})

    return (_t(spark, sf_dir, "documents").select("doc_id", "text")
            .mapInPandas(batches, schema="doc_id long, simhash long"))


# =============================================================== registry
# The driver verifies at most 50 entries; near-duplicate families
# (doc_lengths / bm25_rank / bm25_big_topk / lsh_bucket_counts) live in
# consolidated_queries()+consolidated_oracles() below, verified by pytest
# with the identical compare, so every registry slot is a distinct family.

def queries():
    return {
        "term_counts": q_term_counts,
        "term_df": q_term_df,
        "corpus_stats": q_corpus_stats,
        "doc_sha256": q_doc_sha256,
        "tfidf_rank": q_tfidf_rank,
        "conjunctive_docs": q_conjunctive_docs,
        "distinct_terms": q_distinct_terms,
        "fold_by_key": q_fold_by_key,
        "join_customer_orders": q_join_customer_orders,
        "cogroup_nation": q_cogroup_nation,
        "intersection_custkeys": q_intersection_custkeys,
        "group_collect": q_group_collect,
        "filter_events_hourly": q_filter_events_hourly,
        "json_extract_events": q_json_extract_events,
        "window_top_order": q_window_top_order,
        "dedup_exact": q_dedup_exact,
        "fingerprint": q_fingerprint,
        "minhash_lsh_buckets": q_minhash_lsh_buckets,
        "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
        "quality_scores": q_quality_scores,
        "dominant_term": q_dominant_term,
        "lang_distribution": q_lang_distribution,
        "token_stats": q_token_stats,
        "ann_cosine_topk": q_ann_cosine_topk,
        "embedding_norms": q_embedding_norms,
        "inverted_index_stats": q_inverted_index_stats,
        "bm25_engine_topk": q_bm25_engine_topk,
        "prefix_bm25_topk": q_prefix_bm25_topk,
        "doc_display": q_doc_display,
        "dedup_aliases": q_dedup_aliases,
        "union_all_keys": q_union_all_keys,
        "except_orderkeys": q_except_orderkeys,
        "sample_hash": q_sample_hash,
        "media_metadata": q_media_metadata,
        "image_decode_features": q_image_decode_features,
        "frame_sample": q_frame_sample,
        "audio_chunk_stats": q_audio_chunk_stats,
        "ann_lsh_topk": q_ann_lsh_topk,
        "neardup_embedding_pairs": q_neardup_embedding_pairs,
        "ann_lsh_multiprobe_topk": q_ann_lsh_multiprobe_topk,
        "ann_lsh_multitable_topk": q_ann_lsh_multitable_topk,
        "ivf_cells": q_ivf_cells,
        "ann_ivf_topk": q_ann_ivf_topk,
        "langid_ngram": q_langid_ngram,
        "bpe_token_count": q_bpe_token_count,
        "winnow_fingerprints": q_winnow_fingerprints,
        "simhash64": q_simhash64,
        "pagerank_dominant": q_pagerank_dominant,
        "phrase_docs": q_phrase_docs,
        "phrase_slop_docs": q_phrase_slop_docs,
    }


def oracle_sql():
    tfidf_tl = ",".join(f"'{t}'" for t in TFIDF_TERMS)
    conj_tl = ",".join(f"'{t}'" for t in CONJ_TERMS)
    stop_tl = ",".join(f"'{t}'" for t in STOPWORDS)
    ann_ql = ",".join(str(i) for i in ANN_QUERY_IDS)
    mh = ", ".join(
        f"min(md5(concat('{seed}', term))) as mh{i}"
        for i, seed in enumerate(MINHASH_SEEDS))
    return {
        "term_counts": f"select term, count(*) as n from ({_TOKENS_SQL}) "
                       "group by term",
        "term_df": "select term, count(distinct doc_id) as df from "
                   f"({_TOKENS_SQL}) group by term",
        "corpus_stats": f"""
            with dl as (select doc_id, count(*) as doc_len from
                        ({_TOKENS_SQL}) group by doc_id)
            select count(*) as n_docs,
                   cast(sum(doc_len) as bigint) as total_len,
                   round(sum(doc_len)/count(*), 6) as avgdl from dl""",
        "doc_sha256": "select doc_id, sha256(text) as sha from documents",
        "tfidf_rank": f"""
            with tok as ({_TOKENS_SQL}),
            n as (select count(distinct doc_id) as n_docs from tok),
            tf as (select doc_id, term, count(*) as tf from tok
                   where term in ({tfidf_tl}) group by doc_id, term),
            dfs as (select term, count(*) as df from tf group by term),
            scored as (
              select tf.doc_id,
                     sum((1.0 + log10(tf.tf)) * log10(n.n_docs / dfs.df))
                       as score
              from tf join dfs on tf.term = dfs.term cross join n
              group by tf.doc_id)
            select doc_id, round(score, 6) as score_r,
                   row_number() over
                     (order by round(score, 6) desc, doc_id) as rank
            from scored qualify rank <= {TOPK}""",
        "conjunctive_docs": f"""
            select doc_id from (select distinct doc_id, term from
              ({_TOKENS_SQL}) where term in ({conj_tl}))
            group by doc_id having count(*) = {len(CONJ_TERMS)}""",
        "distinct_terms": f"select distinct term from ({_TOKENS_SQL})",
        "fold_by_key": """
            select l_returnflag, l_linestatus, sum(l_quantity) as sum_qty,
                   round(avg(l_extendedprice), 2) as avg_price,
                   count(*) as n
            from lineitem group by l_returnflag, l_linestatus""",
        "join_customer_orders": """
            select c_custkey, c_mktsegment, count(*) as n_orders,
                   round(sum(o_totalprice), 2) as total_r
            from orders join customer on o_custkey = c_custkey
            group by c_custkey, c_mktsegment""",
        "cogroup_nation": """
            with s as (select s_nationkey as nationkey, count(*) as n_supp
                       from supplier group by 1),
                 c as (select c_nationkey as nationkey, count(*) as n_cust
                       from customer group by 1)
            select coalesce(s.nationkey, c.nationkey) as nationkey,
                   coalesce(n_supp, 0) as n_supp,
                   coalesce(n_cust, 0) as n_cust
            from s full outer join c on s.nationkey = c.nationkey""",
        "intersection_custkeys": """
            select o_custkey as custkey from orders
            intersect
            select c_custkey as custkey from customer where c_acctbal > 5000""",
        "group_collect": """
            select s_nationkey as nationkey,
                   string_agg(s_name, ',' order by s_name) as names
            from supplier group by s_nationkey""",
        "filter_events_hourly": """
            select event_type, strftime(date_trunc('hour', ts),
                                        '%Y-%m-%d %H') as hour,
                   count(*) as n, round(sum(value), 2) as sum_value
            from events where event_type in ('click', 'error')
            group by 1, 2""",
        "json_extract_events": """
            select event_id, cast(props->>'$.k' as bigint) as k
            from events where event_id < 1000""",
        "window_top_order": """
            select o_custkey as custkey, o_orderkey as orderkey,
                   o_totalprice as totalprice
            from (select o_custkey, o_orderkey, o_totalprice,
                         row_number() over (partition by o_custkey
                             order by o_totalprice desc, o_orderkey) as rn
                  from orders) where rn = 1""",
        "dedup_exact": """
            select md5(text) as text_hash, count(*) as n_docs,
                   min(doc_id) as keeper
            from documents group by md5(text)""",
        "fingerprint": f"""
            select doc_id,
                   md5(string_agg(term, ' ' order by term)) as fp
            from (select distinct doc_id, term from ({_TOKENS_SQL}))
            group by doc_id""",
        "minhash_lsh_buckets": f"""
            with sig as (select doc_id, {mh}
                         from ({_TOKENS_SQL}) group by doc_id)
            select mh0, mh1, mh2, mh3, count(*) as n_docs
            from sig group by mh0, mh1, mh2, mh3""",
        "ngram_jaccard_pairs": _ngram_pairs_sql(),
        "quality_scores": f"""
            select doc_id, count(*) as n_tokens,
                   round(sum(case when term in ({stop_tl}) then 1 else 0 end)
                         / count(*), 6) as stop_ratio,
                   round(avg(length(term)), 6) as avg_token_len
            from ({_TOKENS_SQL}) group by doc_id""",
        "dominant_term": f"""
            with tf as (select doc_id, term, count(*) as tf
                        from ({_TOKENS_SQL}) group by doc_id, term)
            select doc_id, term as dominant, tf as dom_tf
            from (select *, row_number() over (partition by doc_id
                      order by tf desc, term) as rn from tf)
            where rn = 1""",
        "lang_distribution": "select lang, count(*) as n from documents "
                             "group by lang",
        "token_stats": f"""
            select doc_id, count(*) as n_tokens,
                   count(distinct term) as n_unique
            from ({_TOKENS_SQL}) group by doc_id""",
        "ann_cosine_topk": f"""
            with e as (select vec_id, embedding::DOUBLE[] as emb
                       from embeddings),
            n as (select vec_id, emb,
                         sqrt(list_dot_product(emb, emb)) as nrm from e),
            pairs as (
              select q.vec_id as qid, x.vec_id as vec_id,
                     round(list_dot_product(q.emb, x.emb)
                           / (q.nrm * x.nrm), 6) as sim
              from n q join n x on x.vec_id <> q.vec_id
              where q.vec_id in ({ann_ql}))
            select qid, row_number() over (partition by qid
                       order by sim desc, vec_id) as rank, vec_id, sim
            from pairs qualify rank <= {ANN_K}""",
        "embedding_norms": """
            select vec_id,
                   round(sqrt(list_dot_product(embedding::DOUBLE[],
                                               embedding::DOUBLE[])), 6)
                     as norm
            from embeddings""",
        "inverted_index_stats": f"""
            select term, count(distinct doc_id) as df, count(*) as total_tf
            from ({_TOKENS_SQL}) group by term""",
        "bm25_engine_topk": _bm25_duck_sql(BM25_TERMS, TOPK),
        # the expansion-cap rule mirrored in SQL (engine: a prefix matching
        # more than PREFIX_EXPANSION_CAP terms expands to the cap
        # highest-df terms, ORDER BY df DESC, term ASC LIMIT cap); at this
        # SF the prefix matches fewer than the cap, so the subquery keeps
        # every matching term — same rows, rule documented and executable
        "prefix_bm25_topk": _bm25_duck_sql_pred(
            f"""term in (select term from ({_TOKENS_SQL})
                where term like '{PREFIX_QUERY}%' group by term
                order by count(*) desc, term limit {_PREFIX_CAP})""", TOPK),
        "doc_display": """
            select doc_id, cast(doc_id as varchar) as title,
                   substr(text, 1, 200) as snippet
            from documents
            where doc_id in (select min(doc_id) from documents
                             group by text)""",
        "dedup_aliases": f"""
            with canon as (select text, min(doc_id) as c from documents
                           group by text)
            select d.doc_id + {_DEDUP_OFFSET} as doc_id,
                   c.c as canonical_doc_id
            from documents d join canon c on d.text = c.text
            union all
            select d.doc_id, c.c as canonical_doc_id
            from documents d join canon c on d.text = c.text
            where d.doc_id <> c.c""",
        "union_all_keys": """
            select nationkey, src, count(*) as n from (
              select c_nationkey as nationkey, 'cust' as src from customer
              union all
              select s_nationkey as nationkey, 'supp' as src from supplier)
            group by nationkey, src""",
        "except_orderkeys": """
            select o_orderkey as orderkey from orders
            where o_orderkey not in (select l_orderkey from lineitem)""",
        "sample_hash": """
            select doc_id, lang, cast(n_chars as bigint) as n_chars
            from documents
            where cast(('0x' || substr(md5(cast(doc_id as varchar)), 1, 4))
                       as bigint) % 10 = 0""",
        "simhash64": f"""
            with tok as ({_TOKENS_SQL}),
            tf as (select doc_id, term, count(*) as c from tok
                   group by doc_id, term),
            h as (select doc_id, c,
                         cast(('0x' || substr(md5(term), 1, 16)) as ubigint)
                           as hv
                  from tf),
            bits as (
              select doc_id, b.b as b,
                     sum(case when (hv >> cast(b.b as int)) & 1 = 1
                         then c else -c end) as acc
              from h, unnest(range(0, 64)) as b(b)
              group by doc_id, b.b),
            sh as (
              select doc_id,
                     cast(sum(case when acc > 0 and b < 63
                              then (1::ubigint << cast(b as int))
                              else 0 end) as bigint) as simhash
              from bits group by doc_id)
            select d.doc_id, coalesce(s.simhash, 0) as simhash
            from documents d left join sh s on d.doc_id = s.doc_id""",
        "pagerank_dominant": _pagerank_oracle(),
        "phrase_slop_docs": f"""
            with toks as (
              select doc_id,
                     list_filter(string_split_regex(text, '\\s+'),
                                 x -> x <> '') as ts
              from documents)
            select doc_id, n_occ from (
              select doc_id,
                     len(list_filter(
                       list_filter(range(1, len(ts)+1),
                                   i -> ts[i] = '{NEAR_TERMS[0]}'),
                       i -> len(list_filter(range(1, len(ts)+1),
                            j -> ts[j] = '{NEAR_TERMS[1]}'
                             and j > i and j <= i + {NEAR_SLOP})) > 0))
                       as n_occ
              from toks)
            where n_occ > 0""",
        "phrase_docs": f"""
            with toks as (
              select doc_id,
                     list_filter(string_split_regex(text, '\\s+'),
                                 x -> x <> '') as ts
              from documents)
            select doc_id, n_occ from (
              select doc_id,
                     len(list_filter(range(1, greatest(len(ts), 1)),
                         i -> ts[i] = '{PHRASE_TERMS[0]}'
                          and ts[i+1] = '{PHRASE_TERMS[1]}')) as n_occ
              from toks)
            where n_occ > 0""",
        **_multimodal_oracles(),
        **_similarity_oracles(),
        **_text_extra_oracles(),
    }


def consolidated_oracles():
    """Oracles for entries consolidated OUT of the driver registry (the
    driver verifies at most 50 entries, so near-duplicate families were
    folded — VERDICT r2 #1). They stay verified here via pytest
    (tests/test_contract.py runs this dict exactly like the registry):
      doc_lengths       — projection of token_stats;
      bm25_rank         — same oracle as bm25_engine_topk (pure-SQL twin);
      bm25_big_topk     — same oracle; zero-driver-array path, also
                          pytest-asserted bitwise equal to SearchEngine;
      lsh_bucket_counts — diagnostic of the LSH path ann_lsh_topk proves.
    Plus post-consolidation additions that keep the registry at 50:
      neardup_clusters        — connected components over the near-dup
                                pair graph (min-label propagation);
      training_corpus_select  — dedup keeper + quality + lang filter +
                                deterministic shard (export capstone);
      bm25_filtered_topk      — the engine's metadata-filter + NOT-term
                                query surface (lang:en ... -scan) vs a
                                full-stats-then-restrict SQL oracle;
      suggest/facets/fuzzy/mlt/bulk/did_you_mean/training_pairs (r4) and
      regex_search/regex_icase_search/bm25f_topk/bm25f_big_topk plus the
      IVF recall dials ann_ivf_nprobe4_topk/ann_ivf_spill_topk (r5) —
      each a distinct serving surface with its own generated mirror.
    """
    from .similarity import ivf_assign_sql, lsh_signature_sql
    sig = lsh_signature_sql()
    _ANN_QL = ",".join(str(i) for i in ANN_QUERY_IDS)
    return {
        "doc_lengths": f"select doc_id, count(*) as doc_len from "
                       f"({_TOKENS_SQL}) group by doc_id",
        "bm25_rank": _bm25_duck_sql(BM25_TERMS, TOPK),
        "bm25_big_topk": _bm25_duck_sql(BM25_TERMS, TOPK),
        "bm25_filtered_topk": _bm25_filtered_duck_sql(
            BM25_TERMS, TOPK, FILTER_LANG, FILTER_NOT[0]),
        "lsh_bucket_counts": f"""
            with {sig}
            select bucket, count(*) as n_vecs from sig group by bucket""",
        "neardup_clusters": _neardup_clusters_oracle(),
        "training_corpus_select": _training_corpus_oracle(),
        # suggest: top-k df-ranked completions of the fixture prefix; the
        # engine's (df DESC, term ASC) tie-break is deterministic, so the
        # row SET equals the SQL top-k (the compare is order-insensitive)
        "suggest_prefix": f"""
            select term, count(distinct doc_id) as df
            from ({_TOKENS_SQL})
            where term like '{PREFIX_QUERY}%'
            group by term
            order by df desc, term limit {TOPK}""",
        # facet histogram over the full ranked-match set (union of the
        # fixture terms' postings) by lang; count DESC, value ASC — the
        # engine's deterministic facet order
        "bm25_facet_counts": f"""
            with m as (
              select distinct doc_id from ({_TOKENS_SQL})
              where term in ({",".join(f"'{t}'" for t in BM25_TERMS)}))
            select d.lang as value, count(*) as cnt
            from m join documents d using (doc_id)
            group by d.lang
            order by cnt desc, value limit {TOPK}""",
        # fuzzy expansion mirrored in SQL: every dictionary term within
        # Levenshtein distance 1 of the typo fixture (at this SF the
        # expansion is far below FUZZY_EXPANSION_CAP, so the df-ranked
        # overflow rule — same as wildcard's — never bites)
        "fuzzy_bm25_topk": _bm25_duck_sql_pred(
            f"""term in (select term from ({_TOKENS_SQL})
                group by term
                having levenshtein(term, '{FUZZY_QUERY}') <= 1)""", TOPK),
        "more_like_this": _mlt_duck_sql(TOPK),
        # whole query batch in one job (engine/bulk.py) vs a per-query
        # BM25 oracle over shared corpus-stats CTEs
        "bulk_bm25_topk": _bulk_duck_sql(BULK_QUERIES, TOPK),
        # did-you-mean spell correction vs a levenshtein+window oracle
        "did_you_mean": _dym_duck_sql(DYM_TYPOS),
        # training-pair mining (pos/hard/rand) vs the full-pipeline mirror
        "training_pairs_mined": _pairs_duck_sql(
            BULK_QUERIES, PAIRS_K_POS, PAIRS_N_HARD, PAIRS_N_RAND),
        # regex search over the document model (tags stripped exactly like
        # tokenize): Python re and DuckDB RE2 agree on this pattern subset
        "regex_search": f"""
            select doc_id from documents
            where regexp_matches(
              regexp_replace(text, '<[^>]*>', ' ', 'g'),
              '{REGEX_PATTERN}')""",
        # case-insensitive regex (r5): the same subset — RE2 honors the
        # inline (?i) too — now index-PRUNED on the Spark side via the
        # boundary-proven prefix/suffix variant clauses
        "regex_icase_search": f"""
            select doc_id from documents
            where regexp_matches(
              regexp_replace(text, '<[^>]*>', ' ', 'g'),
              '{REGEX_ICASE_PATTERN}')""",
        # field-boosted ranking: bm25_body + w*bm25_path, two-field mirror
        "bm25f_topk": _bm25f_duck_sql(
            sorted(set(FIELD_QUERY.split())), TOPK, FIELD_W),
        # the SAME mirror against the zero-driver-array fielded path
        # (fields.search_big_fielded_federated)
        "bm25f_big_topk": _bm25f_duck_sql(
            sorted(set(FIELD_QUERY.split())), TOPK, FIELD_W),
        # the IVF recall dials (VERDICT r4 #7), each verified at a second
        # operating point against the same generated mirror: nprobe
        # (probe-time) and assign (index-time cell spilling, r5)
        "ann_ivf_nprobe4_topk": _ann_ivf_sql(
            ivf_assign_sql(), _ANN_QL, 4),
        "ann_ivf_spill_topk": _ann_ivf_sql(
            ivf_assign_sql(assign=2), _ANN_QL, 2),
    }


def consolidated_queries():
    """The Spark side of consolidated_oracles()."""
    return {
        "doc_lengths": q_doc_lengths,
        "bm25_rank": q_bm25_rank,
        "bm25_big_topk": q_bm25_big_topk,
        "bm25_filtered_topk": q_bm25_filtered_topk,
        "lsh_bucket_counts": q_lsh_bucket_counts,
        "neardup_clusters": q_neardup_clusters,
        "training_corpus_select": q_training_corpus_select,
        "suggest_prefix": q_suggest_prefix,
        "bm25_facet_counts": q_facet_counts,
        "fuzzy_bm25_topk": q_fuzzy_bm25_topk,
        "more_like_this": q_more_like_this,
        "bulk_bm25_topk": q_bulk_bm25_topk,
        "did_you_mean": q_did_you_mean,
        "training_pairs_mined": q_training_pairs,
        "regex_search": q_regex_search,
        "regex_icase_search": q_regex_icase_search,
        "bm25f_topk": q_bm25f_topk,
        "bm25f_big_topk": q_bm25f_big_topk,
        "ann_ivf_nprobe4_topk": q_ann_ivf_nprobe4_topk,
        "ann_ivf_spill_topk": q_ann_ivf_spill_topk,
    }


# ------------------------------------------------ oracle builders (new ops)

_MEDIA_TYPE_SQL = ("case cast(doc_id % 3 as int) when 0 then 'image' "
                   "when 1 then 'audio' else 'video' end")


def _multimodal_oracles() -> dict[str, str]:
    from .multimodal import _FRAME_MOD, _H_MOD, _W_MOD, AUDIO_CHUNK
    return {
        "media_metadata": f"""
            select doc_id, {_MEDIA_TYPE_SQL} as media_type,
                   octet_length(encode(text)) as n_bytes,
                   sha256(text) as sha
            from documents""",
        # text is ASCII (verified): byte_sum == sum of codepoints,
        # first_byte == ascii of first char
        "image_decode_features": f"""
            with img as (
              select doc_id, octet_length(encode(text)) as n,
                     list_sum(list_transform(string_split(text, ''),
                                             c -> ascii(c))) as bsum,
                     ascii(substr(text, 1, 1)) as fb
              from documents where doc_id % 3 = 0)
            select doc_id, n % {_W_MOD} + 1 as width,
                   (n * 31) % {_H_MOD} + 1 as height,
                   (n % {_W_MOD} + 1) * 1000000
                     // ((n * 31) % {_H_MOD} + 1) as aspect_um,
                   cast(coalesce(bsum, 0) as bigint) as byte_sum,
                   cast(coalesce(fb, -1) as bigint) as first_byte
            from img""",
        "frame_sample": f"""
            with vid as (
              select doc_id, octet_length(encode(text)) as n,
                     octet_length(encode(text)) % {_FRAME_MOD} + 1
                       as n_frames
              from documents where doc_id % 3 = 2)
            select doc_id, u.i as frame_idx,
                   (u.i * n) // n_frames as frame_off
            from vid, unnest(range(0, n_frames,
                             cast(ceil(n_frames / 8.0) as bigint)))
                 as u(i)""",
        "audio_chunk_stats": f"""
            with aud as (
              select doc_id, octet_length(encode(text)) as n_bytes
              from documents where doc_id % 3 = 1)
            select doc_id, u.i as chunk_idx,
                   least({AUDIO_CHUNK},
                         n_bytes - u.i * {AUDIO_CHUNK}) as chunk_bytes
            from aud, unnest(range(0, cast(ceil(n_bytes / {AUDIO_CHUNK}.0)
                                           as bigint))) as u(i)""",
    }


def _similarity_oracles() -> dict[str, str]:
    from .similarity import (NEARDUP_MIN_SIM, ivf_assign_sql,
                             lsh_multitable_sql, lsh_signature_sql)
    sig = lsh_signature_sql()
    msig = lsh_multitable_sql()
    ivf = ivf_assign_sql()
    ann_ql = ",".join(str(i) for i in ANN_QUERY_IDS)
    return {
        "ann_lsh_multitable_topk": f"""
            with {msig},
            q as (select vec_id as qid, emb as qe, nrm as qn, tbl, bucket
                  from msig where vec_id in ({ann_ql})),
            cand as (
              select q.qid, s.vec_id,
                     round(max(list_dot_product(q.qe, s.emb)
                               / (q.qn * s.nrm)), 6) as sim
              from q join msig s
                on q.tbl = s.tbl and q.bucket = s.bucket
              where s.vec_id <> q.qid
              group by q.qid, s.vec_id)
            select qid, row_number() over (partition by qid
                     order by sim desc, vec_id) as rank, vec_id, sim
            from cand qualify rank <= {ANN_K}""",
        "ann_lsh_topk": f"""
            with {sig},
            q as (select vec_id as qid, emb as qe, nrm as qn, bucket
                  from sig where vec_id in ({ann_ql})),
            cand as (
              select q.qid, s.vec_id,
                     round(list_dot_product(q.qe, s.emb)
                           / (q.qn * s.nrm), 6) as sim
              from q join sig s on q.bucket = s.bucket
              where s.vec_id <> q.qid)
            select qid, row_number() over (partition by qid
                     order by sim desc, vec_id) as rank, vec_id, sim
            from cand qualify rank <= {ANN_K}""",
        "ann_lsh_multiprobe_topk": f"""
            with {sig},
            q as (select vec_id as qid, emb as qe, nrm as qn, p.b as bucket
                  from sig, unnest([bucket{"".join(
                      f", xor(bucket, {1 << j})" for j in range(8))}])
                    as p(b)
                  where vec_id in ({ann_ql})),
            cand as (
              select q.qid, s.vec_id,
                     round(list_dot_product(q.qe, s.emb)
                           / (q.qn * s.nrm), 6) as sim
              from q join sig s on q.bucket = s.bucket
              where s.vec_id <> q.qid)
            select qid, row_number() over (partition by qid
                     order by sim desc, vec_id) as rank, vec_id, sim
            from cand qualify rank <= {ANN_K}""",
        "neardup_embedding_pairs": f"""
            with {sig}
            select a.vec_id as ida, b.vec_id as idb,
                   round(list_dot_product(a.emb, b.emb)
                         / (a.nrm * b.nrm), 6) as sim
            from sig a join sig b
              on a.bucket = b.bucket and a.vec_id < b.vec_id
            where round(list_dot_product(a.emb, b.emb)
                        / (a.nrm * b.nrm), 6) >= {NEARDUP_MIN_SIM}""",
        "ivf_cells": f"""
            with {ivf}
            select cell, count(*) as n_vecs from assigned group by cell""",
        "ann_ivf_topk": _ann_ivf_sql(ivf, ann_ql, 2),
    }


def _ann_ivf_sql(ivf: str, ann_ql: str, nprobe: int) -> str:
    """DuckDB mirror of ann_ivf_topk for ANY (nprobe, assign) — the dials
    thread through the `ivf` CTE block (ivf_assign_sql) and this query,
    generated from the same constants as the Spark plan. Query vectors
    come from `emb` (with spilling, `assigned` holds one row per
    (vector, cell)); `cand` is distinct on (qid, vec_id, sim), exact
    because spill duplicates carry identical sim."""
    return f"""
            with {ivf},
            q as (select vec_id as qid, e as qe, nrm as qn from emb
                  where vec_id in ({ann_ql})),
            probes as (
              select qid, qe, qn, cid as cell from (
                select q.qid, q.qe, q.qn, cents.cid,
                       row_number() over (partition by q.qid
                         order by round(list_dot_product(q.qe, cents.ce)
                                        / (q.qn * cents.cn), 6) desc,
                                  cents.cid) as prn
                from q cross join cents) where prn <= {nprobe}),
            cand as (
              select distinct p.qid, a.vec_id,
                     round(list_dot_product(p.qe, a.e)
                           / (p.qn * a.nrm), 6) as sim
              from probes p join assigned a on p.cell = a.cell
              where a.vec_id <> p.qid)
            select qid, row_number() over (partition by qid
                     order by sim desc, vec_id) as rank, vec_id, sim
            from cand qualify rank <= {ANN_K}"""


def _pagerank_oracle() -> str:
    iters = "".join(f""",
            p{k} as (
              select d.doc_id,
                     round((1.0 - {PR_DAMP})/n.n
                           + {PR_DAMP} * coalesce(s.m, 0), 9) as pr
              from documents d cross join n
              left join (select e.dst as doc_id, sum(p{k - 1}.pr) as m
                         from edges e join p{k - 1}
                           on e.src = p{k - 1}.doc_id
                         group by e.dst) s on d.doc_id = s.doc_id)"""
                    for k in range(1, PR_ITERS + 1))
    return f"""
            with tf as (select doc_id, term, count(*) as tf
                        from ({_TOKENS_SQL}) group by doc_id, term),
            dom as (
              select doc_id, term from (
                select *, row_number() over (partition by doc_id
                    order by tf desc, term) as rn from tf)
              where rn = 1),
            ex as (select term, min(doc_id) as dst from dom group by term),
            edges as (
              select d.doc_id as src, e.dst from dom d join ex e
                on d.term = e.term where d.doc_id <> e.dst),
            n as (select count(*) as n from documents),
            p0 as (select doc_id, 1.0/n.n as pr from documents cross join n)
            {iters}
            select doc_id, round(pr, 6) as pr from p{PR_ITERS}"""


def _text_extra_oracles() -> dict[str, str]:
    prof_rows = " union all ".join(
        f"select doc_id, '{lang}' as pred_lang, ("
        + " + ".join(
            f"(length(text) - length(replace(text, '{m}', ''))) // {len(m)}"
            for m in markers)
        + ") as score from documents"
        for lang, markers in LANG_PROFILES)
    bpe = _BPE_RE.replace("'", "''")
    return {
        "langid_ngram": f"""
            with scored as ({prof_rows})
            select doc_id, pred_lang, score from (
              select *, row_number() over (partition by doc_id
                order by score desc, pred_lang) as rn from scored)
            where rn = 1""",
        "bpe_token_count": f"""
            select doc_id,
                   len(regexp_extract_all(text, '{bpe}')) as n_pieces,
                   len(regexp_extract_all(text, '\\s+')) as n_ws
            from documents""",
        "winnow_fingerprints": f"""
            with grams as (
              select doc_id, u.i as pos,
                     md5(substr(text, cast(u.i as int), {WINNOW_K})) as h
              from (select doc_id, text from documents where doc_id < 200),
                   unnest(range(1, greatest(length(text) - {WINNOW_K - 1},
                                            1) + 1)) as u(i)),
            wm as (select doc_id,
                          min(h) over (partition by doc_id order by pos
                            rows between current row
                            and {WINNOW_W - 1} following) as wm
                   from grams)
            select doc_id, count(distinct wm) as n_fp from wm
            group by doc_id""",
    }
