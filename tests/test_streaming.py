"""Structured-Streaming incremental ingest: files land in two waves; the
compacted index must be BYTE-IDENTICAL (terms, df, postings blobs) to a
batch build over the union corpus, and the SearchEngine over it must be
rank-identical to the oracle."""

import os

from engine.corpus import corpus_spark_schema, corpus_to_spark, make_corpus
from engine.index_build import build_index
from engine.oracle import Bm25Oracle
from engine.query import SearchEngine
from engine.streaming import compact, start_ingest


def _fingerprint(spark, out):
    rows = (spark.read.parquet(f"{out}/index")
            .select("term", "df", "postings").collect())
    return sorted((r["term"], r["df"], bytes(r["postings"])) for r in rows)


def test_streaming_ingest_matches_batch(spark, tmp_path):
    pdf = make_corpus(400, seed=11)
    wave1, wave2 = pdf.iloc[:250], pdf.iloc[250:]
    src = str(tmp_path / "src")
    work = str(tmp_path / "work")
    os.makedirs(src)

    # wave 1 lands, stream drains it (availableNow)
    corpus_to_spark(spark, wave1).coalesce(2).write.mode("append").parquet(src)
    (q1,) = start_ingest(spark, src, work, corpus_spark_schema())
    q1.awaitTermination(300)

    # wave 2 lands, stream resumes from checkpoint (exactly-once file source)
    corpus_to_spark(spark, wave2).coalesce(2).write.mode("append").parquet(src)
    (q1,) = start_ingest(spark, src, work, corpus_spark_schema())
    q1.awaitTermination(300)

    out_stream = str(tmp_path / "idx_stream")
    compact(spark, work, out_stream, partitions=4)

    out_batch = str(tmp_path / "idx_batch")
    build_index(spark, corpus_to_spark(spark, pdf), out_batch,
                n_salts=8, partitions=4)

    assert _fingerprint(spark, out_stream) == _fingerprint(spark, out_batch)

    eng = SearchEngine(spark, out_stream)
    oracle = Bm25Oracle(dict(zip(pdf["doc_id"], pdf["content"])))
    for q in ["def return", "identifier_10", "class import"]:
        assert eng.search(q, k=10, mode="ranked") == oracle.topk(q, 10, "ranked")
        assert eng.search(q, k=10, mode="conjunctive") == \
            oracle.topk(q, 10, "conjunctive")


def test_compact_beyond_broadcast_limit_identical(spark, tmp_path,
                                                  monkeypatch):
    """Force the over-BROADCAST_DOC_LIMIT compaction path (packed runs
    unpack to posting rows and JOIN the partitioned ordinal map instead of
    closure-capturing a driver doc_id array): byte-identical to batch."""
    import engine.index_build as ib
    from pyspark.sql import functions as F

    from engine.index_build import _map_partial_runs_factory, with_doc_identity
    from engine.streaming import RUN_SCHEMA
    from engine.tokenizer import spark_token_count_expr

    pdf = make_corpus(300, seed=13)
    work = str(tmp_path / "work")
    # materialize the work dir exactly as start_ingest does, via batch writes
    stream_like = with_doc_identity(corpus_to_spark(spark, pdf))
    (stream_like.withColumn("ordinal", F.col("doc_id"))
     .select("ordinal", "content")
     .mapInArrow(_map_partial_runs_factory(1 << 62, 8), schema=RUN_SCHEMA)
     .write.parquet(os.path.join(work, "run_partials")))
    (stream_like.select(
        "doc_id", "repo", "path", "commit", "lang", "content_sha256",
        F.element_at(F.split("path", "/"), -1).alias("title"),
        F.substring("content", 1, 200).alias("snippet"),
        spark_token_count_expr(F.col("content"))
        .cast("long").alias("doc_len"))
     .write.parquet(os.path.join(work, "doc_stats")))

    monkeypatch.setattr(ib, "BROADCAST_DOC_LIMIT", 0)
    out_stream = str(tmp_path / "idx_fallback")
    compact(spark, work, out_stream, partitions=4)

    out_batch = str(tmp_path / "idx_batch")
    build_index(spark, corpus_to_spark(spark, pdf), out_batch,
                n_salts=8, partitions=4)
    assert _fingerprint(spark, out_stream) == _fingerprint(spark, out_batch)

    eng = SearchEngine(spark, out_stream)
    oracle = Bm25Oracle(dict(zip(pdf["doc_id"], pdf["content"])))
    assert eng.search("def return", k=10) == oracle.topk("def return", 10)


def test_streamed_duplicate_content_matches_batch(spark, tmp_path):
    """Content-dedup parity (VERDICT r2 #2): a corpus with duplicate
    content arriving via the stream must compact to an index
    BYTE-IDENTICAL to a batch build over the same (duplicate-carrying)
    corpus — the batch build collapses the dups via the aliases stage, so
    the compactor must too — and the compacted alias map must resolve
    through the server exactly like a batch one."""
    from tests.test_dedup import _with_duplicates

    pdf = make_corpus(200, seed=17)
    big, expected_alias = _with_duplicates(pdf, 25)
    # split so duplicates and originals land in DIFFERENT micro-batches
    wave1, wave2 = big.iloc[:200], big.iloc[200:]
    src = str(tmp_path / "src")
    work = str(tmp_path / "work")
    os.makedirs(src)
    corpus_to_spark(spark, wave1).coalesce(2).write.mode("append").parquet(src)
    (q1,) = start_ingest(spark, src, work, corpus_spark_schema())
    q1.awaitTermination(300)
    corpus_to_spark(spark, wave2).coalesce(2).write.mode("append").parquet(src)
    (q1,) = start_ingest(spark, src, work, corpus_spark_schema())
    q1.awaitTermination(300)

    out_stream = str(tmp_path / "idx_stream")
    compact(spark, work, out_stream, partitions=4)
    out_batch = str(tmp_path / "idx_batch")
    build_index(spark, corpus_to_spark(spark, big), out_batch,
                n_salts=8, partitions=4)

    assert _fingerprint(spark, out_stream) == _fingerprint(spark, out_batch)
    assert spark.read.parquet(f"{out_stream}/docs").count() == len(pdf)
    got = {r["doc_id"]: r["canonical_doc_id"] for r in
           spark.read.parquet(f"{out_stream}/aliases").collect()}
    assert got == {int(k): int(v) for k, v in expected_alias.items()}

    from engine.server import SearchService
    svc = SearchService(spark, out_stream)
    alias_id, canon_id = next(iter(expected_alias.items()))
    assert svc.resolve(int(alias_id)) == svc.resolve(int(canon_id))


def _pos_fingerprint(spark, out):
    rows = spark.read.parquet(f"{out}/positions").collect()
    return sorted((r["term"], r["block"], r["df"], r["n"],
                   bytes(r["ords"]), bytes(r["counts"]), bytes(r["pos"]))
                  for r in rows)


def test_streamed_positions_match_batch(spark, tmp_path, monkeypatch):
    """Streamed positional ingest (VERDICT r2 #7): position runs emitted by
    start_ingest(with_positions=True) and compacted must yield a positional
    store BYTE-IDENTICAL to batch build_positions over the same corpus —
    including duplicate content aliased out at compaction, and on the
    beyond-broadcast-limit regime — and phrase/NEAR queries must agree."""
    from tests.test_dedup import _with_duplicates

    from engine.positions import PhraseEngine, build_positions

    pdf = make_corpus(220, seed=43)
    big, _alias = _with_duplicates(pdf, 20)
    wave1, wave2 = big.iloc[:150], big.iloc[150:]
    src = str(tmp_path / "src")
    work = str(tmp_path / "work")
    os.makedirs(src)
    for wave in (wave1, wave2):
        corpus_to_spark(spark, wave).coalesce(2).write.mode("append") \
            .parquet(src)
        qs = start_ingest(spark, src, work, corpus_spark_schema(),
                          with_positions=True)
        for q in qs:
            q.awaitTermination(300)

    out_stream = str(tmp_path / "idx_stream")
    compact(spark, work, out_stream, partitions=4)

    out_batch = str(tmp_path / "idx_batch")
    build_index(spark, corpus_to_spark(spark, big), out_batch,
                n_salts=8, partitions=4)
    build_positions(spark, corpus_to_spark(spark, big), out_batch,
                    n_salts=8, partitions=4)

    assert _pos_fingerprint(spark, out_stream) == \
        _pos_fingerprint(spark, out_batch)

    pe_s = PhraseEngine(out_stream)
    pe_b = PhraseEngine(out_batch)
    for phrase in ["def return", "class self", "def"]:
        assert pe_s.search_phrase(phrase, k=10) == \
            pe_b.search_phrase(phrase, k=10), phrase
    assert pe_s.search_near("def", "return", slop=3, k=10) == \
        pe_b.search_near("def", "return", slop=3, k=10)

    # beyond-broadcast regime: position rows join the partitioned ordinal
    # map — identical store
    import engine.index_build as ib
    monkeypatch.setattr(ib, "BROADCAST_DOC_LIMIT", 0)
    out_fb = str(tmp_path / "idx_stream_fb")
    compact(spark, work, out_fb, partitions=4)
    assert _pos_fingerprint(spark, out_fb) == \
        _pos_fingerprint(spark, out_batch)


def test_mixed_position_ingest_rejected_up_front(spark, tmp_path):
    """with_positions is a WORK-DIR-LEVEL setting under the unified scan
    layout: the first ingest fixes it and a later ingest flipping it is
    refused immediately (a mix would leave docs the tf index serves but
    the positional store misses — the silent gap the legacy layout's
    compact-time coverage guard could only catch later). The refused call
    must leave the work dir fully usable."""
    import pytest

    from engine.positions import build_positions

    pdf = make_corpus(160, seed=71)
    wave1, wave2 = pdf.iloc[:90], pdf.iloc[90:]
    src = str(tmp_path / "src")
    work = str(tmp_path / "work")
    os.makedirs(src)
    corpus_to_spark(spark, wave1).coalesce(2).write.mode("append").parquet(src)
    qs = start_ingest(spark, src, work, corpus_spark_schema(),
                      with_positions=True)
    for q in qs:
        q.awaitTermination(300)

    with pytest.raises(ValueError, match="fixed per work_dir"):
        start_ingest(spark, src, work, corpus_spark_schema())  # NO positions

    corpus_to_spark(spark, wave2).coalesce(2).write.mode("append").parquet(src)
    qs = start_ingest(spark, src, work, corpus_spark_schema(),
                      with_positions=True)
    for q in qs:
        q.awaitTermination(300)
    out = str(tmp_path / "idx")
    compact(spark, work, out, partitions=4)

    out_batch = str(tmp_path / "batch")
    build_index(spark, corpus_to_spark(spark, pdf), out_batch,
                n_salts=8, partitions=4)
    build_positions(spark, corpus_to_spark(spark, pdf), out_batch,
                    n_salts=8, partitions=4)
    assert _pos_fingerprint(spark, out) == _pos_fingerprint(spark, out_batch)


def test_legacy_work_dir_refused_for_new_ingest(tmp_path):
    """A work dir holding a legacy multi-stream ingest must be compacted
    with its own layout, not silently mixed with a unified-scan stream."""
    import pytest

    from engine.streaming import start_ingest as si
    work = str(tmp_path / "work")
    os.makedirs(os.path.join(work, "_ckpt_runs"))
    with pytest.raises(ValueError, match="legacy multi-stream"):
        si(None, str(tmp_path / "src"), work, None)


def test_compacted_index_serves_display_fields(spark, tmp_path):
    """A compacted (streamed) index must serve the same {url, title, body}
    surface as a batch build: the ingest carries the display metadata."""
    from engine.server import SearchService
    pdf = make_corpus(120, seed=21)
    src = str(tmp_path / "src")
    work = str(tmp_path / "work")
    os.makedirs(src)
    corpus_to_spark(spark, pdf).coalesce(2).write.mode("append").parquet(src)
    (q1,) = start_ingest(spark, src, work, corpus_spark_schema())
    q1.awaitTermination(300)
    out = str(tmp_path / "idx")
    compact(spark, work, out, partitions=4)
    svc = SearchService(spark, out)
    hits = svc.search_payload("def return", k=3)
    by_id = {f"{r.repo}/{r.path}@{r.commit}": r for r in pdf.itertuples()}
    assert hits
    for h in hits:
        src_row = by_id[h["url"]]
        assert h["title"] == src_row.path.split("/")[-1]
        assert h["body"] == src_row.content[:200]
def test_same_workdir_redelivery_collapses(spark, tmp_path):
    """At-least-once producers re-land the SAME content as NEW files; the
    exactly-once file source processes both, so a re-delivered doc's runs
    appear twice in the partials (the doc rows collapse via
    dropDuplicates, the runs used to survive -> delta-0 postings,
    double-counted BM25). Compaction must collapse them: byte-identical
    to a batch build over the single copy, tf index and positional store,
    in both broadcast regimes."""
    import engine.index_build as ib
    from engine.positions import build_positions

    pdf = make_corpus(120, seed=31)
    src = str(tmp_path / "src")
    work = str(tmp_path / "work")
    os.makedirs(src)
    for _ in range(2):  # the SAME corpus lands twice as distinct files
        corpus_to_spark(spark, pdf).coalesce(2).write.mode("append") \
            .parquet(src)
        qs = start_ingest(spark, src, work, corpus_spark_schema(),
                          with_positions=True)
        for q in qs:
            q.awaitTermination(300)

    out = str(tmp_path / "idx")
    compact(spark, work, out, partitions=4)

    batch = str(tmp_path / "batch")
    build_index(spark, corpus_to_spark(spark, pdf), batch,
                n_salts=8, partitions=4)
    build_positions(spark, corpus_to_spark(spark, pdf), batch,
                    n_salts=8, partitions=4)
    assert _fingerprint(spark, out) == _fingerprint(spark, batch)
    assert _pos_fingerprint(spark, out) == _pos_fingerprint(spark, batch)

    eng = SearchEngine(spark, out)
    oracle = Bm25Oracle(dict(zip(pdf["doc_id"], pdf["content"])))
    assert eng.search("def return", k=10) == oracle.topk("def return", 10)

    import pytest  # noqa: F401
    old = ib.BROADCAST_DOC_LIMIT
    try:
        ib.BROADCAST_DOC_LIMIT = 0
        out_fb = str(tmp_path / "idx_fb")
        compact(spark, work, out_fb, partitions=4)
    finally:
        ib.BROADCAST_DOC_LIMIT = old
    assert _fingerprint(spark, out_fb) == _fingerprint(spark, batch)
    assert _pos_fingerprint(spark, out_fb) == _pos_fingerprint(spark, batch)
