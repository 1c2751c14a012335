"""Positional postings + exact-phrase search.

Neither the reference nor the base index can answer phrase queries — the
reference's postings carry only ``doc:tf`` (Searcher.java:80-101), so
"window join" matches any doc containing both words anywhere. This module
adds the standard IR answer: a positional index, built with the SAME
salted two-phase shape as the tf index (map-side combine into packed
per-(term, range-salt) runs; shuffle packed runs, not rows), stored as one
row per (term, ordinal block) — the block key is the skip structure that
lets queries decode only the candidate docs' slices of a hot term:

    positions(term, block, df, n, ords, counts, pos)
      block  = ordinal >> POS_BLOCK_BITS
      ords   = varint(delta-encoded sorted ordinals)
      counts = varint(occurrences per ordinal)
      pos    = varint(within-doc delta positions, concatenated in ord order)

All three decode independently and vectorized (no sequential record walk).
Phrase matching is pure NumPy set algebra: each occurrence of phrase term
j becomes the composite key ordinal*2^32 + (pos - j); a doc position
starts the phrase iff the key survives intersection across all terms.

Scale notes: build volume ~= total token occurrences (inherently — it IS
the positional index); the packed-run shuffle keeps rows ~terms x salts x
partitions like the tf build. Query fetch is parquet predicate pushdown on
``term`` exactly like the tf index.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .codec import varint_decode, varint_encode
from .index_build import (
    ordinal_content_pairs,
    partition_token_arrays,
    remap_keep,
)
from .kernel import _lookup, meta_column, read_postings
from .tokenizer import tokenize

POS_RUN_SCHEMA = ("term string, salt int, ids binary, counts binary, "
                  "pos binary")
POS_SCHEMA = ("term string, block long, df long, n long, "
              "ords binary, counts binary, pos binary")
_SHIFT = np.int64(1) << np.int64(32)
POS_BLOCK_BITS = 14  # 16k ordinals per storage block (see _merge_pos_runs)


def _reorder_segments(flat: np.ndarray, starts: np.ndarray,
                      counts: np.ndarray, order: np.ndarray) -> np.ndarray:
    """Gather variable-length segments of `flat` into `order` — fully
    vectorized (np.repeat index arithmetic, no per-segment Python)."""
    c = counts[order]
    total = int(c.sum())
    if total == 0:
        return flat[:0]
    out_starts = np.concatenate(([0], np.cumsum(c)[:-1]))
    within = np.arange(total, dtype=np.int64) - np.repeat(out_starts, c)
    return flat[np.repeat(starts[order], c) + within]


def _pack_pos_runs(codes: np.ndarray, ordinals: np.ndarray,
                   positions: np.ndarray, vocab,
                   nd: int, n_salts: int) -> pa.RecordBatch | None:
    """Flat (term_code, ordinal, position) token arrays -> one packed
    position run per (term, range-salt): sorted ordinals + per-doc
    occurrence counts + flattened in-doc-order positions, all raw
    little-endian bytes. The positional twin of index_build._pack_runs —
    shared by the dedicated positional map kernel and the single-scan
    build's union kernel."""
    if codes.size == 0:
        return None
    positions = positions.astype(np.int32)
    order = np.lexsort((positions, ordinals, codes))
    codes, ordinals = codes[order], ordinals[order]
    positions = positions[order]
    # (code, ordinal) group boundaries -> per-doc occurrence counts
    newdoc = np.empty(codes.size, dtype=bool)
    newdoc[0] = True
    newdoc[1:] = (np.diff(codes) != 0) | (np.diff(ordinals) != 0)
    dstarts = np.flatnonzero(newdoc)
    dcounts = np.diff(np.concatenate((dstarts, [codes.size]))) \
        .astype(np.int32)
    d_code = codes[dstarts]
    d_ord = ordinals[dstarts]
    salt_div = max(1, (max(nd, 1) + n_salts - 1) // n_salts)
    d_salt = (d_ord // salt_div).astype(np.int32)
    # (code, salt) run boundaries over the doc-level arrays
    change = np.flatnonzero(
        (np.diff(d_code) != 0) | (np.diff(d_salt) != 0)) + 1
    rstarts = np.concatenate(([0], change))
    rends = np.concatenate((change, [d_code.size]))
    run_terms = vocab.take(
        pa.array(d_code[rstarts], pa.int64())).cast(pa.string())
    tok_starts = dstarts  # flat-position segment start per doc group
    ids_col, cnt_col, pos_col = [], [], []
    for s, e in zip(rstarts, rends):
        ids_col.append(d_ord[s:e].tobytes())
        cnt_col.append(dcounts[s:e].tobytes())
        pos_col.append(
            positions[tok_starts[s]:tok_starts[e - 1]
                      + dcounts[e - 1]].tobytes())
    return pa.RecordBatch.from_arrays(
        [run_terms, pa.array(d_salt[rstarts], pa.int32()),
         pa.array(ids_col, pa.binary()),
         pa.array(cnt_col, pa.binary()),
         pa.array(pos_col, pa.binary())],
        names=["term", "salt", "ids", "counts", "pos"])


def _map_pos_runs_factory(n_docs: int, n_salts: int):
    """(ordinal, content) partition -> packed per-(term, salt) position
    runs (_pack_pos_runs)."""
    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        got = partition_token_arrays(batches, with_positions=True)
        if got is None:
            return
        codes, ordinals, positions, vocab = got
        rb = _pack_pos_runs(codes, ordinals, positions, vocab,
                            n_docs, n_salts)
        if rb is not None:
            yield rb
    return run


def _reduce_pos_runs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Per (term, salt): merge map-partition runs into one ordinal-sorted
    run (segment reorder is vectorized)."""
    parts = [p for p in batches if len(p)]
    if not parts:
        return
    pdf = pd.concat(parts, ignore_index=True) if len(parts) > 1 else parts[0]
    rows = []
    for (term, salt), g in pdf.groupby(["term", "salt"], sort=False):
        ids = np.concatenate(
            [np.frombuffer(b, dtype=np.int64) for b in g["ids"]])
        counts = np.concatenate(
            [np.frombuffer(b, dtype=np.int32) for b in g["counts"]])
        pos = np.concatenate(
            [np.frombuffer(b, dtype=np.int32) for b in g["pos"]])
        order = np.argsort(ids, kind="stable")
        starts = np.concatenate(
            ([0], np.cumsum(counts[:-1], dtype=np.int64)))
        rows.append((term, int(salt), ids[order].tobytes(),
                     counts[order].tobytes(),
                     _reorder_segments(pos, starts, counts,
                                       order).tobytes()))
    yield pd.DataFrame(rows,
                       columns=["term", "salt", "ids", "counts", "pos"])


def _emit_pos_blocks(term: str, ids: np.ndarray, counts: np.ndarray,
                     pos: np.ndarray, rows: list) -> None:
    """Globally-sorted per-term arrays -> ONE ROW PER (term, ordinal block)
    with varint/delta encoded streams, appended to `rows`. Blocking
    (ordinal >> POS_BLOCK_BITS) is the skip structure: a phrase query
    decodes a hot term's positions ONLY for the blocks its candidate docs
    live in — without it, a stopword's entire multi-GB position stream
    decodes on every query (measured 17-42 s per phrase at 1M adversarial
    docs; blocked: milliseconds-per-block). Single kernel shared by the
    batch merger and the streaming compactor so blobs can never diverge."""
    seg_starts = np.concatenate(
        ([0], np.cumsum(counts[:-1], dtype=np.int64)))
    blocks = ids >> POS_BLOCK_BITS  # non-decreasing (ids sorted)
    bchange = np.concatenate(
        ([0], np.flatnonzero(np.diff(blocks) != 0) + 1, [ids.size]))
    for s, e in zip(bchange[:-1], bchange[1:]):
        bids = ids[s:e]
        bcounts = counts[s:e]
        ps, pe = seg_starts[s], seg_starts[e - 1] + bcounts[-1]
        bpos = pos[ps:pe]
        deltas = np.empty_like(bids)
        deltas[0] = bids[0]
        np.subtract(bids[1:], bids[:-1], out=deltas[1:])
        bstarts = np.concatenate(
            ([0], np.cumsum(bcounts[:-1], dtype=np.int64)))
        prev = np.empty_like(bpos)
        prev[1:] = bpos[:-1]
        prev[bstarts] = 0  # first position of each doc stays absolute
        rows.append((term, int(blocks[s]), len(bids), int(bcounts.sum()),
                     varint_encode(deltas.astype(np.uint64)),
                     varint_encode(bcounts.astype(np.uint64)),
                     varint_encode((bpos - prev).astype(np.uint64))))


def _merge_pos_runs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Per term: concat salt-ordered runs (range salts -> already globally
    sorted) and block-emit. The batch build's concat-only fast path."""
    parts = [p for p in batches if len(p)]
    if not parts:
        return
    pdf = pd.concat(parts, ignore_index=True) if len(parts) > 1 else parts[0]
    rows = []
    for term, g in pdf.groupby("term", sort=True):
        g = g.sort_values("salt", kind="stable")
        ids = np.concatenate(
            [np.frombuffer(b, dtype=np.int64) for b in g["ids"]])
        counts = np.concatenate(
            [np.frombuffer(b, dtype=np.int32) for b in g["counts"]])
        pos = np.concatenate(
            [np.frombuffer(b, dtype=np.int32) for b in g["pos"]]) \
            .astype(np.int64)
        _emit_pos_blocks(term, ids, counts, pos, rows)
    yield pd.DataFrame(rows, columns=[
        "term", "block", "df", "n", "ords", "counts", "pos"])


def _merge_pos_runs_sorting(batches: Iterator[pd.DataFrame]
                            ) -> Iterator[pd.DataFrame]:
    """Per term: full stable argsort over run ordinals (with vectorized
    segment reorder of the flattened positions) then block-emit — the
    general path for runs whose ordinal ranges OVERLAP (streamed
    micro-batches remapped at compaction, where a run's recomputed salt is
    its first ordinal's and may span salt boundaries). Twin of
    index_build._merge_runs_sorting for the tf index."""
    parts = [p for p in batches if len(p)]
    if not parts:
        return
    pdf = pd.concat(parts, ignore_index=True) if len(parts) > 1 else parts[0]
    rows = []
    for term, g in pdf.groupby("term", sort=True):
        g = g.sort_values("salt", kind="stable")
        ids = np.concatenate(
            [np.frombuffer(b, dtype=np.int64) for b in g["ids"]])
        counts = np.concatenate(
            [np.frombuffer(b, dtype=np.int32) for b in g["counts"]])
        pos = np.concatenate(
            [np.frombuffer(b, dtype=np.int32) for b in g["pos"]]) \
            .astype(np.int64)
        order = np.argsort(ids, kind="stable")
        starts = np.concatenate(
            ([0], np.cumsum(counts[:-1], dtype=np.int64)))
        pos = _reorder_segments(pos, starts, counts, order)
        _emit_pos_blocks(term, ids[order], counts[order], pos, rows)
    yield pd.DataFrame(rows, columns=[
        "term", "block", "df", "n", "ords", "counts", "pos"])


def _reduce_remap_pos_runs_factory(ext_bc):
    """Per (term, ext-salt): merge doc_id-keyed position runs into one
    ordinal-sorted run AND remap external doc_ids to dense ordinals in the
    same pass — the positional twin of
    index_build._reduce_remap_runs_factory (see there for the broadcast
    convention and why reduce-side remap with the runs' ORIGINAL ext-salt
    keys stays globally sorted: ordinals are monotone in doc_id, so
    ext-salt buckets are contiguous ordinal intervals). External ids
    absent from the broadcast sorted-id array
    (duplicate-content docs aliased out) drop segment-wise — the canonical
    twin carries identical positions (byte-identity test-enforced)."""
    def reduce(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        parts = [p for p in batches if len(p)]
        if not parts:
            return
        ext_sorted = ext_bc.value if hasattr(ext_bc, "value") else ext_bc
        pdf = (pd.concat(parts, ignore_index=True)
               if len(parts) > 1 else parts[0])
        rows = []
        for (term, salt), g in pdf.groupby(["term", "salt"], sort=False):
            ids = np.concatenate(
                [np.frombuffer(b, dtype=np.int64) for b in g["ids"]])
            counts = np.concatenate(
                [np.frombuffer(b, dtype=np.int32) for b in g["counts"]])
            pos = np.concatenate(
                [np.frombuffer(b, dtype=np.int32) for b in g["pos"]])
            idx, keep = remap_keep(ext_sorted, ids)
            order = np.argsort(ids, kind="stable")
            order = order[keep[order]]  # sorted doc order, droppeds gone
            if order.size == 0:
                continue
            if order.size > 1:
                oi = ids[order]
                first = np.empty(oi.size, dtype=bool)
                first[0] = True
                np.not_equal(oi[1:], oi[:-1], out=first[1:])
                if not first.all():
                    # re-delivered identical docs: keep one copy of the
                    # doc's position segment (see tf reduce remap)
                    order = order[first]
            starts = np.concatenate(
                ([0], np.cumsum(counts[:-1], dtype=np.int64)))
            rows.append((term, int(salt),
                         idx[order].astype(np.int64).tobytes(),
                         counts[order].tobytes(),
                         _reorder_segments(pos, starts, counts,
                                           order).tobytes()))
        if rows:
            yield pd.DataFrame(
                rows, columns=["term", "salt", "ids", "counts", "pos"])
    return reduce


def pos_runs_to_store(spark: SparkSession, runs: DataFrame, docs: DataFrame,
                      n_docs: int, n_salts: int, partitions: int,
                      docs_path: str | None = None) -> DataFrame:
    """doc_id-keyed packed position runs + docs snapshot (ordinal map) ->
    final positional store rows. THE shared positional tail — the
    single-scan batch build, the streaming compactor, and the incremental
    compactor all feed it, so every ingestion mode is byte-identical by
    construction. Two regimes like index_build.runs_to_index:

    - under BROADCAST_DOC_LIMIT: runs shuffle on their (term, ext-salt)
      keys; the reduce merges + remaps in one vectorized pass per group
      and the final merge is the salt-order concat fast path;
    - past it: runs unpack to position rows and JOIN the partitioned
      ordinal map — no driver array anywhere."""
    from . import index_build as ib
    if n_docs <= ib.BROADCAST_DOC_LIMIT:
        ext_bc = spark.sparkContext.broadcast(
            ib._doc_ids_sorted(docs, docs_path))
        partials = (runs.repartition(partitions, "term", "salt")
                    .mapInPandas(_reduce_remap_pos_runs_factory(ext_bc),
                                 schema=POS_RUN_SCHEMA))
        return (partials.repartition(partitions, "term")
                .sortWithinPartitions("term", "salt")
                .mapInPandas(_merge_pos_runs, schema=POS_SCHEMA))
    rows = (runs.mapInPandas(
                _unpack_pos_runs,
                schema="term string, doc_id long, position int")
            .join(docs.select("doc_id", "ordinal"), "doc_id")
            .select("term", "ordinal", "position"))
    return _pos_rows_to_index(rows, n_docs, n_salts, partitions)


def _unpack_pos_runs(batches: Iterator[pd.DataFrame]
                     ) -> Iterator[pd.DataFrame]:
    """Packed external-id position runs -> (term, doc_id, position) rows,
    for the beyond-broadcast-limit compaction path."""
    for pdf in batches:
        outs = []
        for term, ids_b, cnt_b, pos_b in zip(pdf["term"], pdf["ids"],
                                             pdf["counts"], pdf["pos"]):
            ids = np.frombuffer(ids_b, dtype=np.int64)
            counts = np.frombuffer(cnt_b, dtype=np.int32)
            pos = np.frombuffer(pos_b, dtype=np.int32)
            outs.append(pd.DataFrame({
                "term": term,
                "doc_id": np.repeat(ids, counts),
                "position": pos}))
        if outs:
            yield pd.concat(outs, ignore_index=True)


def _pack_pos_rows(batches: Iterator[pd.DataFrame]
                   ) -> Iterator[pd.DataFrame]:
    """(term, salt, ordinal, position) rows of one shuffle partition ->
    one packed sorted run per (term, salt)."""
    parts = [p for p in batches if len(p)]
    if not parts:
        return
    pdf = pd.concat(parts, ignore_index=True) if len(parts) > 1 else parts[0]
    rows = []
    for (term, salt), g in pdf.groupby(["term", "salt"], sort=False):
        ords = g["ordinal"].to_numpy(np.int64)
        pos = g["position"].to_numpy(np.int32)
        order = np.lexsort((pos, ords))
        ords, pos = ords[order], pos[order]
        if ords.size > 1:
            first = np.empty(ords.size, dtype=bool)
            first[0] = True
            first[1:] = (ords[1:] != ords[:-1]) | (pos[1:] != pos[:-1])
            if not first.all():  # re-delivered docs: identical (ord, pos)
                ords, pos = ords[first], pos[first]
        newdoc = np.empty(ords.size, dtype=bool)
        newdoc[0] = True
        newdoc[1:] = np.diff(ords) != 0
        dstarts = np.flatnonzero(newdoc)
        counts = np.diff(np.concatenate((dstarts, [ords.size]))) \
            .astype(np.int32)
        rows.append((term, int(salt), ords[dstarts].tobytes(),
                     counts.tobytes(), pos.tobytes()))
    yield pd.DataFrame(rows,
                       columns=["term", "salt", "ids", "counts", "pos"])


def _pos_rows_to_index(rows: DataFrame, n_docs: int, n_salts: int,
                       partitions: int) -> DataFrame:
    """(term, ordinal, position) rows -> positional store rows via the same
    salted two-phase shape as the batch build — the beyond-broadcast path
    for streamed compaction (position rows join the partitioned ordinal
    map upstream; nothing needs the whole doc set on one machine)."""
    salt_div = max(1, (n_docs + n_salts - 1) // n_salts)
    salted = rows.withColumn(
        "salt", F.floor(F.col("ordinal") / F.lit(salt_div)).cast("int"))
    packed = (salted.repartition(partitions, "term", "salt")
              .mapInPandas(_pack_pos_rows, schema=POS_RUN_SCHEMA))
    return (packed.repartition(partitions, "term")
            .sortWithinPartitions("term", "salt")
            .mapInPandas(_merge_pos_runs_sorting, schema=POS_SCHEMA))


def write_positions_stage(spark: SparkSession, man, pos_runs: DataFrame,
                          docs: DataFrame, n_docs: int, n_salts: int,
                          partitions: int) -> None:
    """doc_id-keyed position runs -> positional store stage write +
    manifest commit. THE one writer — build_index(with_positions), the
    unified-stream compactor, and legacy compact_positions all call it, so
    every ingestion mode runs the identical pos_runs_to_store tail (stage
    metrics ride the write's Observation; no extra count job)."""
    from pyspark.sql import Observation
    t0 = man.begin("positions")
    posidx = pos_runs_to_store(spark, pos_runs, docs, n_docs, n_salts,
                               partitions, docs_path=man.stage_path("docs"))
    obs = Observation("pos_stats")
    posidx = posidx.observe(obs, F.count(F.lit(1)).alias("n_terms"),
                            F.sum("df").alias("postings"))
    posidx.write.mode("overwrite").parquet(man.stage_path("positions"))
    got = obs.get
    man.commit("positions", t0, int(got["n_terms"] or 0),
               {"postings_emitted": int(got["postings"] or 0),
                "n_salts": n_salts, "partitions": partitions})


def compact_positions(spark: SparkSession, work_dir: str, out_dir: str,
                      *, n_salts: int = 8,
                      partitions: int | None = None,
                      pos_files: list[str] | None = None) -> None:
    """Build the positional store of a compacted (streamed) index from the
    pos_partials a LEGACY multi-stream ingest emitted — byte-identical to
    batch build_positions over the same corpus (tests enforce, incl.
    duplicate content and the beyond-broadcast regime). The unified-scan
    layout does not come through here (compact() feeds the scan's position
    rows straight to write_positions_stage). Requires the compacted
    docs/stats stages (ordinals) to exist in out_dir. pos_files restricts
    the read to an explicit file subset (incremental segment path)."""
    from .checkpoint import BuildManifest
    man = BuildManifest(out_dir)
    if man.is_complete("positions"):
        return
    partitions = partitions or max(8, spark.sparkContext.defaultParallelism)
    n_docs = int(man.state["completed"]["stats"]["metrics"]["n_docs"])
    docs = spark.read.parquet(man.stage_path("docs"))
    runs = (spark.read.parquet(*pos_files) if pos_files
            else spark.read.parquet(os.path.join(work_dir, "pos_partials")))
    write_positions_stage(spark, man, runs, docs, n_docs, n_salts,
                          partitions)


def build_positions(spark: SparkSession, corpus: DataFrame, index_dir: str,
                    *, n_salts: int = 8,
                    partitions: int | None = None) -> None:
    """Build the positional store next to an existing built index (its docs
    snapshot supplies the ordinals). Same two-phase salted shape as the tf
    index; writes <index_dir>/positions."""
    from .checkpoint import BuildManifest
    man = BuildManifest(index_dir)
    if man.is_complete("positions"):
        return
    partitions = partitions or max(8, spark.sparkContext.defaultParallelism)
    n_docs = int(man.state["completed"]["stats"]["metrics"]["n_docs"])
    docs = spark.read.parquet(man.stage_path("docs"))
    corpus = corpus.where(F.col("content").isNotNull())
    t0 = man.begin("positions")
    pair = ordinal_content_pairs(corpus, docs, n_docs)
    runs = pair.mapInArrow(
        _map_pos_runs_factory(n_docs, n_salts), schema=POS_RUN_SCHEMA)
    partials = (runs.repartition(partitions, "term", "salt")
                .mapInPandas(_reduce_pos_runs, schema=POS_RUN_SCHEMA))
    posidx = (partials.repartition(partitions, "term")
              .sortWithinPartitions("term", "salt")
              .mapInPandas(_merge_pos_runs, schema=POS_SCHEMA))
    from pyspark.sql import Observation
    obs = Observation("pos_stats")
    posidx = posidx.observe(obs, F.count(F.lit(1)).alias("n_terms"),
                            F.sum("df").alias("postings"))
    posidx.write.mode("overwrite").parquet(man.stage_path("positions"))
    got = obs.get
    man.commit("positions", t0, int(got["n_terms"]),
               {"postings_emitted": int(got["postings"] or 0),
                "n_salts": n_salts, "partitions": partitions})


def decode_position_row(ords_b: bytes, counts_b: bytes, pos_b: bytes
                        ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """-> (ordinals asc, per-ordinal counts, absolute positions flat)."""
    ords = np.cumsum(varint_decode(ords_b), dtype=np.uint64).astype(np.int64)
    counts = varint_decode(counts_b).astype(np.int64)
    deltas = varint_decode(pos_b).astype(np.int64)
    if deltas.size == 0:
        return ords, counts, deltas
    cs = np.cumsum(deltas)
    starts = np.concatenate(([0], np.cumsum(counts[:-1])))
    base = cs[starts] - deltas[starts]  # cumulative sum before each segment
    return ords, counts, cs - np.repeat(base, counts)


def _near_match(k1: np.ndarray, k2: np.ndarray, p2: np.ndarray,
                slop: int) -> np.ndarray:
    """Composite keys of term1 occurrences that have a term2 occurrence
    within (pos, pos+slop]. k1/k2 are ordinal*2^32+pos keys; p2 the raw
    positions of k2's occurrences (to mask shifts that would cross into the
    previous doc's key space). Result keys are unique (each term1 position
    counts once)."""
    if k1.size == 0 or k2.size == 0:
        return k1[:0]
    shifted = [ (k2 - np.int64(d))[p2 >= d] for d in range(1, slop + 1) ]
    window = np.unique(np.concatenate(shifted)) if shifted else k2[:0]
    return np.intersect1d(k1, window, assume_unique=True)


class PhraseEngine:
    """Exact-phrase search over the positional store. Matching is NumPy
    set algebra on composite (ordinal, position) keys — no per-doc loops.

    Traversal is candidate-driven, rarest term first: the rarest phrase
    term decodes fully (it is small), every later term fetches+decodes
    ONLY the storage blocks that still hold candidate docs (parquet
    pushdown on (term, block)) — a stopword in the phrase costs a few
    blocks, not its whole position stream.

    Regimes: the DRIVER matching paths key on global ordinal*2^32+pos
    and are valid for ordinals < 2^31 — comfortably above their
    documented <=10^8-doc low-latency regime. The *_distributed paths
    rebase ordinals per storage block (local ordinal < 2^14) before
    keying, so they are overflow-free at ANY corpus size and resolve
    their top-k through a k-row broadcast join (no driver arrays)."""

    #: decoded-block cache budget — LRU-evicted past this many (term, block)
    #: entries, so a long-lived serve process holds bounded driver memory
    #: no matter how many distinct phrase queries it answers
    CACHE_MAX_BLOCKS = 4096

    def __init__(self, spark: SparkSession, index_dir: str,
                 cache_max_blocks: int | None = None):
        from collections import OrderedDict
        self.spark = spark
        self.index_dir = index_dir
        self.pos_df = spark.read.parquet(
            os.path.join(index_dir, "positions"))
        self._docs_df = spark.read.parquet(
            os.path.join(index_dir, "docs"))
        # tf-index frame, loaded lazily: only NOT-term exclusion reads it
        # (a NOT term's doc set comes from its tf postings — decoding its
        # POSITION stream would move every occurrence, not every doc)
        self._index_df = None
        # metadata filter columns by ordinal (driver paths; lazy, cached)
        self._meta_cache: dict[str, np.ndarray] = {}
        # ordinal -> doc_id driver array: materialized LAZILY, only by the
        # low-latency driver-matching paths (<=10^8-doc regime). The
        # distributed paths never touch it — their ordinals resolve via a
        # k-row broadcast join (the search_big tail), so a 10^12-doc serve
        # process can answer phrase/NEAR queries with no full-docs
        # materialization anywhere (test-enforced).
        self._ext_ids_arr: np.ndarray | None = None
        # (term, block) -> decoded triple; None marks a fetched-empty block.
        # LRU-bounded (ADVICE r2: the unbounded dict accumulated every
        # decoded block forever in a serving process).
        self._cache: "OrderedDict[tuple[str, int], tuple | None]" = \
            OrderedDict()
        self._cache_max = (cache_max_blocks if cache_max_blocks is not None
                           else self.CACHE_MAX_BLOCKS)
        self._occ: dict[str, int] = {}  # total occurrences per term
        # logical-delete exclusion (deletes.py): sorted dead ordinals
        self._excl_arr: np.ndarray | None = None
        self._excl_bc = None

    def set_exclusions(self, ordinals) -> None:
        """Logical deletes (deletes.member_exclusions): a sorted
        dead-ordinal array excluded from every subsequent result set on
        BOTH matching regimes. Occurrence counts and relative ranking of
        surviving docs are unchanged — phrase/NEAR matching is doc-local
        — so exclusion here equals filtering the full result list (the
        Lucene stats-until-merge contract, test-enforced). One Spark
        broadcast per call (refresh-time, not per query); None clears."""
        if self._excl_bc is not None:
            self._excl_bc.unpersist()
            self._excl_bc = None
        self._excl_arr = None
        if ordinals is not None and len(ordinals):
            arr = np.sort(np.asarray(ordinals, dtype=np.int64))
            self._excl_arr = arr
            self._excl_bc = self.spark.sparkContext.broadcast(arr)

    def _mask_dead(self, uniq: np.ndarray, n_occ: np.ndarray
                   ) -> tuple[np.ndarray, np.ndarray]:
        """Drop logically deleted ordinals from driver-path hits."""
        exc = self._excl_arr
        if exc is None or uniq.size == 0:
            return uniq, n_occ
        pos = np.searchsorted(exc, uniq)
        pos_c = np.minimum(pos, exc.size - 1)
        dead = (pos < exc.size) & (exc[pos_c] == uniq)
        if dead.any():
            return uniq[~dead], n_occ[~dead]
        return uniq, n_occ

    # ------------------------- result-set restriction (filters / NOT terms)
    # Proximity ranking is doc-local (n_occ), so restricting the hit set
    # before top-k equals filtering the full result list — the same
    # stats-free argument as logical deletes (and the same application
    # points: _mask_dead for the driver paths, _resolve_topk for the
    # distributed ones).

    def _the_index_df(self):
        if self._index_df is None:
            self._index_df = self.spark.read.parquet(
                os.path.join(self.index_dir, "index"))
        return self._index_df

    def _meta_col(self, name: str) -> np.ndarray:
        if name not in self._meta_cache:
            self._meta_cache[name] = meta_column(self.index_dir, name)
        return self._meta_cache[name]

    def _restrict_driver(self, uniq: np.ndarray, n_occ: np.ndarray,
                         filters: dict[str, str] | None,
                         not_terms: list[str] | None
                         ) -> tuple[np.ndarray, np.ndarray]:
        """Driver-path hit restriction (the <=10^8-doc array regime, like
        the rest of the driver paths)."""
        uniq, n_occ = self._mask_dead(uniq, n_occ)
        if filters and uniq.size:
            keep = np.ones(uniq.size, dtype=bool)
            for field, value in filters.items():
                col = self._meta_col(field)[uniq]
                keep &= (np.char.startswith(col, value)
                         if field == "path" else (col == value))
            uniq, n_occ = uniq[keep], n_occ[keep]
        if not_terms and uniq.size:
            bad = read_postings(self.index_dir, sorted(set(not_terms)))
            if bad:
                excl = np.unique(np.concatenate(
                    [tp.doc_ids for tp in bad.values()]))
                keep = ~_lookup(excl, uniq)[1]
                uniq, n_occ = uniq[keep], n_occ[keep]
        return uniq, n_occ

    def _restrict_hits(self, hits: DataFrame,
                       filters: dict[str, str] | None,
                       not_terms: list[str] | None) -> DataFrame:
        """Distributed-path hit restriction: a broadcast semi-join against
        the filtered docs ordinals and an anti-join against the NOT terms'
        posting ordinals — both before the top-k sort+limit, no driver
        array anywhere (hit frames hold matching docs only)."""
        if filters:
            from .query import _filters_col
            hits = hits.join(
                self._docs_df
                .where(_filters_col(filters, self._docs_df.columns))
                .select("ordinal"), "ordinal", "leftsemi")
        if not_terms:
            from .query import _ordinals_frame
            hits = hits.join(
                _ordinals_frame(self._the_index_df(),
                                sorted(set(not_terms))),
                "ordinal", "left_anti")
        return hits

    def _filter_hits(self, hits: DataFrame) -> DataFrame:
        """Drop logically deleted ordinals from distributed hit rows —
        BEFORE the top-k sort+limit, so exclusion is exact. The dead set
        rides the refresh-time broadcast; hit frames are tiny (matching
        docs only), so the extra Arrow hop is noise."""
        bc = self._excl_bc
        if bc is None:
            return hits

        def f(batches):
            exc = bc.value
            for pdf in batches:
                u = pdf["ordinal"].to_numpy(np.int64)
                pos = np.searchsorted(exc, u)
                pos_c = np.minimum(pos, exc.size - 1)
                dead = (pos < exc.size) & (exc[pos_c] == u)
                yield pdf[~dead] if dead.any() else pdf

        return hits.mapInPandas(f, schema="ordinal long, n_occ long")

    def _cache_put(self, key: tuple[str, int], val) -> None:
        self._cache[key] = val
        self._cache.move_to_end(key)
        while len(self._cache) > self._cache_max:
            self._cache.popitem(last=False)

    def _cache_hit(self, key: tuple[str, int]):
        """Fetch + mark recently-used (None stays a valid 'empty' marker)."""
        val = self._cache.get(key)
        if key in self._cache:
            self._cache.move_to_end(key)
        return val

    def clear_cache(self) -> None:
        self._cache.clear()

    @property
    def _ext_ids(self) -> np.ndarray:
        if self._ext_ids_arr is None:
            docs = (self._docs_df.select("ordinal", "doc_id")
                    .orderBy("ordinal").toPandas())
            self._ext_ids_arr = docs["doc_id"].to_numpy(np.int64)
        return self._ext_ids_arr

    def _resolve_topk(self, hits: DataFrame, k: int,
                      filters: dict[str, str] | None = None,
                      not_terms: list[str] | None = None
                      ) -> list[tuple[int, int, int]]:
        """(ordinal, n_occ) hit rows -> [(rank, doc_id, n_occ)] via
        distributed sort+limit and a k-row broadcast join to doc_id —
        ordinal asc == doc_id asc, so tie-breaks carry. No driver array."""
        hits = self._filter_hits(hits)
        hits = self._restrict_hits(hits, filters, not_terms)
        top = (hits.orderBy(F.col("n_occ").desc(), "ordinal").limit(k)
               .select("ordinal", "n_occ"))
        rows = (F.broadcast(top)
                .join(self._docs_df.select("ordinal", "doc_id"), "ordinal")
                .orderBy(F.col("n_occ").desc(), "ordinal")
                .collect())
        return [(i + 1, int(r["doc_id"]), int(r["n_occ"]))
                for i, r in enumerate(rows)]

    def _term_occ(self, terms: list[str]) -> dict[str, int]:
        missing = [t for t in set(terms) if t not in self._occ]
        if missing:
            rows = (self.pos_df.where(F.col("term").isin(missing))
                    .groupBy("term").agg(F.sum("n").alias("n")).collect())
            got = {r["term"]: int(r["n"]) for r in rows}
            for t in missing:
                self._occ[t] = got.get(t, 0)
        return {t: self._occ[t] for t in set(terms)}

    def _fetch_blocks(self, term: str, blocks: np.ndarray | None
                      ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """Decoded (ords, counts, positions) of `term`, restricted to
        `blocks` (None = all). Block-granular cache."""
        # `have` holds this call's working set directly — the LRU cache is
        # an accelerator only; eviction can never drop a needed block
        have: dict[int, tuple | None] = {}
        if blocks is None:
            cond = F.col("term") == term
            wanted = None
        else:
            wanted = []
            for b in (int(x) for x in blocks):
                if (term, b) in self._cache:
                    have[b] = self._cache_hit((term, b))
                else:
                    wanted.append(b)
            cond = (F.col("term") == term) & F.col("block").isin(wanted)
        if blocks is None or wanted:
            rows = (self.pos_df.where(cond)
                    .select("block", "ords", "counts", "pos").collect())
            got = {int(r["block"]): decode_position_row(
                bytes(r["ords"]), bytes(r["counts"]), bytes(r["pos"]))
                for r in rows}
            if blocks is None:
                have = got
            else:
                for b in wanted:
                    have[b] = got.get(b)
            for b, v in got.items():
                self._cache_put((term, b), v)
            if blocks is not None:
                for b in wanted:
                    if b not in got:
                        self._cache_put((term, b), None)
        use = sorted(have)
        parts = [v for b in use if (v := have.get(b))]
        if not parts:
            z = np.empty(0, dtype=np.int64)
            return z, z, z
        return (np.concatenate([p[0] for p in parts]),
                np.concatenate([p[1] for p in parts]),
                np.concatenate([p[2] for p in parts]))

    def search_phrase(self, phrase: str, k: int = 10,
                      filters: dict[str, str] | None = None,
                      not_terms: list[str] | None = None
                      ) -> list[tuple[int, int, int]]:
        """[(rank, doc_id, n_occurrences)] of docs containing the EXACT
        token sequence (engine tokenizer semantics), ranked by occurrence
        count desc then doc_id asc. filters/not_terms restrict the result
        set (see _restrict_driver)."""
        terms = tokenize(phrase)  # order + duplicates preserved
        if not terms or k <= 0:
            return []
        occ = self._term_occ(terms)
        if any(occ[t] == 0 for t in set(terms)):
            return []  # some phrase term absent anywhere
        # visit phrase slots rarest-term-first (intersection commutes;
        # each slot j keeps its own key shift)
        slots = sorted(enumerate(terms), key=lambda jt: (occ[jt[1]], jt[0]))
        match: np.ndarray | None = None
        for j, t in slots:
            if match is None:
                ords, counts, pos = self._fetch_blocks(t, None)
            else:
                cand_blocks = np.unique(
                    (match // _SHIFT) >> np.int64(POS_BLOCK_BITS))
                ords, counts, pos = self._fetch_blocks(t, cand_blocks)
            keys = np.repeat(ords, counts) * _SHIFT + pos - np.int64(j)
            if j:
                keys = keys[pos >= j]  # phrase can't start before doc pos 0
            match = keys if match is None else np.intersect1d(
                match, keys, assume_unique=True)
            if match.size == 0:
                return []
        doc_ords = (match // _SHIFT).astype(np.int64)
        uniq, n_occ = np.unique(doc_ords, return_counts=True)
        uniq, n_occ = self._restrict_driver(uniq, n_occ, filters, not_terms)
        order = np.lexsort((uniq, -n_occ))[:k]
        return [(i + 1, int(self._ext_ids[uniq[j]]), int(n_occ[j]))
                for i, j in enumerate(order)]

    def search_near(self, term1: str, term2: str, slop: int = 1,
                    k: int = 10,
                    filters: dict[str, str] | None = None,
                    not_terms: list[str] | None = None
                    ) -> list[tuple[int, int, int]]:
        """Proximity search `term1 NEAR/slop term2` (ordered): ranks docs
        where an occurrence of term2 follows term1 within `slop` positions
        (slop=1 == exact adjacency). n_occ counts the matching term1
        positions. Same composite-key set algebra as search_phrase — the
        slop window is the union of `slop` shifted copies of term2's keys
        (deduplicated, so each term1 position counts once no matter how
        many term2 occurrences land in its window). Rarest term decodes
        first; the other fetches only candidate blocks."""
        t1 = tokenize(term1)
        t2 = tokenize(term2)
        if len(t1) != 1 or len(t2) != 1 or slop < 1 or k <= 0:
            return []
        t1, t2 = t1[0], t2[0]
        occ = self._term_occ([t1, t2])
        if occ[t1] == 0 or occ[t2] == 0:
            return []
        if occ[t2] <= occ[t1]:  # decode the rarer side fully
            o2, c2, p2 = self._fetch_blocks(t2, None)
            k2 = np.repeat(o2, c2) * _SHIFT + p2
            cand = np.unique(k2 // _SHIFT) >> np.int64(POS_BLOCK_BITS)
            o1, c1, p1 = self._fetch_blocks(t1, np.unique(cand))
            k1 = np.repeat(o1, c1) * _SHIFT + p1
        else:
            o1, c1, p1 = self._fetch_blocks(t1, None)
            k1 = np.repeat(o1, c1) * _SHIFT + p1
            cand = np.unique(k1 // _SHIFT) >> np.int64(POS_BLOCK_BITS)
            o2, c2, p2 = self._fetch_blocks(t2, np.unique(cand))
            k2 = np.repeat(o2, c2) * _SHIFT + p2
        matched = _near_match(k1, k2, p2, slop)
        if matched.size == 0:
            return []
        uniq, n_occ = np.unique(matched // _SHIFT, return_counts=True)
        uniq, n_occ = self._restrict_driver(uniq, n_occ, filters, not_terms)
        order = np.lexsort((uniq, -n_occ))[:k]
        return [(i + 1, int(self._ext_ids[uniq[j]]), int(n_occ[j]))
                for i, j in enumerate(order)]

    def search_phrase_sloppy(self, phrase: str, slop: int = 1,
                             k: int = 10,
                             filters: dict[str, str] | None = None,
                             not_terms: list[str] | None = None
                             ) -> list[tuple[int, int, int]]:
        """Windowed-chain phrase search: docs containing positions
        p_0 < p_1 < ... < p_{m-1} of the phrase terms (in order) with
        every consecutive gap p_j - p_{j-1} <= slop. slop=1 is exactly
        search_phrase (test-enforced); n_occ counts the distinct starting
        positions p_0 that begin at least one valid chain. Matching runs
        BACKWARD: valid positions of the last term are all its
        occurrences; a position of term j survives iff some surviving
        position of term j+1 lies within (p, p+slop] — each step is the
        same shifted-key intersection as NEAR, so the whole chain is
        m-1 _near_match calls over composite keys. Fetch is
        candidate-driven like search_phrase: the rarest term decodes
        fully first, every other term only its candidate blocks."""
        terms = tokenize(phrase)
        if not terms or slop < 1 or k <= 0:
            return []
        if len(terms) == 1:
            return self.search_phrase(phrase, k=k, filters=filters,
                                      not_terms=not_terms)
        occ = self._term_occ(terms)
        if any(occ[t] == 0 for t in set(terms)):
            return []
        # fetch keys for every slot, rarest term first: its blocks bound
        # every later fetch (a matching doc must contain the rarest term,
        # so restricting to its blocks is a correct superset)
        order = sorted(range(len(terms)), key=lambda j: (occ[terms[j]], j))
        keys: dict[int, np.ndarray] = {}
        cand_blocks = None
        for j in order:
            t = terms[j]
            o, c, p = self._fetch_blocks(t, cand_blocks)
            kj = np.repeat(o, c) * _SHIFT + p
            keys[j] = kj
            if kj.size == 0:
                return []
            if cand_blocks is None:
                cand_blocks = np.unique(
                    (kj // _SHIFT) >> np.int64(POS_BLOCK_BITS))
        valid = keys[len(terms) - 1]
        for j in range(len(terms) - 2, -1, -1):
            kj = keys[j]
            # positions of valid (j+1)-chains, shifted back into slot j's
            # window: p_j survives iff p_{j+1} in (p_j, p_j + slop]
            pv = (valid % _SHIFT).astype(np.int64)
            valid = _near_match(kj, valid, pv, slop)
            if valid.size == 0:
                return []
        uniq, n_occ = np.unique(valid // _SHIFT, return_counts=True)
        uniq, n_occ = self._restrict_driver(uniq, n_occ, filters, not_terms)
        ordr = np.lexsort((uniq, -n_occ))[:k]
        return [(i + 1, int(self._ext_ids[uniq[j]]), int(n_occ[j]))
                for i, j in enumerate(ordr)]

    def search_near_distributed(self, term1: str, term2: str, slop: int = 1,
                                k: int = 10,
                                filters: dict[str, str] | None = None,
                                not_terms: list[str] | None = None
                                ) -> list[tuple[int, int, int]]:
        """search_near as a Spark job (same result — tests assert it):
        per-storage-block applyInPandas groups intersect locally, only
        (ordinal, n_occ) hit rows leave the executors — the hot-term NEAR
        path at scale, mirroring search_phrase_distributed."""
        import pandas as pd

        t1l, t2l = tokenize(term1), tokenize(term2)
        if len(t1l) != 1 or len(t2l) != 1 or slop < 1 or k <= 0:
            return []
        t1, t2 = t1l[0], t2l[0]
        shift = int(_SHIFT)

        def kern(pdf: pd.DataFrame) -> pd.DataFrame:
            # ordinals REBASE to the block (ordinal - block<<BITS < 2^14)
            # before keying: global ordinal*2^32 keys would wrap int64
            # past 2^31 docs — exactly the regime this path serves
            base = np.int64(int(pdf["block"].iloc[0]) << POS_BLOCK_BITS)
            by_term = {}
            for r in pdf.itertuples(index=False):
                by_term[r.term] = decode_position_row(
                    bytes(r.ords), bytes(r.counts), bytes(r.pos))
            empty = pd.DataFrame({"ordinal": np.empty(0, np.int64),
                                  "n_occ": np.empty(0, np.int64)})
            if t1 not in by_term or t2 not in by_term:
                return empty
            o1, c1, p1 = by_term[t1]
            o2, c2, p2 = by_term[t2]
            k1 = np.repeat(o1 - base, c1) * np.int64(shift) + p1
            k2 = np.repeat(o2 - base, c2) * np.int64(shift) + p2
            matched = _near_match(k1, k2, p2, slop)
            if matched.size == 0:
                return empty
            uniq, n_occ = np.unique(matched // np.int64(shift),
                                    return_counts=True)
            return pd.DataFrame({"ordinal": uniq.astype(np.int64) + base,
                                 "n_occ": n_occ.astype(np.int64)})

        tset = [t1] if t1 == t2 else [t1, t2]
        hits = (self.pos_df.where(F.col("term").isin(tset))
                .select("term", "block", "ords", "counts", "pos")
                .groupBy("block")
                .applyInPandas(kern, schema="ordinal long, n_occ long"))
        return self._resolve_topk(hits, k, filters, not_terms)

    def search_phrase_sloppy_distributed(self, phrase: str, slop: int = 1,
                                         k: int = 10,
                                         filters: dict[str, str] | None
                                         = None,
                                         not_terms: list[str] | None = None
                                         ) -> list[tuple[int, int, int]]:
        """search_phrase_sloppy as a Spark job (same result — tests assert
        it): chain matching is per-doc local and a doc's positions for all
        terms share one storage block, so each applyInPandas group runs
        the backward shifted-key chain over one block and only
        (ordinal, n_occ) hit rows leave the executors."""
        import pandas as pd

        terms = tokenize(phrase)
        if not terms or slop < 1 or k <= 0:
            return []
        if len(terms) == 1:
            return self.search_phrase_distributed(phrase, k=k,
                                                  filters=filters,
                                                  not_terms=not_terms)
        tset = sorted(set(terms))
        need = len(tset)
        shift = int(_SHIFT)
        m = len(terms)

        def kern(pdf: pd.DataFrame) -> pd.DataFrame:
            # per-block ordinal rebase — see search_near_distributed
            base = np.int64(int(pdf["block"].iloc[0]) << POS_BLOCK_BITS)
            by_term = {}
            for r in pdf.itertuples(index=False):
                by_term[r.term] = decode_position_row(
                    bytes(r.ords), bytes(r.counts), bytes(r.pos))
            empty = pd.DataFrame({"ordinal": np.empty(0, np.int64),
                                  "n_occ": np.empty(0, np.int64)})
            if len(by_term) < need:
                return empty
            keys = {}
            for j in range(m):
                o, c, p = by_term[terms[j]]
                keys[j] = np.repeat(o - base, c) * np.int64(shift) + p
                if keys[j].size == 0:
                    return empty
            valid = keys[m - 1]
            for j in range(m - 2, -1, -1):
                pv = (valid % np.int64(shift)).astype(np.int64)
                valid = _near_match(keys[j], valid, pv, slop)
                if valid.size == 0:
                    return empty
            uniq, n_occ = np.unique(valid // np.int64(shift),
                                    return_counts=True)
            return pd.DataFrame({"ordinal": uniq.astype(np.int64) + base,
                                 "n_occ": n_occ.astype(np.int64)})

        hits = (self.pos_df.where(F.col("term").isin(tset))
                .select("term", "block", "ords", "counts", "pos")
                .groupBy("block")
                .applyInPandas(kern, schema="ordinal long, n_occ long"))
        return self._resolve_topk(hits, k, filters, not_terms)

    def search_phrase_distributed(self, phrase: str, k: int = 10,
                                  filters: dict[str, str] | None = None,
                                  not_terms: list[str] | None = None
                                  ) -> list[tuple[int, int, int]]:
        """Same result as search_phrase (tests assert it), computed as a
        Spark job: phrase matching is per-doc local and every doc's
        positions for ALL terms share one storage block, so blocks are
        embarrassingly parallel — each applyInPandas group decodes and
        intersects one block's slices, and only (ordinal, n_occ) hit rows
        leave the executors. This is the stopword-phrase path at scale:
        the driver variant above moves every hot-term occurrence through
        one machine; this one moves none."""
        import pandas as pd

        terms = tokenize(phrase)
        if not terms or k <= 0:
            return []
        slots = list(enumerate(terms))
        tset = sorted(set(terms))
        need = len(tset)
        shift = int(_SHIFT)

        def kern(pdf: pd.DataFrame) -> pd.DataFrame:
            # per-block ordinal rebase: global ordinal*2^32 keys would
            # wrap int64 past 2^31 docs — the regime this path serves
            base = np.int64(int(pdf["block"].iloc[0]) << POS_BLOCK_BITS)
            by_term = {}
            for r in pdf.itertuples(index=False):  # <= |terms| rows
                by_term[r.term] = decode_position_row(
                    bytes(r.ords), bytes(r.counts), bytes(r.pos))
            empty = pd.DataFrame({"ordinal": np.empty(0, np.int64),
                                  "n_occ": np.empty(0, np.int64)})
            if len(by_term) < need:
                return empty
            ordered = sorted(slots,
                             key=lambda jt: by_term[jt[1]][1].sum())
            match = None
            for j, t in ordered:
                ords, counts, pos = by_term[t]
                keys = np.repeat(ords - base, counts) * np.int64(shift) \
                    + pos - np.int64(j)
                if j:
                    keys = keys[pos >= j]
                match = keys if match is None else np.intersect1d(
                    match, keys, assume_unique=True)
                if match.size == 0:
                    return empty
            uniq, n_occ = np.unique(match // np.int64(shift),
                                    return_counts=True)
            return pd.DataFrame({"ordinal": uniq.astype(np.int64) + base,
                                 "n_occ": n_occ.astype(np.int64)})

        hits = (self.pos_df.where(F.col("term").isin(tset))
                .select("term", "block", "ords", "counts", "pos")
                .groupBy("block")
                .applyInPandas(kern, schema="ordinal long, n_occ long"))
        return self._resolve_topk(hits, k, filters, not_terms)
