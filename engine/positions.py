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
Phrase matching (PhraseEngine) is pure NumPy set algebra, one storage
block at a time: each occurrence of phrase term j becomes the composite
key (ordinal - block base)*2^32 + (pos - j); a doc position starts the
phrase iff the key survives intersection across all terms.

Scale notes: build volume ~= total token occurrences (inherently — it IS
the positional index); the packed-run shuffle keeps rows ~terms x salts x
partitions like the tf build. Query fetch is parquet predicate pushdown on
``term`` exactly like the tf index.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from functools import reduce

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
from .kernel import Segment, _lookup, _TermCache, _term_rows
from .query import (
    _check_columns,
    _excl_value,
    _member_topks,
    _merge_federated,
)
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


def _block_keys(triple: tuple, base: np.int64) -> np.ndarray:
    """Sorted composite keys (ordinal - base)*2^32 + pos of one decoded
    (term, block) row. The ordinal is rebased to its storage block
    (< 2^POS_BLOCK_BITS), so a key never overflows int64 at any corpus
    size."""
    ords, counts, pos = triple
    return np.repeat(ords - base, counts) * _SHIFT + pos


def _phrase_keys(slots: list[tuple], base: np.int64) -> np.ndarray:
    """Start keys of the exact phrase in one block: slot j's keys shift
    back by j, and a start survives iff every slot holds it. Slots
    intersect rarest first (intersection commutes)."""
    match = None
    for j in sorted(range(len(slots)), key=lambda j: slots[j][2].size):
        keys = _block_keys(slots[j], base) - np.int64(j)
        if j:
            keys = keys[slots[j][2] >= j]  # no phrase starts before pos 0
        match = keys if match is None else np.intersect1d(
            match, keys, assume_unique=True)
        if not match.size:
            break
    return match


def _chain_keys(slots: list[tuple], base: np.int64, slop: int
                ) -> np.ndarray:
    """Start keys of the windowed chain in one block, matched BACKWARD:
    every position of the last slot is valid, and a position p of slot j
    survives iff a valid position of slot j+1 lies within (p, p+slop] —
    one _near_match per step."""
    valid = _block_keys(slots[-1], base)
    for j in range(len(slots) - 2, -1, -1):
        if not valid.size:
            break
        valid = _near_match(_block_keys(slots[j], base), valid,
                            valid % _SHIFT, slop)
    return valid


def near_terms(term1: str, term2: str) -> list[str]:
    """`term1 NEAR/slop term2` as the two-slot chain [term1, term2]; []
    (matches nothing) unless each side is exactly one token."""
    t1, t2 = tokenize(term1), tokenize(term2)
    return t1 + t2 if len(t1) == 1 == len(t2) else []


class PhraseEngine:
    """Exact-phrase, sloppy-phrase and NEAR matching over ONE segment's
    positional store — the positional twin of kernel.Segment, with no
    Spark anywhere.

    Reads go through ``pyarrow.dataset`` like the kernel's: the queried
    terms' block directory (term -> the storage blocks holding it), then
    only the blocks that hold EVERY distinct query term — a doc's
    positions for all terms share its one block — through a decoded-block
    cache keyed by (term, block). A stopword in the phrase costs the
    blocks of the rarer terms, not its whole position stream.

    Matching is NumPy set algebra on composite (ordinal, position) keys,
    block by block with ordinals rebased to the block (_block_keys), so
    it is overflow-free at any corpus size. Filters, NOT terms and
    tombstone exclusions restrict the matching docs through the segment's
    kernel.Segment._restrict — proximity ranking is doc-local, so
    restriction commutes with the top-k — and doc ids come from its
    ``_ext_ids``.

    Regimes: the driver-map SearchService runs it in-process over its
    SearchEngine segment (no Spark job, caches live with the service);
    the big regime runs it per federation member inside one Spark task
    (search_positional_federated), so a request is one job for any
    number of members."""

    #: decoded-block cache budget — LRU-evicted past this many (term, block)
    #: entries, so a long-lived serve process holds bounded driver memory
    #: no matter how many distinct phrase queries it answers
    CACHE_MAX_BLOCKS = 4096

    def __init__(self, index_dir: str, segment: Segment | None = None,
                 cache_max_blocks: int | None = None):
        self.index_dir = index_dir
        self._path = os.path.join(index_dir, "positions")
        self._seg = segment
        budget = (cache_max_blocks if cache_max_blocks is not None
                  else self.CACHE_MAX_BLOCKS)
        self._dir = _TermCache(self._read_dir, budget)
        self._blocks = _TermCache(self._read_blocks, budget)

    @property
    def segment(self) -> Segment:
        """The segment that restricts hits and maps ordinals to doc ids,
        read on first need (a query without hits reads no docs column).
        It never scores, so it carries no BM25 weights."""
        if self._seg is None:
            self._seg = Segment(self.index_dir, 0, 0.0)
        return self._seg

    def _read_dir(self, terms: list[str]) -> dict[str, np.ndarray]:
        tbl = _term_rows(self._path, terms, ["term", "block"])
        got: dict[str, list[int]] = {}
        for t, b in zip(tbl.column("term").to_pylist(),
                        tbl.column("block").to_pylist()):
            got.setdefault(t, []).append(b)
        return {t: np.unique(np.array(bs, dtype=np.int64))
                for t, bs in got.items()}

    def _read_blocks(self, keys: list[tuple[str, int]]) -> dict:
        want = set(keys)
        cols = ["term", "block", "ords", "counts", "pos"]
        blocks = pc.field("block").isin(sorted({b for _t, b in want}))
        tbl = _term_rows(self._path, sorted({t for t, _b in want}), cols,
                         blocks)
        return {(t, b): decode_position_row(o, c, p)
                for t, b, o, c, p in zip(
                    *(tbl.column(x).to_pylist() for x in cols))
                if (t, b) in want}

    def topk(self, terms: list[str], slop: int | None = None, k: int = 10,
             filters: dict[str, str] | None = None,
             not_terms: list[str] | None = None,
             exclude: np.ndarray | None = None
             ) -> list[tuple[int, int, int]]:
        """[(rank, doc_id, n_occ)] of the docs matching the token sequence
        ``terms``, ranked by n_occ DESC then doc_id ASC. slop=None: the
        exact phrase, n_occ its occurrences. slop>=1: the windowed chain
        p_0 < ... < p_{m-1} of the terms in order with every gap
        p_j - p_{j-1} <= slop, n_occ the distinct starting positions p_0.
        filters/not_terms/exclude (sorted dead ordinals) restrict the
        result set."""
        if not terms or k <= 0 or (slop is not None and slop < 1):
            return []
        distinct = sorted(set(terms))
        dirs = self._dir.get(distinct)
        if len(dirs) < len(distinct):
            return []  # some term absent from the segment
        blocks = reduce(np.intersect1d, [dirs[t] for t in distinct]).tolist()
        dec = self._blocks.get([(t, b) for t in distinct for b in blocks])
        ords, n_occ = [], []
        for b in blocks:
            base = np.int64(b << POS_BLOCK_BITS)
            slots = [dec[(t, b)] for t in terms]
            keys = (_phrase_keys(slots, base) if slop is None
                    else _chain_keys(slots, base, slop))
            u, n = np.unique(keys // _SHIFT, return_counts=True)
            ords.append(u + base)
            n_occ.append(n)
        ords = np.concatenate(ords) if ords else np.empty(0, np.int64)
        if not ords.size:
            return []
        n_occ = np.concatenate(n_occ)
        seg = self.segment
        keep = _lookup(seg._restrict(ords, filters, not_terms, exclude),
                       ords)[1]
        ords, n_occ = ords[keep], n_occ[keep]
        order = np.lexsort((ords, -n_occ))[:k]
        return [(i + 1, int(seg._ext_ids[ords[j]]), int(n_occ[j]))
                for i, j in enumerate(order)]

    def search_phrase(self, phrase: str, k: int = 10,
                      filters: dict[str, str] | None = None,
                      not_terms: list[str] | None = None
                      ) -> list[tuple[int, int, int]]:
        """Docs containing the EXACT token sequence (engine tokenizer
        semantics), n_occ its occurrences."""
        return self.topk(tokenize(phrase), None, k, filters, not_terms)

    def search_phrase_sloppy(self, phrase: str, slop: int = 1, k: int = 10,
                             filters: dict[str, str] | None = None,
                             not_terms: list[str] | None = None
                             ) -> list[tuple[int, int, int]]:
        """Windowed-chain phrase search (see topk); slop=1 equals
        search_phrase (test-enforced)."""
        return self.topk(tokenize(phrase), slop, k, filters, not_terms)

    def search_near(self, term1: str, term2: str, slop: int = 1,
                    k: int = 10, filters: dict[str, str] | None = None,
                    not_terms: list[str] | None = None
                    ) -> list[tuple[int, int, int]]:
        """Ordered proximity `term1 NEAR/slop term2`: term1 positions with
        a term2 occurrence within the next `slop` positions (slop=1 is
        exact adjacency), n_occ counting those term1 positions — the
        two-slot chain."""
        return self.topk(near_terms(term1, term2), slop, k, filters,
                         not_terms)


def search_positional_federated(spark: SparkSession, index_dirs: list[str],
                                terms: list[str], slop: int | None = None,
                                k: int = 10, excludes: list | None = None,
                                filters: dict[str, str] | None = None,
                                not_terms: list[str] | None = None,
                                display: dict | None = None
                                ) -> list[tuple[int, int, int]]:
    """PhraseEngine.topk over a federation of doc-disjoint segments in ONE
    Spark job, a task per member (query._member_topks): no doc array and
    no position reaches the driver, only the k×S result rows. n_occ is
    doc-local, so the members' top-ks merge exactly by (n_occ DESC,
    doc_id ASC) — ordinals ascend with doc_id within and across segments —
    and restriction inside each member commutes with the merge.
    excludes: per-member dead-ordinal arrays or Broadcasts; display: filled
    with the result rows' display fields, read in the same tasks
    (query._member_topks)."""
    if (not terms or k <= 0 or not index_dirs
            or (slop is not None and slop < 1)):
        return []
    _check_columns(index_dirs, filters)

    def score(i):
        return PhraseEngine(index_dirs[i]).topk(
            terms, slop, k, filters, not_terms,
            _excl_value(excludes[i]) if excludes else None), (0, 0, [])

    per, _counters = _member_topks(spark, index_dirs, score, display)
    return [(r, d, int(n)) for r, d, n in _merge_federated(per, k)]
