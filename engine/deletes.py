"""Document deletion — tombstones, logical serving excludes, physical apply.

The reference's only delete path is re-crawling and re-indexing the whole
`crawl` table (README.md:19-21): removing one document costs a full
rebuild. At 10^12 files the standard answer is Lucene's two-phase delete:

1. record tombstones cheaply: ``delete_docs(work_dir, ids)`` appends a
   parquet file of doc_ids under ``work_dir/deletes/`` — metadata only,
   the index is untouched;
2. LOGICAL delete at query time: the NRT serving view excludes deleted
   docs from every result set while the index's statistics (N, avgdl,
   df) stay as built — Lucene's stats-until-merge semantics (scores of
   surviving docs are unchanged, so exclusion commutes with ranking);
3. PHYSICAL delete at the next ``compact_incremental``: merge_indexes
   masks the dead docs' postings/positions at the ordinal remap (the
   same ``remap_keep`` idiom that drops duplicate-content docs),
   reassigns dense ordinals and recomputes every statistic —
   byte-identical to a monolithic batch build over the surviving corpus
   (test-enforced, positions included).

Delete semantics are CONTENT-IDENTITY CLASS deletes: deleting any doc_id
removes its whole content-equivalence class (the canonical doc AND every
alias). The engine's contentSeen dedup (index_build.alias_map_of) serves
a class as ONE document, so the class is the only self-consistent unit of
deletion — and it is what a training-data curation pipeline wants
(removing a document means removing every byte-identical copy). Deleting
an unknown or already-deleted doc_id is a no-op (idempotent). Indexes
built without content dedup have singleton classes; deletion degrades to
plain per-doc_id removal.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DELETE_DIR = "deletes"

# Max dead ordinals shipped per segment on the LOGICAL serving path (32 MB
# of int64 at the gate). Lucene's analog is the per-segment live-docs bitset;
# past the gate the answer is the same as Lucene's too: run the compaction
# (physical apply is pure joins/remaps with no driver array anywhere).
EXCLUDE_SHIP_LIMIT = 4_000_000


def _delete_dir(work_dir: str) -> str:
    return os.path.join(work_dir, DELETE_DIR)


def delete_docs(work_dir: str, doc_ids) -> str:
    """Record tombstones for ``doc_ids`` (any int iterable): appends one
    immutable parquet file under work_dir/deletes/ (atomic rename) and
    returns its path. Pure driver-side metadata write — no Spark job, no
    index mutation; the delete takes effect logically at the next serving
    refresh and physically at the next compact_incremental."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ids = np.unique(np.asarray(list(doc_ids), dtype=np.int64))
    if ids.size == 0:
        raise ValueError("delete_docs: empty doc_id list")
    d = _delete_dir(work_dir)
    os.makedirs(d, exist_ok=True)
    nxt = 1 + max(
        (int(f.split("-")[1].split(".")[0])
         for f in os.listdir(d)
         if f.startswith("del-") and f.endswith(".parquet")),
        default=0)
    path = os.path.join(d, f"del-{nxt:05d}.parquet")
    tmp = path + ".tmp"
    pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64())}), tmp)
    os.replace(tmp, path)
    return path


def delete_files(work_dir: str) -> list[str]:
    """All tombstone files ever written to this work dir, sorted (file
    order is irrelevant to semantics — deletes are idempotent set
    unions)."""
    d = _delete_dir(work_dir)
    if not os.path.isdir(d):
        return []
    return sorted(
        os.path.join(d, f) for f in os.listdir(d)
        if f.startswith("del-") and f.endswith(".parquet"))


def pending_delete_files(work_dir: str, state: dict) -> list[str]:
    """Tombstone files no compaction generation has consumed yet (state is
    streaming._load_compaction_state's dict)."""
    seen = {f for g in state.get("generations", [])
            for f in g.get("delete_files", [])}
    return [f for f in delete_files(work_dir) if f not in seen]


def tombstones_frame(spark: SparkSession, files: list[str]
                     ) -> DataFrame | None:
    """The distinct tombstoned doc_ids of ``files`` as a DataFrame (None
    when there are none) — the physical-apply path reads tombstones
    distributed, never onto the driver."""
    if not files:
        return None
    return spark.read.parquet(*files).select("doc_id").distinct()


def _canonical(tomb: DataFrame, aliases: DataFrame | None) -> DataFrame:
    """Tombstoned doc_ids resolved through the alias map to their
    canonical (chains have length <= 1 in a deduped index): the
    canonicals of the tombstoned aliases, plus the tombstoned ids that
    are no alias. Both joins broadcast their tombstone-sized side (a
    left outer join from the tombstones could only build the alias
    side, so a broadcast hint on the tombstones was dropped)."""
    if aliases is None:
        return tomb
    hit = (aliases.select("doc_id", "canonical_doc_id")
           .join(F.broadcast(tomb), "doc_id"))
    rest = tomb.join(F.broadcast(hit.select("doc_id")), "doc_id",
                     "left_anti")
    return (hit.select(F.col("canonical_doc_id").alias("doc_id"))
            .unionByName(rest))


def _aliases_frame(spark: SparkSession, index_dir: str) -> DataFrame | None:
    """A segment's alias map, gated on the MANIFEST (an aliases dir an
    older build left behind is not trusted)."""
    from .checkpoint import BuildManifest
    man = BuildManifest(index_dir)
    return (spark.read.parquet(man.stage_path("aliases"))
            if man.is_complete("aliases") else None)


def dead_sha_frame(docs_union: DataFrame, aliases: DataFrame | None,
                   tomb: DataFrame) -> DataFrame:
    """The content_sha256 values of every tombstoned doc's content class:
    tombstoned ids resolve through the alias map to their canonical
    (chains have length <= 1 in a deduped index), then to the canonical's
    sha. Unknown ids simply don't join — idempotent. The resolved ids
    are tombstone-sized and broadcast against the doc table, and so is
    the result, by the caller."""
    return (docs_union.select("doc_id", "content_sha256")
            .join(F.broadcast(_canonical(tomb, aliases).distinct()),
                  "doc_id")
            .select("content_sha256").distinct())


def filter_dead(docs_union: DataFrame, aliases: DataFrame | None,
                tomb: DataFrame | None
                ) -> tuple[DataFrame, DataFrame | None]:
    """(live docs, dead_ids) of a doc-metadata table under class-delete
    semantics. dead_ids (None when tomb is None) holds the doc_ids of
    every class member whose class was tombstoned — the caller also drops
    alias rows pointing at them. When the table has no content_sha256
    (legacy, dedup off), classes are singletons: the tombstoned ids
    themselves (alias-resolved) die."""
    if tomb is None:
        return docs_union, None
    if "content_sha256" in docs_union.columns:
        shas = dead_sha_frame(docs_union, aliases, tomb)
        dead = (docs_union
                .join(F.broadcast(shas), "content_sha256", "leftsemi")
                .select("doc_id"))
    else:
        dead = (docs_union.select("doc_id")
                .join(F.broadcast(_canonical(tomb, aliases).distinct()),
                      "doc_id", "leftsemi"))
    live = docs_union.join(dead, "doc_id", "left_anti")
    return live, dead


def member_exclusions(spark: SparkSession, members: list,
                      tomb: DataFrame | None) -> list | None:
    """Per-segment sorted dead-ORDINAL arrays for the logical (NRT)
    serving path: tombstoned ids resolve to content classes ACROSS the
    federation (the same content may live in several members before the
    merge collapses it), then each member reports the ordinals of its own
    dead docs. Runs at refresh time, never per query; each array ships to
    that member's queries as a broadcast. members are the big regime's
    member records (server._Member: index_dir, docs_df). Returns None
    when nothing is excluded."""
    if tomb is None:
        return None
    sha_parts = []
    id_parts = []
    for s in members:
        aliases = _aliases_frame(spark, s.index_dir)
        if "content_sha256" in s.docs_df.columns:
            sha_parts.append(dead_sha_frame(s.docs_df, aliases, tomb))
        else:
            id_parts.append(_canonical(tomb, aliases).distinct())
    shas = None
    for p in sha_parts:
        shas = p if shas is None else shas.unionByName(p)
    if shas is not None:
        shas = F.broadcast(shas.distinct())
    ids = None
    for p in id_parts:
        ids = p if ids is None else ids.unionByName(p)
    if ids is not None:
        ids = F.broadcast(ids.distinct())

    out = []
    any_dead = False
    for s in members:
        conds = []
        docs = s.docs_df
        if shas is not None and "content_sha256" in docs.columns:
            conds.append(docs.join(shas, "content_sha256", "leftsemi"))
        if ids is not None:
            conds.append(docs.join(ids, "doc_id", "leftsemi"))
        dead = None
        for c in conds:
            d = c.select("ordinal")
            dead = d if dead is None else dead.unionByName(d)
        if dead is None:
            out.append(None)
            continue
        arr = (dead.distinct().toPandas()["ordinal"]
               .to_numpy(np.int64))
        if arr.size > EXCLUDE_SHIP_LIMIT:
            raise ValueError(
                f"{arr.size} logically deleted docs in one segment "
                f"exceeds EXCLUDE_SHIP_LIMIT ({EXCLUDE_SHIP_LIMIT}); run "
                "compact_incremental to apply the deletes physically")
        arr.sort()
        out.append(arr if arr.size else None)
        any_dead = any_dead or arr.size > 0
    return out if any_dead else None
