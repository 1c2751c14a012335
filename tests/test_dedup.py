"""Content dedup wired into the build (the reference contentSeen analog,
crawler/Crawler.java:177-190): duplicate-content rows collapse to the
min-doc_id canonical BEFORE indexing, the alias map persists in the
snapshot, and injecting duplicates leaves the index byte-identical."""

import pandas as pd

from engine.corpus import corpus_to_spark, doc_id_of, make_corpus
from engine.index_build import build_index


def _fingerprint(spark, out):
    rows = (spark.read.parquet(f"{out}/index")
            .select("term", "df", "postings").collect())
    return sorted((r["term"], r["df"], bytes(r["postings"])) for r in rows)


def _with_duplicates(pdf, n_dups):
    """Re-inject the first n_dups docs under new paths chosen so the
    duplicate's doc_id hashes HIGHER than the original's (canonical =
    min(doc_id), so the original stays canonical and the doc set after
    dedup is exactly the original corpus)."""
    dups = pdf.iloc[:n_dups].copy()
    new_paths, new_ids = [], []
    for r in dups.itertuples():
        k = 0
        while True:
            p = f"{r.path}.dup{k}"
            did = doc_id_of(r.repo, p, r.commit)
            if did > r.doc_id:
                break
            k += 1
        new_paths.append(p)
        new_ids.append(did)
    dups["path"] = new_paths
    dups["doc_id"] = new_ids
    return pd.concat([pdf, dups], ignore_index=True), dict(
        zip(new_ids, pdf.iloc[:n_dups]["doc_id"]))


def test_duplicates_do_not_change_index(spark, tmp_path):
    pdf = make_corpus(200, seed=31)
    out_clean = str(tmp_path / "clean")
    build_index(spark, corpus_to_spark(spark, pdf), out_clean,
                n_salts=4, partitions=4)

    big, expected_alias = _with_duplicates(pdf, 30)
    out_dup = str(tmp_path / "dup")
    build_index(spark, corpus_to_spark(spark, big), out_dup,
                n_salts=4, partitions=4)

    assert _fingerprint(spark, out_dup) == _fingerprint(spark, out_clean)
    docs_n = spark.read.parquet(f"{out_dup}/docs").count()
    assert docs_n == len(pdf)  # aliases excluded from the snapshot

    alias_rows = spark.read.parquet(f"{out_dup}/aliases").collect()
    got = {r["doc_id"]: r["canonical_doc_id"] for r in alias_rows}
    assert got == {int(k): int(v) for k, v in expected_alias.items()}


def test_dedup_off_keeps_all_rows(spark, tmp_path):
    pdf = make_corpus(80, seed=33)
    big, _ = _with_duplicates(pdf, 10)
    out = str(tmp_path / "nodedup")
    build_index(spark, corpus_to_spark(spark, big), out,
                n_salts=4, partitions=4, dedup_content=False)
    assert spark.read.parquet(f"{out}/docs").count() == len(big)


def test_served_alias_resolves_to_canonical(spark, tmp_path):
    from engine.server import SearchService
    pdf = make_corpus(60, seed=35)
    big, expected_alias = _with_duplicates(pdf, 5)
    out = str(tmp_path / "srv")
    build_index(spark, corpus_to_spark(spark, big), out,
                n_salts=4, partitions=4)
    svc = SearchService(spark, out)
    alias_id, canon_id = next(iter(expected_alias.items()))
    assert svc.resolve(int(alias_id)) == svc.resolve(int(canon_id))


def test_regex_serves_no_alias_ids(spark, tmp_path):
    """/regex answers with served docs only, whether the pattern prunes
    or not: an unselective pattern's full verify scan covers the index's
    docs, not the source table's dedup aliases — so the driver and big
    regimes answer the same ids."""
    from engine.server import SearchService
    pdf = make_corpus(200, seed=31)
    big, expected_alias = _with_duplicates(pdf, 30)
    out, src = str(tmp_path / "idx"), str(tmp_path / "src")
    corpus_to_spark(spark, big).write.parquet(src)
    build_index(spark, corpus_to_spark(spark, big), out,
                n_salts=4, partitions=4)
    driver = SearchService(spark, out, source_path=src)
    big_svc = SearchService(spark, out, big=True, source_path=src)
    try:
        for pattern in (r"identifier_1\d", r"\bdef\b"):
            got = driver.regex_payload(pattern, k=300)
            assert got == big_svc.regex_payload(pattern, k=300), pattern
            ids = {r["doc_id"] for r in got}
            assert ids and not ids & set(expected_alias), pattern
            assert ids <= set(pdf["doc_id"].astype(int)), pattern
    finally:
        big_svc.close()
