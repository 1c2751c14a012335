"""spark-submit entry point (north_rule: "run via spark-submit --py-files").

Usage:
  spark-submit --py-files engine.zip -m engine.cli ...   # or:
  spark-submit cli_wrapper; locally: python -m engine.cli <cmd> ...

  build   --input DIR|synthetic:N --out DIR [--salts S] [--partitions P]
  query   --index DIR --query TEXT [--k K] [--mode ranked|conjunctive]
  ingest  --source DIR --work DIR [--positions]  (incremental streaming
          ingest, drains available files exactly-once and exits; re-run as
          files land; --positions also emits position runs)
  compact --work DIR --out DIR       (streamed partials -> queryable index,
          incl. the positional store when the ingest ran --positions)
  merge   --inputs DIR,DIR,... --out DIR  (segment merge: N built indexes ->
          one, byte-identical to a monolithic build over the union)
  delete  --work DIR --ids 1,2,... [--ids-file F]  (tombstone the ids'
          content-identity classes: logical at next serve refresh,
          physical at next compact --incremental — which is then
          byte-identical to a batch build over the survivors)
  bulk    --index DIR --queries TABLE --out DIR [--k K] [--mode M]
          [--pairs --n-hard H --n-rand R]  (whole query set -> top-k
          parquet in ONE job — engine/bulk.py; --pairs mines
          pos/hard/rand training pairs instead)
  serve   --index DIR [--host H] [--port P] [--big] [--work WORK]
          (HTTP shim: GET /search returns the reference Searcher's
          {url, rank_score, title, body} JSON; --big = zero-driver-array
          10^12-doc regime; --work = NRT federated view over the current
          generation + fresh uncompacted segment, GET /refresh re-resolves)
  bench   (delegates to bench.py's main)

`build --input DIR` expects a parquet table in the input_hint shape
(repo, path, commit, lang, content); doc_id/content_sha256 are derived if
absent. `synthetic:N` generates the deterministic Zipf corpus (testing).
"""

from __future__ import annotations

import argparse
import json
import sys


def _spark(args):
    from pyspark.sql import SparkSession

    from engine.session import get_spark
    if args.master:
        return get_spark(master=args.master)
    # under spark-submit the master is already in the conf; reuse it
    try:
        return SparkSession.builder.appName("fulltext-engine").getOrCreate()
    except Exception:
        return get_spark()


def main(argv=None):
    p = argparse.ArgumentParser(prog="engine")
    p.add_argument("--master", default="", help="override spark master")
    sub = p.add_subparsers(dest="cmd", required=True)

    pb = sub.add_parser("build")
    pb.add_argument("--input", required=True)
    pb.add_argument("--format", default="parquet",
                    choices=["parquet", "json", "csv"],
                    help="source format of the corpus table (json = JSONL; "
                         "csv = header + quoted multiline content)")
    pb.add_argument("--out", required=True)
    pb.add_argument("--salts", type=int, default=None)
    pb.add_argument("--partitions", type=int, default=None)
    pb.add_argument("--no-resume", action="store_true")
    pb.add_argument("--positions", action="store_true",
                    help="also build the positional store (phrase search)")

    pq = sub.add_parser("query")
    pq.add_argument("--index", required=True)
    pq.add_argument("--query", required=True)
    pq.add_argument("--k", type=int, default=10)
    pq.add_argument("--mode", default="ranked",
                    choices=["ranked", "conjunctive", "phrase"])
    pq.add_argument("--scoring", default="bm25",
                    choices=["bm25", "tfidf", "bm25f"],
                    help="bm25 (north rule), tfidf (the reference's "
                         "formula), bm25f (path field boost)")

    pi = sub.add_parser("ingest")
    pi.add_argument("--source", required=True)
    pi.add_argument("--work", required=True)
    pi.add_argument("--salts", type=int, default=8)
    pi.add_argument("--positions", action="store_true",
                    help="also emit position runs (phrase/NEAR search "
                         "after compact)")

    pc = sub.add_parser("compact")
    pc.add_argument("--work", required=True)
    pc.add_argument("--out", required=True)
    pc.add_argument("--salts", type=int, default=8)
    pc.add_argument("--partitions", type=int, default=16)
    pc.add_argument("--incremental", action="store_true",
                    help="consume only not-yet-compacted partials and merge "
                         "with the previous generation (O(new data), not "
                         "O(all partials ever)); serve the dir printed as "
                         "'current'")
    pc.add_argument("--no-dedup-content", action="store_true",
                    help="skip the content-sha aliases stage (legacy "
                         "partials without content_sha256)")
    pc.add_argument("--verify", action="store_true",
                    help="fsck the compacted index before reporting "
                         "success (exit nonzero on any violation)")

    pm = sub.add_parser("merge")
    pm.add_argument("--inputs", required=True,
                    help="comma-separated built index dirs")
    pm.add_argument("--out", required=True)
    pm.add_argument("--salts", type=int, default=8)
    pm.add_argument("--partitions", type=int, default=16)
    pm.add_argument("--no-dedup-content", action="store_true",
                    help="skip cross-segment content dedup (legacy indexes "
                         "without content_sha256 in their docs snapshots)")
    pm.add_argument("--verify", action="store_true",
                    help="fsck the merged index before reporting success "
                         "(exit nonzero on any violation)")

    pd_ = sub.add_parser("delete")
    pd_.add_argument("--work", required=True,
                     help="streaming work dir (tombstones land in "
                          "WORK/deletes/)")
    pd_.add_argument("--ids", default=None,
                     help="comma-separated doc_ids to delete (the whole "
                          "content-identity class of each dies: canonical "
                          "+ every alias)")
    pd_.add_argument("--ids-file", default=None,
                     help="file with one doc_id per line")

    ps = sub.add_parser("serve")
    ps.add_argument("--index", required=True)
    ps.add_argument("--host", default="127.0.0.1")
    ps.add_argument("--port", type=int, default=8080)
    ps.add_argument("--big", action="store_true",
                    help="10^12-doc regime: the index served as a "
                         "federation of one segment (distributed "
                         "kernels + phrase, k-row display joins, no "
                         "driver maps)")
    ps.add_argument("--work", default=None,
                    help="streaming work dir: serve the NRT federated "
                         "view (current generation + fresh uncompacted "
                         "segment; GET /refresh re-resolves it) — "
                         "--index is the compact --incremental out dir")
    ps.add_argument("--source", default=None,
                    help="corpus parquet the index was built from: "
                         "enables GET /regex (single-index AND federated "
                         "--work mode)")

    pml = sub.add_parser("mlt")
    pml.add_argument("--index", required=True)
    pml.add_argument("--doc-id", type=int, required=True)
    pml.add_argument("--k", type=int, default=10)
    pml.add_argument("--prepare", action="store_true",
                     help="materialize the doc_terms term-vector stage "
                          "first if missing (one postings-decode job)")

    pbk = sub.add_parser("bulk")
    pbk.add_argument("--index", required=True)
    pbk.add_argument("--queries", required=True,
                     help="query table with columns (qid, query)")
    pbk.add_argument("--format", default="parquet",
                     choices=["parquet", "json", "csv"],
                     help="query-table format (json = JSONL)")
    pbk.add_argument("--out", required=True, help="output parquet dir")
    pbk.add_argument("--k", type=int, default=10)
    pbk.add_argument("--mode", default="ranked",
                     choices=["ranked", "conjunctive"])
    pbk.add_argument("--pairs", action="store_true",
                     help="mine training pairs (pos = top-k, hard "
                          "negatives = next --n-hard ranks, --n-rand "
                          "md5-pool random negatives) instead of top-k")
    pbk.add_argument("--n-hard", type=int, default=10)
    pbk.add_argument("--n-rand", type=int, default=0)

    pr = sub.add_parser("regex", help="regex content search, index-pruned")
    pr.add_argument("--index", required=True)
    pr.add_argument("--pattern", required=True)
    pr.add_argument("--source", required=True,
                    help="corpus table the index was built from "
                         "(parquet path or synthetic:N)")
    pr.add_argument("--limit", type=int, default=100)
    pr.add_argument("--no-prune", action="store_true",
                    help="skip index pruning (full verify scan)")

    pv = sub.add_parser("verify", help="fsck a built index's artifacts")
    pv.add_argument("--index", required=True)
    pv.add_argument("--deep", action="store_true",
                    help="also check per-ordinal tf mass vs doc_len "
                         "(O(postings) shuffle)")
    pv.add_argument("--skip-positions", action="store_true")

    pf = sub.add_parser("fuzzy-index")
    pf.add_argument("--index", required=True,
                    help="materialize the deletion-neighborhood table "
                         "(INDEX/fuzzy) so `term~` queries expand via "
                         "pushdown key lookups instead of a dictionary "
                         "scan")

    pa = sub.add_parser(
        "ann", help="approximate nearest neighbors over an embeddings "
                    "table (array<float> column), cosine top-k")
    pa.add_argument("--embeddings", required=True,
                    help="sf dir holding embeddings.parquet "
                         "(vec_id, embedding)")
    pa.add_argument("--query-ids", required=True,
                    help="comma-separated vec_ids to search for")
    pa.add_argument("--k", type=int, default=5)
    pa.add_argument("--method", choices=["exact", "lsh", "ivf"],
                    default="ivf",
                    help="exact = brute-force O(Q x N) baseline; lsh = "
                         "hyperplane bucket equi-join; ivf = trained "
                         "cells + probe")
    pa.add_argument("--nprobe", type=int, default=None,
                    help="ivf: probed cells per query (recall dial)")
    pa.add_argument("--assign", type=int, default=None,
                    help="ivf: cells per indexed vector (cell spilling "
                         "— index-size-for-recall dial)")
    pa.add_argument("--ivf-k", type=int, default=None,
                    help="ivf: number of trained cells")

    sub.add_parser("bench")

    args = p.parse_args(argv)

    if args.cmd == "bench":
        sys.path.insert(0, ".")
        import bench
        bench.main()
        return
    if args.cmd == "delete":
        # pure driver-side metadata write — no Spark session needed
        from engine.deletes import delete_docs
        ids: list[int] = []
        if args.ids:
            ids += [int(x) for x in args.ids.split(",") if x.strip()]
        if args.ids_file:
            with open(args.ids_file) as f:
                ids += [int(ln) for ln in f if ln.strip()]
        if not ids:
            p.error("delete: pass --ids and/or --ids-file")
        path = delete_docs(args.work, ids)
        print(json.dumps({"tombstones": path, "n_ids": len(set(ids)),
                          "effect": "logical at next serve refresh, "
                                    "physical at next compact "
                                    "--incremental"}))
        return

    spark = _spark(args)
    if args.cmd == "build":
        from engine.index_build import build_index
        if args.input.startswith("synthetic:"):
            from engine.corpus import corpus_to_spark, make_corpus
            corpus = corpus_to_spark(
                spark, make_corpus(int(args.input.split(":", 1)[1])))
        elif args.format == "parquet":
            corpus = spark.read.parquet(args.input)
        else:
            # input_hint shape; doc_id/content_sha256 are derived
            from pyspark.sql import types as T
            schema = T.StructType([
                T.StructField(f, T.StringType(), True)
                for f in ("repo", "path", "commit", "lang", "content")])
            if args.format == "json":
                corpus = spark.read.schema(schema).json(args.input)
            else:
                corpus = (spark.read.schema(schema)
                          .option("header", True).option("multiLine", True)
                          .option("escape", '"').csv(args.input))
        # --positions rides the SAME single content scan as the tf index
        # (build_index with_positions) — one tokenization for everything
        man = build_index(spark, corpus, args.out, n_salts=args.salts,
                          partitions=args.partitions,
                          resume=not args.no_resume,
                          with_positions=args.positions)
        print(json.dumps(man.metrics(), indent=1))
    elif args.cmd == "query":
        # same operator surface as the HTTP service: metadata filters
        # (lang:python repo:org/x path:src/) and NOT terms (-term)
        from engine.tokenizer import parse_query
        q, filters, not_terms = parse_query(args.query)
        if args.mode == "phrase":
            from engine.positions import PhraseEngine
            res = PhraseEngine(args.index).search_phrase(
                q, k=args.k, filters=filters, not_terms=not_terms)
            print(json.dumps([
                {"rank": r, "doc_id": d, "n_occ": n} for r, d, n in res]))
        elif (args.mode == "ranked" and q.endswith("~") and len(q) > 1
                and " " not in q):
            # trailing-~ fuzzy, same syntax rule as the HTTP service
            from engine.query import SearchEngine
            eng = SearchEngine(spark, args.index)
            res = eng.search_fuzzy(q[:-1].lower(), k=args.k,
                                   filters=filters, not_terms=not_terms)
            print(json.dumps([
                {"rank": r, "doc_id": d, "score": s} for r, d, s in res]))
        elif args.scoring == "tfidf":
            from engine.query import SearchEngine
            eng = SearchEngine(spark, args.index)
            res = eng.search_tfidf_reference(q, k=args.k, filters=filters,
                                             not_terms=not_terms)
            print(json.dumps([
                {"rank": r, "doc_id": d, "score": s} for r, d, s in res]))
        elif args.scoring == "bm25f":
            from engine.fields import FieldedEngine
            from engine.query import SearchEngine
            fe = FieldedEngine(SearchEngine(spark, args.index))
            res = fe.search(q, k=args.k, filters=filters,
                            not_terms=not_terms)
            print(json.dumps([
                {"rank": r, "doc_id": d, "score": s} for r, d, s in res]))
        else:
            from engine.query import SearchEngine
            eng = SearchEngine(spark, args.index)
            res = eng.search(q, k=args.k, mode=args.mode,
                             filters=filters, not_terms=not_terms)
            print(json.dumps([
                {"rank": r, "doc_id": d, "score": s} for r, d, s in res]))
    elif args.cmd == "ingest":
        from engine.corpus import corpus_spark_schema
        from engine.streaming import start_ingest
        qs = start_ingest(spark, args.source, args.work,
                          corpus_spark_schema(), n_salts=args.salts,
                          with_positions=args.positions)
        for q in qs:
            q.awaitTermination()
        print(json.dumps({"ingested": True, "work": args.work}))
    elif args.cmd == "merge":
        from engine.checkpoint import BuildManifest
        from engine.merge import merge_indexes
        merge_indexes(spark, args.inputs.split(","), args.out,
                      n_salts=args.salts, partitions=args.partitions,
                      dedup_content=not args.no_dedup_content)
        if args.verify:
            from engine.verify_index import verify_index
            rep = verify_index(spark, args.out)
            if not rep["ok"]:
                print(json.dumps(rep))
                sys.exit(1)
        print(json.dumps(BuildManifest(args.out).metrics(), indent=1))
    elif args.cmd == "mlt":
        from engine.mlt import ensure_doc_terms, more_like_this
        from engine.query import SearchEngine
        if args.prepare:
            ensure_doc_terms(spark, args.index)
        res = more_like_this(SearchEngine(spark, args.index),
                             args.doc_id, k=args.k)
        print(json.dumps([
            {"rank": r, "doc_id": d, "score": s} for r, d, s in res]))
    elif args.cmd == "bulk":
        from pyspark.sql import functions as F

        from engine.bulk import bulk_topk, mine_training_pairs
        if args.format == "parquet":
            qdf = spark.read.parquet(args.queries)
        elif args.format == "json":
            qdf = spark.read.json(args.queries)
        else:
            qdf = spark.read.option("header", "true").csv(args.queries)
        qdf = qdf.select(F.col("qid").cast("long").alias("qid"),
                         F.col("query").cast("string").alias("query"))
        if args.pairs:
            res = mine_training_pairs(spark, args.index, qdf,
                                      k_pos=args.k, n_hard=args.n_hard,
                                      n_rand=args.n_rand)
        else:
            res = bulk_topk(spark, args.index, qdf, k=args.k,
                            mode=args.mode)
        res.write.mode("overwrite").parquet(args.out)
        n = spark.read.parquet(args.out).count()
        print(json.dumps({"out": args.out, "n_rows": n,
                          "pairs": bool(args.pairs)}))
    elif args.cmd == "regex":
        from engine.regex_query import regex_search_federated
        if args.source.startswith("synthetic:"):
            from engine.corpus import corpus_to_spark, make_corpus
            src = corpus_to_spark(
                spark, make_corpus(int(args.source.split(":", 1)[1])))
        else:
            src = spark.read.parquet(args.source)
        out = regex_search_federated(spark, [args.index], src,
                                     args.pattern, prune=not args.no_prune)
        ids = [r["doc_id"] for r in
               out.orderBy("doc_id").limit(args.limit).collect()]
        print(json.dumps({"pattern": args.pattern, "n_shown": len(ids),
                          "doc_ids": ids}))
    elif args.cmd == "ann":
        from engine import similarity as sim
        qids = [int(x) for x in args.query_ids.split(",") if x != ""]
        if args.method == "exact":
            out = sim.ann_exact_topk(spark, args.embeddings, qids, args.k)
        elif args.method == "lsh":
            out = sim.ann_lsh_topk(spark, args.embeddings, qids, args.k)
        else:
            kw = {}
            if args.nprobe is not None:
                kw["nprobe"] = args.nprobe
            if args.assign is not None:
                kw["assign"] = args.assign
            if args.ivf_k is not None:
                kw["ivf_k"] = args.ivf_k
            out = sim.ann_ivf_topk(spark, args.embeddings, qids, args.k,
                                   **kw)
        rows = out.orderBy("qid", "rank").collect()
        print(json.dumps({"method": args.method, "k": args.k, "results": [
            {"qid": int(r["qid"]), "rank": int(r["rank"]),
             "vec_id": int(r["vec_id"]), "sim": float(r["sim"])}
            for r in rows]}))
    elif args.cmd == "verify":
        from engine.verify_index import main_verify
        sys.exit(main_verify(spark, args.index, deep=args.deep,
                             check_positions=not args.skip_positions))
    elif args.cmd == "fuzzy-index":
        from engine.fuzzy import ensure_fuzzy
        path = ensure_fuzzy(spark, args.index)
        print(json.dumps({"fuzzy": path}))
    elif args.cmd == "serve":
        from engine.server import serve
        serve(spark, args.index, host=args.host, port=args.port,
              big=args.big, work_dir=args.work, source_path=args.source)
    elif args.cmd == "compact":
        from engine.checkpoint import BuildManifest
        if args.incremental:
            from engine.streaming import compact_incremental
            cur = compact_incremental(
                spark, args.work, args.out, n_salts=args.salts,
                partitions=args.partitions,
                dedup_content=not args.no_dedup_content)
            if args.verify:
                from engine.verify_index import verify_index
                rep = verify_index(spark, cur)
                if not rep["ok"]:
                    print(json.dumps(rep))
                    sys.exit(1)
            out = BuildManifest(cur).metrics()
            out["current"] = cur
            print(json.dumps(out, indent=1))
        else:
            from engine.streaming import compact
            compact(spark, args.work, args.out, n_salts=args.salts,
                    partitions=args.partitions,
                    dedup_content=not args.no_dedup_content)
            if args.verify:
                from engine.verify_index import verify_index
                rep = verify_index(spark, args.out)
                if not rep["ok"]:
                    print(json.dumps(rep))
                    sys.exit(1)
            print(json.dumps(BuildManifest(args.out).metrics(), indent=1))


if __name__ == "__main__":
    main()
