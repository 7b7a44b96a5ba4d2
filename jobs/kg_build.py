"""spark-submit entry point for the full KG build.

north_rule evidence: ``spark-submit --py-files onto_text_tag_spark.zip
jobs/kg_build.py --input <docs> --ontology <owl...> --output <root>``
runs the whole DAG (extract → dictionary → tag → doc-term arrays →
per-predicate triple branches → closure) with per-stage resumable
snapshots and lineage manifests.

Scale split: the ontology is driver-side small data (it is parsed on
the driver before it could ever become a DataFrame), so dictionary
build and is-a closure run in pure Python and ship to executors via
broadcast; only the corpus-sized work (extract, tag, co-occur, triple
writes) runs distributed.

Usage (local two-level scaling evidence):
    spark-submit --master local[8]  --py-files pkg.zip jobs/kg_build.py ...
    spark-submit --master local[32] --py-files pkg.zip jobs/kg_build.py ...
"""

from __future__ import annotations

import argparse
import json
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="documents parquet path")
    ap.add_argument("--ontology", nargs="*", default=[],
                    help="OWL/OBO files (ordered; later wins collisions)")
    ap.add_argument("--output", required=True, help="snapshot root dir")
    ap.add_argument("--lang", default="en")
    ap.add_argument("--min-cooccur-weight", type=int, default=1)
    ap.add_argument("--max-doc-freq", type=int, default=None)
    ap.add_argument("--fixture", choices=["mini", "driver"], default="mini",
                    help="built-in ontology when no --ontology files given: "
                    "'mini' matches the synthetic web corpus, 'driver' the "
                    "/root/testdata corpora")
    ap.add_argument("--no-warmup", action="store_true",
                    help="skip the steady-state warmup pass (measured time "
                    "then includes one-time JVM JIT + Python worker forks)")
    ap.add_argument("--termlist", default=None,
                    help="tag from a published 6-col termlist TSV "
                    "(the reference's dictionary interchange, app.py:57-60) "
                    "instead of deriving the dictionary from --ontology/"
                    "--fixture; is-a closure is empty in this mode (the "
                    "termlist carries no hierarchy)")
    ap.add_argument("--from-html", action="store_true",
                    help="ignore any materialized text column and re-extract "
                    "from html:binary — measures the production raw-HTML "
                    "path (P1 byte-identical extraction fused into the "
                    "tagging scan)")
    ap.add_argument("--ntriples", default=None, metavar="DIR",
                    help="additionally export the triples stage as W3C "
                         "N-Triples text shards (RDF interchange for "
                         "downstream consumers; weights become RDF-star "
                         "annotations — sources/ntriples.py)")
    ap.add_argument("--edge-scores", action="store_true",
                    help="additionally write an edge_scores stage: "
                    "jaccard/lift/PMI/NPMI per co-occurrence edge, derived "
                    "from the doc_terms snapshot (no corpus re-read)")
    ap.add_argument("--links", action="store_true",
                    help="additionally write the page link graph from the "
                    "corpus html: a 'links' stage (src_url, dst_url, "
                    "anchor — operators/weblinks.py:extract_links, pure "
                    "JVM-side regexp) and a 'host_graph' stage derived "
                    "from its snapshot (no corpus re-read); requires a "
                    "parquet corpus with an html column (not --warc)")
    ap.add_argument("--trends", nargs="?", const="day", default=None,
                    metavar="BUCKET",
                    help="write a 'trends' stage: distinct-doc mention "
                    "counts per (class, warc_ts BUCKET) with previous-"
                    "bucket deltas (operators/cooccur.py:mention_trends; "
                    "default bucket: day)")
    ap.add_argument("--sketch", nargs="?", const=64, default=None,
                    type=int, metavar="K",
                    help="write a 'term_sketch' stage: mergeable KMV "
                    "document-frequency sketch state per class "
                    "(operators/cooccur.py:term_sketch_partials), the "
                    "seed kg_update --sketch merges crawl deltas into")
    ap.add_argument("--no-nodes", action="store_true",
                    help="skip materializing the nodes table (the edges "
                    "side — the triples stage — is always written)")
    ap.add_argument("--jsonl", action="store_true",
                    help="--input is JSONL document shards "
                    "(sources/jsonl.py vendor interchange; malformed "
                    "lines drop, never kill the build) instead of a "
                    "documents parquet")
    ap.add_argument("--warc", action="store_true",
                    help="--input is a WARC archive glob (*.warc[.gz], the "
                    "Common Crawl interchange) instead of a documents "
                    "parquet; implies the --from-html raw-bytes path")
    args = ap.parse_args()

    from pyspark.sql import SparkSession, functions as F

    from onto_text_tag_spark.dictionary import build_dictionary_rows
    from onto_text_tag_spark.operators.closure import transitive_closure_rows
    from onto_text_tag_spark.operators.cooccur import (
        cooccurrence_edges,
        cooccurrence_edges_from_arrays,
        doc_term_arrays,
    )
    from onto_text_tag_spark.operators.tagger import tag_documents
    from onto_text_tag_spark.plans.kg_pipeline import load_ontology_rows
    from onto_text_tag_spark.session import apply_engine_conf, local_df
    from onto_text_tag_spark.sinks import (
        fingerprint_parquet_inputs,
        read_manifest,
        run_stage,
        stage_is_current,
        write_stage,
        write_stage_branches,
    )
    spark = apply_engine_conf(SparkSession.builder).getOrCreate()

    if not args.no_warmup:
        # Steady-state warmup: fork the Python workers, JIT the codegen
        # paths, and touch the input footers ONCE before the clock
        # starts.  On a long-lived cluster these are amortized across
        # jobs; on a fresh local JVM they would otherwise be billed to
        # the first stage and distort throughput/scaling numbers.
        import pandas as _pd  # noqa: F401

        def _noop(it):
            for b in it:
                yield b

        spark.range(0, 10_000, numPartitions=4).toDF("id").mapInPandas(
            _noop, schema="id long"
        ).count()
        if args.warc:
            spark.read.format("binaryFile").load(args.input) \
                .select("path").limit(10).count()
        else:
            if args.jsonl:
                spark.read.text(args.input).limit(1000).count()
            else:
                spark.read.parquet(args.input).limit(1000).count()

    t0 = time.time()

    # --- driver-side small data: ontology → dictionary + is-a closure ----
    if args.termlist:
        from onto_text_tag_spark.sources.termlist_tsv import read_termlist_rows

        dict_rows = read_termlist_rows(args.termlist)
        isa_pairs = []  # a termlist carries surfaces, not hierarchy
        closure_pairs = []
    else:
        onto_rows = load_ontology_rows(args.ontology, args.fixture)
        dict_rows = build_dictionary_rows(onto_rows)
        isa_pairs = [
            (r["curie"], r["parent_curie"])
            for r in onto_rows
            if r.get("parent_curie")
        ]
        closure_pairs = transitive_closure_rows(isa_pairs)

    # --- distributed corpus-sized work -----------------------------------
    if args.warc:
        # raw crawl archives: record parse + P1 extraction + tagging
        # fuse into ONE batch (tag_documents warc_mode) — archive bytes
        # cross the Arrow boundary once, the decompressed corpus never
        # ships back to the JVM.  Archives are CPU-bound to parse
        # (gunzip + framing + extraction), not IO-bound like parquet:
        # stop binaryFile from packing several per task, or the scan
        # runs at file-bin — not core — count.
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(32 << 20))
        spark.conf.set("spark.sql.files.openCostInBytes", str(32 << 20))
        docs = (spark.read.format("binaryFile").load(args.input)
                .select("path", "content"))
        id_col = "url"
    else:
        if args.jsonl:
            from onto_text_tag_spark.sources.jsonl import (
                read_document_jsonl,
            )

            corpus = read_document_jsonl(
                spark, args.input, mode="DROPMALFORMED"
            )
        else:
            corpus = spark.read.parquet(args.input)
        # P1 fuses into the tagging batch (tag_documents html_col=...):
        # one Arrow crossing, text never materialized JVM-side.  With a
        # text column, html is only the fallback for null-text rows.
        docs = corpus.drop("text") if args.from_html else corpus
        if args.lang and "lang" in docs.columns:
            docs = docs.where(F.col("lang") == args.lang)
        id_col = "url" if "url" in docs.columns else "doc_id"
    fp = fingerprint_parquet_inputs([args.input])
    if args.termlist:
        # the dictionary is an input too: a changed termlist must
        # invalidate the mentions snapshot on resume
        import hashlib

        dict_digest = hashlib.md5(
            repr(
                [
                    (r["surface"], r["id"], r["name"], r["ont"])
                    for r in dict_rows
                ]
            ).encode()
        ).hexdigest()[:16]
        fp = f"{fp}:termlist={dict_digest}"

    stage_sec: dict[str, float] = {"setup": round(time.time() - t0, 2)}

    def timed(name, fn):
        s = time.time()
        out = fn()
        stage_sec[name] = round(time.time() - s, 2)
        return out

    # Stage 1: tag once, snapshot.  Downstream stages read the snapshot —
    # without this, every triple/count action re-runs the tagging UDF.
    mentions = timed("mentions", lambda: run_stage(
        spark, args.output, "mentions",
        lambda: tag_documents(
            docs, dict_rows, id_col=id_col,
            html_col="html" if "html" in docs.columns else None,
            warc_mode=args.warc,
        ),
        input_fingerprint=fp,
    ))
    # row counts come from the stage manifests (parquet footers) — no
    # count jobs; fixed overhead is what caps scaling efficiency here
    n_mentions = read_manifest(args.output, "mentions")["total_rows"]

    # Stage 2: per-doc distinct term arrays — the shared corpus-sized
    # intermediate BOTH triple branches derive from (explode ≡ the
    # distinct (url, curie) relation; double-explode ≡ co-occurring
    # pairs).  Snapshotting it makes the groupBy(url) shuffle run once,
    # resumably, and lets each triple branch below execute as its own
    # clean single-shuffle job.  The previous fused shape (both branches
    # behind one ReusedExchange + one dynamic-partition write) scheduled
    # every branch's partitions into a single write stage whose critical
    # path was the skewed co-occurrence aggregate: measured 1.41x 2->8
    # core speedup vs 2.08x for this split, and 32% more 8-core wall
    # time (see write_stage_branches docstring).
    #
    # Written at core width: AQE coalesces the groupBy(url) shuffle by
    # its bytes (1 MB minPartitionSize floor), and doc_terms is small in
    # bytes, so it landed in 1-2 files and every consumer below ran on
    # 1-2 cores.  The work downstream is not proportional to those
    # bytes: the co-occurrence pair explode is quadratic in terms per
    # doc.  One file per core lets every triple and node branch use
    # every core.
    doc_terms = timed("doc_terms", lambda: run_stage(
        spark, args.output, "doc_terms",
        lambda: doc_term_arrays(mentions).repartition(
            spark.sparkContext.defaultParallelism, "url"),
        input_fingerprint=fp,
    ))

    branch_schema = "subj string, obj string, weight long"
    mention_branch = doc_terms.select(
        F.col("url").alias("subj"),
        F.explode("_terms").alias("obj"),
        F.lit(None).cast("long").alias("weight"),
    )
    if args.max_doc_freq is None:
        # doc_terms is a materialized snapshot of collect_set output, so
        # count(*) ≡ countDistinct(url) and restores the map-side combine
        # that the countDistinct plan forfeits (its phase-1 keys
        # (src, dst, url) are all-distinct here and reduce nothing).
        # Reuse across branches is via the snapshot, not ReusedExchange,
        # so nothing constrains the weight plan.  Measured on 500k-doc
        # materialized mentions: the pair exchange collapses from the
        # full exploded relation to (distinct pairs × partitions) rows —
        # triples-from-arrays 5.7 s → 1.9-3.2 s (BENCH/BASELINE.md
        # 'Triples-plan shapes').
        edges = cooccurrence_edges_from_arrays(
            doc_terms, min_weight=args.min_cooccur_weight,
            assume_deduped=True,
        )
    else:
        # The doc-frequency cap filters terms BEFORE pair emission, so
        # this branch re-derives from the mentions snapshot (one extra
        # groupBy(url) shuffle — only paid when the cap is requested).
        edges = cooccurrence_edges(
            mentions, min_weight=args.min_cooccur_weight,
            max_doc_freq=args.max_doc_freq,
        )
    cooccur_branch = edges.select(
        F.col("src").alias("subj"),
        F.col("dst").alias("obj"),
        F.col("weight").cast("long").alias("weight"),
    )
    isa_branch = local_df(
        spark, [(c, p, None) for c, p in isa_pairs], branch_schema
    )

    def _write_triples():
        if stage_is_current(args.output, "triples", fp):
            return
        write_stage_branches(
            {
                "mentions": mention_branch,
                "co_occurs_with": cooccur_branch,
                "is_a": isa_branch,
            },
            args.output, "triples", partition_col="pred",
            input_fingerprint=fp, metrics={"n_mentions": n_mentions},
        )

    timed("triples", _write_triples)

    if not args.no_nodes:
        # nodes/edges tables (north_rule "graph materialize"): triples is
        # the edges side; this is the node side, partitioned by kind so
        # class-only reads prune the corpus-sized document partition.
        # Derived from the doc_terms snapshot — dictionary-keyed groupBy,
        # no corpus re-read (plans/kg_pipeline.py:node_table).
        from onto_text_tag_spark.plans.kg_pipeline import node_table

        timed("nodes", lambda: run_stage(
            spark, args.output, "nodes",
            lambda: node_table(doc_terms, dict_rows),
            partition_by=["kind"],
            input_fingerprint=fp,
        ))

    if args.edge_scores:
        # association strengths per stored co-occurrence edge; the
        # doc_terms snapshot supplies pairs, per-term df AND the corpus
        # count — one stage, zero corpus re-reads (operators/cooccur.py:
        # association_scores_from_arrays).
        from onto_text_tag_spark.operators.cooccur import (
            association_scores_from_arrays,
        )

        timed("edge_scores", lambda: run_stage(
            spark, args.output, "edge_scores",
            lambda: association_scores_from_arrays(
                doc_terms, min_weight=args.min_cooccur_weight
            ),
            input_fingerprint=fp,
        ))

    if args.links:
        # the other first-class graph a web corpus carries: the anchor
        # link graph.  Extraction reads ONLY (url, html) — column
        # pruning keeps html out of every other stage's scan — and the
        # host rollup derives from the links snapshot, never the corpus.
        if args.warc:
            raise SystemExit("--links needs a parquet corpus (not --warc)")
        from onto_text_tag_spark.operators.weblinks import (
            extract_links,
            host_graph,
        )

        if "html" not in corpus.columns:
            raise SystemExit("--links needs an html column in the corpus")
        links_df = timed("links", lambda: run_stage(
            spark, args.output, "links",
            lambda: extract_links(corpus, url_col=id_col, html_col="html"),
            input_fingerprint=fp,
        ))
        timed("host_graph", lambda: run_stage(
            spark, args.output, "host_graph",
            lambda: host_graph(links_df),
            input_fingerprint=fp,
        ))

    if args.sketch:
        from onto_text_tag_spark.operators.cooccur import (
            term_sketch_partials,
        )

        timed("term_sketch", lambda: run_stage(
            spark, args.output, "term_sketch",
            lambda: term_sketch_partials(mentions, k=args.sketch),
            input_fingerprint=f"{fp}:sketch={args.sketch}",
            metrics={"k": args.sketch, "batch_fingerprint": fp},
        ))

    if args.trends:
        # crawl-time trend of every class's web presence — derived from
        # the mentions snapshot + the (url, warc_ts) projection only
        if args.warc:
            raise SystemExit("--trends needs a parquet corpus (not --warc)")
        if "warc_ts" not in corpus.columns:
            raise SystemExit("--trends needs a warc_ts corpus column")
        from onto_text_tag_spark.operators.cooccur import mention_trends

        timed("trends", lambda: run_stage(
            spark, args.output, "trends",
            lambda: mention_trends(
                mentions,
                corpus.select(
                    F.col(id_col).cast("string").alias("url"), "warc_ts"
                ),
                doc_col="url", ts_col="warc_ts", bucket=args.trends,
            ),
            input_fingerprint=f"{fp}:trends={args.trends}",
        ))

    closure_df = local_df(
        spark,
        [(d, "is_a_transitive", a, None) for d, a in closure_pairs],
        "subj string, pred string, obj string, weight long",
    ).coalesce(1)  # driver-sized: one task, one file
    timed("isa_closure", lambda: write_stage(
        closure_df, args.output, "isa_closure", input_fingerprint=fp,
    ))

    if args.ntriples:
        from onto_text_tag_spark.sinks import read_stage
        from onto_text_tag_spark.sources.ntriples import write_ntriples

        timed("ntriples", lambda: write_ntriples(
            read_stage(spark, args.output, "triples"), args.ntriples
        ))

    n_triples = read_manifest(args.output, "triples")["total_rows"]
    dt = time.time() - t0
    print(json.dumps({
        "n_mentions": n_mentions,
        "n_triples": n_triples,
        "sec": round(dt, 2),
        "triples_per_sec": round(n_triples / dt, 1),
        "stage_sec": stage_sec,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
