"""Crawl-to-graph sink: dedup-gated KG construction with exact
retraction (``streaming/incremental.py:start_crawl_sink``).

Two crawl epochs stream through ONE foreachBatch sink that (1) dedups
the batch against the accumulated fingerprint store, (2) absorbs only
the epoch's dedup survivors into the KG, and (3) RETRACTS base docs the
epoch demoted (a bridging near-dup merges their cluster).  The pin: at
the end, the KG's live views equal a batch build over the live deduped
corpus — including the co-occurrence weight decrements of the demoted,
term-bearing page.  Also pins replay idempotence (stream restart from
the same checkpoint, double retraction) and the merge-on-read shape
(physical mentions keep the demoted rows; the live view masks them).
The second epoch runs with ``compact_every=1``, so those pins also hold
over stages the sink has compacted to one file each.
"""

import os

from pyspark.sql import functions as F

KNOBS = dict(num_hashes=64, bands=16, threshold=0.8, shingle_k=5,
             shingle_mode="word")

# 10 single-word ontology surfaces planted in docB's tail — the demoted
# doc must carry mentions, or retraction would be vacuous
TERM_TAIL = ("nicotine caffeine morphine heroin craving relapse "
             "addiction cigarette ethanol opioid")


def _words(prefix: str, n: int) -> str:
    return " ".join(f"{prefix}{i}" for i in range(n))


def test_fold_retractions_preserves_live_views(spark, tmp_path):
    """Folding the delete set physically rewrites mentions/doc_terms/
    mention-triples minus the retracted urls and clears ``retracted`` —
    live views identical before/after, physical stages cleaned,
    re-running the fold is a no-op."""
    from onto_text_tag_spark.corpus import (
        distributed_documents_df,
        mini_ontology,
    )
    from onto_text_tag_spark.dictionary import build_dictionary_rows
    from onto_text_tag_spark.plans.kg_absorb import (
        absorb_batch,
        fold_retractions,
        init_kg_root,
        read_live_doc_terms,
        read_live_mentions,
        read_live_triples,
        retract_batch,
    )
    from onto_text_tag_spark.sinks import read_manifest, read_stage

    onto = mini_ontology()
    dict_rows = build_dictionary_rows(onto)
    kg_root = str(tmp_path / "kg")
    init_kg_root(spark, kg_root, onto)
    docs = distributed_documents_df(spark, 40, seed=7, partitions=2)
    absorb_batch(spark, kg_root, docs, dict_rows, batch_fp="b0",
                 lang=None)
    gone = docs.limit(7).select("url")
    retract_batch(spark, kg_root, gone, batch_fp="r0")
    gone_urls = {r["url"] for r in gone.collect()}

    def snap():
        return (
            {tuple(r) for r in read_live_mentions(spark, kg_root)
             .select("url", "curie").collect()},
            {(r["url"], tuple(r["_terms"]))
             for r in read_live_doc_terms(spark, kg_root).collect()},
            {tuple(r) for r in read_live_triples(spark, kg_root)
             .select("subj", "pred", "obj", "weight").collect()},
        )

    before = snap()
    res = fold_retractions(spark, kg_root)
    assert res["status"] == "folded"
    assert res["n_urls_folded"] == len(gone_urls)
    assert snap() == before
    # physical stages no longer carry the folded urls; delete set empty
    assert not gone_urls & {
        r["url"] for r in read_stage(spark, kg_root, "mentions")
        .select("url").distinct().collect()}
    assert not gone_urls & {
        r["subj"] for r in
        spark.read.parquet(f"{kg_root}/triples/data/pred=mentions")
        .select("subj").distinct().collect()}
    assert read_manifest(kg_root, "retracted")["total_rows"] == 0
    res2 = fold_retractions(spark, kg_root)
    assert res2["status"] == "noop_nothing_retracted"
    assert snap() == before


def test_crawl_sink_kg_equals_batch_build_over_live_corpus(
    spark, tmp_path
):
    from onto_text_tag_spark.corpus import (
        distributed_documents_df,
        mini_ontology,
    )
    from onto_text_tag_spark.dictionary import build_dictionary_rows
    from onto_text_tag_spark.operators.cooccur import (
        cooccurrence_edges,
        doc_term_arrays,
    )
    from onto_text_tag_spark.operators.tagger import tag_documents
    from onto_text_tag_spark.plans.dedup_absorb import read_deduped
    from onto_text_tag_spark.plans.kg_absorb import (
        read_live_mentions,
        read_live_triples,
        retract_batch,
    )
    from onto_text_tag_spark.session import local_df
    from onto_text_tag_spark.sinks import (
        read_manifest,
        read_stage,
        snapshot_log,
    )
    from onto_text_tag_spark.streaming.incremental import (
        init_crawl_root,
        start_crawl_sink,
    )

    synth = distributed_documents_df(spark, 60, seed=47, partitions=2) \
        .select("url", "text")
    a_text = _words("alpha", 100)
    bridge = _words("bridge", 10)
    doc_a = "https://s.example/docA"
    doc_b = "https://s.example/docB"
    doc_d = "https://s.example/docD"
    # epoch 0: docA / docB near (J≈0.73 — SEPARATE clusters, both
    # admitted; docB carries 10 ontology mentions), docX
    b0 = synth.unionByName(local_df(
        spark,
        [
            (doc_a, a_text),
            (doc_b, f"{a_text} {bridge} {_words('beta', 15)} {TERM_TAIL}"),
            ("https://s.example/docX", _words("xray", 60)),
        ],
        "url string, text string",
    ))
    # epoch 1: docD bridges A-B (demotes the already-committed,
    # term-bearing docB → KG retraction), a cross-epoch exact dup, an
    # intra-epoch exact pair
    b1 = local_df(
        spark,
        [
            (doc_d, f"{a_text} {bridge}"),
            ("https://s.example/docX?exact", _words("xray", 60)),
            ("https://s.example/new1", _words("gamma", 40)),
            ("https://s.example/new2", _words("gamma", 40)),
        ],
        "url string, text string",
    )

    root = str(tmp_path / "crawlroot")
    src = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    onto = mini_ontology()
    dict_rows = build_dictionary_rows(onto)
    init_crawl_root(spark, root, onto, "url string, text string",
                    num_hashes=KNOBS["num_hashes"])
    kg_root = os.path.join(root, "kg")
    dedup_root = os.path.join(root, "dedup")

    def run_stream(compact_every=None):
        stream = (
            spark.readStream.schema("url string, text string").parquet(src)
        )
        q = start_crawl_sink(stream, root, dict_rows, ckpt,
                             compact_every=compact_every, **KNOBS)
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    b0.coalesce(1).write.mode("append").parquet(src)
    run_stream()
    # epoch 0: docB admitted — its mentions are in the live KG
    live_m0 = {r["url"] for r in
               read_live_mentions(spark, kg_root).select("url")
               .distinct().collect()}
    assert doc_b in live_m0

    b1.coalesce(1).write.mode("append").parquet(src)
    # restart from checkpoint — epoch 1 only, then small-files
    # compaction of every append-grown stage of both roots
    run_stream(compact_every=1)
    for stage_root, stage in (
        (dedup_root, "signatures"), (dedup_root, "deduped"),
        (dedup_root, "demoted"), (kg_root, "mentions"),
        (kg_root, "doc_terms"), (kg_root, "triples"),
    ):
        man = read_manifest(stage_root, stage)
        assert "compaction" in man["metrics"], stage
        # one file per stage (per pred= directory for triples)
        dirs = [os.path.dirname(f) for f in man["files"]]
        assert len(dirs) == len(set(dirs)), (stage, man["files"])

    # --- ground truth: batch KG pipeline over the LIVE deduped corpus ---
    live_docs = read_deduped(spark, dedup_root).cache()
    live_urls = {r["url"] for r in live_docs.select("url").collect()}
    assert doc_a in live_urls          # cluster representative
    assert doc_b not in live_urls      # demoted by the epoch-1 bridge
    assert doc_d not in live_urls      # delta drop
    mentions = tag_documents(live_docs, dict_rows)
    want_mention_triples = {
        (r.url, t)
        for r in doc_term_arrays(mentions).collect() for t in r._terms
    }
    want_edges = {
        tuple(r) for r in cooccurrence_edges(mentions).collect()
    }
    live_docs.unpersist()

    triples = read_live_triples(spark, kg_root)
    got_mention_triples = {
        (r.subj, r.obj)
        for r in triples.where("pred = 'mentions'").collect()
    }
    got_edges = {
        (r.subj, r.obj, r.weight)
        for r in triples.where("pred = 'co_occurs_with'").collect()
    }
    assert got_mention_triples == want_mention_triples
    assert got_edges == want_edges
    assert len(got_edges) > 0
    assert not any(s == doc_b for s, _ in got_mention_triples)

    # merge-on-read shape: the physical mentions stage KEEPS docB's rows
    # (append-only history); only the live view masks them
    physical = {r["url"] for r in
                read_stage(spark, kg_root, "mentions").select("url")
                .distinct().collect()}
    assert doc_b in physical
    assert doc_b not in {
        r["url"] for r in read_live_mentions(spark, kg_root)
        .select("url").distinct().collect()
    }

    # --- replay idempotence ------------------------------------------------
    n_triple_snaps = len(snapshot_log(kg_root, "triples"))
    res = retract_batch(
        spark, kg_root,
        local_df(spark, [(doc_b,)], "url string"),
        batch_fp="crawl-epoch-1:retract",
    )
    assert res["status"] == "noop_already_committed"
    run_stream()  # no new files: stream restart is a pure no-op
    assert len(snapshot_log(kg_root, "triples")) == n_triple_snaps
    assert {
        (r.subj, r.obj, r.weight)
        for r in read_live_triples(spark, kg_root)
        .where("pred = 'co_occurs_with'").collect()
    } == want_edges

    # double retraction of an ALREADY-retracted url under a fresh
    # fingerprint must not double-subtract (url-level idempotence)
    res2 = retract_batch(
        spark, kg_root,
        local_df(spark, [(doc_b,)], "url string"),
        batch_fp="manual-re-retract",
    )
    assert res2["status"] == "committed"
    assert res2["n_retracted_docs"] == 0
    assert {
        (r.subj, r.obj, r.weight)
        for r in read_live_triples(spark, kg_root)
        .where("pred = 'co_occurs_with'").collect()
    } == want_edges
