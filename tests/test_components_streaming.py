"""Connected components, canonicalization, and streaming tagging tests."""

import pytest
from pyspark.sql import functions as F


# threshold 0 forces the distributed star-contraction loop; the default
# takes the driver union-find fast path on graphs this small — both must
# produce identical min-id labelings
@pytest.mark.parametrize("threshold", [0, 1_000_000],
                         ids=["distributed", "unionfind"])
def test_connected_components_basic(spark, threshold):
    from onto_text_tag_spark.operators.components import connected_components

    edges = spark.createDataFrame(
        [
            ("a", "b"), ("b", "c"),            # chain → comp a
            ("d", "e"),                        # pair → comp d
            ("f", "f"),                        # self loop (dropped; f isolated-ish)
            ("x", "y"), ("y", "z"), ("z", "x"),  # cycle → comp x
        ],
        ["src", "dst"],
    )
    comp = {r["node"]: r["comp"]
            for r in connected_components(
                edges, driver_threshold=threshold).collect()}
    assert comp["a"] == comp["b"] == comp["c"] == "a"
    assert comp["d"] == comp["e"] == "d"
    assert comp["x"] == comp["y"] == comp["z"] == "x"
    assert "f" not in comp  # only self-loop → no edges → not in node set


@pytest.mark.parametrize("threshold", [0, 1_000_000],
                         ids=["distributed", "unionfind"])
def test_connected_components_long_chain(spark, threshold):
    from onto_text_tag_spark.operators.components import connected_components

    n = 64
    edges = spark.createDataFrame(
        [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(n)], ["src", "dst"]
    )
    comp = connected_components(edges, driver_threshold=threshold)
    assert comp.select("comp").distinct().count() == 1
    assert comp.count() == n + 1


def test_connected_components_paths_agree(spark):
    """Random graph: distributed and union-find labelings identical."""
    import random

    from onto_text_tag_spark.operators.components import connected_components

    rng = random.Random(3)
    edges = spark.createDataFrame(
        [(f"v{rng.randrange(200)}", f"v{rng.randrange(200)}")
         for _ in range(150)],
        ["src", "dst"],
    )
    dist = {(r["node"], r["comp"])
            for r in connected_components(edges, driver_threshold=0).collect()}
    uf = {(r["node"], r["comp"])
          for r in connected_components(edges).collect()}
    assert dist == uf


def test_connected_components_driver_path_is_local_scan(spark):
    """The union-find labels come back as a LocalRelation (a JVM
    ``LocalTableScan``, no Python ``ExistingRDD`` scan) equal to the
    distributed labels; one capped collect decides the path, so an edge
    set of exactly ``driver_threshold`` rows stays on the driver and one
    more row goes distributed (checkpointed ``ExistingRDD`` scans)."""
    from onto_text_tag_spark.operators.components import connected_components
    from onto_text_tag_spark.session import local_df

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    for rows in ([("a", "b"), ("c", "b"), ("d", "e")], []):
        edges = local_df(spark, rows, "src string, dst string")
        uf = connected_components(edges, driver_threshold=3)
        assert "LocalTableScan" in plan(uf)
        assert "ExistingRDD" not in plan(uf)
        dist = connected_components(edges, driver_threshold=0)
        assert {tuple(r) for r in uf.collect()} == {
            tuple(r) for r in dist.collect()}
    edges = local_df(spark, [("a", "b"), ("c", "b"), ("d", "e")],
                     "src string, dst string")
    assert "ExistingRDD" in plan(
        connected_components(edges, driver_threshold=2))


def test_canonicalize_surfaces(spark):
    from onto_text_tag_spark.operators.components import canonicalize_surfaces

    surfaces = spark.createDataFrame(
        [
            ("tobacco smoking",),
            ("tobacco-smoking",),
            ("tobacco  smoking",),
            ("smoking of tobacco",),
            ("caffeine",),
            ("ethanol",),
        ],
        ["surface"],
    )
    got = {
        r["surface"]: r["canonical"]
        for r in canonicalize_surfaces(surfaces, jaccard_threshold=0.5).collect()
    }
    # the three near-identical variants merge into one cluster
    variants = {"tobacco smoking", "tobacco-smoking", "tobacco  smoking"}
    canons = {got[v] for v in variants}
    assert len(canons) == 1
    # unrelated surfaces stay singleton (canonical = self)
    assert got["caffeine"] == "caffeine"
    assert got["ethanol"] == "ethanol"


def test_streaming_tagging_matches_batch(spark, tmp_path):
    from onto_text_tag_spark.corpus import documents_df, ontology_df
    from onto_text_tag_spark.dictionary import build_dictionary, resolve_collisions
    from onto_text_tag_spark.operators.tagger import tag_documents
    from onto_text_tag_spark.streaming.incremental import (
        read_document_stream,
        start_mentions_sink,
        tag_stream,
    )

    docs = documents_df(spark, n_docs=30)
    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    docs.write.parquet(src)

    dictionary = resolve_collisions(build_dictionary(ontology_df(spark)))
    stream = read_document_stream(spark, src)
    assert stream.isStreaming
    mentions = tag_stream(stream, dictionary)
    q = start_mentions_sink(mentions, out, ckpt)
    try:
        q.processAllAvailable()  # blocks until every input file is processed
    finally:
        q.stop()

    streamed = spark.read.parquet(out)
    batch = tag_documents(docs, dictionary)
    got = sorted(map(tuple, streamed.collect()))
    want = sorted(map(tuple, batch.collect()))
    assert got == want and len(got) > 0


def test_stateful_streaming_sessionize(spark, tmp_path):
    """applyInPandasWithState sessionizer: state carries across
    micro-batches; a gap closes the session, a new one opens."""
    import time

    from pyspark.sql import functions as F

    from onto_text_tag_spark.streaming.incremental import sessionize_stream

    src = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    schema = "user_id string, ts timestamp"

    def write_batch(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    import datetime as dt

    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
    # batch 1: two close events for u1, one for u2
    write_batch("b1", [
        ("u1", t0), ("u1", t0 + dt.timedelta(seconds=60)),
        ("u2", t0),
    ])

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    sessions = sessionize_stream(stream, gap_seconds=1800)
    q = (
        sessions.writeStream.format("memory")
        .queryName("sess_test")
        .outputMode("update")
        .start(checkpointLocation=ckpt)
    )
    try:
        q.processAllAvailable()
        open_rows = {
            r["user_id"]: r
            for r in spark.sql(
                "SELECT * FROM sess_test WHERE NOT closed"
            ).collect()
        }
        assert open_rows["u1"]["n_events"] == 2
        assert open_rows["u2"]["n_events"] == 1

        # batch 2: u1 event far beyond the gap -> closes session 1
        write_batch("b2", [("u1", t0 + dt.timedelta(seconds=7200))])
        q.processAllAvailable()

        closed = spark.sql(
            "SELECT * FROM sess_test WHERE closed"
        ).collect()
        assert len(closed) == 1
        c = closed[0]
        assert c["user_id"] == "u1" and c["n_events"] == 2
        assert c["session_start"] == t0
        reopened = [
            r
            for r in spark.sql(
                "SELECT * FROM sess_test WHERE NOT closed"
            ).collect()
            if r["user_id"] == "u1" and r["n_events"] == 1
        ]
        assert reopened, "new open session for u1 after the gap"
    finally:
        q.stop()


def test_streaming_kg_update_sink_builds_full_kg(spark, tmp_path):
    """Continuous crawl ingestion: bootstrap an EMPTY KG root, stream
    the corpus in two file batches through the foreachBatch absorb sink,
    and require the materialized triples to equal the library-computed
    batch build over all documents.  Epoch-keyed fingerprints make a
    replayed epoch a committed no-op (exactly-once KG commits under
    at-least-once foreachBatch delivery)."""
    import os

    from pyspark.sql import functions as F

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
    from onto_text_tag_spark.plans.kg_absorb import (
        absorb_batch,
        init_kg_root,
    )
    from onto_text_tag_spark.sinks import snapshot_log
    from onto_text_tag_spark.streaming.incremental import (
        read_document_stream,
        start_kg_update_sink,
    )

    onto = mini_ontology()
    dict_rows = build_dictionary_rows(onto)
    kg_root = str(tmp_path / "kgroot")
    init_kg_root(spark, kg_root, onto)
    assert len(snapshot_log(kg_root, "triples")) == 1  # bootstrap commit

    docs = distributed_documents_df(spark, 120, seed=3, partitions=2)
    docs.cache().count()
    src = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    b0 = docs.where(F.crc32("url") % 2 == 0)
    b1 = docs.where(F.crc32("url") % 2 == 1)
    b0.write.parquet(src)

    q = start_kg_update_sink(
        read_document_stream(spark, src), kg_root, dict_rows, ckpt,
        compact_every=1,  # fold small-files maintenance into every epoch
        sketch_k=16,      # maintain the KMV term-df sketch per epoch
    )
    try:
        q.processAllAvailable()
        b1.write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()

    # expected: the plain batch build over ALL docs (absorb filters en)
    mentions = tag_documents(docs.where(F.col("lang") == "en"), dict_rows)
    arrays = doc_term_arrays(mentions)
    want_mention_triples = {
        (r.url, t) for r in arrays.collect() for t in r._terms
    }
    want_edges = {
        tuple(r) for r in cooccurrence_edges(mentions).collect()
    }

    triples = spark.read.parquet(os.path.join(kg_root, "triples", "data"))
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

    # the streamed KMV sketch equals a batch sketch over all absorbed
    # docs (the merge is exact, epoch by epoch)
    from onto_text_tag_spark.operators.cooccur import term_sketch_partials
    from onto_text_tag_spark.sinks import read_stage
    stored_sketch = read_stage(spark, kg_root, "term_sketch")
    want_sketch = term_sketch_partials(mentions, k=16)
    assert sorted(map(tuple, stored_sketch.collect())) == sorted(
        map(tuple, want_sketch.collect())
    )

    # compact_every folded maintenance into the sink: compaction
    # snapshots landed and the stage is back to right-sized files
    # (content equality above proves compaction changed nothing)
    from onto_text_tag_spark.sinks import read_manifest
    log = snapshot_log(kg_root, "triples")
    assert any("compaction" in (s.get("metrics") or {}) for s in log)
    assert read_manifest(kg_root, "mentions")["n_files"] == 1
    assert read_manifest(kg_root, "triples")["n_files"] <= 4

    # one snapshot per commit: init + >=1 streamed epoch with rows
    n_snaps = len(snapshot_log(kg_root, "triples"))
    assert n_snaps >= 3  # init + 2 non-empty epochs

    # replaying an epoch (same fingerprint) is a committed no-op
    last_fp = snapshot_log(kg_root, "triples")[-1]["metrics"][
        "batch_fingerprint"
    ]
    replay = absorb_batch(spark, kg_root, b1, dict_rows, batch_fp=last_fp)
    assert replay["status"] == "noop_already_committed"
    assert len(snapshot_log(kg_root, "triples")) == n_snaps


def test_merge_components_equals_full_cc(spark):
    """Contract-then-CC over the delta edges must equal CC over the
    union edge set — including delta edges that BRIDGE two existing
    base components (the case that demotes a previously-kept
    representative)."""
    import random

    from onto_text_tag_spark.operators.components import (
        connected_components,
        merge_components,
    )
    from onto_text_tag_spark.session import local_df

    rng = random.Random(1234)
    nodes = [f"n{i:03d}" for i in range(120)]
    edges = {
        tuple(sorted(rng.sample(nodes, 2)))
        for _ in range(150)
    }
    edges = sorted(edges)
    rng.shuffle(edges)
    for cut in (0, 40, 100, len(edges)):
        base_e, delta_e = edges[:cut], edges[cut:]
        schema = "src string, dst string"
        base_df = local_df(spark, base_e or [("x", "x")], schema)
        if not base_e:
            base_df = base_df.where(F.col("src") != F.col("dst"))
        delta_df = local_df(spark, delta_e or [("x", "x")], schema)
        if not delta_e:
            delta_df = delta_df.where(F.col("src") != F.col("dst"))
        base_cc = connected_components(base_df)
        merged = merge_components(base_cc, delta_df)
        full = connected_components(
            base_df.unionByName(delta_df)
        )
        got = {(r["node"], r["comp"]) for r in merged.collect()}
        want = {(r["node"], r["comp"]) for r in full.collect()}
        assert got == want, f"cut={cut}"


def test_streaming_kg_sink_absorbs_links(spark, tmp_path):
    """links=True: the sink also maintains the anchor link graph, epoch
    for epoch — stream-built links stage == batch extraction over the
    union corpus."""
    from pyspark.sql import functions as F

    from onto_text_tag_spark.corpus import (
        distributed_documents_df,
        mini_ontology,
    )
    from onto_text_tag_spark.dictionary import build_dictionary_rows
    from onto_text_tag_spark.operators.weblinks import extract_links
    from onto_text_tag_spark.plans.kg_absorb import init_kg_root
    from onto_text_tag_spark.sinks import read_stage
    from onto_text_tag_spark.streaming.incremental import (
        read_document_stream,
        start_kg_update_sink,
    )

    onto = mini_ontology()
    kg_root = str(tmp_path / "kgroot")
    init_kg_root(spark, kg_root, onto)
    docs = distributed_documents_df(spark, 60, seed=9, partitions=2)
    docs.cache().count()
    src = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    docs.where(F.crc32("url") % 2 == 0).write.parquet(src)

    q = start_kg_update_sink(
        read_document_stream(spark, src), kg_root,
        build_dictionary_rows(onto), ckpt, links=True,
    )
    try:
        q.processAllAvailable()
        docs.where(F.crc32("url") % 2 == 1).write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()

    got = sorted(map(tuple, read_stage(spark, kg_root, "links").collect()))
    want = sorted(map(tuple, extract_links(docs).collect()))
    assert got == want and got
    # synth nav links are intra-host: the host rollup is present, empty
    assert read_stage(spark, kg_root, "host_graph").count() == 0
