"""SQL query surface (views.py): temp views over live KG/dedup roots.

The reference's query endpoints (app.py:329-358 chord probe,
app.py:373 stored-abstract reads) become plain ``spark.sql`` over
registered views; these tests pin that the views expose exactly the
live merge-on-read readers' content — including after a retraction —
and that optional stages appear only once they exist.
"""

import pytest


def _rows(df, *cols):
    return {tuple(r) for r in df.select(*cols).collect()}


@pytest.fixture(scope="module")
def kg_root(spark, tmp_path_factory):
    from onto_text_tag_spark.corpus import (
        distributed_documents_df,
        mini_ontology,
    )
    from onto_text_tag_spark.dictionary import build_dictionary_rows
    from onto_text_tag_spark.plans.kg_absorb import (
        absorb_batch,
        init_kg_root,
        retract_batch,
    )

    onto = mini_ontology()
    root = str(tmp_path_factory.mktemp("views") / "kg")
    init_kg_root(spark, root, onto)
    docs = distributed_documents_df(spark, 40, seed=7, partitions=2)
    absorb_batch(spark, root, docs, build_dictionary_rows(onto),
                 batch_fp="b0", lang=None)
    retract_batch(spark, root, docs.limit(6).select("url"), batch_fp="r0")
    return root


def test_kg_views_match_live_readers(spark, kg_root):
    from onto_text_tag_spark.plans.kg_absorb import (
        read_live_mentions,
        read_live_triples,
    )
    from onto_text_tag_spark.views import register_kg_views

    views = register_kg_views(spark, kg_root)
    assert views["mentions"] == "kg_mentions"
    # absorb-bootstrapped root: no nodes stage yet
    assert "nodes" not in views and "isa_closure" in views

    assert _rows(spark.sql("SELECT url, curie FROM kg_mentions"),
                 "url", "curie") == _rows(
        read_live_mentions(spark, kg_root), "url", "curie")
    assert _rows(spark.sql(
        "SELECT subj, pred, obj FROM kg_triples"), "subj", "pred", "obj"
    ) == _rows(read_live_triples(spark, kg_root), "subj", "pred", "obj")

    # the edges view is the co-occurrence projection of live triples
    assert _rows(spark.sql("SELECT src, dst, weight FROM kg_edges"),
                 "src", "dst", "weight") == _rows(
        read_live_triples(spark, kg_root)
        .where("pred = 'co_occurs_with'"),
        "subj", "obj", "weight")

    # a retracted doc is invisible through the view
    gone = spark.sql(
        "SELECT DISTINCT url FROM kg_doc_terms"
    ).count()
    assert gone == read_live_mentions(spark, kg_root) \
        .select("url").distinct().count()


def test_kg_views_pick_up_new_stages(spark, kg_root):
    from onto_text_tag_spark.corpus import mini_ontology
    from onto_text_tag_spark.dictionary import build_dictionary_rows
    from onto_text_tag_spark.plans.kg_absorb import refresh_nodes
    from onto_text_tag_spark.views import register_kg_views

    refresh_nodes(spark, kg_root,
                  class_meta=build_dictionary_rows(mini_ontology()))
    views = register_kg_views(spark, kg_root)
    assert views["nodes"] == "kg_nodes"
    got = spark.sql(
        "SELECT kind, count(*) AS n FROM kg_nodes GROUP BY kind"
    ).collect()
    assert {r["kind"] for r in got} == {"document", "class"}


def test_chord_query_through_views(spark, kg_root):
    """The reference's chord probe (hv_generate.py:39-58) as one SQL
    statement over the registered views."""
    from onto_text_tag_spark.views import register_kg_views

    register_kg_views(spark, kg_root)
    chord = spark.sql("""
        SELECT e.src, e.dst, e.weight
        FROM kg_edges e
        JOIN kg_nodes ns ON ns.id = e.src
        JOIN kg_nodes nd ON nd.id = e.dst
        WHERE ns.degree > 0 AND nd.degree > 0
        ORDER BY e.weight DESC, e.src, e.dst
    """).collect()
    assert chord, "absorbed corpus must produce co-occurrence edges"
    assert all(r["src"] < r["dst"] for r in chord)


def test_dedup_views(spark, tmp_path):
    from onto_text_tag_spark.corpus import distributed_documents_df
    from onto_text_tag_spark.plans.dedup_absorb import read_deduped
    from onto_text_tag_spark.sinks import write_stage
    from onto_text_tag_spark.views import register_dedup_views

    root = str(tmp_path / "dedup")
    docs = distributed_documents_df(spark, 25, seed=3, partitions=2)
    write_stage(docs, root, "deduped", input_fingerprint="t")
    views = register_dedup_views(spark, root)
    assert views == {"deduped": "dedup_deduped"}  # no clusters stage
    assert spark.sql(
        "SELECT count(*) AS n FROM dedup_deduped"
    ).first()["n"] == read_deduped(spark, root).count() == 25


def test_link_graph_views(spark, kg_root):
    from onto_text_tag_spark.plans.kg_absorb import absorb_links
    from onto_text_tag_spark.session import local_df
    from onto_text_tag_spark.views import register_kg_views

    docs = local_df(spark, [
        ("https://a.com/1",
         b'<a href="https://b.com/x">b</a><a href="https://c.com/y">c</a>'),
        ("https://b.com/1", b'<a href="https://c.com/z">c</a>'),
    ], "url string, html binary")
    absorb_links(spark, kg_root, docs, batch_fp="views-links")
    views = register_kg_views(spark, kg_root)
    assert views["links"] == "kg_links" and \
        views["host_graph"] == "kg_host_graph"
    got = {
        (r["src_host"], r["dst_host"]): r["weight"]
        for r in spark.sql(
            "SELECT * FROM kg_host_graph ORDER BY src_host, dst_host"
        ).collect()
    }
    assert got == {("a.com", "b.com"): 1, ("a.com", "c.com"): 1,
                   ("b.com", "c.com"): 1}
    # backlink count straight off the links view
    n = spark.sql(
        "SELECT count(*) AS n FROM kg_links "
        "WHERE dst_url LIKE 'https://c.com%'"
    ).collect()[0]["n"]
    assert n == 2


def test_trends_view_appears_when_stage_exists(spark, kg_root):
    from pyspark.sql import functions as F

    from onto_text_tag_spark.operators.cooccur import mention_trends
    from onto_text_tag_spark.plans.kg_absorb import read_live_mentions
    from onto_text_tag_spark.sinks import write_stage
    from onto_text_tag_spark.views import register_kg_views

    assert "trends" not in register_kg_views(spark, kg_root)

    from onto_text_tag_spark.corpus import distributed_documents_df

    docs = distributed_documents_df(spark, 40, seed=7, partitions=2)
    write_stage(
        mention_trends(
            read_live_mentions(spark, kg_root),
            docs.select(F.col("url").cast("string").alias("url"),
                        "warc_ts"),
            bucket="minute",
        ),
        kg_root, "trends", input_fingerprint="t0",
    )
    views = register_kg_views(spark, kg_root)
    assert views["trends"] == "kg_trends"
    top = spark.sql(
        "SELECT curie, sum(n_docs) AS n FROM kg_trends "
        "GROUP BY curie ORDER BY n DESC, curie LIMIT 1"
    ).collect()
    assert top and top[0]["n"] > 0


def test_register_ivf_views(spark, tmp_path):
    """The IVF index root's stages surface as SQL views; a probe-side
    candidate-pruning query runs as plain spark.sql over them."""
    import math
    import random

    from onto_text_tag_spark.plans.ivf_absorb import (
        absorb_embeddings,
        init_ivf_root,
    )
    from onto_text_tag_spark.views import register_ivf_views

    rng = random.Random(31)

    def vec():
        v = [rng.uniform(-1, 1) for _ in range(8)]
        n = math.sqrt(sum(x * x for x in v))
        return [x / n for x in v]

    cents = [(c, vec()) for c in range(3)]
    root = str(tmp_path / "ivf")
    init_ivf_root(spark, root, cents)
    emb = spark.createDataFrame(
        [(i, vec()) for i in range(25)], ["vec_id", "embedding"]
    )
    absorb_embeddings(spark, root, emb, batch_fp="v1")

    views = register_ivf_views(spark, root)
    assert set(views) == {"centroids", "cells", "cell_stats"}
    assert spark.sql("SELECT count(*) FROM ivf_cells").collect()[0][0] == 25
    agg = spark.sql(
        "SELECT sum(n) AS n, count(*) AS cells FROM ivf_cell_stats"
    ).collect()[0]
    assert agg["n"] == 25 and 1 <= agg["cells"] <= 3
    # candidate pruning via SQL: every stored cell id resolves to a
    # centroid row
    dangling = spark.sql(
        "SELECT count(*) FROM ivf_cells c LEFT ANTI JOIN "
        "ivf_centroids t ON c.cell = t.cell"
    ).collect()[0][0]
    assert dangling == 0


def test_register_pq_views(spark, tmp_path):
    """The PQ store root's stages surface as SQL views; an ADC-side
    audit query runs as plain spark.sql over them."""
    import math
    import random

    from onto_text_tag_spark.plans.pq_absorb import (
        absorb_pq_batch,
        init_pq_root,
    )
    from onto_text_tag_spark.views import register_pq_views

    rng = random.Random(31)

    def vec():
        v = [rng.uniform(-1, 1) for _ in range(8)]
        n = math.sqrt(sum(x * x for x in v))
        return [x / n for x in v]

    cbs = [[vec()[s * 4:(s + 1) * 4] for _ in range(4)]
           for s in range(2)]
    root = str(tmp_path / "pq")
    init_pq_root(spark, root, cbs)
    emb = spark.createDataFrame(
        [(i, vec()) for i in range(25)], ["vec_id", "embedding"]
    )
    absorb_pq_batch(spark, root, emb, batch_fp="v1")

    views = register_pq_views(spark, root)
    assert set(views) == {"codebooks", "codes", "err_stats"}
    assert spark.sql("SELECT count(*) AS n FROM pq_codes").first()["n"] == 25
    assert spark.sql(
        "SELECT count(*) AS n FROM pq_codebooks").first()["n"] == 8
    worst = spark.sql(
        "SELECT vec_id FROM pq_codes ORDER BY recon_err DESC, vec_id "
        "LIMIT 3").collect()
    assert len(worst) == 3


def _jobs(spark) -> set:
    """Ids of the jobs run so far, once the listener bus has drained
    (the status tracker is fed asynchronously)."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup())


def _assert_read_stage_as_inferred(spark, root, stage) -> set:
    """``read_stage`` equals ``spark.read.parquet`` of the stage's data
    dir — schema (names, order, types, nullability) and rows; returns
    the ids of the jobs the ``read_stage`` call ran."""
    import os

    from onto_text_tag_spark.sinks import read_stage

    before = _jobs(spark)
    got = read_stage(spark, root, stage)
    ran = _jobs(spark) - before
    want = spark.read.parquet(os.path.join(root, stage, "data"))
    assert got.schema == want.schema, stage
    assert sorted(map(repr, got.collect())) == sorted(
        map(repr, want.collect())), stage
    return ran


def test_read_stage_takes_manifest_schema_without_a_job(
    spark, kg_root, tmp_path
):
    """Current file-backed reads use the manifest's schema once it
    matches the footer inference would read: no schema-inference job,
    and the same schema and rows as the inferred read for plain,
    ``partition_by`` (numeric-looking values, partition column written
    mid-schema), ``write_stage_branches``, empty bootstrapped and
    absorb-appended stages.  A manifest whose schema disagrees with
    the footers falls back to the inferred read."""
    import json
    import os

    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    from onto_text_tag_spark.session import local_df
    from onto_text_tag_spark.sinks import write_stage, write_stage_branches

    root = str(tmp_path / "stages")
    schema = StructType([
        StructField("k", StringType(), False),
        StructField("year", IntegerType(), True),
        StructField("score", DoubleType(), True),
        StructField("tags", ArrayType(StringType(), False), True),
    ])
    rows = [("a", 2024, 1.5, ["x"]), ("b", 2025, None, []),
            ("c", 2024, 2.0, None)]
    write_stage(local_df(spark, rows, schema), root, "plain")
    write_stage(local_df(spark, rows, schema), root, "parted",
                partition_by=["year"])
    write_stage_branches(
        {"2024": local_df(spark, rows[:2], schema),
         "x": local_df(spark, rows[2:], schema)},
        root, "branches", partition_col="src")
    write_stage(local_df(spark, [], "url string"), root, "empty")

    for stage_root, stage in (
        (root, "plain"), (root, "parted"), (root, "branches"),
        (root, "empty"),
        # absorb-appended (mentions, doc_terms, retracted) and the
        # branch-written, absorb-grown triples of the fixture root
        (kg_root, "mentions"), (kg_root, "doc_terms"),
        (kg_root, "retracted"), (kg_root, "triples"),
    ):
        assert _assert_read_stage_as_inferred(
            spark, stage_root, stage) == set(), stage

    manifest_path = os.path.join(root, "plain", "_MANIFEST.json")
    with open(manifest_path) as fh:
        man = json.load(fh)
    man["schema"]["fields"][1]["type"] = "long"  # footer says int
    with open(manifest_path, "w") as fh:
        json.dump(man, fh)
    assert _assert_read_stage_as_inferred(spark, root, "plain")
