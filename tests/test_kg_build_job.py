"""End-to-end test of the north_rule deployment form: the full KG build
run via ``spark-submit --py-files`` (jobs/kg_build.py), then re-run to
prove snapshot resume, then re-run with one snapshot invalidated.

SURVEY.md §5 invariant 4: resume-from-snapshot equals clean run.
"""

import json
import os
import shutil
import subprocess
import sys
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spark_submit(tmp: str, *script_args: str) -> dict:
    pkg = os.path.join(tmp, "pkg.zip")
    if not os.path.exists(pkg):
        with zipfile.ZipFile(pkg, "w", zipfile.ZIP_DEFLATED) as zf:
            pkgdir = os.path.join(REPO, "onto_text_tag_spark")
            for root, _dirs, files in os.walk(pkgdir):
                for f in files:
                    if f.endswith(".py"):
                        p = os.path.join(root, f)
                        zf.write(p, os.path.relpath(p, REPO))
    env = {**os.environ, "PYSPARK_PYTHON": sys.executable}
    out = subprocess.run(
        [
            "spark-submit", "--master", "local[4]",
            "--conf", "spark.ui.enabled=false",
            "--py-files", pkg,
            os.path.join(REPO, "jobs", "kg_build.py"),
            "--no-warmup", *script_args,
        ],
        capture_output=True, text=True, timeout=420, env=env,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(
        [ln for ln in out.stdout.splitlines() if ln.startswith("{")][-1]
    )


@pytest.fixture(scope="module")
def job_tmp(tmp_path_factory):
    return str(tmp_path_factory.mktemp("kgjob"))


@pytest.fixture(scope="module")
def corpus(job_tmp, spark):
    from onto_text_tag_spark.corpus import distributed_documents_df

    path = os.path.join(job_tmp, "corpus.parquet")
    distributed_documents_df(
        spark, 400, seed=7, partitions=4
    ).write.parquet(path)
    return path


def test_kg_build_clean_then_resume(job_tmp, corpus):
    out_dir = os.path.join(job_tmp, "kg_out")
    clean = _spark_submit(job_tmp, "--input", corpus, "--output", out_dir)
    assert clean["n_mentions"] > 0
    assert clean["n_triples"] > clean["n_mentions"] * 0  # present
    assert set(clean["stage_sec"]) == {
        "setup", "mentions", "doc_terms", "triples", "nodes", "isa_closure"
    }
    # the nodes side of the nodes/edges pair: kind-partitioned, one
    # document row per tagged doc plus one class row per dictionary CURIE
    kinds = sorted(
        d for d in os.listdir(os.path.join(out_dir, "nodes", "data"))
        if d.startswith("kind=")
    )
    assert kinds == ["kind=class", "kind=document"]
    with open(os.path.join(out_dir, "nodes", "_MANIFEST.json")) as fh:
        nodes_man = json.load(fh)
    n_by_kind = {p["kind"]: p["rows"] for p in nodes_man["partitions"]}
    assert n_by_kind["document"] > 0
    assert n_by_kind["class"] > 0
    # triples stage landed as hive-partitioned predicate branches
    preds = sorted(
        d for d in os.listdir(os.path.join(out_dir, "triples", "data"))
        if d.startswith("pred=")
    )
    assert preds == ["pred=co_occurs_with", "pred=is_a", "pred=mentions"]
    # doc_terms is written at core width (local[4]), not at the 1-2
    # partitions AQE coalesces its small shuffle to
    with open(os.path.join(out_dir, "doc_terms", "_MANIFEST.json")) as fh:
        assert json.load(fh)["n_files"] == 4
    with open(os.path.join(out_dir, "triples", "_MANIFEST.json")) as fh:
        manifest = json.load(fh)
    assert manifest["total_rows"] == clean["n_triples"]
    assert {p["pred"] for p in manifest["partitions"]} == {
        "co_occurs_with", "is_a", "mentions"
    }

    # resume: unchanged input -> every stage skipped, identical counts
    resumed = _spark_submit(job_tmp, "--input", corpus, "--output", out_dir)
    assert resumed["n_mentions"] == clean["n_mentions"]
    assert resumed["n_triples"] == clean["n_triples"]
    assert resumed["stage_sec"]["triples"] == 0.0

    # invalidate one snapshot marker -> only that stage recomputes,
    # and the rebuilt output equals the clean run
    os.remove(os.path.join(out_dir, "triples", "_SUCCESS_STAGE"))
    repaired = _spark_submit(job_tmp, "--input", corpus, "--output", out_dir)
    assert repaired["n_triples"] == clean["n_triples"]
    assert repaired["stage_sec"]["triples"] > 0.0
    assert repaired["stage_sec"]["mentions"] < 1.0  # still skipped


def test_kg_build_from_html_identical(job_tmp, corpus, spark):
    """--from-html re-extracts text inside the tagging batch (P1 fused,
    one Arrow crossing).  The corpus materializes text byte-identically
    from html by construction, so the mentions and triples must match
    the text-column run EXACTLY, row for row."""
    text_out = os.path.join(job_tmp, "kg_out")  # written by the clean test
    html_out = os.path.join(job_tmp, "kg_out_fromhtml")
    shutil.rmtree(html_out, ignore_errors=True)
    from_html = _spark_submit(
        job_tmp, "--input", corpus, "--output", html_out, "--from-html"
    )
    assert os.path.isdir(os.path.join(text_out, "mentions")), (
        "run after test_kg_build_clean_then_resume (module-ordered)"
    )
    a = spark.read.parquet(os.path.join(text_out, "mentions", "data"))
    b = spark.read.parquet(os.path.join(html_out, "mentions", "data"))
    assert a.count() == from_html["n_mentions"] == b.count()
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_kg_build_ntriples_export_roundtrips(job_tmp, corpus, spark):
    from onto_text_tag_spark.sinks import read_stage
    from onto_text_tag_spark.sources.ntriples import read_ntriples

    out_dir = os.path.join(job_tmp, "out_nt")
    nt_dir = os.path.join(job_tmp, "nt_export")
    res = _spark_submit(
        job_tmp, "--input", corpus, "--output", out_dir,
        "--ntriples", nt_dir,
    )
    assert "ntriples" in res["stage_sec"]
    stage = read_stage(spark, out_dir, "triples").select(
        "subj", "pred", "obj", "weight"
    )
    back = read_ntriples(spark, nt_dir)
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, stage.collect())
    )


def test_kg_build_links_stage(job_tmp, corpus, spark):
    """--links writes the anchor link graph alongside the KG: every
    synthetic page carries the two nav anchors (/home, /about), both
    root-relative and resolved against the page's host."""
    out_dir = os.path.join(job_tmp, "kg_links_out")
    res = _spark_submit(
        job_tmp, "--input", corpus, "--output", out_dir,
        "--no-nodes", "--links",
    )
    assert "links" in res["stage_sec"] and "host_graph" in res["stage_sec"]
    from onto_text_tag_spark.sinks import read_stage

    links = read_stage(spark, out_dir, "links")
    assert links.columns == ["src_url", "dst_url", "anchor"]
    n_docs = 400
    assert links.count() == 2 * n_docs
    one = {r["dst_url"] for r in
           links.where(links.src_url == "https://example.org/p/7").collect()}
    assert one == {"https://example.org/home", "https://example.org/about"}
    # nav links are intra-host -> the host rollup is present and empty
    hg = read_stage(spark, out_dir, "host_graph")
    assert hg.columns == ["src_host", "dst_host", "weight"]
    assert hg.count() == 0
    # resume: both stages skip
    res2 = _spark_submit(
        job_tmp, "--input", corpus, "--output", out_dir,
        "--no-nodes", "--links",
    )
    assert res2["stage_sec"]["links"] < 1.0  # snapshot reopen only


def test_kg_build_jsonl_input_identical(job_tmp, corpus, spark):
    """The JSONL interchange path produces the identical KG as the
    parquet path over the same documents."""
    from onto_text_tag_spark.sources.jsonl import write_document_jsonl

    jl = os.path.join(job_tmp, "corpus_jsonl")
    write_document_jsonl(spark.read.parquet(corpus), jl)
    out_p = os.path.join(job_tmp, "kg_from_parquet")
    out_j = os.path.join(job_tmp, "kg_from_jsonl")
    res_p = _spark_submit(job_tmp, "--input", corpus, "--output", out_p,
                          "--no-nodes")
    res_j = _spark_submit(job_tmp, "--input", jl, "--output", out_j,
                          "--no-nodes", "--jsonl")
    assert res_j["n_mentions"] == res_p["n_mentions"]
    assert res_j["n_triples"] == res_p["n_triples"]
    from onto_text_tag_spark.sinks import read_stage

    tp = read_stage(spark, out_p, "triples")
    tj = read_stage(spark, out_j, "triples")
    assert sorted(map(tuple, tp.collect())) == sorted(map(tuple, tj.collect()))


def test_kg_build_trends_stage(job_tmp, corpus, spark):
    """--trends writes the crawl-time trend stage; content equals the
    direct operator run over the stored mentions + corpus, and resume
    skips it."""
    from pyspark.sql import functions as F

    out_dir = os.path.join(job_tmp, "kg_trends_out")
    res = _spark_submit(
        job_tmp, "--input", corpus, "--output", out_dir,
        "--no-nodes", "--trends", "minute",
    )
    assert "trends" in res["stage_sec"]

    from onto_text_tag_spark.operators.cooccur import mention_trends
    from onto_text_tag_spark.sinks import read_stage

    trends = read_stage(spark, out_dir, "trends")
    assert trends.columns == ["curie", "bucket", "n_docs",
                              "delta_prev_bucket"]
    assert trends.select("bucket").distinct().count() > 1  # real buckets

    docs = spark.read.parquet(corpus).where(F.col("lang") == "en")
    expected = mention_trends(
        read_stage(spark, out_dir, "mentions"),
        docs.select(F.col("url").cast("string").alias("url"), "warc_ts"),
        bucket="minute",
    )
    assert sorted(map(tuple, trends.collect())) == sorted(
        map(tuple, expected.collect())
    )

    res2 = _spark_submit(
        job_tmp, "--input", corpus, "--output", out_dir,
        "--no-nodes", "--trends", "minute",
    )
    assert res2["stage_sec"]["trends"] < 1.0  # resume: snapshot reopen
