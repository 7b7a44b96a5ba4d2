#!/usr/bin/env python3
"""KG pipeline benchmark: run one workload for one seed.

    python3 kgbench/run.py --workload build_html --seed 1 --seconds 8 --trace 0

Run from the root of a checkout of the program.  The last line printed
is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``; names and units as in BENCHMARK.json).

Workloads (README.md has the full make-up):

* ``build_html``   ``jobs/kg_build.py --from-html`` over filler-heavy raw pages;
* ``build_dense``  ``jobs/kg_build.py`` over short term-dense pages' text column;
* ``crawl_ingest`` ``streaming.incremental.start_crawl_sink`` fed crawl
  drops with planted mirrors and near-duplicates, one epoch per drop.

A run repeats whole rounds (one build, or one drop sequence into fresh
stores) until ``--seconds`` have passed, and reports medians over its
rounds.  Inputs, outputs, Spark's scratch space and traces all live in
``.kgbench_work/`` at the checkout root.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib.util
import io
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".kgbench_work")
WORKLOADS = ("build_html", "build_dense", "crawl_ingest")
DOC_SCHEMA = "url string, text string"


def process_start() -> float:
    """Wall-clock time this process was started, from /proc."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.time() - uptime + start_ticks / os.sysconf("SC_CLK_TCK")


def tree_peak_rss_mb() -> float:
    """Sum of the peak resident sizes (VmHWM) of this process and all its
    descendants: the driver, the Spark JVM and the Python workers."""
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    parent[int(entry)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
    tree, frontier = {os.getpid()}, [os.getpid()]
    while frontier:
        kids = [p for p, pp in parent.items() if pp in frontier and p not in tree]
        tree.update(kids)
        frontier = kids
    total_kb = 0
    for pid in tree:
        try:
            with open(f"/proc/{pid}/status") as fh:
                total_kb += next(int(ln.split()[1]) for ln in fh if ln.startswith("VmHWM:"))
        except (OSError, StopIteration):
            continue
    return total_kb / 1024


def dir_mb(path: str) -> float:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    ) / 1e6


def ensure_inputs(workload: str, seed: int) -> float:
    """Generate the inputs in a child process unless cached; returns the
    seconds spent, which no metric counts."""
    from gen import GEN_VERSION

    if os.path.exists(os.path.join(WORK, "inputs", f"{workload}-s{seed}-v{GEN_VERSION}", "meta.json")):
        return 0.0
    t = time.time()
    subprocess.run(
        [sys.executable, os.path.join(HERE, "gen.py"), "--work", WORK,
         "--workload", workload, "--seed", str(seed)],
        check=True, timeout=170,
    )
    return time.time() - t


def load_inputs(workload: str, seed: int) -> tuple[dict, list[dict]]:
    import pyarrow.parquet as pq

    from gen import inputs

    meta = inputs(WORK, workload, seed)
    sample = pq.read_table(os.path.join(meta["dir"], "sample.parquet")).to_pylist()
    return meta, sample


def start_session(cores: int, event_log: str | None):
    scratch = os.path.join(WORK, "spark")
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        # the Python workers import the program from the checkout
        "PYTHONPATH": os.pathsep.join([ROOT, os.environ.get("PYTHONPATH", "")]).rstrip(os.pathsep),
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_DRIVER_MEM": "1g",
        "SPARK_LOCAL_DIRS": os.path.join(scratch, "local"),
        "TMPDIR": tmp,
    })
    import tempfile

    tempfile.tempdir = None
    # -Xms1g: a heap left to grow from its small default moved the JVM's
    # peak resident size by ~250 MB from run to run (README.md)
    conf = {
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Xms1g -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    from onto_text_tag_spark.session import get_spark

    spark = get_spark(app_name="kgbench", master=f"local[{cores}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM (and with it the Python workers) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def install_tracer(tracer) -> None:
    """Spans on the public functions of every layer the workloads reach."""
    from onto_text_tag_spark import dictionary, sinks
    from onto_text_tag_spark.operators import tagger
    from onto_text_tag_spark.plans import dedup_absorb, kg_absorb, kg_pipeline
    from onto_text_tag_spark.streaming import incremental

    from spans import stage_arg

    tracer.wrap(kg_pipeline, "load_ontology_rows")
    tracer.wrap(dictionary, "build_dictionary_rows")
    tracer.wrap(tagger, "compile_dictionary")
    tracer.wrap(tagger, "tag_documents")
    tracer.wrap(sinks, "run_stage", stage_arg(2))
    tracer.wrap(sinks, "write_stage", stage_arg(2))
    tracer.wrap(sinks, "write_stage_branches", stage_arg(2))
    tracer.wrap(sinks, "commit_stage", stage_arg(1))
    tracer.wrap(dedup_absorb, "absorb_dedup_batch")
    tracer.wrap(kg_absorb, "absorb_batch")
    tracer.wrap(kg_absorb, "retract_batch")
    tracer.wrap(incremental, "init_crawl_root")
    # the crawl sink's per-epoch function is a closure handed to
    # foreachBatch: wrap what it is handed
    from pyspark.sql.streaming import DataStreamWriter

    orig = DataStreamWriter.foreachBatch

    def foreach_batch(self, func):
        def epoch(df, epoch_id):
            span = tracer.open("stream.epoch")
            try:
                return func(df, epoch_id)
            finally:
                tracer.close(span)

        return orig(self, epoch)

    tracer.patch(DataStreamWriter, "foreachBatch", foreach_batch)


@contextlib.contextmanager
def round_span(tracer):
    if tracer is None:
        yield None
        return
    span = tracer.open("round")
    tracer.root = span["id"]
    try:
        yield span
    finally:
        tracer.close(span)
        tracer.root = None


# --------------------------------------------------------------------------
# workloads
#
# Every run starts with whole rounds that are not measured: the first
# round runs cold (JIT compilation, first reads of the inputs) and took
# about twice as long as later rounds, and a build's second round still
# ~15% longer.  The rounds after the warm-up are measured until --seconds
# have passed, and their median is reported.
WARMUP_ROUNDS = {"build_html": 2, "build_dense": 2, "crawl_ingest": 1}


def log_round(rounds: list[dict], warmup: int) -> None:
    r = rounds[-1]
    n = len(rounds) - warmup
    label = f"warm-up {len(rounds)}" if n <= 0 else f"round {n}"
    times = " ".join(f"{x:.3f}" for x in r.get("latencies", ()))
    print(f"{label}: wall_s {r['wall_s']:.3f}" + (f" (epochs {times})" if times else ""),
          file=sys.stderr)


def run_builds(spark, meta: dict, seconds: float, tracer) -> dict:
    from pyspark.sql import SparkSession

    from onto_text_tag_spark.plans import kg_pipeline

    spec = importlib.util.spec_from_file_location("kg_build", os.path.join(ROOT, "jobs", "kg_build.py"))
    kg_build = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(kg_build)

    # The job reads its first document right after its warm-up, when it
    # loads the ontology: that call ends set-up and starts the clock.
    marks: list[float] = []
    load = kg_pipeline.load_ontology_rows

    def load_marked(*args, **kwargs):
        marks.append(time.time())
        return load(*args, **kwargs)

    kg_pipeline.load_ontology_rows = load_marked
    if tracer is not None:
        install_tracer(tracer)
    # the job ends with spark.stop(); keep the session for the next round
    stop = SparkSession.stop
    SparkSession.stop = lambda self: None
    out = os.path.join(WORK, "run", "out")
    argv = ["kg_build", "--input", os.path.join(meta["dir"], "corpus"),
            "--ontology", os.path.join(meta["dir"], "ontology.obo"), "--output", out]
    if meta["workload"] == "build_html":
        argv.append("--from-html")
    rounds, warmup = [], WARMUP_ROUNDS[meta["workload"]]
    try:
        t_first = None
        while True:
            shutil.rmtree(out, ignore_errors=True)
            sys.argv = argv
            buf = io.StringIO()
            with round_span(tracer) as span, contextlib.redirect_stdout(buf):
                t_call = time.time()
                kg_build.main()
                t_end = time.time()
            job = json.loads(buf.getvalue().strip().splitlines()[-1])
            rounds.append({
                "start": t_call, "wall_s": t_end - marks[-1], "triples": job["n_triples"],
                "stage_s": job["stage_sec"], "span": span and span["id"],
            })
            log_round(rounds, warmup)
            if len(rounds) > warmup:
                t_first = t_first or marks[-1]
                if t_end - t_first >= seconds:
                    break
    finally:
        SparkSession.stop = stop
        kg_pipeline.load_ontology_rows = load
        if tracer is not None:
            tracer.unwrap()
    return {
        "rounds": rounds[warmup:],
        "ready": marks[0],
        "warmup_s": marks[0] - rounds[0]["start"],
        "pages": meta["pages"],
        "stored_mb": dir_mb(out),
        "epochs": [r["wall_s"] for r in rounds[warmup:]],
        "out": out,
    }


def _noop(batches):
    yield from batches


def run_crawl(spark, meta: dict, seconds: float, tracer) -> dict:
    from onto_text_tag_spark.dictionary import build_dictionary_rows
    from onto_text_tag_spark.plans.kg_pipeline import load_ontology_rows
    from onto_text_tag_spark.streaming import incremental

    if tracer is not None:
        install_tracer(tracer)
    t_warm = time.time()
    # the same warm-up kg_build does: fork the Python workers once
    spark.range(0, 10_000, numPartitions=4).toDF("id").mapInPandas(_noop, schema="id long").count()
    t_dict = time.time()
    onto = load_ontology_rows([os.path.join(meta["dir"], "ontology.obo")])
    dict_rows = build_dictionary_rows(onto)
    dictionary_s = time.time() - t_dict
    warmup_s = t_dict - t_warm
    drops = sorted(os.listdir(os.path.join(meta["dir"], "drops")))
    rounds, warmup = [], WARMUP_ROUNDS[meta["workload"]]
    try:
        t_first = None
        while True:
            base = os.path.join(WORK, "run", "crawl")
            shutil.rmtree(base, ignore_errors=True)
            root, src, ckpt, landing = (os.path.join(base, d) for d in ("root", "src", "ckpt", "landing"))
            os.makedirs(src)
            os.makedirs(landing)
            incremental.init_crawl_root(spark, root, onto, DOC_SCHEMA)
            stream = spark.readStream.schema(DOC_SCHEMA).parquet(src)
            query = incremental.start_crawl_sink(stream, root, dict_rows, ckpt)
            try:
                query.processAllAvailable()
                ready = time.time()
                lands, latencies = [], []
                with round_span(tracer) as span:
                    for name in drops:
                        # land each drop whole, with one rename, while the
                        # query is idle: one drop, one epoch
                        staged = os.path.join(landing, name)
                        shutil.copyfile(os.path.join(meta["dir"], "drops", name), staged)
                        lands.append(time.time())
                        os.replace(staged, os.path.join(src, name))
                        query.processAllAvailable()
                        latencies.append(time.time() - lands[-1])
                    t_end = time.time()
            finally:
                query.stop()
            commits = [f for f in os.listdir(os.path.join(ckpt, "commits")) if f.isdigit()]
            rounds.append({
                "ready": ready, "wall_s": t_end - lands[0], "latencies": latencies,
                "epochs_committed": len(commits), "span": span and span["id"],
            })
            log_round(rounds, warmup)
            if len(rounds) > warmup:
                t_first = t_first or lands[0]
                if t_end - t_first >= seconds:
                    break
    finally:
        if tracer is not None:
            tracer.unwrap()
    return {
        "rounds": rounds[warmup:],
        "warmup_rounds": rounds[:warmup],
        "ready": rounds[0]["ready"],
        "warmup_s": warmup_s,
        "pages": meta["pages"],
        "stored_mb": dir_mb(root),
        "epochs": [x for r in rounds[warmup:] for x in r["latencies"]],
        "root": root,
        "n_drops": len(drops),
        "dict_rows": dict_rows,
        "dictionary_s": dictionary_s,
    }


# --------------------------------------------------------------------------
# checks, kernels, report


def check(spark, meta: dict, sample: list[dict], res: dict) -> list[str]:
    from check import check_build, check_crawl

    if meta["workload"] != "crawl_ingest":
        return check_build(res["out"], meta, sample)
    from onto_text_tag_spark.plans.dedup_absorb import read_deduped
    from onto_text_tag_spark.plans.kg_absorb import read_live_mentions, read_live_triples

    fails = [
        f"round {i}: {r['epochs_committed']} epochs committed for {res['n_drops']} drops"
        for i, r in enumerate(res["warmup_rounds"] + res["rounds"])
        if r["epochs_committed"] != res["n_drops"]
    ]
    root = res["root"]
    kg = os.path.join(root, "kg")
    live = {r["url"] for r in read_deduped(spark, os.path.join(root, "dedup")).select("url").collect()}
    mentions = read_live_mentions(spark, kg).select("url", "begin", "end", "span_text", "curie").toPandas()
    triples = read_live_triples(spark, kg).select("subj", "pred", "obj", "weight").toPandas()
    return fails + check_crawl(live, mentions, triples, meta, sample)


def live_triples_added(spark, res: dict) -> int:
    from pyspark.sql import functions as F

    from onto_text_tag_spark.plans.kg_absorb import read_live_triples

    t = read_live_triples(spark, os.path.join(res["root"], "kg"))
    return t.where(F.col("pred") != "is_a").count()


def kernels(sample: list[dict], dict_rows) -> dict:
    """Single-core rates of the extraction and tagging kernels over the
    run's sampled pages, outside Spark."""
    from onto_text_tag_spark.functions.html_extract import extract_text
    from onto_text_tag_spark.operators.tagger import compile_dictionary, tag_text

    def rate(fn, items):
        n, t0 = 0, time.perf_counter()
        while True:
            for item in items:
                fn(item)
            n += len(items)
            if time.perf_counter() - t0 >= 0.5:
                return n / (time.perf_counter() - t0)

    htmls = [p["html"] for p in sample if p.get("html")]
    matcher = compile_dictionary(dict_rows)
    texts = [(p["url"], p["text"]) for p in sample]
    out = dict.fromkeys(("html_extract.docs_per_s", "html_extract.mb_per_s",
                         "tagger.docs_per_s", "tagger.mentions_per_doc"), 0.0)
    if htmls:
        out["html_extract.docs_per_s"] = rate(extract_text, htmls)
        out["html_extract.mb_per_s"] = out["html_extract.docs_per_s"] * statistics.mean(
            len(h.encode()) for h in htmls) / 1e6
    if texts:
        out["tagger.docs_per_s"] = rate(lambda ut: tag_text(matcher, *ut), texts)
        out["tagger.mentions_per_doc"] = sum(len(tag_text(matcher, u, t)) for u, t in texts) / len(texts)
    return out


def untraced_record(workload: str) -> str:
    from gen import GEN_VERSION

    return os.path.join(WORK, "untraced", f"{workload}-v{GEN_VERSION}.jsonl")


def untraced_wall(args) -> float:
    """Median untraced wall_s of this workload from earlier runs in this
    checkout; with none recorded, make one untraced run first."""
    path = untraced_record(args.workload)
    if not os.path.exists(path):
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
             "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"],
            check=True, timeout=175, stdout=subprocess.DEVNULL,
        )
    with open(path) as fh:
        return statistics.median(json.loads(ln)["wall_s"] for ln in fh if ln.strip())


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_proc = process_start()

    sys.path.insert(0, ROOT)
    import onto_text_tag_spark  # noqa: F401  (fails outside a checkout of the program)

    if not os.path.isfile(os.path.join(ROOT, "jobs", "kg_build.py")):
        raise SystemExit("jobs/kg_build.py not found: run from a checkout of the program")
    os.makedirs(WORK, exist_ok=True)
    gen_s = ensure_inputs(args.workload, args.seed)
    reference = untraced_wall(args) if args.trace else None
    meta, sample = load_inputs(args.workload, args.seed)
    run_id = uuid.uuid4().hex[:12]
    event_dir = os.path.join(WORK, "traces", "eventlog") if args.trace else None

    cores = len(os.sched_getaffinity(0))
    t_session = time.time()
    spark = start_session(cores, event_dir)
    session_s = time.time() - t_session
    tracer = None
    if args.trace:
        from spans import Tracer

        tracer = Tracer(spark.sparkContext, run_id)
    run = run_crawl if args.workload == "crawl_ingest" else run_builds
    try:
        res = run(spark, meta, args.seconds, tracer)
        rss_mb = tree_peak_rss_mb()
        if args.workload == "crawl_ingest":
            triples = live_triples_added(spark, res)
            dict_rows = res["dict_rows"]
        else:
            triples = res["rounds"][-1]["triples"]
            dict_rows = None
        fails = check(spark, meta, sample, res)
        app_id = spark.sparkContext.applicationId
    finally:
        stop_session(spark)

    wall_s = statistics.median(r["wall_s"] for r in res["rounds"])
    attempted = len(res["epochs"])
    result = {"correct": not fails, "attempted": attempted, "failed": 0}
    for msg in fails:
        print("CHECK FAILED:", msg, file=sys.stderr)

    if not args.trace:
        metrics = {
            "setup_s": (res["ready"] - t_proc - gen_s, "s"),
            "wall_s": (wall_s, "s"),
            "docs_per_s": (res["pages"] / wall_s, "docs/s"),
            "triples_per_s": (triples / wall_s, "triples/s"),
            "peak_rss_mb": (rss_mb, "MB"),
            "stored_mb": (res["stored_mb"], "MB"),
            "epoch_p50_s": (statistics.median(res["epochs"]), "s"),
        }
        os.makedirs(os.path.join(WORK, "untraced"), exist_ok=True)
        with open(untraced_record(args.workload), "a") as fh:
            fh.write(json.dumps({
                "seed": args.seed, "wall_s": wall_s,
                "rounds": [r.get("stage_s") or r.get("latencies") for r in res["rounds"]],
            }) + "\n")
    else:
        from spans import EventLog, event_log_file, layer_metrics

        if dict_rows is None:
            from onto_text_tag_spark.dictionary import build_dictionary_rows
            from onto_text_tag_spark.plans.kg_pipeline import load_ontology_rows

            dict_rows = build_dictionary_rows(
                load_ontology_rows([os.path.join(meta["dir"], "ontology.obo")]))
        log = EventLog(event_log_file(event_dir, app_id))
        per_round = [layer_metrics(tracer.spans, log, r["span"], res["pages"]) for r in res["rounds"]]
        layers = {k: statistics.median(r[k] for r in per_round) for k in per_round[0]}
        layers.update(kernels(sample, dict_rows))
        layers["session.start_s"] = session_s
        layers["session.warmup_s"] = res["warmup_s"]
        if "dictionary_s" in res:
            layers["dictionary.build_s"] = res["dictionary_s"]
        layers["trace.wall_s"] = wall_s
        layers["trace.overhead_s"] = wall_s - reference
        tracer.dump(
            os.path.join(WORK, "traces", f"{args.workload}-s{args.seed}-{run_id}.json"),
            {"workload": args.workload, "seed": args.seed, "layers": layers,
             "event_log": os.path.relpath(event_log_file(event_dir, app_id), ROOT)},
        )
        metrics = {k: (v, UNITS[k]) for k, v in layers.items()}
    result["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    print(json.dumps(result))


UNITS = {
    "session.start_s": "s", "session.warmup_s": "s",
    "dictionary.build_s": "s", "tagger.compile_s": "s",
    "html_extract.docs_per_s": "docs/s", "html_extract.mb_per_s": "MB/s",
    "tagger.docs_per_s": "docs/s", "tagger.mentions_per_doc": "count",
    "mentions.stage_s": "s", "mentions.python_boot_s": "s", "mentions.python_init_s": "s",
    "mentions.python_run_s": "s", "mentions.python_sent_mb": "MB",
    "mentions.python_returned_mb": "MB", "mentions.scan_s": "s", "mentions.input_mb": "MB",
    "doc_terms.stage_s": "s", "triples.stage_s": "s", "nodes.stage_s": "s",
    "shuffle.write_mb": "MB", "shuffle.records": "count", "shuffle.write_s": "s",
    "shuffle.fetch_wait_s": "s", "spill.mb": "MB", "agg.sort_fallback_tasks": "count",
    "task.skew": "ratio", "cooccur.combine_ratio": "ratio",
    "sinks.files_written": "count", "sinks.output_mb": "MB", "sinks.task_commit_s": "s",
    "sinks.commit_s": "s",
    "dedup_absorb.epoch_s": "s", "dedup_absorb.python_run_s": "s",
    "dedup_absorb.shuffle_mb": "MB", "dedup.survivor_ratio": "ratio",
    "kg_absorb.epoch_s": "s", "kg_absorb.retract_s": "s", "kg_absorb.new_doc_ratio": "ratio",
    "stream.jobs_per_epoch": "count", "stream.epoch_overhead_s": "s",
    "cpu.executor_s": "s", "cpu.gc_s": "s", "mem.peak_exec_mb": "MB",
    "trace.wall_s": "s", "trace.overhead_s": "s",
}


if __name__ == "__main__":
    main()
