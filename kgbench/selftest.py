#!/usr/bin/env python3
"""Show that every output check can fail.

    python3 kgbench/selftest.py

Runs ``build_dense`` and ``crawl_ingest`` once (seed 1), confirms the
checks pass on their outputs, then plants one fault at a time into a
copy of those outputs and confirms the checks reject it:

* a dropped mention row (a build's ``mentions`` stage loses one row of a
  sampled page);
* an edge weight off by one (one ``co_occurs_with`` weight + 1);
* a second live copy of an exact duplicate page (the crawl's live url
  set gains a second member of a byte-identical group).

Exits 0 only if the clean outputs pass and every planted fault is caught.
"""

from __future__ import annotations

import glob
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402
from check import check_build, check_crawl  # noqa: E402
from gen import sampled  # noqa: E402

SEED = 1


def bench(workload: str) -> None:
    subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(SEED), "--seconds", "1", "--trace", "0"],
        check=True, timeout=600, stdout=subprocess.DEVNULL,
    )


def rewrite(files_glob: str, edit) -> None:
    """Replace the parquet files matched by ``files_glob`` with one file
    holding ``edit(table)``."""
    files = sorted(glob.glob(files_glob))
    table = edit(pa.concat_tables(pq.read_table(f) for f in files))
    for f in files:
        os.remove(f)
    pq.write_table(table, files[0])


def drop_sampled_mention(table: pa.Table) -> pa.Table:
    urls = table.column("url").to_pylist()
    victim = next(i for i, u in enumerate(urls) if sampled(u))
    return table.take([i for i in range(len(urls)) if i != victim])


def bump_first_weight(table: pa.Table) -> pa.Table:
    weights = table.column("weight").to_pylist()
    weights[0] += 1
    return table.set_column(table.schema.get_field_index("weight"), "weight",
                            pa.array(weights, pa.int64()))


def expect(name: str, fails: list[str], should_fail: bool) -> bool:
    ok = bool(fails) == should_fail
    verdict = "rejected" if fails else "passed"
    print(f"{'ok  ' if ok else 'FAIL'} {name}: {verdict}")
    for msg in fails:
        print(f"       {msg}")
    return ok


def main() -> None:
    sys.path.insert(0, run.ROOT)
    results = []

    bench("build_dense")
    meta, sample = run.load_inputs("build_dense", SEED)
    out = os.path.join(run.WORK, "run", "out")
    work = os.path.join(run.WORK, "selftest")
    shutil.rmtree(work, ignore_errors=True)

    def planted(name, stage_glob, edit):
        copy = os.path.join(work, name)
        shutil.copytree(out, copy)
        if edit:
            rewrite(os.path.join(copy, stage_glob), edit)
        return check_build(copy, meta, sample)

    results.append(expect("build, clean output", planted("clean", "", None), False))
    results.append(expect("build, dropped mention row", planted(
        "dropped_mention", "mentions/data/*.parquet", drop_sampled_mention), True))
    results.append(expect("build, edge weight off by one", planted(
        "weight_off", "triples/data/pred=co_occurs_with/*.parquet", bump_first_weight), True))

    bench("crawl_ingest")
    meta, sample = run.load_inputs("crawl_ingest", SEED)
    spark = run.start_session(len(os.sched_getaffinity(0)), None)
    try:
        from onto_text_tag_spark.plans.dedup_absorb import read_deduped
        from onto_text_tag_spark.plans.kg_absorb import read_live_mentions, read_live_triples

        root = os.path.join(run.WORK, "run", "crawl", "root")
        kg = os.path.join(root, "kg")
        live = {r["url"] for r in read_deduped(spark, os.path.join(root, "dedup")).select("url").collect()}
        mentions = read_live_mentions(spark, kg).select(
            "url", "begin", "end", "span_text", "curie").toPandas()
        triples = read_live_triples(spark, kg).select("subj", "pred", "obj", "weight").toPandas()
    finally:
        run.stop_session(spark)
    results.append(expect("crawl, clean live views",
                          check_crawl(live, mentions, triples, meta, sample), False))
    group = next(g for g in meta["exact_groups"] if len(g) > 1)
    second = next(u for u in group if u not in live)
    results.append(expect("crawl, second live copy of an exact duplicate",
                          check_crawl(live | {second}, mentions, triples, meta, sample), True))
    w = triples["pred"] == "co_occurs_with"
    bumped = triples.copy()
    bumped.loc[bumped[w].index[0], "weight"] += 1
    results.append(expect("crawl, live edge weight off by one",
                          check_crawl(live, mentions, bumped, meta, sample), True))
    shutil.rmtree(work, ignore_errors=True)
    sys.exit(0 if all(results) else 1)


if __name__ == "__main__":
    main()
