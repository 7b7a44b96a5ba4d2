"""Output checks, computed apart from the program.

Every check returns a list of failure messages (empty when it passes).
The recounts run in DuckDB over the stage files the program wrote; the
ontology facts come from the generator's own records; mentions of a
hash-chosen sample of pages come from ``reference_mentions``, a matcher
written to the reference's spec (case-insensitive whole-token phrase
candidates, then greedy longest-then-earliest overlap resolution, as in
OGER / spaCy ``PhraseMatcher(attr='LOWER')`` + ``filter_spans``).
``selftest.py`` shows each check rejecting a planted fault.
"""

from __future__ import annotations

import os
import re
from collections import deque

import duckdb


def reference_mentions(text: str, surface_curie: dict[str, str]) -> list[tuple[int, int, str]]:
    """(begin, end, curie) of the dictionary mentions in ``text``."""
    lower = text.lower()
    tokens = set(re.findall(r"\w+", lower))
    cands = []
    for surface, curie in surface_curie.items():
        if all(w in tokens for w in surface.split()):
            pat = r"(?<!\w)(?=" + re.escape(surface) + r"(?!\w))"
            cands += [(m.start(), m.start() + len(surface), curie) for m in re.finditer(pat, lower)]
    cands.sort(key=lambda c: (c[0] - c[1], c[0]))
    taken = bytearray(len(lower))
    kept = []
    for b, e, curie in cands:
        if not any(taken[b:e]):
            taken[b:e] = b"\x01" * (e - b)
            kept.append((b, e, curie))
    return sorted(kept)


def closure(parent_of: dict[str, str]) -> set[tuple[str, str]]:
    """(descendant, ancestor) pairs of the is-a forest, by BFS upwards."""
    out = set()
    for child in parent_of:
        queue = deque([parent_of[child]])
        while queue:
            anc = queue.popleft()
            if (child, anc) not in out:
                out.add((child, anc))
                if anc in parent_of:
                    queue.append(parent_of[anc])
    return out


def _diff(con, got: str, want: str, what: str) -> list[str]:
    extra = con.execute(f"select count(*) from (({got}) except all ({want}))").fetchone()[0]
    missing = con.execute(f"select count(*) from (({want}) except all ({got}))").fetchone()[0]
    if extra or missing:
        return [f"{what}: {extra} rows not expected, {missing} expected rows missing"]
    return []


def _files(root: str, stage: str) -> str:
    return os.path.join(root, stage, "data", "**", "*.parquet")


def check_graph(con, mentions: str, triples: str, nodes: str | None) -> list[str]:
    """Edges, conserved weight sum and degree totals of a built graph.
    ``mentions`` and ``triples`` name relations (tables or subqueries):
    mentions(url, curie, ...) and triples(subj, pred, obj, weight)."""
    con.execute(f"create or replace temp view m_ as select distinct url, curie from ({mentions})")
    con.execute(f"create or replace temp view t_ as select * from ({triples})")
    fails = _diff(
        con,
        "select subj, obj, weight from t_ where pred = 'co_occurs_with'",
        "select a.curie, b.curie, count(*) from m_ a join m_ b "
        "on a.url = b.url and a.curie < b.curie group by 1, 2",
        "co_occurs_with edges vs recount from mentions",
    )
    got_sum = con.execute(
        "select coalesce(sum(weight), 0) from t_ where pred = 'co_occurs_with'").fetchone()[0]
    want_sum = con.execute(
        "select coalesce(sum(k * (k - 1) / 2), 0) from "
        "(select count(*) as k from m_ group by url)").fetchone()[0]
    if got_sum != want_sum:
        fails.append(f"sum of co_occurs_with weights {got_sum} != sum of C(k,2) {want_sum}")
    n_pairs = con.execute("select count(*) from m_").fetchone()[0]
    n_mention_triples = con.execute("select count(*) from t_ where pred = 'mentions'").fetchone()[0]
    totals = {"distinct (url, curie) in mentions": n_pairs, "mentions triples": n_mention_triples}
    if nodes is not None:
        for kind in ("document", "class"):
            totals[f"{kind} node degrees"] = con.execute(
                f"select coalesce(sum(degree), 0) from ({nodes}) where kind = '{kind}'").fetchone()[0]
    if len(set(totals.values())) != 1:
        fails.append(f"degree totals differ: {totals}")
    fails += _diff(
        con,
        "select subj, obj from t_ where pred = 'mentions'",
        "select url, curie from m_",
        "mentions triples vs distinct (url, curie) of mentions",
    )
    return fails


def check_hierarchy(con, triples: str, closure_rel: str, classes: list[dict]) -> list[str]:
    parent_of = {c["curie"]: c["parent"] for c in classes if c["parent"]}
    con.execute("create or replace temp table isa_ (c varchar, p varchar)")
    con.executemany("insert into isa_ values (?, ?)", list(parent_of.items()))
    con.execute("create or replace temp table clo_ (d varchar, a varchar)")
    con.executemany("insert into clo_ values (?, ?)", sorted(closure(parent_of)))
    return _diff(
        con, f"select subj, obj from ({triples}) where pred = 'is_a'",
        "select c, p from isa_", "is_a triples vs ontology parents",
    ) + _diff(
        con, f"select subj, obj from ({closure_rel}) where pred = 'is_a_transitive'",
        "select d, a from clo_", "isa_closure vs BFS closure",
    )


def check_sample_mentions(con, mentions: str, sample: list[dict], surface_curie) -> list[str]:
    """Mention rows of the sampled pages vs ``reference_mentions`` over
    their reference text; ``span_text`` must be that text's slice."""
    want = []
    for page in sample:
        want += [(page["url"], b, e, c, page["text"][b:e])
                 for b, e, c in reference_mentions(page["text"], surface_curie)]
    con.execute("create or replace temp table want_ "
                "(url varchar, b integer, e integer, curie varchar, span varchar)")
    con.executemany("insert into want_ values (?, ?, ?, ?, ?)", want)
    con.execute("create or replace temp table sample_ (url varchar)")
    con.executemany("insert into sample_ values (?)", [(p["url"],) for p in sample])
    return _diff(
        con,
        f"select url, \"begin\", \"end\", curie, span_text from ({mentions}) "
        "where url in (select url from sample_)",
        "select * from want_",
        f"mentions of {len(sample)} sampled pages vs reference matcher",
    )


def check_extraction(sample: list[dict]) -> list[str]:
    """The program's extractor must reproduce the reference text byte for byte."""
    from onto_text_tag_spark.functions.html_extract import extract_text

    bad = [p["url"] for p in sample if extract_text(p["html"]) != p["text"]]
    return [f"extract_text differs from the reference on {len(bad)} pages, e.g. {bad[:3]}"] if bad else []


def check_build(out_root: str, meta: dict, sample: list[dict]) -> list[str]:
    con = duckdb.connect()
    con.execute("set threads = 4")

    def rel(stage):
        return f"select * from read_parquet('{_files(out_root, stage)}', hive_partitioning = true)"

    fails = check_graph(con, rel("mentions"), rel("triples"), rel("nodes"))
    fails += check_hierarchy(con, rel("triples"), rel("isa_closure"), meta["classes"])
    fails += check_sample_mentions(con, rel("mentions"), sample, meta["surface_curie"])
    if meta["workload"] == "build_html":
        fails += check_extraction(sample)
    con.close()
    return fails


def check_exact_groups(live_urls: set[str], groups: list[list[str]]) -> list[str]:
    bad = [g for g in groups if len(live_urls.intersection(g)) != 1]
    return [f"{len(bad)} of {len(groups)} byte-identical groups do not have exactly "
            f"one live member, e.g. {bad[:2]}"] if bad else []


def check_crawl(live_urls: set[str], live_mentions, live_triples, meta: dict,
                sample: list[dict]) -> list[str]:
    """``live_mentions``/``live_triples`` are pandas frames read through
    the program's live views; mentions are recounted over live urls only."""
    con = duckdb.connect()
    con.register("lm_", live_mentions)
    con.register("lt_", live_triples)
    con.execute("create temp table live_ (url varchar)")
    con.executemany("insert into live_ values (?)", [(u,) for u in sorted(live_urls)])
    fails = check_exact_groups(live_urls, meta["exact_groups"])
    fails += check_graph(
        con, "select * from lm_ where url in (select url from live_)", "select * from lt_", None)
    live_sample = [p for p in sample if p["url"] in live_urls]
    fails += check_sample_mentions(con, "select * from lm_", live_sample, meta["surface_curie"])
    con.close()
    return fails
