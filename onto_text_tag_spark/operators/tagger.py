"""Dictionary tagging: documents → mention rows (F2 + W1 + J1).

Reference behavior: OGER exact-dictionary tagging per request
(app.py:57-60,681-708) / spaCy PhraseMatcher with ``attr='LOWER'`` and
``filter_spans`` overlap resolution (ontotagtext.py:110-141).  One
document row fans out to N mention rows — UDTF-shaped, so the Spark
surface is ``mapInPandas`` (Arrow-batched, no per-row Python at the
JVM↔Python boundary).

Physical design for 10^12-document scale:

* The compiled Aho–Corasick automaton (surface → linked term entry) is
  built ONCE on the driver from the collision-resolved dictionary and
  shipped with ``sc.broadcast`` — one copy per executor, not per task.
  Entity linking (J1) therefore happens inline during matching: the
  payload already carries (curie, pref_label, ont), so no separate
  shuffle-join against the dictionary is needed on the fact-table side.
* Tagging is embarrassingly parallel: no shuffle, pipelined with the
  parquet scan; column pruning keeps ``html:binary`` unread when ``text``
  is already materialized and no html fallback is asked for.
* Output partitioning: mentions inherit input file-split partitioning;
  downstream aggregations repartition by their own keys.
"""

from __future__ import annotations

from collections.abc import Iterator
from itertools import repeat

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from onto_text_tag_spark.functions.aho_corasick import (
    TokenIndexMatcher,
    build_matcher,
    filter_spans,
)
from onto_text_tag_spark.schemas import MENTIONS

# Arrow-friendly output schema of the tagging stage (FIXTURES.md §4).
MENTION_COLUMNS = ["url", "begin", "end", "span_text", "curie", "pref_label", "ont"]


def compile_dictionary(dictionary_rows) -> TokenIndexMatcher:
    """(surface, curie, name, ont) rows → matcher (token-indexed; same
    match semantics as the Aho–Corasick reference implementation, ~15x
    faster per document — equivalence is property-tested).

    ``dictionary_rows``: iterable of dict-like rows with at least
    ``surface``, ``id``, ``name``, ``ont`` (build_dictionary output after
    resolve_collisions — one concept per surface, A5).
    """
    return build_matcher(
        (row["surface"], (row["id"], row["name"], row["ont"]))
        for row in dictionary_rows
    )


def tag_text(automaton: TokenIndexMatcher, url: str, text: str) -> list[tuple]:
    """Tag one document: match, resolve overlaps (W1), emit mention rows."""
    if not text:
        return []
    candidates = automaton.find(text)
    resolved = filter_spans(candidates)
    return [
        (url, begin, end, text[begin:end], payload[0], payload[1], payload[2])
        for begin, end, _pattern, payload in resolved
    ]


def tag_documents(
    documents: DataFrame,
    dictionary: DataFrame,
    text_col: str = "text",
    id_col: str = "url",
    html_col: str | None = None,
    warc_mode: bool = False,
) -> DataFrame:
    """documents(url, text) × dictionary → mentions DataFrame.

    The dictionary DF is collected to the driver (it is small by
    construction — SURVEY.md §1.1 pins it at broadcast scale), compiled,
    and broadcast; matching runs in ``mapInPandas`` batches.

    ``html_col``: tag from raw HTML — P1 extraction (byte-identical
    ``extract_text``) runs INSIDE the tagging batch, so the raw-HTML
    path crosses the JVM↔Python Arrow boundary once instead of twice
    (extract UDF then tag) and the intermediate text column is never
    shipped back to the JVM.  One kernel serves every case, per row:
    ``text`` when it is not null, else ``extract_text(html)``.

    * ``text_col`` absent: ``html_col`` is the source; every row is
      extracted (``kg_build --from-html``).
    * ``text_col`` present: ``html_col`` is the fallback for null-text
      rows.  The source selects ``when(text IS NULL, html)``, so only
      those rows' HTML crosses to Python — the same rows
      ``extract_texts`` would extract, without its second scan and
      extract-UDF stage.  The trade: the parquet scan now reads the
      ``html`` column too (its ``ReadSchema`` holds it).
    * ``html_col=None``: text only; column pruning keeps ``html`` out
      of the scan.

    ``warc_mode``: ``documents`` is a ``binaryFile`` scan of WARC crawl
    archives (path, content); record parse + P1 extraction + tagging all
    run inside ONE batch, so the only Arrow traffic is raw archive bytes
    in and small mention rows out — the decompressed corpus (~4× the
    archive) never crosses back to the JVM.
    """
    spark = documents.sparkSession
    if isinstance(dictionary, DataFrame):
        rows = dictionary.select("surface", "id", "name", "ont").collect()
    else:  # pre-collected rows (driver-side dictionaries skip the Spark job)
        rows = dictionary
    automaton = compile_dictionary(rows)
    bc = spark.sparkContext.broadcast(automaton)

    from onto_text_tag_spark.functions.html_extract import extract_text

    if warc_mode:
        from onto_text_tag_spark.sources.warc import parse_warc_file

        def tag_batches(
            batches: Iterator[pd.DataFrame],
        ) -> Iterator[pd.DataFrame]:
            ac = bc.value
            for batch in batches:
                out: list[tuple] = []
                for fpath, content in zip(batch["path"], batch["content"]):
                    gz = str(fpath).endswith(".gz")
                    for rec in parse_warc_file(bytes(content), gzipped=gz):
                        if rec["warc_type"] != "response" or not rec["url"]:
                            continue
                        html = rec["html"].decode("utf-8", errors="replace")
                        out.extend(
                            tag_text(ac, rec["url"], extract_text(html)))
                        if len(out) >= 50_000:
                            yield pd.DataFrame(out, columns=MENTION_COLUMNS)
                            out = []
                if out:
                    yield pd.DataFrame(out, columns=MENTION_COLUMNS)

        source = documents.select("path", "content")
        return source.mapInPandas(tag_batches, schema=MENTIONS)

    # without html_col, a missing text column fails at the select below
    has_text = html_col is None or text_col in documents.columns
    cols = [F.col(id_col).cast("string").alias(id_col)]
    if has_text:
        cols.append(F.col(text_col))
    if html_col is not None:
        # with text present, only null-text rows ship their html
        cols.append(
            F.when(F.col(text_col).isNull(), F.col(html_col)).alias(html_col)
            if has_text else F.col(html_col)
        )

    def tag_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ac = bc.value
        for batch in batches:
            texts = batch[text_col] if has_text else repeat(None)
            htmls = batch[html_col] if html_col is not None else repeat(None)
            out: list[tuple] = []
            for url, text, html in zip(batch[id_col], texts, htmls):
                if text is None and html is not None:
                    if isinstance(html, (bytes, bytearray, memoryview)):
                        html = bytes(html).decode("utf-8", errors="replace")
                    text = extract_text(html)
                if text is not None:
                    out.extend(tag_text(ac, url, text))
            yield pd.DataFrame(out, columns=MENTION_COLUMNS)

    return documents.select(*cols).mapInPandas(tag_batches, schema=MENTIONS)


def tag_documents_joined(
    documents: DataFrame,
    dictionary: DataFrame,
    text_col: str = "text",
    id_col: str = "url",
    resolve: str = "greedy",
) -> DataFrame:
    """Shuffle-join tagging: the J1 entity-linking path for dictionaries
    BEYOND broadcast scale (full OLS — hundreds of ontologies, 10^8
    surfaces — no longer ships in a broadcast automaton).

    Physical shape: documents tokenize JVM-side (``split`` on non-word
    runs, whole-stage codegen), explode to positioned n-grams for each
    n-gram length the dictionary actually contains, and equi-join the
    gram stream against the dictionary on the normalized token-sequence
    key — a plain shuffle join Catalyst can also choose to broadcast
    when the dictionary IS small, i.e. the physical strategy degrades
    gracefully instead of OOMing the driver.  Overlap resolution (W1)
    runs AFTER the join on the candidate stream only (tiny vs corpus):

    * ``resolve='greedy'`` — exact longest-match-wins policy
      (surface-length desc, position asc), per-doc via
      ``applyInPandas`` over candidates (the Python stage sees matches,
      never documents);
    * ``resolve='contain'`` — pure-JVM containment pruning (drop a
      candidate nested inside a strictly longer one): identical to
      greedy whenever overlaps are containments — the common ontology
      shape ("hash join" ⊃ "join") — but keeps BOTH sides of partial
      overlap chains;
    * ``resolve='none'`` — all candidates (recall-oriented).

    Semantic scope vs the automaton: matching is on token SEQUENCES
    (punctuation-insensitive), and spans are token offsets, not char
    offsets.  For single-space word surfaces over word text — the
    driver-corpus shape — output equals ``tag_documents`` exactly
    (pinned in tests); the broadcast automaton remains the
    full-fidelity char-exact path.

    Output: ``(url, tok_begin, tok_end, surface, curie, pref_label,
    ont)``.
    """
    if resolve not in ("greedy", "contain", "none"):
        raise ValueError(f"unknown resolve policy {resolve!r}")
    norm = F.expr(
        "array_join(filter(split(lower(surface), '[^a-z0-9_]+'), "
        "t -> t != ''), ' ')"
    )
    dict_norm = (
        dictionary.select(
            norm.alias("surface"),
            F.col("id").alias("curie"),
            F.col("name").alias("pref_label"),
            F.col("ont"),
        )
        .where(F.col("surface") != "")
        .withColumn("n_toks", F.size(F.split("surface", " ")))
    )
    ngram_lengths = sorted(
        r["n_toks"] for r in dict_norm.select("n_toks").distinct().collect()
    )
    if not ngram_lengths:
        # empty dictionary: no candidate grams → empty mentions frame
        # with the output schema (not an AttributeError on grams=None)
        from onto_text_tag_spark.session import local_df

        return local_df(
            documents.sparkSession, [],
            "url string, tok_begin int, tok_end int, surface string, "
            "curie string, pref_label string, ont string",
        )

    toks = documents.select(
        F.col(id_col).cast("string").alias("url"),
        F.expr(
            f"filter(split(lower({text_col}), '[^a-z0-9_]+'), t -> t != '')"
        ).alias("toks"),
    )
    grams = None
    for n in ngram_lengths:
        g = toks.select(
            "url",
            # if-guard: sequence(1, 0) DESCENDS in Spark — docs shorter
            # than n tokens must take an explicit empty-array branch
            F.posexplode(
                F.expr(
                    f"if(size(toks) >= {n},"
                    f" transform(sequence(1, size(toks) - {n - 1}),"
                    f"  i -> concat_ws(' ', slice(toks, i, {n}))),"
                    f" array())"
                )
            ).alias("tok_begin", "gram"),
        ).withColumn("tok_end", F.col("tok_begin") + F.lit(n))
        grams = g if grams is None else grams.unionByName(g)

    candidates = grams.join(
        dict_norm.withColumnRenamed("surface", "gram"), "gram"
    ).select(
        "url", "tok_begin", "tok_end",
        F.col("gram").alias("surface"), "curie", "pref_label", "ont",
    )
    if resolve == "none":
        return candidates
    if resolve == "contain":
        inner = candidates.alias("a")
        outer = candidates.alias("b")
        nested = (
            F.col("b.tok_begin") <= F.col("a.tok_begin")
        ) & (F.col("b.tok_end") >= F.col("a.tok_end")) & (
            (F.col("b.tok_end") - F.col("b.tok_begin"))
            > (F.col("a.tok_end") - F.col("a.tok_begin"))
        )
        return inner.join(
            outer,
            (F.col("a.url") == F.col("b.url")) & nested,
            "left_anti",
        ).select("a.*")

    out_schema = (
        "url string, tok_begin int, tok_end int, surface string, "
        "curie string, pref_label string, ont string"
    )

    def resolve_doc(pdf: pd.DataFrame) -> pd.DataFrame:
        # Greedy longest-match-wins, ordered by SURFACE CHAR length desc
        # then position asc — the automaton's filter_spans policy (W1)
        # expressed over token ranges (token count would mis-order
        # multi-token vs long single-token surfaces in partial-overlap
        # chains).  Candidate sets per doc are small: O(k^2) is fine.
        # Surface + curie complete the sort key: two same-length
        # candidates on one span (distinct dictionary surfaces whose
        # normalization collides, e.g. 'u.s.' vs 'u s') must resolve
        # the same way every run, not by partition arrival order.
        spans = sorted(
            (
                (int(r.tok_begin), int(r.tok_end), r.surface,
                 (r.curie, r.pref_label, r.ont))
                for r in pdf.itertuples()
            ),
            key=lambda s: (-len(s[2]), s[0], s[1], s[2], s[3][0]),
        )
        kept: list[tuple] = []
        for b, e, surf, p in spans:
            if all(e <= b2 or b >= e2 for b2, e2, _s, _p in kept):
                kept.append((b, e, surf, p))
        kept.sort(key=lambda s: (s[0], s[1]))
        url = pdf["url"].iloc[0]
        return pd.DataFrame(
            [
                (url, b, e, surf, p[0], p[1], p[2])
                for b, e, surf, p in kept
            ],
            columns=["url", "tok_begin", "tok_end", "surface", "curie",
                     "pref_label", "ont"],
        )

    return candidates.groupBy("url").applyInPandas(resolve_doc, out_schema)


def tag_documents_by_lang(
    documents: DataFrame,
    dictionaries_by_lang: dict,
    lang_col: str = "lang",
    text_col: str = "text",
    id_col: str = "url",
    default_lang: str | None = None,
) -> DataFrame:
    """Language-routed tagging: each document is matched against the
    dictionary of ITS language (OLS-style multilingual label sets — one
    ontology, per-language surface forms).

    The reference tags everything with one English dictionary; the
    ``input_hint`` corpus carries ``lang`` per page, and at web scale the
    label sets differ per language, so routing belongs in the engine:

    * All per-language automatons compile once on the driver and ship in
      ONE broadcast (a dict keyed by lang) — executors hold one copy of
      the whole family, not one per task, exactly like the single-dict
      path.
    * Routing is batch-local: the pandas batch is grouped by ``lang``
      (vectorized), each group matched with its automaton.  No shuffle,
      no per-row dispatch overhead beyond the groupby.
    * Documents whose lang has no dictionary fall back to
      ``default_lang``'s automaton when given, else emit nothing (the
      honest behavior for an untagged language, and the safe one at
      scale — a missing label set must not silently get English tags).

    Output: MENTIONS columns + ``lang`` (partitioning mentions by lang
    downstream keeps per-language aggregates co-located).

    ``dictionaries_by_lang``: lang → dictionary rows (dict-like with
    ``surface``/``id``/``name``/``ont``) or a dictionary DataFrame.
    """
    from pyspark.sql.types import StringType, StructField, StructType

    spark = documents.sparkSession
    matchers = {}
    for lang, dictionary in dictionaries_by_lang.items():
        if isinstance(dictionary, DataFrame):
            rows = dictionary.select("surface", "id", "name", "ont").collect()
        else:
            rows = dictionary
        matchers[lang] = compile_dictionary(rows)
    if default_lang is not None and default_lang not in matchers:
        raise ValueError(f"default_lang {default_lang!r} has no dictionary")
    bc = spark.sparkContext.broadcast(matchers)
    default = default_lang

    out_schema = StructType(
        MENTIONS.fields + [StructField("lang", StringType(), True)]
    )
    out_columns = MENTION_COLUMNS + ["lang"]

    def tag_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acs = bc.value
        for batch in batches:
            out: list[tuple] = []
            for lang, group in batch.groupby(lang_col, dropna=False):
                ac = acs.get(lang) or (acs[default] if default else None)
                if ac is None:
                    continue
                for url, text in zip(group[id_col], group[text_col]):
                    if text is not None:
                        out.extend(
                            row + (lang,) for row in tag_text(ac, url, text)
                        )
            yield pd.DataFrame(out, columns=out_columns)

    source = documents.select(
        F.col(id_col).cast("string").alias(id_col),
        F.col(lang_col).cast("string").alias(lang_col),
        F.col(text_col),
    )
    return source.mapInPandas(tag_batches, schema=out_schema)
