"""End-to-end KG construction DAG (SURVEY.md §2.9, §7).

documents → extract (P1) → tag+link (F2/J1) → mentions
mentions  → mention triples (url, mentions, curie)
mentions  → co-occurrence edges (J2/A2) → co_occurs_with triples
ontology  → is-a edges → is_a triples (+ transitive closure J5)

This mirrors the reference's offline build chain
(build_ontotermentions.py → load_ontotermentions.py → hv_generate.py)
as one declarative Spark DAG; each stage returns a DataFrame so callers
can materialize per-stage snapshots for resumability (sinks module).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F

from onto_text_tag_spark.dictionary import build_dictionary, resolve_collisions
from onto_text_tag_spark.functions.html_extract import extract_text_udf
from onto_text_tag_spark.operators.closure import (
    isa_edges_from_ontology,
    isa_triples,
    transitive_closure,
)
from onto_text_tag_spark.operators.cooccur import (
    cooccurrence_edges,
    cooccurrence_triples,
)
from onto_text_tag_spark.operators.tagger import tag_documents


@dataclass
class KGResult:
    dictionary: DataFrame
    mentions: DataFrame
    mention_triples: DataFrame
    cooccur_edges: DataFrame
    isa_edges: DataFrame
    triples: DataFrame


def extract_texts(documents: DataFrame) -> DataFrame:
    """P1: ensure a ``text`` column exists, extracting from html where
    absent.  Column pruning matters at scale: when ``text`` is already
    materialized the ``html:binary`` column is never read.

    ``jobs/kg_build.py`` no longer uses this: it hands the corpus to
    ``tag_documents(..., html_col="html")``, whose one tagging kernel
    takes ``text`` or extracts html per row, without this plan's second
    scan and extract-UDF stage.  Remaining callers: ``build_kg``,
    ``plans/kg_absorb.py`` and ``plans/kg_dict_update.py``.  They keep
    this two-branch plan because no benchmark workload measures them.
    """
    has_text = "text" in documents.columns
    has_html = "html" in documents.columns
    if has_text and has_html:
        # Split, don't CASE WHEN: Catalyst pulls Python UDFs out of
        # conditionals and evaluates them for EVERY row, which would both
        # run the extractor on already-extracted docs and force reading
        # the fat ``html`` binary column.  With the union, the
        # already-extracted branch prunes ``html`` at the scan.
        ready = documents.where(F.col("text").isNotNull())
        needs = documents.where(F.col("text").isNull()).withColumn(
            "text", extract_text_udf(F.col("html"))
        )
        return ready.unionByName(needs)
    if has_text:
        return documents
    return documents.withColumn("text", extract_text_udf(F.col("html")))


def mention_triples(mentions: DataFrame) -> DataFrame:
    """(url, mentions, curie) rows — distinct per (doc, term), matching
    the set semantics of the reference's inverted index."""
    return (
        mentions.select("url", "curie")
        .distinct()
        .select(
            F.col("url").alias("subj"),
            F.lit("mentions").alias("pred"),
            F.col("curie").alias("obj"),
            F.lit(None).cast("long").alias("weight"),
        )
    )


def build_kg(
    documents: DataFrame,
    ontology: DataFrame,
    lang_filter: str | None = "en",
    min_cooccur_weight: int = 1,
    max_doc_freq: int | None = None,
) -> KGResult:
    """The flagship DAG.  Returns every intermediate so callers can
    snapshot each stage (resumability) or run just a slice."""
    dictionary = resolve_collisions(build_dictionary(ontology))

    docs = extract_texts(documents)
    if lang_filter is not None and "lang" in docs.columns:
        docs = docs.where(F.col("lang") == lang_filter)

    id_col = "url" if "url" in docs.columns else "doc_id"
    mentions = tag_documents(docs, dictionary, id_col=id_col)

    m_triples = mention_triples(mentions)
    edges = cooccurrence_edges(
        mentions, min_weight=min_cooccur_weight, max_doc_freq=max_doc_freq
    )
    co_triples = cooccurrence_triples(edges)
    isa = isa_edges_from_ontology(ontology)
    i_triples = isa_triples(isa)

    # The combined triples output derives both corpus-sized branches
    # from one shared exchange (ReusedExchange) when no doc-frequency
    # cap forces the per-term side computation.
    if max_doc_freq is None:
        triples = shared_mention_and_cooccur_triples(
            mentions, min_cooccur_weight
        ).unionByName(i_triples)
    else:
        triples = m_triples.unionByName(co_triples).unionByName(i_triples)
    return KGResult(
        dictionary=dictionary,
        mentions=mentions,
        mention_triples=m_triples,
        cooccur_edges=edges,
        isa_edges=isa,
        triples=triples,
    )


def triples_from_mentions(
    mentions: DataFrame,
    ontology: DataFrame,
    min_cooccur_weight: int = 1,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """All (subj, pred, obj, weight) triples derived from an ALREADY
    MATERIALIZED mentions table — the resume path: a snapshot-read
    mentions DF here means tagging runs exactly once per pipeline run,
    not once per downstream action."""
    i_triples = isa_triples(isa_edges_from_ontology(ontology))
    if max_doc_freq is None:
        return shared_mention_and_cooccur_triples(
            mentions, min_cooccur_weight
        ).unionByName(i_triples)
    m_triples = mention_triples(mentions)
    edges = cooccurrence_edges(
        mentions, min_weight=min_cooccur_weight, max_doc_freq=max_doc_freq
    )
    co_triples = cooccurrence_triples(edges)
    return m_triples.unionByName(co_triples).unionByName(i_triples)


def shared_mention_and_cooccur_triples(
    mentions: DataFrame, min_cooccur_weight: int = 1
) -> DataFrame:
    """Mention triples AND co-occurrence triples from ONE shared
    groupBy(url)→collect_set exchange.

    ``mention_triples`` (distinct on (url, curie)) and
    ``cooccurrence_edges`` (collect_set per url) each shuffle the same
    corpus-sized relation.  Deriving both union branches from the
    identical ``doc_term_arrays`` subplan makes Catalyst plan a
    ReusedExchange: the mentions table crosses the wire once.  Explode
    of the per-doc set is exactly the distinct (url, curie) relation, so
    semantics are unchanged (pinned by oracle parity tests)."""
    from onto_text_tag_spark.operators.cooccur import (
        cooccurrence_edges_from_arrays,
        doc_term_arrays,
    )

    arrays = doc_term_arrays(mentions)
    m_triples = arrays.select(
        F.col("url").alias("subj"),
        F.lit("mentions").alias("pred"),
        F.explode("_terms").alias("obj"),
        F.lit(None).cast("long").alias("weight"),
    )
    co_triples = cooccurrence_triples(
        cooccurrence_edges_from_arrays(arrays, min_weight=min_cooccur_weight)
    )
    return m_triples.unionByName(co_triples)


def node_table(
    doc_terms: DataFrame,
    class_meta: "list[dict] | DataFrame",
    id_col: str = "url",
) -> DataFrame:
    """The materialized NODES table of the mention graph — the north
    rule's "nodes/edges tables" pair (the ``triples`` stage is the edges
    table).  One row per node, profiled by mention-graph degree:

    * ``kind='document'`` — one per tagged doc; ``degree`` = number of
      distinct ontology classes it mentions (``size(_terms)`` — the
      stored arrays are collect_set output, already distinct).
    * ``kind='class'``    — one per dictionary CURIE, carrying its
      label and ontology prefix; ``degree`` = number of distinct docs
      mentioning it (0 for classes never seen in the corpus).

    ``class_meta`` is either dictionary rows (dicts with id/name/ont —
    driver-side small data, deduped by CURIE here) or a DataFrame with
    columns (id, label, ont) — the refresh path reuses the class rows
    of the existing nodes stage.  Built from the materialized
    ``doc_terms`` snapshot: one explode + groupBy(curie) whose key
    space is dictionary-sized, plus a broadcast-able class-meta join —
    no corpus re-read, no corpus-keyed shuffle.  ``kind`` is last so
    callers can ``partitionBy("kind")`` (class-only reads prune the
    trillion-row document partition).
    """
    spark = doc_terms.sparkSession
    if isinstance(class_meta, DataFrame):
        meta_df = class_meta.select("id", "label", "ont")
    else:
        from onto_text_tag_spark.session import local_df

        meta: dict[str, tuple] = {}
        for r in class_meta:
            meta.setdefault(
                r["id"],
                (r["name"], r.get("ont") or r["id"].split(":", 1)[0]),
            )
        meta_df = local_df(
            spark,
            [(c, n, o) for c, (n, o) in sorted(meta.items())],
            "id string, label string, ont string",
        )
    doc_nodes = doc_terms.select(
        F.col(id_col).alias("id"),
        F.lit(None).cast("string").alias("label"),
        F.lit(None).cast("string").alias("ont"),
        F.size("_terms").cast("long").alias("degree"),
        F.lit("document").alias("kind"),
    )
    class_degree = (
        doc_terms.select(F.explode("_terms").alias("id"))
        .groupBy("id")
        .agg(F.count("*").alias("_deg"))
    )
    class_nodes = meta_df.join(class_degree, "id", "left").select(
        "id",
        "label",
        "ont",
        F.coalesce("_deg", F.lit(0)).cast("long").alias("degree"),
        F.lit("class").alias("kind"),
    )
    return doc_nodes.unionByName(class_nodes)


def closure_triples(isa_edges: DataFrame) -> DataFrame:
    """Transitive (descendant, is_a_transitive, ancestor) triples."""
    closure = transitive_closure(isa_edges)
    return closure.select(
        F.col("descendant").alias("subj"),
        F.lit("is_a_transitive").alias("pred"),
        F.col("ancestor").alias("obj"),
        F.lit(None).cast("long").alias("weight"),
    )


def load_ontology_rows(
    ontology_paths: list[str] | None, fixture: str = "mini"
) -> list[dict]:
    """Driver-side ontology load shared by jobs/kg_build.py and
    jobs/kg_update.py (ordered: later files win dictionary collisions,
    A5 semantics).  The ontology is small data by construction
    (SURVEY.md §1.1) — it is parsed on the driver and ships to executors
    only inside the broadcast tagging automaton."""
    if ontology_paths:
        from onto_text_tag_spark.sources.ontology import (
            parse_obo,
            parse_owl_xml,
        )

        rows: list[dict] = []
        for i, path in enumerate(ontology_paths):
            text = open(path).read()
            parsed = (
                parse_obo(text) if path.endswith(".obo")
                else parse_owl_xml(text)
            )
            for r in parsed:
                r["ont_order"] = i
            rows.extend(parsed)
        return rows
    if fixture == "driver":
        from onto_text_tag_spark.driver_queries import driver_ontology_rows

        return driver_ontology_rows()
    from onto_text_tag_spark.corpus import mini_ontology

    return mini_ontology()
