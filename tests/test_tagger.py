"""Tagger tests (F2, W1, J1) — FIXTURES.md §4 pinned cases."""

import pytest
from pyspark.sql import functions as F

from onto_text_tag_spark.corpus import documents_df, ontology_df
from onto_text_tag_spark.dictionary import build_dictionary, resolve_collisions
from onto_text_tag_spark.functions.aho_corasick import build_automaton, filter_spans
from onto_text_tag_spark.operators.tagger import (
    compile_dictionary,
    tag_documents,
    tag_text,
)


@pytest.fixture(scope="module")
def dictionary(spark):
    return resolve_collisions(build_dictionary(ontology_df(spark))).cache()


@pytest.fixture(scope="module")
def automaton(spark, dictionary):
    return compile_dictionary(dictionary.select("surface", "id", "name", "ont").collect())


def _curies(rows):
    return [r[4] for r in rows]


def test_case_insensitive_match(automaton):
    rows = tag_text(automaton, "u", "CAFFEINE improves alertness.")
    assert _curies(rows) == ["CHEBI:0012"]
    assert rows[0][3] == "CAFFEINE"  # span text preserves original case
    assert (rows[0][1], rows[0][2]) == (0, 8)


def test_plural_match(automaton):
    rows = tag_text(automaton, "u", "Cravings for nicotine peaked.")
    # "craving" is defined by both ADDICTO:0007 and BCIO:0006; the pinned
    # collision policy (resolve_collisions: ont_order desc, curie desc)
    # resolves the surface to BCIO:0006 when ont_order ties at 0.
    assert set(_curies(rows)) == {"BCIO:0006", "CHEBI:0011"}


def test_synonym_links_to_same_curie(automaton):
    rows = tag_text(automaton, "u", "Ethyl alcohol was administered.")
    assert _curies(rows) == ["CHEBI:0020"]
    assert rows[0][3] == "Ethyl alcohol"


def test_multiword_and_overlap_longest_wins(automaton):
    # "tobacco smoking" (ADDICTO:0003) ⊃ "smoking" (ADDICTO:0002 synonym):
    # longest-match-wins keeps only the containing span (W1 filter_spans).
    rows = tag_text(automaton, "u", "Tobacco smoking remains common.")
    assert _curies(rows) == ["ADDICTO:0003"]


def test_token_boundary_no_substring_match(automaton):
    # "smoker" must not match "smoke" (ENVO:0001) — FIXTURES.md §4
    rows = tag_text(automaton, "u", "The smoker cohort was compared.")
    assert rows == []


def test_excluded_curie_never_tagged(automaton):
    rows = tag_text(automaton, "u", "An excluded term appears here.")
    assert "BCIO:010055" not in _curies(rows)


def test_offsets_and_spans_consistent(automaton):
    text = "Goal setting and self monitoring are behaviour change techniques."
    rows = tag_text(automaton, "u", text)
    for (_u, b, e, span, *_rest) in rows:
        assert text[b:e] == span
    assert set(_curies(rows)) == {"BCIO:0002", "BCIO:0003", "BCIO:0001"}


def test_filter_spans_equal_length_earliest_wins():
    # two equal-length overlapping candidates → earliest begin survives
    spans = [(0, 5, "a", 1), (3, 8, "b", 2)]
    assert filter_spans(spans) == [(0, 5, "a", 1)]


def test_automaton_substring_patterns():
    ac = build_automaton([("he", 1), ("she", 2), ("hers", 3)])
    found = {(b, e, s) for b, e, s, _ in ac.find("she hers he")}
    # token-boundary aligned only: "she" at 0-3, "hers" at 4-8, "he" at 9-11
    assert found == {(0, 3, "she"), (4, 8, "hers"), (9, 11, "he")}


def test_tag_documents_end_to_end(spark, dictionary):
    docs = documents_df(spark, n_docs=60)
    mentions = tag_documents(docs, dictionary)
    got = mentions.cache()
    assert got.count() > 0
    # every span matches its document text slice
    joined = got.join(docs.select("url", "text"), "url")
    bad = joined.where(
        F.expr("substring(text, begin + 1, end - begin) != span_text")
    ).count()
    assert bad == 0
    # no overlapping mentions within one doc (W1 invariant)
    a, b = got.alias("a"), got.alias("b")
    overlaps = (
        a.join(b, "url")
        .where(
            (F.col("a.begin") < F.col("b.end"))
            & (F.col("b.begin") < F.col("a.end"))
            & (
                (F.col("a.begin") != F.col("b.begin"))
                | (F.col("a.end") != F.col("b.end"))
            )
        )
        .count()
    )
    assert overlaps == 0
    got.unpersist()


def test_tagging_idempotent(spark, dictionary):
    docs = documents_df(spark, n_docs=20)
    m1 = tag_documents(docs, dictionary)
    m2 = tag_documents(docs, dictionary)
    assert sorted(map(tuple, m1.collect())) == sorted(map(tuple, m2.collect()))


def test_token_matcher_equivalent_to_aho_corasick():
    """The fast TokenIndexMatcher must produce EXACTLY the candidate set
    of the Aho-Corasick reference implementation (overlaps included) on
    synthetic docs, adversarial boundary cases, and random dictionaries,
    surviving a pickle round-trip (the broadcast path)."""
    import pickle
    import random

    from onto_text_tag_spark.corpus import mini_ontology, synth_row
    from onto_text_tag_spark.dictionary import build_dictionary_rows
    from onto_text_tag_spark.functions.aho_corasick import (
        build_automaton,
        build_matcher,
        filter_spans,
    )

    rows = build_dictionary_rows(mini_ontology())
    entries = [(r["surface"], (r["id"], r["name"], r["ont"])) for r in rows]
    ac = build_automaton(entries)
    tm = pickle.loads(pickle.dumps(build_matcher(entries)))
    for i in range(120):
        t = synth_row(i, seed=7, min_sents=5, max_sents=30)["text"]
        assert sorted(ac.find(t)) == sorted(tm.find(t))
        assert filter_spans(ac.find(t)) == filter_spans(tm.find(t))
    for t in [
        "smokingcessation smoke",
        "xsmoking smoking",
        "smokestacks smoke",
        "self-monitoring self monitoring",
        "",
        "cig cigs cigarette",
        "3-(1-methylpyrrolidin-2-yl)pyridine level",
        "CAFFEINE caffeine Caffeine",
    ]:
        assert sorted(ac.find(t)) == sorted(tm.find(t)), t

    rng = random.Random(3)
    vocab = ["".join(rng.choice("abcdef") for _ in range(rng.randint(2, 5)))
             for _ in range(60)]
    ent2 = [(w if rng.random() < 0.6 else f"{w} {rng.choice(vocab)}", (w, w, "X"))
            for w in vocab]
    ac2, tm2 = build_automaton(ent2), build_matcher(ent2)
    for _ in range(200):
        words = [rng.choice(vocab + ["zzz", "qqq"]) for _ in range(rng.randint(1, 12))]
        t = rng.choice(["", "x"]) + " ".join(words) + rng.choice(["", "x"])
        assert sorted(ac2.find(t)) == sorted(tm2.find(t)), t


def test_filter_spans_properties_hypothesis():
    """Property-pin W1 (longest-match-wins overlap resolution): output is
    non-overlapping, document-ordered, and greedy-maximal — every
    rejected candidate overlaps some kept span at least as long."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    span = st.tuples(
        st.integers(0, 40), st.integers(1, 12)
    ).map(lambda t: (t[0], t[0] + t[1], "p", None))

    @settings(max_examples=300, deadline=None)
    @given(st.lists(span, max_size=20))
    def check(spans):
        kept = filter_spans(spans)
        assert all(s in spans for s in kept)
        for a, b in zip(kept, kept[1:]):
            assert a[1] <= b[0], (a, b)  # disjoint and document-ordered
        for s in spans:  # greedy-maximality
            if s in kept:
                continue
            overlapping = [
                k for k in kept if k[0] < s[1] and s[0] < k[1]
            ]
            assert overlapping, s
            assert max(k[1] - k[0] for k in overlapping) >= 0  # kept spans exist
            # the greedy order guarantees some overlapping kept span is
            # no shorter OR was placed earlier at equal length
            assert any(
                (k[1] - k[0], -k[0]) >= (s[1] - s[0], -s[0])
                for k in overlapping
            ), (s, kept)

    check()


def test_fused_html_tagging_plan_prunes_text(spark, tmp_path):
    """The from-html path must be ONE MapInPandas over a scan that reads
    only (url, html) — no extract-UDF stage, no shuffle, and the
    materialized text/lang/warc_ts columns pruned at the parquet scan
    (at 100 TB the text column is ~half the table)."""
    from onto_text_tag_spark.corpus import documents_df
    from onto_text_tag_spark.dictionary import build_dictionary_rows
    from onto_text_tag_spark.operators.tagger import tag_documents
    from onto_text_tag_spark.plans.kg_pipeline import load_ontology_rows

    p = str(tmp_path / "docs.parquet")
    documents_df(spark, n_docs=30).write.parquet(p)
    docs = spark.read.parquet(p)
    rows = build_dictionary_rows(load_ontology_rows(None, None))

    fused = tag_documents(docs.drop("text"), rows, html_col="html")
    plan = fused._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema: struct<url:string,html:binary>" in plan
    assert plan.count("MapInPandas") == 1
    assert "ArrowEvalPython" not in plan and "Exchange" not in plan

    text_path = tag_documents(docs, rows)
    tplan = text_path._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema: struct<url:string,text:string>" in tplan
    assert "html" not in tplan.split("ReadSchema")[1][:60]


def test_html_fallback_for_null_text_matches_extract_texts(spark, tmp_path):
    """With both columns, ``html_col`` is the fallback for null-text
    rows: one tagging kernel takes ``text`` where it is set and extracts
    html elsewhere.  It must tag exactly what ``extract_texts`` + text
    tagging does, in one MapInPandas over one scan (no extract-UDF
    stage, no union of a second scan, no shuffle)."""
    from onto_text_tag_spark.dictionary import build_dictionary_rows
    from onto_text_tag_spark.plans.kg_pipeline import (
        extract_texts,
        load_ontology_rows,
    )

    p = str(tmp_path / "mixed.parquet")
    base = documents_df(spark, n_docs=60)
    urls = sorted(r.url for r in base.select("url").collect())
    null_text, both_null = urls[::4], urls[1]
    # text that is not in the html: tagging it proves text wins when set
    edited = urls[2::4]
    base.select(
        "url",
        F.when(F.col("url").isin(null_text + [both_null]), F.lit(None))
        .when(F.col("url").isin(edited),
              F.concat("text", F.lit(" Caffeine improves alertness.")))
        .otherwise(F.col("text")).alias("text"),
        F.when(F.col("url") == both_null, F.lit(None))
        .otherwise(F.col("html")).alias("html"),
    ).write.parquet(p)
    m = spark.read.parquet(p)
    assert m.where("text IS NULL").count() == len(null_text) + 1
    rows = build_dictionary_rows(load_ontology_rows(None, None))

    fused = tag_documents(m, rows, html_col="html")
    ref = tag_documents(extract_texts(m), rows)
    assert fused.count() > 0
    assert fused.exceptAll(ref).count() == 0
    assert ref.exceptAll(fused).count() == 0
    # the null-text rows were tagged, from their html
    assert fused.where(F.col("url").isin(null_text)).count() > 0

    plan = fused._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1
    for node in ("ArrowEvalPython", "Union", "Exchange"):
        assert node not in plan, node
    # the trade: html is read for every row (text-only calls keep it
    # out of the scan: test_fused_html_tagging_plan_prunes_text)
    assert "ReadSchema: struct<url:string,text:string,html:binary>" in plan


def test_matcher_equivalence_on_real_reference_dictionary():
    """TokenIndexMatcher == AhoCorasick on the reference's REAL 3,818-row
    termlist (static/test_terms.tsv): 3,645 distinct surfaces, 1,336
    first tokens — exercises trie scale, multiword surfaces with
    punctuation ('sharaci, black shammah'), and dense candidate overlap
    far beyond the mini fixture ontology."""
    import os

    tsv = "/root/reference/static/test_terms.tsv"
    if not os.path.exists(tsv):
        import pytest

        pytest.skip("reference absent")
    from onto_text_tag_spark.corpus import synth_row
    from onto_text_tag_spark.functions.aho_corasick import build_automaton
    from onto_text_tag_spark.operators.tagger import compile_dictionary
    from onto_text_tag_spark.sources.termlist_tsv import read_termlist_rows

    dict_rows = read_termlist_rows(tsv)
    assert len(dict_rows) > 3000
    tm = compile_dictionary(dict_rows)
    ac = build_automaton(
        (d["surface"], (d["id"], d["name"], d["ont"])) for d in dict_rows
    )
    for i in range(120):
        text = synth_row(i, seed=11, min_sents=5, max_sents=25,
                         filler_prob=0.7)["text"]
        assert sorted(tm.find(text)) == sorted(ac.find(text))


def test_lang_routed_tagging(spark):
    """tag_documents_by_lang routes each document to ITS language's
    automaton: same text, different lang -> different mention sets; an
    unrouted lang emits nothing unless default_lang is given."""
    from onto_text_tag_spark.operators.tagger import tag_documents_by_lang
    from onto_text_tag_spark.session import local_df

    dicts = {
        "en": [{"surface": "nicotine", "id": "EN:1", "name": "nicotine", "ont": "EN"}],
        "de": [{"surface": "craving", "id": "DE:1", "name": "craving", "ont": "DE"}],
    }
    docs = local_df(
        spark,
        [
            ("u1", "en", "nicotine craving study"),
            ("u2", "de", "nicotine craving study"),
            ("u3", "fr", "nicotine craving study"),
        ],
        "url string, lang string, text string",
    )
    out = tag_documents_by_lang(docs, dicts)
    rows = {(r.url, r.curie, r.lang) for r in out.collect()}
    assert rows == {("u1", "EN:1", "en"), ("u2", "DE:1", "de")}

    with_default = tag_documents_by_lang(docs, dicts, default_lang="en")
    rows = {(r.url, r.curie, r.lang) for r in with_default.collect()}
    assert ("u3", "EN:1", "fr") in rows and len(rows) == 3

    import pytest as _pytest
    with _pytest.raises(ValueError):
        tag_documents_by_lang(docs, dicts, default_lang="xx")


def test_lang_routed_single_broadcast_and_no_shuffle(spark):
    """The whole automaton family ships as ONE broadcast, and the plan
    stays a single MapInPandas with no Exchange (embarrassingly parallel,
    like the single-dictionary path)."""
    from onto_text_tag_spark.operators.tagger import tag_documents_by_lang
    from onto_text_tag_spark.session import local_df

    dicts = {
        "en": [{"surface": "spark", "id": "X:1", "name": "spark", "ont": "X"}],
        "de": [{"surface": "spark", "id": "Y:1", "name": "spark", "ont": "Y"}],
    }
    docs = local_df(
        spark, [("u1", "en", "spark"), ("u2", "de", "spark")],
        "url string, lang string, text string",
    )
    out = tag_documents_by_lang(docs, dicts)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1
    assert "Exchange" not in plan
    assert {(r.url, r.curie) for r in out.collect()} == {
        ("u1", "X:1"), ("u2", "Y:1")
    }


def test_joined_tagging_matches_broadcast_on_driver_corpus(spark):
    """The shuffle-join path (dictionary beyond broadcast scale) emits
    exactly the broadcast automaton's (url, curie) mention multiset on
    the driver-corpus shape (single-space word text)."""
    from onto_text_tag_spark.driver_queries import (
        driver_dictionary,
        driver_dictionary_rows,
    )
    from onto_text_tag_spark.operators.tagger import tag_documents_joined
    from onto_text_tag_spark.session import local_df

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    broadcast = (
        tag_documents(docs, driver_dictionary_rows(), id_col="doc_id")
        .groupBy("url", "curie").count()
    )
    joined = (
        tag_documents_joined(docs, driver_dictionary(spark), id_col="doc_id")
        .groupBy("url", "curie").count()
    )
    a = {tuple(r) for r in broadcast.collect()}
    b = {tuple(r) for r in joined.collect()}
    assert a == b and len(a) > 50


def test_joined_tagging_overlap_policies(spark):
    """W1 over the join path: greedy == automaton policy (char-length
    desc, position asc); 'contain' prunes nested candidates JVM-side;
    'none' keeps every candidate."""
    from onto_text_tag_spark.operators.tagger import tag_documents_joined
    from onto_text_tag_spark.session import local_df

    dict_df = local_df(
        spark,
        [
            ("join", "X:1", "join", "X"),
            ("hash join", "Y:1", "hash join", "Y"),
            ("ab cd", "A:1", "ab cd", "A"),
            ("cd efghij", "B:1", "cd efghij", "B"),
        ],
        "surface string, id string, name string, ont string",
    )
    docs = local_df(
        spark,
        [("u1", "the hash join runs"), ("u2", "ab cd efghij"),
         ("u3", ""), ("u4", "join")],  # short docs: no bigram crash
        "url string, text string",
    )
    greedy = {
        (r.url, r.curie)
        for r in tag_documents_joined(docs, dict_df).collect()
    }
    # u1: "hash join" nests "join" -> Y only; u2: partial overlap chain,
    # "cd efghij" (9 chars) beats "ab cd" (5 chars) -> B only.
    assert greedy == {("u1", "Y:1"), ("u2", "B:1"), ("u4", "X:1")}

    contain = tag_documents_joined(docs, dict_df, resolve="contain")
    plan = contain._jdf.queryExecution().executedPlan().toString()
    assert "InPandas" not in plan and "ArrowEvalPython" not in plan
    got = {(r.url, r.curie) for r in contain.collect()}
    # containment pruning keeps BOTH sides of the partial overlap on u2
    assert got == {("u1", "Y:1"), ("u2", "A:1"), ("u2", "B:1"), ("u4", "X:1")}

    everything = {
        (r.url, r.curie)
        for r in tag_documents_joined(docs, dict_df, resolve="none").collect()
    }
    assert everything == {
        ("u1", "X:1"), ("u1", "Y:1"), ("u2", "A:1"), ("u2", "B:1"),
        ("u4", "X:1"),
    }
