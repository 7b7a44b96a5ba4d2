"""Seeded inputs for the KG pipeline benchmark.

Everything here is derived from the workload seed alone: the ontology
(written out as an OBO file and handed to the job), the pages, and the
crawl drops with their planted duplicates.  Nothing is taken from the
program's own ``corpus`` module or fixtures, so changing those cannot
change a workload.

Each page's ``text`` is made by ``reference_text``, a re-derivation of
the reference extractor written apart from the program's
``functions/html_extract.py``: the text nodes of a stdlib
``HTMLParser(convert_charrefs=True)`` that is never closed, then the two
literal-escape deletions.

Words are pseudo-words built from consonant-vowel syllables.  Ontology
terms use three syllables of one alphabet and filler words two or four
syllables of another, so filler never collides with a term, no word is
an English stopword, and no plural form of a term (which the program
adds to its dictionary) can occur in a page.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import re
import shutil
from html.parser import HTMLParser

import pyarrow as pa
import pyarrow.parquet as pq

# Bumped whenever the generated inputs change, so stale caches are not reused.
GEN_VERSION = 3

# Sizes per workload.  build_html and build_dense are sized so one build
# takes a few seconds on a 4-core host; crawl_ingest so one epoch takes
# about a second (see README.md for the measured figures).
HTML_PAGES = 10_000
DENSE_PAGES = 40_000
CRAWL_DROPS = 2
CRAWL_DROP_PAGES = 300
N_CLASSES = 1_200
N_TERM_WORDS = 700
N_FILLER_WORDS = 3_000


class _TextNodes(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.parts: list[str] = []

    def handle_data(self, data: str) -> None:
        self.parts.append(data)


def reference_text(html: str) -> str:
    """Text nodes of the never-closed parser, minus literal escapes."""
    parser = _TextNodes()
    parser.feed(html)
    text = "".join(parser.parts)
    text = re.sub(r"\\x..", "", text)
    return re.sub(r"\\u....", "", text)


def sampled(url: str) -> bool:
    """The hash-chosen ~1% of urls whose mentions are checked row by row."""
    return hashlib.md5(url.encode()).digest()[0] < 3


# --------------------------------------------------------------------------
# vocabulary and ontology


def _words(rng, n, consonants, vowels, syllables, taken):
    out = []
    while len(out) < n:
        w = "".join(
            rng.choice(consonants) + rng.choice(vowels)
            for _ in range(rng.choice(syllables))
        )
        if w not in taken:
            taken.add(w)
            out.append(w)
    return out


class Vocab:
    """Term words, filler words and the ontology built from the term words."""

    def __init__(self, rng: random.Random) -> None:
        taken: set[str] = set()
        self.terms = _words(rng, N_TERM_WORDS, "bdgkmprtvz", "aiou", (3,), taken)
        self.filler = _words(rng, N_FILLER_WORDS, "lnsfhjwyc", "aeiou", (2, 4), taken)
        self.classes = []
        surfaces: set[str] = set()

        def phrase():
            while True:
                n = rng.choices((1, 2, 3), (0.5, 0.35, 0.15))[0]
                p = " ".join(rng.choice(self.terms) for _ in range(n))
                if p not in surfaces:
                    surfaces.add(p)
                    return p

        for i in range(N_CLASSES):
            self.classes.append({
                "curie": f"KGB:{i:06d}",
                "label": phrase(),
                "synonyms": [phrase()] if rng.random() < 0.3 else [],
                "parent": None if i < 8 else f"KGB:{rng.randrange(i):06d}",
            })
        # surface → curie, and a Zipf-skewed sampler over the surfaces
        # (a few head terms occur on most pages, as on the web)
        self.surface_curie = {
            s: c["curie"] for c in self.classes
            for s in [c["label"], *c["synonyms"]]
        }
        order = list(self.surface_curie)
        rng.shuffle(order)
        self.surfaces = order
        acc, self.cum = 0.0, []
        for rank in range(len(order)):
            acc += 1.0 / (rank + 1) ** 0.8
            self.cum.append(acc)
        self.by_first: dict[str, list[str]] = {}
        for s in order:
            self.by_first.setdefault(s.split()[0], []).append(s)

    def obo(self) -> str:
        lines = ["format-version: 1.2", "ontology: kgb", ""]
        label = {c["curie"]: c["label"] for c in self.classes}
        for c in self.classes:
            lines += ["[Term]", f"id: {c['curie']}", f"name: {c['label']}"]
            lines += [f'synonym: "{s}" EXACT []' for s in c["synonyms"]]
            if c["parent"]:
                lines.append(f"is_a: {c['parent']} ! {label[c['parent']]}")
            lines.append("")
        return "\n".join(lines)

    def term_phrase(self, rng) -> str:
        s = rng.choices(self.surfaces, cum_weights=self.cum)[0]
        if rng.random() < 0.15:
            # chain a second surface that starts with this one's last
            # word, so candidates overlap partially
            nxt = self.by_first.get(s.split()[-1])
            if nxt:
                s = s + " " + " ".join(rng.choice(nxt).split()[1:])
        return s.strip()

    def sentence(self, rng, n_words: int, term_share: float) -> str:
        out = []
        while len(out) < n_words:
            if rng.random() < term_share:
                out.append(self.term_phrase(rng))
            else:
                out.append(rng.choice(self.filler))
        s = " ".join(out)
        return s[0].upper() + s[1:] + rng.choice(".!?.")


# --------------------------------------------------------------------------
# pages

_CHARREFS = ("&amp;", "&nbsp;", "&#39;", "&quot;", "caf&eacute;", "&lt;3")


def _prose(v: Vocab, rng, n_words: int, term_share: float) -> str:
    """A paragraph's inner text, with occasional charrefs, literal
    escapes and bare '<' (which sends the program's extractor down its
    HTMLParser fallback)."""
    words = v.sentence(rng, n_words, term_share).split(" ")
    r = rng.random()
    if r < 0.3:
        words.insert(rng.randrange(len(words) + 1), rng.choice(_CHARREFS))
    elif r < 0.34:
        words.insert(rng.randrange(len(words) + 1), rng.choice(("\\x41", "\\u00e9ab")))
    elif r < 0.37:
        words.insert(rng.randrange(len(words) + 1), "< 3")
    return " ".join(words)


def _js(v: Vocab, rng, n: int) -> str:
    f = v.filler
    return "".join(
        f"function {rng.choice(f)}(){{var {rng.choice(f)}=document."
        f"getElementById('{rng.choice(f)}');if({rng.choice(f)}>{rng.randrange(99)})"
        f"{{{rng.choice(f)}.push('{rng.choice(f)}');}}}}\n"
        for _ in range(n)
    )


def _css(v: Vocab, rng, n: int) -> str:
    return "".join(
        f".{rng.choice(v.filler)} {{margin:{rng.randrange(20)}px;"
        f"color:#{rng.randrange(1 << 24):06x};font-size:{rng.randrange(8, 30)}px}}\n"
        for _ in range(n)
    )


def _links(v: Vocab, rng, n: int) -> str:
    return "".join(
        f'<li class="nav"><a href="/{rng.choice(v.filler)}/{rng.randrange(9999)}">'
        f"{rng.choice(v.filler).title()}</a></li>"
        for _ in range(n)
    )


def html_page(v: Vocab, rng, url: str) -> str:
    """A 3-8 KB page whose bytes are mostly markup, script and style."""
    paras = "".join(
        f"<p>{_prose(v, rng, rng.randrange(25, 60), 0.09)}</p>\n"
        for _ in range(rng.randrange(2, 4))
    )
    return (
        "<!DOCTYPE html>\n<html lang=\"en\"><head><meta charset=\"utf-8\">"
        f"<title>{rng.choice(v.filler).title()}</title>"
        f"<style>{_css(v, rng, rng.randrange(6, 22))}</style>"
        f"<script>{_js(v, rng, rng.randrange(5, 18))}</script></head>\n"
        f"<body><nav><ul>{_links(v, rng, rng.randrange(12, 40))}</ul></nav>\n"
        f"<main><h1>{v.sentence(rng, 5, 0.1)}</h1>\n{paras}</main>\n"
        f"<aside><ul>{_links(v, rng, rng.randrange(4, 14))}</ul></aside>"
        f"<footer><!-- {rng.choice(v.filler)} -->"
        f"<a href=\"{url}\">{rng.choice(v.filler)}</a></footer>"
        f"<script>{_js(v, rng, rng.randrange(1, 5))}</script></body></html>\n"
    )


def prose_page(v: Vocab, rng, n_words: tuple[int, int], paras: int, term_share: float) -> str:
    """A page that is nearly all prose."""
    body = "".join(
        f"<p>{_prose(v, rng, rng.randrange(*n_words), term_share)}</p>"
        for _ in range(paras)
    )
    return f"<html><body>{body}</body></html>"


# --------------------------------------------------------------------------
# writers and cache


def _write_files(rows: dict[str, list], schema: pa.Schema, out_dir: str, n_files: int):
    os.makedirs(out_dir)
    n = len(next(iter(rows.values())))
    step = -(-n // n_files)
    for i in range(n_files):
        part = {k: col[i * step:(i + 1) * step] for k, col in rows.items()}
        pq.write_table(
            pa.table(part, schema=schema),
            os.path.join(out_dir, f"part-{i:05d}.parquet"),
            row_group_size=2_000, compression="zstd",
        )


def _gen_build(out: str, v: Vocab, rng, workload: str) -> dict:
    urls, htmls, texts = [], [], []
    sample = {"url": [], "html": [], "text": []}
    n = HTML_PAGES if workload == "build_html" else DENSE_PAGES
    for i in range(n):
        url = f"http://site{rng.randrange(5000)}.example/{workload}/{i:07d}"
        if workload == "build_html":
            html = html_page(v, rng, url)
        else:
            html = prose_page(v, rng, (20, 40), 1, 0.33)
        urls.append(url)
        htmls.append(html.encode())
        # build_html is read through --from-html, which drops the text
        # column, so only the checked sample needs the reference text
        text = reference_text(html) if workload == "build_dense" or sampled(url) else None
        texts.append(text)
        if sampled(url):
            sample["url"].append(url)
            sample["html"].append(html)
            sample["text"].append(text)
    cols = {"url": urls, "html": htmls, "lang": ["en"] * n}
    fields = [("url", pa.string()), ("html", pa.binary()), ("lang", pa.string())]
    if workload == "build_dense":
        cols["text"] = texts
        fields.append(("text", pa.string()))
    _write_files(cols, pa.schema(fields), os.path.join(out, "corpus"), 8)
    pq.write_table(pa.table(sample), os.path.join(out, "sample.parquet"))
    return {"pages": n}


def _gen_crawl(out: str, v: Vocab, rng) -> dict:
    """Drops of pages with ~10% planted copies: byte-identical mirrors of
    one set of earlier pages and near-duplicates (a few words changed)
    of another, disjoint set — so each mirror group stays one cluster of
    its own and must keep exactly one live member."""
    os.makedirs(os.path.join(out, "drops"))
    originals: list[tuple[str, str]] = []
    groups: dict[str, list[str]] = {}
    near_bases: set[str] = set()
    sample = {"url": [], "html": [], "text": []}
    html_of: dict[str, str] = {}
    n_pages = 0
    for d in range(CRAWL_DROPS):
        urls, texts = [], []
        for i in range(CRAWL_DROP_PAGES):
            r = rng.random()
            if originals and r < 0.06:
                base_url, base_text = rng.choice(originals)
                if base_url not in near_bases:
                    url = f"http://mirror{rng.randrange(90)}.example/{d}/{i}"
                    groups.setdefault(base_url, [base_url]).append(url)
                    html_of[url] = html_of[base_url]
                    urls.append(url)
                    texts.append(base_text)
                    continue
            if originals and r < 0.10:
                base_url, base_text = rng.choice(originals)
                if base_url not in groups:
                    near_bases.add(base_url)
                    words = base_text.split(" ")
                    for _ in range(3):
                        words[rng.randrange(len(words))] = rng.choice(v.filler)
                    url = f"http://near{rng.randrange(90)}.example/{d}/{i}"
                    urls.append(url)
                    texts.append(" ".join(words))
                    continue
            url = f"http://site{rng.randrange(5000)}.example/crawl/{d}/{i}"
            html_of[url] = prose_page(v, rng, (60, 100), 2, 0.1)
            text = reference_text(html_of[url])
            originals.append((url, text))
            urls.append(url)
            texts.append(text)
        for u, t in zip(urls, texts):
            if sampled(u):
                sample["url"].append(u)
                sample["html"].append(html_of.get(u))
                sample["text"].append(t)
        n_pages += len(urls)
        pq.write_table(
            pa.table({"url": urls, "text": texts}),
            os.path.join(out, "drops", f"drop-{d:05d}.parquet"),
        )
    pq.write_table(pa.table(sample), os.path.join(out, "sample.parquet"))
    return {
        "pages": n_pages,
        "drops": CRAWL_DROPS,
        "exact_groups": sorted(groups.values()),
    }


def inputs(workdir: str, workload: str, seed: int) -> dict:
    """Generate (or reuse) the inputs of ``workload`` for ``seed``.

    Returns the ``meta`` dict; its ``dir`` holds ``ontology.obo``,
    ``sample.parquet`` and either ``corpus/`` or ``drops/``.  Inputs
    are cached under ``workdir`` keyed by workload, seed and
    ``GEN_VERSION``; a partly written entry is never reused."""
    key = f"{workload}-s{seed}-v{GEN_VERSION}"
    out = os.path.join(workdir, "inputs", key)
    meta_path = os.path.join(out, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as fh:
            return json.load(fh)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rng = random.Random(f"{workload}:{seed}")
    v = Vocab(rng)
    with open(os.path.join(tmp, "ontology.obo"), "w") as fh:
        fh.write(v.obo())
    if workload == "crawl_ingest":
        meta = _gen_crawl(tmp, v, rng)
    else:
        meta = _gen_build(tmp, v, rng, workload)
    meta.update({
        "workload": workload,
        "seed": seed,
        "dir": out,
        "classes": v.classes,
        "surface_curie": v.surface_curie,
    })
    with open(os.path.join(tmp, "meta.json"), "w") as fh:
        json.dump(meta, fh)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return meta


if __name__ == "__main__":
    import argparse

    ap = argparse.ArgumentParser(description="generate one workload's inputs")
    ap.add_argument("--work", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    a = ap.parse_args()
    inputs(a.work, a.workload, a.seed)
