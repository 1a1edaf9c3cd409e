"""Seeded, single-process workload generator for the KG benchmark.

Everything here is a pure function of ``--seed``:

* the ontology: the vendored AddictO/BCIO snapshot
  (``tests/fixtures/addicto_snapshot_{0,1}.owl``, 1,401 classes) plus a
  seeded ``rdfs:subClassOf`` forest.  The snapshot carries no
  ``subClassOf`` axioms at all, so without the forest the is-a branch,
  the closure stage and the association read's descendant expansion
  would all be empty;
* the pages: markup-heavy HTML whose text plants dictionary surfaces
  with a Zipf-skewed class mix, so a few head classes appear on most
  pages.  Markup weight comes from tags and attributes (navigation,
  wrappers, linked terms), never from ``<script>``/``<style>`` bodies,
  which the reference extractor keeps as text;
* ``MALFORMED_FRAC`` of the pages carry a bare ``<`` in a sentence
  (``p < 0.05``), which the extractor's regex fast path refuses, so those
  pages take the ``HTMLParser`` fallback.

The ``text`` column is composed alongside the HTML, not extracted from
it; the benchmark's test checks it against
``functions.html_extract.extract_text``.

Filler words share no ``\\w+`` token with any dictionary surface and
planted surfaces are always separated by filler, so the mentions of a
page are exactly its planted surfaces.  ``Oracle`` therefore
derives the whole triples stage from the generator alone, independently
of the tagger.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import html as htmlmod
import os
import random
import re
import xml.etree.ElementTree as ET
from bisect import bisect
from collections import Counter
from itertools import accumulate

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FIXTURES = [
    os.path.join(ROOT, "tests", "fixtures", f"addicto_snapshot_{i}.owl")
    for i in (0, 1)
]

BUILD_PAGES = 1000  # corpus of build_text / build_html
BASE_PAGES = 300  # absorb_stream: the KG root's base slice
BATCH_PAGES = 100  # absorb_stream: pages per crawl batch
CORPUS_FILES = 8  # parquet part files per corpus (scan splits)

MALFORMED_FRAC = 0.10
ZIPF_S = 1.1
N_ROOTS = 24  # roots of the seeded is-a forest
SENTENCES = (30, 90)  # per page
WORDS = (6, 12)  # filler words per sentence
PLANT_PROB = 0.85  # sentences that carry one dictionary surface

_EPOCH = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)
_RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
_RDFS = "http://www.w3.org/2000/01/rdf-schema#"
_OWL = "http://www.w3.org/2002/07/owl#"

_FILLER = """was is are were be been its also more after than they two may can
would will such into some most these about during under while through both when
where there those council morning evening weather market garden river bridge
train station airport travel hotel museum gallery concert festival season team
match league stadium goal score final cup winter summer autumn rain snow wind
storm bread kitchen recipe dinner lunch breakfast table chair window door house
street village county story page chapter article editor news paper magazine
online camera phone software update version design project budget meeting staff
customer order package shipping store sale discount offer account login search
mountain valley lake ocean island coast harbor boat ship sail flight engine car
truck bike tower castle church temple square bakery butcher farmer field
harvest orchard apple orange lemon grape tomato potato carrot onion garlic
pepper salt sugar flour butter cheese milk cream jam tea yellow green blue
purple silver golden bright quiet busy late modern ancient famous local
announced reported said noted added opened visited joined started finished
moved expected lantern meadow pebble canyon glacier prairie lagoon tundra
savanna marsh delta fjord cliff dune reef volcano geyser""".split()


class Workload:
    """The seeded inputs of one benchmark run."""

    def __init__(self, seed: int):
        from onto_text_tag_spark.dictionary import build_dictionary_rows
        from onto_text_tag_spark.sources.ontology import parse_owl_xml

        self.seed = seed
        rng = random.Random(f"kgbench:{seed}")
        rows = []
        for order, path in enumerate(FIXTURES):
            with open(path) as fh:
                for r in parse_owl_xml(fh.read()):
                    r["ont_order"] = order
                    rows.append(r)
        dict_rows = build_dictionary_rows(rows)
        surface_tokens = {t for r in dict_rows
                          for t in re.findall(r"\w+", r["surface"])}
        self.filler = [w for w in _FILLER if w not in surface_tokens]

        # plantable surfaces per class: word-char ends, so the surface's
        # own boundaries are token boundaries in any filler context
        by_class: dict[str, list[str]] = {}
        for r in dict_rows:
            s = r["surface"]
            if re.match(r"\w", s) and re.search(r"\w$", s):
                by_class.setdefault(r["id"], []).append(s)
        classes = sorted(by_class)
        rng.shuffle(classes)
        self.classes = classes  # Zipf rank order: classes[0] is the head
        self.rank = {c: k for k, c in enumerate(classes)}
        self.surfaces = by_class
        self.cum_weights = list(
            accumulate(1.0 / (k + 1) ** ZIPF_S for k in range(len(classes)))
        )
        self.head = classes[0]

        # is-a forest over ALL parsed classes (rank order first, so the
        # Zipf head is a root with a sizeable subtree)
        iri_of = {r["curie"]: r["iri"] for r in rows}
        ordered = classes + sorted(set(iri_of) - set(classes))
        self.parent: dict[str, str] = {}
        for k, c in enumerate(ordered[N_ROOTS:], start=N_ROOTS):
            self.parent[c] = ordered[rng.randrange(k)]
        self._iri_of = iri_of

    # -- ontology -----------------------------------------------------------

    def write_ontology(self, out_dir: str) -> list[str]:
        """The fixture OWL files with the seeded ``subClassOf`` axioms
        added; returns their paths in load order."""
        ET.register_namespace("rdf", _RDF)
        ET.register_namespace("rdfs", _RDFS)
        ET.register_namespace("owl", _OWL)
        ET.register_namespace("obo", "http://purl.obolibrary.org/obo/")
        from onto_text_tag_spark.sources.ontology import termlist_id_for_iri

        os.makedirs(out_dir, exist_ok=True)
        paths = []
        for src in FIXTURES:
            tree = ET.parse(src)
            for cls in tree.getroot().iter(f"{{{_OWL}}}Class"):
                curie = termlist_id_for_iri(cls.get(f"{{{_RDF}}}about"))
                parent = self.parent.get(curie)
                if parent is not None:
                    ET.SubElement(cls, f"{{{_RDFS}}}subClassOf", {
                        f"{{{_RDF}}}resource": self._iri_of[parent]})
            dst = os.path.join(out_dir, os.path.basename(src))
            tree.write(dst, encoding="unicode", xml_declaration=True)
            paths.append(dst)
        return paths

    # -- pages --------------------------------------------------------------

    def page(self, i: int) -> tuple[dict, set, bool]:
        """Page ``i``: (documents row, planted class set, malformed?)."""
        rng = random.Random(f"kgbench:{self.seed}:{i}")
        filler, cum = self.filler, self.cum_weights
        total = cum[-1]
        host = f"site{i % 97}.example"
        url = f"https://{host}/a/{i}"
        malformed = rng.random() < MALFORMED_FRAC
        h: list[str] = []
        t: list[str] = []

        def words(k: int) -> list[str]:
            return [rng.choice(filler) for _ in range(k)]

        def nav_link(k: int, section: str) -> None:
            w = rng.choice(filler).capitalize()
            h.append(
                f'<li class="nav-item dropdown"><a class="nav-link px-3 py-2"'
                f' href="https://{host}/{section}/{k}/index.html"'
                f' data-track-id="{section}-{k}-{rng.getrandbits(32):08x}"'
                f' title="{w}">{w}</a></li>')
            t.append(w)

        title = " ".join(words(4)).capitalize()
        h.append(
            '<!DOCTYPE html><html lang="en"><head><meta charset="utf-8">'
            '<meta name="viewport" content="width=device-width, '
            'initial-scale=1"><title>')
        h.append(title)
        t.append(title)
        h.append(
            f'</title><link rel="stylesheet" href="https://cdn.example.net/'
            f'assets/site.{rng.getrandbits(64):016x}.css"><link rel='
            f'"canonical" href="{url}"></head><body class="layout '
            'layout--article theme-light"><div id="app" class="container-'
            'fluid"><header class="site-header sticky-top" role="banner">'
            '<nav class="navbar navbar-expand-lg" aria-label="Primary">'
            '<ul class="navbar-nav me-auto mb-2">')
        for k in range(16):
            nav_link(k, "section")
        h.append(
            f'</ul></nav></header><main class="content" role="main">'
            f'<article class="post post--long" data-post-id="{i}">'
            '<h1 class="post-title display-5">')
        h.append(title)
        t.append(title)
        h.append("</h1>")

        planted: set = set()
        n_sent = rng.randint(*SENTENCES)
        bad_sentence = rng.randrange(n_sent) if malformed else -1
        for s in range(n_sent):
            if s % 5 == 0:
                if s:
                    h.append("</p></div></div></section>")
                h.append(
                    f'<section class="post-section" data-section="{s // 5}">'
                    '<div class="row g-0"><div class="col-12 col-lg-8 '
                    f'offset-lg-2"><p class="post-paragraph lh-lg text-body"'
                    f' data-p="{s // 5}">')
            ws = words(rng.randint(*WORDS))
            ws[0] = ws[0].capitalize()
            plant_at = -1
            if rng.random() < PLANT_PROB:
                cls = self.classes[bisect(cum, rng.random() * total)]
                surface = rng.choice(self.surfaces[cls])
                planted.add(cls)
                plant_at = rng.randrange(1, len(ws))
            h.append(f'<span class="sentence" data-sid="{s}">')
            sent_h: list[str] = []
            sent_t: list[str] = []
            for j, w in enumerate(ws):
                if j == plant_at:
                    if rng.random() < 0.5:
                        sent_h.append(
                            f'<a class="term-link" href="https://{host}/'
                            f'topics/{self.rank[cls]}" data-term'
                            f'="t{rng.getrandbits(24):06x}">'
                            f"{htmlmod.escape(surface, quote=False)}</a>")
                    else:
                        sent_h.append(htmlmod.escape(surface, quote=False))
                    sent_t.append(surface)
                if j and rng.random() < 0.04:
                    sent_h.append("&amp;")
                    sent_t.append("&")
                sent_h.append(w)
                sent_t.append(w)
            if s == bad_sentence:
                sent_h.append("p < 0.05")
                sent_t.append("p < 0.05")
            h.append(" ".join(sent_h) + ". </span>")
            t.append(" ".join(sent_t) + ". ")
        h.append(
            '</p></div></div></section></article><aside class="sidebar '
            'col-lg-3" aria-label="Related"><ul class="related '
            'list-unstyled">')
        for k in range(8):
            nav_link(k, "related")
        h.append(
            '</ul></aside></main><footer class="site-footer bg-dark '
            'text-light py-5"><ul class="footer-links list-inline">')
        for k in range(16):
            nav_link(k, "info")
        h.append(f'</ul><p class="copyright small">&copy; 2025 {host}</p>'
                 "</footer></div></body></html>")
        t.append(f"© 2025 {host}")
        row = {
            "url": url,
            "warc_ts": _EPOCH + dt.timedelta(seconds=i),
            "html": "".join(h).encode("utf-8"),
            "text": "".join(t),
            "lang": "en",
        }
        return row, planted, malformed

    def write_pages(self, path: str, ids: range, n_files: int = 1) -> dict:
        """Write pages ``ids`` as ``n_files`` parquet part files under
        ``path``; returns ``{url: planted class set}``."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        schema = pa.schema([
            pa.field("url", pa.string(), nullable=False),
            pa.field("warc_ts", pa.timestamp("us", tz="UTC")),
            pa.field("html", pa.binary()),
            pa.field("text", pa.string()),
            pa.field("lang", pa.string()),
        ])
        os.makedirs(path, exist_ok=True)
        planted: dict[str, set] = {}
        ids = list(ids)
        for f in range(n_files):
            chunk = ids[f * len(ids) // n_files:(f + 1) * len(ids) // n_files]
            rows = []
            for i in chunk:
                row, classes, _bad = self.page(i)
                rows.append(row)
                planted[row["url"]] = classes
            pq.write_table(pa.Table.from_pylist(rows, schema=schema),
                           os.path.join(path, f"part-{f:05d}.parquet"))
        return planted


class Oracle:
    """The triples stage and association read a correct KG over the
    pages added so far must produce, derived from the planted class sets
    alone (no tagger involved)."""

    def __init__(self, workload: Workload):
        self.parent = workload.parent
        self.mentions: list[tuple] = []
        self.pairs: Counter = Counter()

    def add(self, planted: dict) -> None:
        for url, classes in planted.items():
            ordered = sorted(classes)
            self.mentions.extend((url, c, None) for c in ordered)
            for a in range(len(ordered)):
                for b in range(a + 1, len(ordered)):
                    self.pairs[(ordered[a], ordered[b])] += 1

    def counts(self) -> dict:
        return {"co_occurs_with": len(self.pairs), "is_a": len(self.parent),
                "mentions": len(self.mentions)}

    def digests(self) -> dict:
        return {
            "co_occurs_with": digest(
                (a, b, w) for (a, b), w in self.pairs.items()),
            "is_a": digest((c, p, None) for c, p in self.parent.items()),
            "mentions": digest(self.mentions),
        }

    def read(self, head: str, top_k: int) -> list:
        """Top co-occurring classes of ``head`` and its descendants."""
        children: dict = {}
        for c, p in self.parent.items():
            children.setdefault(p, []).append(c)
        d, todo = {head}, [head]
        while todo:
            for c in children.get(todo.pop(), ()):
                d.add(c)
                todo.append(c)
        score: Counter = Counter()
        for (a, b), w in self.pairs.items():
            if a in d and b not in d:
                score[b] += w
            elif b in d and a not in d:
                score[a] += w
        return sorted(score.items(), key=lambda kv: (-kv[1], kv[0]))[:top_k]


def digest(rows) -> dict:
    """Order-independent digest of a row multiset: count plus a hash of
    the sorted rows."""
    lines = sorted("\t".join("" if v is None else str(v) for v in r)
                   for r in rows)
    h = hashlib.sha1()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return {"rows": len(lines), "sha1": h.hexdigest()}


def pin_build_digests(n_seeds: int) -> dict:
    """Oracle triples digests of the build corpus for seeds 0..n-1."""
    pins = {}
    for seed in range(n_seeds):
        wl = Workload(seed)
        oracle = Oracle(wl)
        oracle.add({
            row["url"]: classes
            for row, classes, _bad in map(wl.page, range(BUILD_PAGES))})
        pins[str(seed)] = oracle.digests()
    return pins


if __name__ == "__main__":
    # Regenerate pins.json:  python3 kgbench/workload.py [n_seeds]
    import json
    import sys

    sys.path.insert(0, ROOT)
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 64
    with open(os.path.join(os.path.dirname(__file__), "pins.json"), "w") as fh:
        json.dump({"build": pin_build_digests(n)}, fh, indent=1,
                  sort_keys=True)
        fh.write("\n")
