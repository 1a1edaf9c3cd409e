"""Checks of the benchmark's own pieces.

    python3 -m pytest kgbench -q

* the generator: every page's ``text`` is what the extractor makes of
  its ``html``, the stated malformed share takes the HTMLParser fallback,
  markup outweighs text, and the oracle's planted classes are exactly
  what the tagger finds;
* parity: the benchmark's build orchestration writes the same stage
  contents as the shipped ``jobs/kg_build.py``, from text and from html;
* ``BENCHMARK.json`` lists exactly the metrics ``run.py`` reports.
"""

import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import kg  # noqa: E402
import run  # noqa: E402
from spans import NullTracer  # noqa: E402
from workload import FIXTURES, MALFORMED_FRAC, Oracle, Workload  # noqa: E402

N_PAGES = 1000


@pytest.fixture(scope="module")
def wl():
    return Workload(7)


@pytest.fixture(scope="module")
def pages(wl):
    return [wl.page(i) for i in range(N_PAGES)]


def test_text_is_extracted_html(pages):
    from onto_text_tag_spark.functions.html_extract import extract_text

    for row, _classes, _bad in pages:
        html = row["html"].decode("utf-8")
        assert extract_text(html) == row["text"], row["url"]
        assert "<script" not in html and "<style" not in html


def test_malformed_share_takes_the_fallback(pages):
    from onto_text_tag_spark.functions.html_extract import _fast_text

    for row, _classes, bad in pages:
        assert (_fast_text(row["html"].decode("utf-8")) is None) == bad
    share = sum(bad for _r, _c, bad in pages) / len(pages)
    assert abs(share - MALFORMED_FRAC) < 0.03, share


def test_markup_outweighs_text(pages):
    html = sum(len(r["html"]) for r, _c, _b in pages)
    text = sum(len(r["text"].encode()) for r, _c, _b in pages)
    assert text / html < 0.3


def test_planted_classes_are_the_tagged_classes(pages):
    from onto_text_tag_spark.operators.tagger import tag_text

    automaton = run.Bench.prepare_dictionary(FIXTURES)["automaton"]
    for row, classes, _bad in pages[:300]:
        got = {m[4] for m in tag_text(automaton, row["url"], row["text"])}
        assert got == classes, row["url"]


def test_benchmark_json_lists_the_reported_metrics():
    import json

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert [m["name"] for m in bench["end_to_end"]] == list(run.END_TO_END)
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] \
        == [(n, u, b) for n, (u, b, _moves) in run.PER_LAYER.items()]
    assert {w["name"] for w in bench["workloads"]} <= set(run.WORKLOADS)


def test_head_class_has_descendants(wl):
    assert any(p == wl.head for p in wl.parent.values())
    assert wl.head not in wl.parent


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from onto_text_tag_spark.session import get_spark

    local = tmp_path_factory.mktemp("spark-local")
    s = get_spark(app_name="kgbench-test", master="local[2]",
                  extra_conf={"spark.driver.memory": "1g",
                              "spark.local.dir": str(local),
                              "spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()


def test_build_matches_shipped_job(spark, tmp_path):
    wl = Workload(3)
    onto = wl.write_ontology(str(tmp_path / "onto"))
    corpus = str(tmp_path / "corpus")
    oracle = Oracle(wl)
    oracle.add(wl.write_pages(corpus, range(200), 4))

    job_out = str(tmp_path / "job")
    env = dict(os.environ, PYTHONPATH=ROOT)
    subprocess.run(
        [sys.executable, os.path.join(ROOT, "jobs", "kg_build.py"),
         "--input", corpus, "--ontology", *onto, "--output", job_out],
        check=True, env=env, cwd=str(tmp_path), timeout=600,
        stdout=subprocess.DEVNULL)
    want = kg.stage_digests(spark, job_out, run.STAGES)

    setup = run.Bench.prepare_dictionary(onto)
    for from_html in (False, True):
        out = str(tmp_path / f"bench-{from_html}")
        kg.build(spark, [corpus], out, setup["dict_rows"],
                 setup["isa_pairs"], from_html, NullTracer())
        assert kg.stage_digests(spark, out, run.STAGES) == want, from_html
        assert kg.triples_digest(kg.read_stage(spark, out, "triples")) == \
            oracle.digests()
