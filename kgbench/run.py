#!/usr/bin/env python3
"""KG-construction benchmark: full builds from text and from raw HTML,
and a closed-loop crawl-batch absorb with a live read after each commit.

Run from the repository root:

    python3 kgbench/run.py --workload build_html --seed 1 --seconds 8 --trace 0

Workloads (all inputs are generated from ``--seed``; see workload.py):

* ``build_text``  -- full KG build over BUILD_PAGES markup-heavy pages,
  tagging the materialized ``text`` column (html pruned at the scan).
* ``build_html``  -- the same pages built from raw ``html``: extraction
  runs inside the tagging batch.
* ``absorb_stream`` -- one client, closed loop: absorb BATCH_PAGES-page
  crawl batches into a KG root built (untimed) from BASE_PAGES pages,
  and after each commit run the association read over the live KG.

Each workload warms up (a first build in a JVM pays class loading, code
generation and Python worker imports), then repeats its unit -- one
build, or one batch absorb, each followed by one association read --
until ``--seconds`` have passed and at least MIN_UNITS units ran, on one
driver process at ``local[CORES]``.  Outputs are checked against an
oracle derived from the generator alone (workload.Oracle): every unit by
its committed row counts and read answer, and after the timed region the
full triples digest, for builds also against the digest pinned per seed
in pins.json, for absorb_stream also against a one-shot build of the
same pages.  A unit that fails a check counts in ``failed`` and never as
a timing.

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics of PER_LAYER and writes the spans to
``kgbench/.out/spans-<workload>-<seed>.jsonl``; traced runs alternate
traced and untraced units, so ``trace.overhead_frac`` compares the two
within one run.  Human-readable lines go to stdout first; the last line
of stdout is one JSON object.
"""

import time

T_PROC = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import pickle  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

from spans import NullTracer, RssSampler, Tracer  # noqa: E402
from workload import (  # noqa: E402
    BASE_PAGES,
    BATCH_PAGES,
    BUILD_PAGES,
    CORPUS_FILES,
    FIXTURES,
    ROOT,
    Oracle,
    Workload,
)

HERE = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(HERE, ".work")  # scratch, removed after every run
OUT = os.path.join(HERE, ".out")  # span files of traced runs

WORKLOADS = ("build_text", "build_html", "absorb_stream")
CORES = min(4, len(os.sched_getaffinity(0)))  # local[N], N <= nproc
MIN_UNITS = 3
WARM_BUILDS = 2
WARM_BATCHES = 2
WARM_READS = 2  # reads after each warm-up unit: reads warm up slower
SETUP_REPEATS = 3
PROBE_PAGES = 200
PROBE_REPEATS = 3
STAGES = ("mentions", "doc_terms", "triples", "nodes", "isa_closure")

END_TO_END = {
    "setup_s": "s",
    "commit_s.p50": "s",
    "docs_per_s": "docs/s",
    "live_read_s.p50": "s",
}

# name -> (unit, better, the end-to-end metric and workload it should move)
PER_LAYER = {
    "session.start_s": ("s", "lower", "setup_s on all workloads"),
    "dictionary.build_s": ("s", "lower", "setup_s on all workloads"),
    "dictionary.surfaces": ("count", "higher", "none: dictionary size"),
    "automaton.compile_s": (
        "s", "lower", "setup_s; commit_s.p50 on absorb_stream, where every "
        "batch recompiles and re-broadcasts it"),
    "automaton.pickle_bytes": (
        "bytes", "lower", "commit_s.p50 on absorb_stream (broadcast size)"),
    "extract.kernel_mb_per_s": (
        "MB/s", "higher", "commit_s.p50 on build_html; no change on "
        "build_text and absorb_stream"),
    "extract.html_bytes": (
        "bytes", "lower", "commit_s.p50 on build_html; 0 on build_text and "
        "absorb_stream, which read text"),
    "extract.text_bytes": (
        "bytes", "lower", "commit_s.p50 on build_html; 0 on build_text and "
        "absorb_stream"),
    "mentions.stage_s": ("s", "lower", "commit_s.p50 on both builds"),
    "mentions.task_s": ("s", "lower", "commit_s.p50 on both builds"),
    "mentions.rows": ("count", "lower", "none: fixed by the seed"),
    "tag.kernel_docs_per_s": (
        "docs/s", "higher", "commit_s.p50 on both builds; little on "
        "absorb_stream"),
    "tag.candidates": ("count", "lower", "commit_s.p50 on both builds"),
    "tag.accept_ratio": ("ratio", "higher", "commit_s.p50 on both builds"),
    "doc_terms.stage_s": ("s", "lower", "commit_s.p50 on both builds"),
    "doc_terms.shuffle_bytes": (
        "bytes", "lower", "commit_s.p50 on both builds"),
    "triples.stage_s": (
        "s", "lower", "commit_s.p50 on both builds; head-class skew sets "
        "the slowest task"),
    "triples.shuffle_bytes": ("bytes", "lower", "commit_s.p50 on both builds"),
    "cooccur.pairs_emitted": ("count", "lower", "commit_s.p50 on both builds"),
    "cooccur.edges": ("count", "lower", "none: fixed by the seed"),
    "cooccur.combine_ratio": ("ratio", "lower", "commit_s.p50 on both builds"),
    "cooccur.max_class_df": ("count", "lower", "none: the head-class skew"),
    "nodes.stage_s": ("s", "lower", "commit_s.p50 on both builds"),
    "isa_closure.stage_s": ("s", "lower", "commit_s.p50 on both builds"),
    "commit.s": ("s", "lower", "commit_s.p50 on all workloads"),
    "commit.jobs": (
        "count", "lower", "commit_s.p50, most on absorb_stream; no change "
        "on the builds from absorb-only work"),
    "commit.tasks": ("count", "lower", "commit_s.p50, most on absorb_stream"),
    "commit.files_added": (
        "count", "lower", "commit_s.p50 and live_read_s.p50 on "
        "absorb_stream"),
    "kg.live_files": ("count", "lower", "live_read_s.p50 on absorb_stream"),
    "live_read.s": ("s", "lower", "live_read_s.p50 on all workloads"),
    "live_read.input_bytes": ("bytes", "lower", "live_read_s.p50"),
    "proc.peak_rss_mb": ("MB", "lower", "memory, apart from setup_s"),
    "trace.overhead_frac": ("ratio", "lower", "none: the tracer's own cost"),
}
for _stage in STAGES:
    PER_LAYER[f"sinks.files_written.{_stage}"] = (
        "count", "lower", "commit_s.p50; on absorb_stream also "
        "live_read_s.p50")
    PER_LAYER[f"sinks.bytes_written.{_stage}"] = (
        "bytes", "lower", "commit_s.p50 on all workloads")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def log(msg):
    """Progress to stderr, stamped with seconds since process start."""
    print(f"[kgbench {time.perf_counter() - T_PROC:7.2f}s] {msg}",
          file=sys.stderr, flush=True)


def _noop(batches):
    yield from batches


def tail(samples):
    """(percentile, value) of the highest percentile with at least ten
    samples beyond it, or None when no such percentile lies above the
    median (fewer than 21 samples)."""
    n = len(samples)
    rank = n - 10
    if rank <= n / 2:
        return None
    return 100.0 * rank / n, sorted(samples)[rank - 1]


def median(values):
    return statistics.median(values) if values else 0.0


def count_files(root):
    return sum(f.endswith(".parquet")
               for _d, _s, files in os.walk(root) for f in files)


class Bench:
    def __init__(self, args):
        self.args = args
        self.attempted = 0
        self.failed = 0
        self.commit_s = []  # (seconds, traced?) of units that passed
        self.read_s = []
        self.docs = 0
        self.extra = {}  # workload-specific end-to-end lines (printed only)
        self.layer = {}
        self.files_added = []  # parquet files per traced commit
        self.null = NullTracer()
        self.tracer = None
        self.spark = None

    def check(self, ok, what):
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"GATE FAILED: {what}", flush=True)
        return ok

    # -- set-up -------------------------------------------------------------

    def start_session(self):
        from onto_text_tag_spark.session import get_spark

        self.spark = get_spark(
            app_name="kgbench", master=f"local[{CORES}]",
            extra_conf={
                "spark.driver.memory": "2g",
                "spark.local.dir": os.path.join(WORK, "spark-local"),
                # no /tmp/hsperfdata: all files stay under WORK
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} "
                    "-XX:-UsePerfData",
                "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
            })
        self.spark.sparkContext.setLogLevel("ERROR")
        # fork the Python workers once, as the shipped jobs' warmup does
        self.spark.range(0, 10_000, numPartitions=CORES).mapInPandas(
            _noop, schema="id long").count()
        return time.perf_counter() - T_PROC

    @staticmethod
    def prepare_dictionary(onto_paths):
        """Ontology parse + dictionary build, then the automaton compile
        a tagging task pays: matcher build, pickle, unpickle, first
        match (which compiles its regex)."""
        from onto_text_tag_spark.dictionary import build_dictionary_rows
        from onto_text_tag_spark.operators.tagger import compile_dictionary
        from onto_text_tag_spark.plans.kg_pipeline import load_ontology_rows

        t0 = time.perf_counter()
        onto_rows = load_ontology_rows(onto_paths)
        dict_rows = build_dictionary_rows(onto_rows)
        t1 = time.perf_counter()
        blob = pickle.dumps(compile_dictionary(dict_rows))
        automaton = pickle.loads(blob)
        automaton.find("")
        t2 = time.perf_counter()
        isa_pairs = [(r["curie"], r["parent_curie"])
                     for r in onto_rows if r.get("parent_curie")]
        return {"dict_rows": dict_rows, "isa_pairs": isa_pairs,
                "automaton": automaton, "pickle_bytes": len(blob),
                "dict_s": t1 - t0, "compile_s": t2 - t1}

    # -- one run ------------------------------------------------------------

    def execute(self):
        args = self.args
        session_s = self.start_session()
        log("session ready")
        self.wl = Workload(args.seed)
        self.oracle = Oracle(self.wl)
        onto_paths = self.wl.write_ontology(os.path.join(WORK, "ontology"))

        setups = [self.prepare_dictionary(onto_paths)
                  for _ in range(SETUP_REPEATS)]
        first = setups[0]
        self.dict_rows = first["dict_rows"]
        self.isa_pairs = first["isa_pairs"]
        self.automaton = first["automaton"]
        self.setup_s = session_s + median(
            [s["dict_s"] + s["compile_s"] for s in setups])
        self.layer.update({
            "session.start_s": session_s,
            "dictionary.build_s": median([s["dict_s"] for s in setups]),
            "dictionary.surfaces": len(self.dict_rows),
            "automaton.compile_s": median([s["compile_s"] for s in setups]),
            "automaton.pickle_bytes": first["pickle_bytes"],
        })
        log("set-up done")

        if not args.trace:
            self.run_workload()
            return self.report()
        self.tracer = Tracer(self.spark, f"{args.workload}-{args.seed}")
        with RssSampler() as rss:
            self.run_workload()
            self.probe_kernels()
            self.collect_layers()
        self.layer["proc.peak_rss_mb"] = rss.peak_kb / 1024
        os.makedirs(OUT, exist_ok=True)
        self.tracer.write(
            os.path.join(OUT, f"spans-{args.workload}-{args.seed}.jsonl"))
        return self.report()

    def run_workload(self):
        if self.args.workload == "absorb_stream":
            self.run_absorb()
        else:
            self.run_builds(from_html=self.args.workload == "build_html")
        log("output gate done")

    def unit_loop(self, run_unit):
        """Repeat ``run_unit(i, tracer)`` until --seconds have passed and
        at least MIN_UNITS units ran; a unit that raises ends the loop.
        Traced runs alternate traced and untraced units."""
        deadline = time.perf_counter() + self.args.seconds
        i = 0
        while i < MIN_UNITS or time.perf_counter() < deadline:
            traced = self.tracer is not None and i % 2 == 1
            try:
                run_unit(i, self.tracer if traced else self.null)
            except Exception:
                traceback.print_exc()
                self.check(False, f"unit {i} raised; loop ended")
                break
            i += 1
        log(f"timed loop done: {i} units")

    @staticmethod
    def timed_commit(i, fn):
        t = time.perf_counter()
        out = fn()
        dt = time.perf_counter() - t
        log(f"commit {i}: {dt:.3f} s")
        return out, dt

    def timed_read(self, root, tracer):
        import kg

        t = time.perf_counter()
        rows = kg.association_read(self.spark, root, self.wl.head, tracer)
        dt = time.perf_counter() - t
        log(f"read: {dt:.3f} s")
        return rows, dt

    # -- builds -------------------------------------------------------------

    def run_builds(self, from_html):
        import kg

        corpus = os.path.join(WORK, "corpus")
        self.oracle.add(
            self.wl.write_pages(corpus, range(BUILD_PAGES), CORPUS_FILES))
        want_counts = self.oracle.counts()
        want_read = self.oracle.read(self.wl.head, kg.TOP_K)

        # warm-up: builds of the same corpus, each followed by reads; the
        # first build in a JVM pays class loading, code generation and
        # Python worker imports, and the second is still ~15% slow
        for k in range(WARM_BUILDS):
            warm = os.path.join(WORK, f"kg-warm-{k}")
            kg.build(self.spark, [corpus], warm, self.dict_rows,
                     self.isa_pairs, from_html, self.null)
            for _ in range(WARM_READS):
                kg.association_read(self.spark, warm, self.wl.head,
                                    self.null)
            shutil.rmtree(warm)
        log("warm-up done")

        outs = []

        def unit(i, tracer):
            out = os.path.join(WORK, f"kg-{i}")
            n_triples, dt = self.timed_commit(i, lambda: kg.build(
                self.spark, [corpus], out, self.dict_rows, self.isa_pairs,
                from_html, tracer))
            got = kg.pred_counts(out)
            if self.check(got == want_counts,
                          f"build {i}: triples per pred {got} != "
                          f"{want_counts}"):
                self.commit_s.append((dt, tracer.enabled))
                self.docs += BUILD_PAGES
                self.n_triples = n_triples
            rows, rt = self.timed_read(out, tracer)
            if self.check(rows == want_read,
                          f"build {i}: association read {rows} != "
                          f"{want_read}"):
                self.read_s.append((rt, tracer.enabled))
            if tracer.enabled:
                self.files_added.append(count_files(out))
            if outs:
                shutil.rmtree(outs.pop())
            outs.append(out)

        self.unit_loop(unit)
        self.final_root = outs[-1]

        got = kg.triples_digest(
            kg.read_stage(self.spark, self.final_root, "triples"))
        want = self.oracle.digests()
        self.check(got == want, f"triples digest {got} != oracle {want}")
        with open(os.path.join(HERE, "pins.json")) as fh:
            pin = json.load(fh)["build"].get(str(self.args.seed))
        if pin is None:
            print(f"no pinned digest for seed {self.args.seed}; "
                  "checked against the oracle only")
        else:
            self.check(got == pin, f"triples digest {got} != pinned {pin}")

        build_s = [s for s, _t in self.commit_s]
        if build_s:
            med = median(build_s)
            self.extra["build_s"] = (med, "s", f"median of n={len(build_s)}")
            self.extra["triples_per_s"] = (
                self.n_triples / med, "triples/s",
                f"{self.n_triples} triples from {BUILD_PAGES} pages")
        if from_html:
            self.layer["extract.html_bytes"] = self.corpus_bytes("html")
            self.layer["extract.text_bytes"] = self.corpus_bytes("text")

    @staticmethod
    def corpus_bytes(col):
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        t = pq.read_table(os.path.join(WORK, "corpus"), columns=[col])
        return pc.sum(pc.binary_length(t[col].cast("binary"))).as_py()

    # -- absorb -------------------------------------------------------------

    def run_absorb(self):
        import kg

        base = os.path.join(WORK, "base")
        self.oracle.add(
            self.wl.write_pages(base, range(BASE_PAGES), CORPUS_FILES))
        root = os.path.join(WORK, "kg-live")
        # untimed prep; a traced run traces it for the build-stage metrics
        kg.build(self.spark, [base], root, self.dict_rows, self.isa_pairs,
                 False, self.tracer or self.null)
        log("base build done")
        batches = []

        def absorb(k, tracer):
            path = os.path.join(WORK, f"batch-{k:04d}")
            first = BASE_PAGES + k * BATCH_PAGES
            planted = self.wl.write_pages(
                path, range(first, first + BATCH_PAGES))
            batches.append(path)
            files_before = count_files(root)
            stats, dt = self.timed_commit(k, lambda: kg.absorb(
                self.spark, root, path, self.dict_rows,
                f"seed{self.args.seed}-batch{k}", tracer))
            self.oracle.add(planted)
            got, want = kg.pred_counts(root), self.oracle.counts()
            ok = self.check(got == want,
                            f"batch {k}: triples per pred {got} != {want}")
            if tracer.enabled:
                self.files_added.append(count_files(root) - files_before)
            return ok, stats, dt

        for k in range(WARM_BATCHES):
            absorb(k, self.null)
            for _ in range(WARM_READS):
                kg.association_read(self.spark, root, self.wl.head,
                                    self.null)
        log("warm-up done")

        def unit(i, tracer):
            ok, stats, dt = absorb(WARM_BATCHES + i, tracer)
            if ok:
                self.commit_s.append((dt, tracer.enabled))
                self.docs += stats["n_new_docs"]
            rows, rt = self.timed_read(root, tracer)
            want = self.oracle.read(self.wl.head, kg.TOP_K)
            if self.check(rows == want, f"batch {WARM_BATCHES + i}: "
                          f"association read {rows} != {want}"):
                self.read_s.append((rt, tracer.enabled))

        self.unit_loop(unit)
        self.final_root = root

        live = kg.triples_digest(kg.read_live_triples(self.spark, root))
        want = self.oracle.digests()
        self.check(live == want, f"live triples {live} != oracle {want}")
        oneshot = os.path.join(WORK, "kg-oneshot")
        kg.build(self.spark, [base] + batches, oneshot, self.dict_rows,
                 self.isa_pairs, False, self.null)
        once = kg.triples_digest(kg.read_stage(self.spark, oneshot, "triples"))
        self.check(live == once, f"live triples {live} != one-shot {once}")

        absorb_s = [s for s, _t in self.commit_s]
        if absorb_s:
            n = len(absorb_s)
            self.extra["absorb_s.p50"] = (median(absorb_s), "s", f"n={n}")
            tl = tail(absorb_s)
            self.extra["absorb_s.tail"] = (
                (tl[1], "s", f"p{tl[0]:.0f}, n={n}") if tl else
                (None, "s", f"n={n}: no percentile above the median has "
                 "ten samples beyond it"))
            self.extra["absorb_docs_per_s"] = (
                self.docs / sum(absorb_s), "docs/s",
                f"{self.docs} pages in batches of {BATCH_PAGES}")

    # -- per-layer ----------------------------------------------------------

    def probe_kernels(self):
        """Driver-side, single-thread kernel rates over the workload's
        first PROBE_PAGES pages."""
        from onto_text_tag_spark.functions.aho_corasick import filter_spans
        from onto_text_tag_spark.functions.html_extract import extract_text
        from onto_text_tag_spark.operators.tagger import tag_text

        pages = [self.wl.page(i)[0] for i in range(PROBE_PAGES)]
        htmls = [p["html"].decode("utf-8") for p in pages]
        texts = [(p["url"], p["text"]) for p in pages]
        ac = self.automaton
        ext, tag = [], []
        for _ in range(PROBE_REPEATS):
            t = time.perf_counter()
            for h in htmls:
                extract_text(h)
            ext.append(time.perf_counter() - t)
            t = time.perf_counter()
            for url, text in texts:
                tag_text(ac, url, text)
            tag.append(time.perf_counter() - t)
        cand = kept = 0
        for _url, text in texts:
            spans = ac.find(text)
            cand += len(spans)
            kept += len(filter_spans(spans))
        html_mb = sum(len(p["html"]) for p in pages) / 1e6
        self.layer["extract.kernel_mb_per_s"] = html_mb / median(ext)
        self.layer["tag.kernel_docs_per_s"] = len(texts) / median(tag)
        self.layer["tag.candidates"] = cand
        self.layer["tag.accept_ratio"] = kept / cand

    def collect_layers(self):
        """Per-layer metrics from the spans and the final KG root.  On
        absorb_stream the build-stage spans are those of the base build."""
        import kg
        from onto_text_tag_spark.sinks import read_manifest

        tr, root, L = self.tracer, self.final_root, self.layer

        def durations(name):
            return [s["end"] - s["start"] for s in tr.named(name)]

        for stage in STAGES:
            L[f"{stage}.stage_s"] = median(durations(stage))
        L["mentions.task_s"] = median(
            [s["task_ms"] / 1000 for s in tr.named("mentions")])
        L["doc_terms.shuffle_bytes"] = median(
            [s["shuffle_write_bytes"] for s in tr.named("doc_terms")])
        L["triples.shuffle_bytes"] = median(
            [s["shuffle_write_bytes"] for s in tr.named("triples")])
        unit = ("absorb_batch" if self.args.workload == "absorb_stream"
                else "build")
        L["commit.s"] = median(durations(unit))
        L["commit.tasks"] = median([s["tasks"] for s in tr.named(unit)])
        L["commit.jobs"] = median([s["jobs"] for s in tr.named(unit)])
        L["commit.files_added"] = median(self.files_added)
        L["kg.live_files"] = count_files(root)
        L["live_read.s"] = median(durations("live_read"))
        L["live_read.input_bytes"] = median(
            [s["input_bytes"] for s in tr.named("live_read")])

        for s in STAGES:
            man = read_manifest(root, s)
            L[f"sinks.files_written.{s}"] = man["n_files"]
            L[f"sinks.bytes_written.{s}"] = man["size_bytes"]
        L["mentions.rows"] = read_manifest(root, "mentions")["total_rows"]
        pairs, max_df = kg.cooccur_load(self.spark, root)
        edges = kg.pred_counts(root)["co_occurs_with"]
        L["cooccur.pairs_emitted"] = pairs
        L["cooccur.edges"] = edges
        L["cooccur.combine_ratio"] = edges / pairs
        L["cooccur.max_class_df"] = max_df
        L.setdefault("extract.html_bytes", 0)
        L.setdefault("extract.text_bytes", 0)
        traced = [s for s, t in self.commit_s if t]
        plain = [s for s, t in self.commit_s if not t]
        L["trace.overhead_frac"] = (
            median(traced) / median(plain) - 1 if traced and plain else 0.0)

    # -- output -------------------------------------------------------------

    def report(self):
        args = self.args
        print(f"workload={args.workload} seed={args.seed} cores={CORES} "
              f"seconds={args.seconds} trace={args.trace}")
        if args.trace:
            print("spans: name, count, total s, self s")
            for name, (n, tot, own) in self.tracer.self_times().items():
                print(f"  {name:<14} {n:3d} {tot:9.3f} {own:9.3f}")
            metrics = {}
            for name, (unit, _better, moves) in PER_LAYER.items():
                value = float(self.layer[name])
                metrics[name] = {"value": value, "unit": unit}
                print(f"{name} = {value:.6g} {unit}   [moves: {moves}]")
        else:
            commits = [s for s, _t in self.commit_s]
            reads = [s for s, _t in self.read_s]
            values = {
                "setup_s": self.setup_s,
                "commit_s.p50": median(commits),
                "docs_per_s": self.docs / sum(commits) if commits else 0.0,
                "live_read_s.p50": median(reads),
            }
            metrics = {k: {"value": v, "unit": END_TO_END[k]}
                       for k, v in values.items()}
            lines = [(k, v, END_TO_END[k], "") for k, v in values.items()]
            lines += [(k, *v) for k, v in self.extra.items()]
            lines.append(("failed_frac", self.failed / max(self.attempted, 1),
                          "ratio", f"{self.failed}/{self.attempted}"))
            for name, value, unit, note in lines:
                shown = "n/a" if value is None else f"{value:.6g}"
                print(f"{name} = {shown} {unit}"
                      + (f"   ({note})" if note else ""))
        return {"correct": self.failed == 0, "attempted": self.attempted,
                "failed": self.failed, "metrics": metrics}


def stop_spark(spark):
    """Stop the session, then the JVM it launched, and wait for it."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None):
    args = parse_args(argv)
    if args.seconds <= 0:
        print("kgbench: --seconds must be positive", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    try:
        import onto_text_tag_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"kgbench: the system under test is not importable from "
              f"{ROOT}: {e}", file=sys.stderr)
        return 2
    missing = [p for p in FIXTURES if not os.path.exists(p)]
    if missing:
        print(f"kgbench: missing ontology fixtures {missing}",
              file=sys.stderr)
        return 2

    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # an inherited SPARK_LOCAL_DIRS would override spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                  if p])
    bench = Bench(args)
    try:
        result = bench.execute()
    finally:
        if bench.spark is not None:
            stop_spark(bench.spark)
        shutil.rmtree(WORK, ignore_errors=True)
    log("stopped")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
