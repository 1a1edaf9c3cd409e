"""The staged-commit protocol (sinks.begin_commit / finish_commit):
crash injection at the file level — a torn append copy, a swap torn at
each of its steps, a torn swap of the retraction delete set — and the
structural guard that keeps the protocol behind sinks.py."""

import ast
import os
import re
import shutil
from pathlib import Path

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

import onto_text_tag_spark

PLANS = Path(onto_text_tag_spark.__file__).parent / "plans"


class InjectedCrash(OSError):
    pass


def _crash_at(monkeypatch, root, k):
    """Fail the k-th (1-based) parquet-file copy or directory rename
    that touches ``root``'s live stages; a failed copy leaves half a
    file.  Returns a list that records the crash once it fired."""
    real_copy, real_rename = shutil.copyfile, os.rename
    calls = [0]
    fired = []

    def live(path):
        path = os.fspath(path)
        return path.startswith(root) and "_staging" not in path

    def hit(path):
        if live(path):
            calls[0] += 1
            if calls[0] == k:
                fired.append(path)
                return True
        return False

    def copyfile(src, dst, *args, **kwargs):
        if os.fspath(dst).endswith(".parquet") and hit(dst):
            with open(src, "rb") as fh:
                data = fh.read()
            with open(dst, "wb") as fh:
                fh.write(data[:len(data) // 2])
            raise InjectedCrash(f"injected crash copying {dst}")
        return real_copy(src, dst, *args, **kwargs)

    def rename(src, dst, *args, **kwargs):
        if hit(src):
            raise InjectedCrash(f"injected crash renaming {src}")
        return real_rename(src, dst, *args, **kwargs)

    monkeypatch.setattr(shutil, "copyfile", copyfile)
    monkeypatch.setattr(os, "rename", rename)
    return fired


def _ids(data_dir):
    return sorted(pq.read_table(data_dir).column("id").to_pylist())


def test_swap_torn_at_each_step_keeps_a_complete_tree(spark, tmp_path,
                                                      monkeypatch):
    """Compaction replaces a stage's data dir.  Crash it at every step
    of the swap — each file copied, the rename aside, the final rename:
    the live dir is never partial (after recovery it is the complete
    old or new tree), and re-running converges to the uninterrupted
    result."""
    from onto_text_tag_spark.plans.kg_absorb import compact_stage
    from onto_text_tag_spark.sinks import (
        read_manifest,
        snapshot_log,
        write_stage,
    )

    df = spark.range(0, 60).repartition(6).select(
        "id", (F.col("id") % 7).alias("v"))
    want = list(range(60))

    clean = str(tmp_path / "clean")
    write_stage(df, clean, "s", input_fingerprint="f")
    compact_stage(spark, clean, "s", target_bytes_per_file=2000)
    clean_man = read_manifest(clean, "s")
    assert 1 < clean_man["n_files"] < 6

    k = 1
    while True:
        root = str(tmp_path / f"torn{k}")
        write_stage(df, root, "s", input_fingerprint="f")
        live = os.path.join(root, "s", "data")
        raised = False
        with monkeypatch.context() as m:
            fired = _crash_at(m, root, k)
            try:
                compact_stage(spark, root, "s", target_bytes_per_file=2000)
            except OSError:  # copytree re-raises a copy as shutil.Error
                raised = True
        assert raised == bool(fired), k
        if not fired:
            break  # k ran past the last step
        if os.path.exists(live):
            assert _ids(live) == want, k
        else:
            # torn between the two renames: entry recovery puts the
            # complete old tree back
            from onto_text_tag_spark.sinks import begin_commit

            begin_commit(root, "recover")
            assert _ids(live) == want, k
        assert len(snapshot_log(root, "s")) == 1  # nothing sealed

        man = compact_stage(spark, root, "s", target_bytes_per_file=2000)
        assert _ids(live) == want
        for key in ("n_files", "total_rows", "input_fingerprint"):
            assert man[key] == clean_man[key], (k, key)
        assert len(snapshot_log(root, "s")) == 2
        assert not [d for d in os.listdir(os.path.join(root, "s"))
                    if "swap" in d]
        k += 1
    assert k == clean_man["n_files"] + 3  # copies + two renames, then none


def test_torn_append_copy_replays_cleanly(spark, tmp_path, monkeypatch):
    """A crash mid-copy of an appended part-file must not leave a
    truncated file under a live name: the replay commits, the stage
    reads back complete, and no temporary file remains."""
    from onto_text_tag_spark.operators.dedup import paragraph_dedup
    from onto_text_tag_spark.plans.paragraph_absorb import (
        absorb_paragraph_batch,
        init_paragraph_root,
        read_para_deduped,
    )
    from onto_text_tag_spark.sinks import read_manifest

    schema = "url string, text string, lang string"
    rows = [
        ("a01", "Accept all cookies\nalpha body one", "en"),
        ("a02", "accept all cookies\nbeta body two", "en"),
        ("a03", "gamma body\nalpha body one", "en"),
    ]
    root = str(tmp_path / "para")
    init_paragraph_root(spark, root, schema)
    batch = spark.createDataFrame(rows, schema)

    real_copy = shutil.copyfile
    torn = []

    def torn_copy(src, dst, *args, **kwargs):
        if "batch-" in os.path.basename(dst) and not torn:
            torn.append(dst)
            with open(src, "rb") as fh:
                data = fh.read()
            with open(dst, "wb") as fh:
                fh.write(data[:len(data) // 2])
            raise InjectedCrash("injected crash mid-copy")
        return real_copy(src, dst, *args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(shutil, "copyfile", torn_copy)
        with pytest.raises(InjectedCrash):
            absorb_paragraph_batch(spark, root, batch, "fp-1")
    assert torn

    out = absorb_paragraph_batch(spark, root, batch, "fp-1")
    assert out["status"] == "committed"
    want = {r["url"]: r["text"]
            for r in paragraph_dedup(batch, id_col="url").collect()}
    got = {r["url"]: r["text"]
           for r in read_para_deduped(spark, root).collect()}
    assert got == want
    for stage in ("para_digests", "deduped"):
        assert read_manifest(root, stage)["total_rows"] == \
            spark.read.parquet(os.path.join(root, stage, "data")).count()
    leftovers = [f for _d, _s, files in os.walk(root) for f in files
                 if f.endswith(".tmp")]
    assert leftovers == []


def test_torn_retracted_swap_is_recovered(spark, tmp_path, monkeypatch):
    """A fold torn right after ``retracted/data`` is renamed aside
    leaves that dir missing while its manifest still lists rows.  The
    next commit's entry recovery restores it: the fold succeeds and
    every view register_kg_views binds reads the unchanged live KG."""
    from onto_text_tag_spark.corpus import (
        distributed_documents_df,
        mini_ontology,
    )
    from onto_text_tag_spark.dictionary import build_dictionary_rows
    from onto_text_tag_spark.plans.kg_absorb import (
        absorb_batch,
        fold_retractions,
        init_kg_root,
        read_live_mentions,
        read_live_triples,
        retract_batch,
    )
    from onto_text_tag_spark.sinks import read_manifest
    from onto_text_tag_spark.views import register_kg_views

    onto = mini_ontology()
    root = str(tmp_path / "kg")
    init_kg_root(spark, root, onto)
    docs = distributed_documents_df(spark, 30, seed=11, partitions=2)
    absorb_batch(spark, root, docs, build_dictionary_rows(onto),
                 batch_fp="b0", lang=None)
    retract_batch(spark, root, docs.limit(5).select("url"), batch_fp="r0")

    def live_state():
        return (
            sorted(map(tuple, read_live_mentions(spark, root)
                       .select("url", "curie").collect())),
            sorted(map(tuple, read_live_triples(spark, root).collect())),
        )

    before = live_state()
    retracted = os.path.join(root, "retracted", "data")
    real_rename = os.rename

    def crash_after_rename(src, dst, *args, **kwargs):
        real_rename(src, dst, *args, **kwargs)
        if os.fspath(src) == retracted:
            raise InjectedCrash("injected crash after the rename")

    with monkeypatch.context() as m:
        m.setattr(os, "rename", crash_after_rename)
        with pytest.raises(InjectedCrash):
            fold_retractions(spark, root)
    assert not os.path.exists(retracted)
    assert read_manifest(root, "retracted")["total_rows"] == 5

    res = fold_retractions(spark, root)
    assert res["status"] == "folded" and res["n_urls_folded"] == 5
    views = register_kg_views(spark, root, prefix="torn_")
    for view in views.values():
        spark.table(view).count()
    assert live_state() == before
    assert read_manifest(root, "retracted")["total_rows"] == 0


GUARDED_CALLS = {"iceberg_available", "commit_stage", "drop_stage_table",
                 "rmtree"}
MOVED_HELPERS = {"_append_batch_files", "_swap_subtree", "_recover_swap",
                 "_append_files", "_swap_dir", "_recover_swaps"}
CHAINED_SEAL = re.compile(r"\{prev[^}]*\}\+\{")


def test_commit_protocol_stays_behind_sinks():
    """No plan module runs a piece of the staged-commit protocol itself:
    backend routing, seals, staging cleanup and the swap/append/recover
    helpers all live in sinks.py."""
    offences = []
    for path in sorted(PLANS.glob("*.py")):
        src = path.read_text()
        if CHAINED_SEAL.search(src):
            offences.append(f"{path.name}: chained seal fingerprint")
        for node in ast.walk(ast.parse(src)):
            if isinstance(node, ast.Call):
                func = node.func
                name = getattr(func, "id", None) or getattr(func, "attr", None)
                if name in GUARDED_CALLS:
                    offences.append(f"{path.name}:{node.lineno} calls {name}")
            elif isinstance(node, ast.ImportFrom):
                for alias in node.names:
                    if alias.name in MOVED_HELPERS | GUARDED_CALLS:
                        offences.append(
                            f"{path.name}:{node.lineno} imports {alias.name}")
    assert offences == []
