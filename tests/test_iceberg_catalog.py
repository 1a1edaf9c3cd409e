"""The Iceberg degradation path of the stage sinks (sinks.py): when the
session catalog is Iceberg-backed, ``write_stage`` must route the data
write to ``df.writeTo(table).createOrReplace()`` and ``read_stage`` to
``spark.table(table)``, with the sidecar manifest/marker/snapshot-log
contract (resume, lineage, metrics) intact.

The sandbox has no Iceberg runtime jar, so the catalog is FAKED at the
boundary the routing crosses: the catalog conf key flips
``iceberg_available`` on, and ``DataFrame.writeTo`` /
``SparkSession.table`` are monkeypatched to a parquet-backed table
registry.  What is really under test is this engine's routing + sidecar
logic — the part Iceberg does not provide.
"""

import os

import pytest
from pyspark.sql import DataFrame, SparkSession, functions as F

from onto_text_tag_spark.sinks import (
    iceberg_available,
    iceberg_stage_table,
    read_manifest,
    read_stage,
    run_stage,
    snapshot_log,
    stage_is_current,
    write_stage,
)

ICEBERG_CATALOG_IMPL = "org.apache.iceberg.spark.SparkSessionCatalog"


@pytest.fixture()
def iceberg_session(spark, tmp_path, monkeypatch):
    """The spark session with a faked Iceberg session catalog: conf key
    set, writeTo/table bridged to a parquet-per-table registry."""
    tables_root = str(tmp_path / "_tables")
    registry: dict[str, str] = {}
    part_cols: dict[str, list] = {}
    versions: dict[str, int] = {}

    class FakeWriter:
        def __init__(self, df, table):
            self._df, self._table = df, table
            self._partition_cols: list = []

        def partitionedBy(self, *cols):
            self._partition_cols = list(cols)
            return self

        def append(self):
            # Iceberg's atomic append commit, faked as parquet
            # mode("append") into the registered table path (tables
            # are stored UNPARTITIONED on disk — the partition column
            # rides as a normal column — so appended files mix with
            # the original layout cleanly)
            path = registry.get(self._table)
            if path is None:
                raise ValueError(f"append to unknown table {self._table}")
            self._df.write.mode("append").parquet(path)

        def overwritePartitions(self):
            # Iceberg dynamic-partition replacement: swap exactly the
            # partitions PRESENT in the new df, keep the rest.  Faked
            # by materializing keep ∪ new into a fresh versioned path
            # (can't overwrite a path while lazily reading it).
            path = registry.get(self._table)
            if path is None:
                raise ValueError(
                    f"overwritePartitions on unknown table {self._table}")
            pcols = part_cols.get(self._table, [])
            if not pcols:
                raise ValueError(
                    f"table {self._table} is unpartitioned")
            spark_s = self._df.sparkSession
            existing = spark_s.read.parquet(path)
            vals = [
                tuple(r) for r in
                self._df.select(*pcols).distinct().collect()
            ]
            from pyspark.sql import functions as FF
            import functools
            cond = functools.reduce(
                lambda a, b: a | b,
                [functools.reduce(
                    lambda x, y: x & y,
                    [FF.col(c) == v for c, v in zip(pcols, tup)])
                 for tup in vals],
            )
            keep = existing.where(~cond)
            out = keep.unionByName(self._df.select(*existing.columns))
            versions[self._table] = versions.get(self._table, 0) + 1
            newpath = f"{path}__v{versions[self._table]}"
            out.write.mode("overwrite").parquet(newpath)
            registry[self._table] = newpath

        def createOrReplace(self):
            versions[self._table] = versions.get(self._table, 0) + 1
            path = os.path.join(
                tables_root,
                self._table.replace(".", "__")
                + f"__v{versions[self._table]}")
            names = []
            for c in self._partition_cols:
                if isinstance(c, str):
                    names.append(c)
                else:  # Column reprs as "Column<'name'>"
                    names.append(str(c).split("'")[1])
            # stored unpartitioned (partition col as a normal column)
            # so later append()/overwritePartitions() compose; the
            # partition spec is recorded for overwritePartitions
            self._df.write.mode("overwrite").parquet(path)
            registry[self._table] = path
            part_cols[self._table] = names

    # patch the CONCRETE classes (Spark 4 routes through
    # pyspark.sql.classic subclasses whose methods shadow the base)
    df_cls = type(spark.range(1))
    sess_cls = type(spark)
    real_table = sess_cls.table

    def fake_table(self, name):
        if name in registry:
            return self.read.parquet(registry[name])
        return real_table(self, name)

    monkeypatch.setattr(df_cls, "writeTo",
                        lambda self, table: FakeWriter(self, table))
    monkeypatch.setattr(sess_cls, "table", fake_table)
    spark.conf.set("spark.sql.catalog.spark_catalog", ICEBERG_CATALOG_IMPL)
    try:
        yield spark, registry
    finally:
        spark.conf.unset("spark.sql.catalog.spark_catalog")


def test_iceberg_available_flips_on_catalog_conf(spark):
    assert not iceberg_available(spark)
    spark.conf.set("spark.sql.catalog.spark_catalog", ICEBERG_CATALOG_IMPL)
    try:
        assert iceberg_available(spark)
    finally:
        spark.conf.unset("spark.sql.catalog.spark_catalog")
    assert not iceberg_available(spark)


def test_stage_table_names_are_deterministic_and_root_scoped(spark):
    a1 = iceberg_stage_table(spark, "/data/kg_a", "mentions")
    a2 = iceberg_stage_table(spark, "/data/kg_a", "mentions")
    b = iceberg_stage_table(spark, "/data/kg_b", "mentions")
    assert a1 == a2 and a1 != b
    assert a1.startswith("onto_kg.kg_a_") and a1.endswith("_mentions")


def test_write_stage_routes_to_writeTo_and_reads_back(
        iceberg_session, tmp_path):
    spark, registry = iceberg_session
    root = str(tmp_path / "kg")
    df = spark.range(0, 100).select(
        F.col("id"),
        (F.col("id") % 3).cast("string").alias("bucket"),
    )

    manifest = write_stage(df, root, "nodes", partition_by=["bucket"],
                           input_fingerprint="fp1", metrics={"note": 1})

    table = iceberg_stage_table(spark, root, "nodes")
    assert registry == {table: registry[table]}  # data went through writeTo
    assert not os.path.exists(os.path.join(root, "nodes", "data"))
    assert manifest["format"] == "iceberg"
    assert manifest["table"] == table
    assert manifest["total_rows"] == 100
    assert manifest["partition_by"] == ["bucket"]
    assert sorted(p["bucket"] for p in manifest["partitions"]) == \
        ["0", "1", "2"]
    assert sum(p["rows"] for p in manifest["partitions"]) == 100
    assert manifest["metrics"] == {"note": 1}

    # sidecar resume contract is intact
    assert stage_is_current(root, "nodes", "fp1")
    assert not stage_is_current(root, "nodes", "fp2")
    assert read_manifest(root, "nodes")["table"] == table
    assert len(snapshot_log(root, "nodes")) == 1

    got = read_stage(spark, root, "nodes")
    assert got.count() == 100
    assert set(got.columns) == {"id", "bucket"}

    with pytest.raises(NotImplementedError, match="VERSION AS OF"):
        read_stage(spark, root, "nodes", snapshot_id=1)


def test_run_stage_resume_under_iceberg(iceberg_session, tmp_path):
    spark, registry = iceberg_session
    root = str(tmp_path / "kg")
    calls = []

    def compute():
        calls.append(1)
        return spark.range(0, 7).toDF("id")

    out1 = run_stage(spark, root, "s", compute, input_fingerprint="v1")
    out2 = run_stage(spark, root, "s", compute, input_fingerprint="v1")
    assert len(calls) == 1  # second run resumed from the table snapshot
    assert out1.count() == out2.count() == 7
    run_stage(spark, root, "s", compute, input_fingerprint="v2")
    assert len(calls) == 2  # changed fingerprint recomputes
    assert len(snapshot_log(root, "s")) == 2


def test_file_level_protocol_refused_under_catalog(iceberg_session, tmp_path):
    """Small-files compaction, which Iceberg's own ``rewrite_data_files``
    owns, must refuse UP FRONT under a catalog rather than die
    mid-protocol with FileNotFoundError.  Every absorb / retract / fold
    path commits table-level through sinks.finish_commit and is covered
    by the equality tests in this module."""
    spark, _registry = iceberg_session
    from onto_text_tag_spark.plans.kg_absorb import compact_stage

    with pytest.raises(NotImplementedError, match="Iceberg"):
        compact_stage(spark, str(tmp_path / "kg"), "mentions")


def test_dictionary_updates_refused_under_catalog(iceberg_session, tmp_path):
    """update_dictionary / update_ontology read live stages by parquet
    path, which a catalog session never writes: they must refuse UP
    FRONT and leave the root byte-for-byte untouched."""
    spark, _registry = iceberg_session
    from onto_text_tag_spark.corpus import mini_ontology
    from onto_text_tag_spark.dictionary import build_dictionary_rows
    from onto_text_tag_spark.plans.kg_absorb import init_kg_root
    from onto_text_tag_spark.plans.kg_dict_update import (
        update_dictionary,
        update_ontology,
    )

    onto = mini_ontology()
    dict_rows = build_dictionary_rows(onto)
    root = str(tmp_path / "kg_dict_ice")
    init_kg_root(spark, root, onto)

    def tree():
        out = {}
        for dirpath, _dirs, files in os.walk(root):
            for f in files:
                path = os.path.join(dirpath, f)
                with open(path, "rb") as fh:
                    out[os.path.relpath(path, root)] = fh.read()
        return out

    before = tree()
    docs = spark.createDataFrame([("u1", "nicotine")],
                                 "url string, text string")
    with pytest.raises(NotImplementedError, match="update_dictionary"):
        update_dictionary(spark, root, docs, dict_rows, dict_rows[:-1],
                          batch_fp="d1")
    with pytest.raises(NotImplementedError, match="update_ontology"):
        update_ontology(spark, root, onto, batch_fp="o1")
    assert tree() == before


def test_commit_stage_refused_on_table_backed_stage(
        iceberg_session, tmp_path):
    spark, _registry = iceberg_session
    from onto_text_tag_spark.sinks import commit_stage, stage_is_table_backed

    root = str(tmp_path / "root")
    write_stage(spark.range(3).select(F.col("id").alias("x")), root, "s1")
    assert stage_is_table_backed(root, "s1")
    with pytest.raises(NotImplementedError, match="table-backed"):
        commit_stage(root, "s1")


def test_stage_exists_sees_table_backed_stages(iceberg_session, tmp_path):
    """View registration checks stage existence; a table-backed stage
    has no data/ dir but must still count as existing."""
    spark, _registry = iceberg_session
    from onto_text_tag_spark.views import _stage_exists

    root = str(tmp_path / "root2")
    write_stage(spark.range(3).select(F.col("id").alias("x")), root, "s1")
    assert not os.path.exists(os.path.join(root, "s1", "data"))
    assert _stage_exists(root, "s1")
    assert not _stage_exists(root, "absent")


def _unit_vec_rows(n, dim=8, seed=3, start=0):
    import math
    import random

    rng = random.Random(seed)
    rows = []
    for i in range(start, start + n):
        v = [rng.uniform(-1, 1) for _ in range(dim)]
        nrm = math.sqrt(sum(x * x for x in v))
        rows.append((i, [x / nrm for x in v]))
    return rows


def test_pq_absorb_under_catalog_equals_rebuild(iceberg_session, tmp_path):
    """VERDICT r4 item 3: the PQ code store commits table-level — the
    codes append AND the per-batch error-stats row (an additive append,
    so no swap analog needed) — and must equal a from-scratch encode
    over the union, with replays no-op and codebook tamper refused."""
    spark, _registry = iceberg_session
    from onto_text_tag_spark.operators.similarity import (
        pq_encode_with_error,
    )
    from onto_text_tag_spark.plans.pq_absorb import (
        absorb_pq_batch,
        init_pq_root,
        pq_store_report,
    )
    from onto_text_tag_spark.sinks import read_manifest, read_stage

    base = _unit_vec_rows(4, seed=77, start=0)
    codebooks = [
        [[float(x) for x in v[s * 4:(s + 1) * 4]] for _, v in base]
        for s in range(2)
    ]
    root = str(tmp_path / "pq_ice")
    init_pq_root(spark, root, codebooks)
    assert read_manifest(root, "pq_codes")["format"] == "iceberg"

    all_rows = _unit_vec_rows(60, seed=5)
    b1 = spark.createDataFrame(all_rows[:35], ["vec_id", "embedding"])
    b2 = spark.createDataFrame(all_rows[30:], ["vec_id", "embedding"])
    s1 = absorb_pq_batch(spark, root, b1, batch_fp="e1")
    assert s1["status"] == "committed" and s1["n_new_vecs"] == 35
    s2 = absorb_pq_batch(spark, root, b2, batch_fp="e2")
    assert s2["status"] == "committed" and s2["n_new_vecs"] == 25

    stored = {
        r["vec_id"]: (list(r["codes"]), round(r["recon_err"], 9))
        for r in read_stage(spark, root, "pq_codes").collect()
    }
    union = spark.createDataFrame(all_rows, ["vec_id", "embedding"])
    scratch = {
        r["vec_id"]: (list(r["codes"]), round(r["recon_err"], 9))
        for r in pq_encode_with_error(union, codebooks).collect()
    }
    assert stored == scratch

    rep = absorb_pq_batch(spark, root, b1, batch_fp="e1")
    assert rep["status"] == "noop_already_committed"
    assert read_stage(spark, root, "pq_codes").count() == 60

    report = pq_store_report(spark, root)
    assert report["n_vecs"] == 60
    assert [b["batch"] for b in report["batches"]] == ["e1", "e2"]

    # codebook tamper refusal survives the backend switch
    from onto_text_tag_spark.sinks import write_stage

    cb = read_stage(spark, root, "pq_codebooks")
    write_stage(
        cb.withColumn(
            "centroid",
            F.transform("centroid", lambda x: x + F.lit(0.5))),
        root, "pq_codebooks",
        input_fingerprint=read_manifest(
            root, "pq_codebooks")["input_fingerprint"],
        metrics=read_manifest(root, "pq_codebooks")["metrics"],
    )
    b3 = spark.createDataFrame(
        _unit_vec_rows(3, seed=9, start=100), ["vec_id", "embedding"])
    with pytest.raises(ValueError, match="fingerprint"):
        absorb_pq_batch(spark, root, b3, batch_fp="e3")


def test_ivf_absorb_under_catalog_equals_rebuild(iceberg_session, tmp_path):
    """VERDICT r4 item 3, the MERGE half: ivf_cell_stats is a
    keyed-additive relation, so its table commit goes through
    a replace commit (atomic createOrReplace from the
    materialized staging snapshot) — stored assignments and merged
    stats must equal a from-scratch build over the union."""
    spark, _registry = iceberg_session
    from onto_text_tag_spark.operators.similarity import (
        ivf_cell_assignments,
    )
    from onto_text_tag_spark.plans.ivf_absorb import (
        absorb_embeddings,
        init_ivf_root,
        ivf_index_report,
    )
    from onto_text_tag_spark.sinks import read_manifest, read_stage

    centroids = [(cid, v) for cid, v in _unit_vec_rows(4, seed=99)]
    root = str(tmp_path / "ivf_ice")
    init_ivf_root(spark, root, centroids)
    assert read_manifest(root, "ivf_cells")["format"] == "iceberg"

    all_rows = _unit_vec_rows(50, seed=5)
    b1 = spark.createDataFrame(all_rows[:30], ["vec_id", "embedding"])
    b2 = spark.createDataFrame(all_rows[25:], ["vec_id", "embedding"])
    s1 = absorb_embeddings(spark, root, b1, batch_fp="e1")
    assert s1["status"] == "committed" and s1["n_new_vecs"] == 30
    s2 = absorb_embeddings(spark, root, b2, batch_fp="e2")
    assert s2["status"] == "committed" and s2["n_new_vecs"] == 20

    stored = {
        r["vec_id"]: (r["cell"], round(r["cscore"], 9))
        for r in read_stage(spark, root, "ivf_cells").collect()
    }
    union = spark.createDataFrame(all_rows, ["vec_id", "embedding"])
    scratch = {
        r["vec_id"]: (r["cell"], round(r["cscore"], 9))
        for r in ivf_cell_assignments(union, centroids).collect()
    }
    assert stored == scratch

    # merged stats (the replace path) == exact recompute
    stats = {
        r["cell"]: (r["n"], round(r["sum_score"], 9))
        for r in read_stage(spark, root, "ivf_cell_stats").collect()
    }
    exact: dict = {}
    for _vid, (cell, score) in scratch.items():
        n, s = exact.get(cell, (0, 0.0))
        exact[cell] = (n + 1, s + score)
    assert set(stats) == set(exact)
    for cell, (n, s) in exact.items():
        assert stats[cell][0] == n and abs(stats[cell][1] - s) < 1e-6

    rep = absorb_embeddings(spark, root, b1, batch_fp="e1")
    assert rep["status"] == "noop_already_committed"
    assert ivf_index_report(spark, root)["n_vecs"] == 50


def test_media_absorb_under_catalog_equals_batch(iceberg_session, tmp_path):
    """VERDICT r4 item 3, the media family: perceptual-dedup roots
    (signature store + pair ledger, both append-grown) commit
    table-level via append commits and must equal the batch
    operator over the union, with replays no-op."""
    spark, _registry = iceberg_session
    import numpy as np

    from onto_text_tag_spark.functions import media_codecs as mc
    from onto_text_tag_spark.operators.multimodal import (
        image_near_duplicates,
    )
    from onto_text_tag_spark.plans.image_absorb import (
        absorb_image_batch,
        init_image_root,
        read_image_dups,
    )
    from onto_text_tag_spark.sinks import read_manifest, read_stage

    def png(seed, nudge=False):
        h, w = 20 + seed % 5, 28 + seed % 5
        yy, xx = np.mgrid[0:h, 0:w]
        chans = []
        for c in range(3):
            base = (xx.astype(np.uint64) * np.uint64(0x9E3779B1)
                    + yy.astype(np.uint64) * np.uint64(0x85EBCA77)
                    + np.uint64((seed * 0xC2B2AE3D + c * 0x27D4EB2F)
                                & 0xFFFFFFFF)) & np.uint64(0xFFFFFFFF)
            v = (base * base + base) & np.uint64(0xFFFFFFFF)
            chans.append(((v >> np.uint64(13)) % 256).astype(np.uint8))
        px = np.stack(chans, axis=2)
        if nudge:
            px[2, 3] = (px[2, 3] + 5) % 256
        return mc.encode_png(px)

    def media(rows):
        return spark.createDataFrame(
            rows,
            "media_id string, kind string, format string, payload binary",
        )

    rows_a = [(str(i), "image", "png", png(i)) for i in range(10)]
    rows_a.append(("7n", "image", "png", png(7, nudge=True)))
    rows_b = [(str(i), "image", "png", png(i)) for i in range(10, 18)]
    rows_b.append(("3n", "image", "png", png(3, nudge=True)))

    root = str(tmp_path / "img_ice")
    init_image_root(spark, root)
    assert read_manifest(root, "image_dups")["format"] == "iceberg"

    r1 = absorb_image_batch(spark, root, media(rows_a), "fp-A",
                            max_bucket_size=None)
    assert r1["status"] == "committed"
    r2 = absorb_image_batch(spark, root, media(rows_b), "fp-B",
                            max_bucket_size=None)
    assert r2["status"] == "committed"

    expected = {
        tuple(sorted((r["id_a"], r["id_b"])))
        for r in image_near_duplicates(
            media(rows_a + rows_b), max_bucket_size=None).collect()
    }
    live = {
        tuple(sorted((r["id_a"], r["id_b"])))
        for r in read_image_dups(spark, root).collect()
    }
    assert live == expected and len(live) >= 2
    assert read_stage(spark, root, "image_sigs").count() == len(
        rows_a + rows_b)

    rep = absorb_image_batch(spark, root, media(rows_a), "fp-A",
                             max_bucket_size=None)
    assert rep["status"] == "noop_already_committed"
    assert read_image_dups(spark, root).count() == len(expected)


def test_paragraph_absorb_under_catalog_equals_rebuild(
        iceberg_session, tmp_path, monkeypatch):
    """VERDICT r3 item 7: the table-level incremental protocol, proven
    on the append-only paragraph-absorb path — absorbing batches under
    the Iceberg session catalog (writeTo(...).append() per stage via
    sinks.finish_commit) must equal the batch operator over the
    union, replays must no-op, and the sidecar snapshot log must chain
    fingerprints exactly like the file-backed path."""
    spark, registry = iceberg_session
    from onto_text_tag_spark.operators.dedup import paragraph_dedup
    from onto_text_tag_spark.plans.paragraph_absorb import (
        absorb_paragraph_batch,
        init_paragraph_root,
        read_para_deduped,
    )
    from onto_text_tag_spark.sinks import read_manifest, snapshot_log

    schema = "url string, text string, lang string"
    batch_a = [
        ("a01", "Accept all cookies\nalpha body one", "en"),
        ("a02", "accept ALL   cookies\nbeta body two\nshared footer",
         "en"),
        ("a03", "", "en"),
    ]
    batch_b = [
        ("b01", "Accept all cookies\nshared footer\nfresh gamma body",
         "en"),
        ("b02", "fresh gamma body\ndelta body four", "de"),
    ]

    root = str(tmp_path / "para_ice")
    init_paragraph_root(spark, root, schema)
    assert read_manifest(root, "deduped")["format"] == "iceberg"

    r1 = absorb_paragraph_batch(
        spark, root, spark.createDataFrame(batch_a, schema), "fp-A")
    assert r1["status"] == "committed"
    r2 = absorb_paragraph_batch(
        spark, root, spark.createDataFrame(batch_b, schema), "fp-B")
    assert r2["status"] == "committed"

    union = spark.createDataFrame(batch_a + batch_b, schema)
    expected = {
        r["url"]: r
        for r in paragraph_dedup(union, id_col="url").collect()
    }
    live = {r["url"]: r
            for r in read_para_deduped(spark, root).collect()}
    assert set(live) == set(expected)
    for url, exp in expected.items():
        assert live[url]["text"] == exp["text"], url
        assert live[url]["n_paragraphs"] == exp["n_paragraphs"], url
        assert live[url]["n_kept"] == exp["n_kept"], url
    assert live["b02"]["lang"] == "de"

    # replay: committed no-op — the table is untouched
    n_before = read_para_deduped(spark, root).count()
    r3 = absorb_paragraph_batch(
        spark, root, spark.createDataFrame(batch_a, schema), "fp-A")
    assert r3["status"] == "noop_already_committed"
    assert read_para_deduped(spark, root).count() == n_before

    # sidecar log: init + one entry per committed batch, fingerprints
    # recorded in metrics
    log = snapshot_log(root, "deduped")
    fps = [s.get("metrics", {}).get("batch_fingerprint") for s in log]
    assert fps == [None, "fp-A", "fp-B"]

    # per-stage idempotency: a crash between the two stage seals
    # (para_digests sealed, deduped not) replays without re-appending
    from onto_text_tag_spark import sinks

    real_seal = sinks._seal_table
    crashed = []

    def crash_once(spark_, root_, stage, *args):
        if root_ == root and stage == "deduped" and not crashed:
            crashed.append(stage)
            raise RuntimeError("injected crash before the commit point")
        return real_seal(spark_, root_, stage, *args)

    monkeypatch.setattr(sinks, "_seal_table", crash_once)
    batch_c = spark.createDataFrame(
        [("c01", "crash replay body\nAccept all cookies", "en")], schema)
    with pytest.raises(RuntimeError, match="injected"):
        absorb_paragraph_batch(spark, root, batch_c, "fp-C")
    n_digests = read_manifest(root, "para_digests")["total_rows"]
    r4 = absorb_paragraph_batch(spark, root, batch_c, "fp-C")
    assert r4["status"] == "committed"
    assert read_stage(spark, root, "para_digests").count() == n_digests
    for stage in ("para_digests", "deduped"):
        fps = [s.get("metrics", {}).get("batch_fingerprint")
               for s in snapshot_log(root, stage)]
        assert fps == [None, "fp-A", "fp-B", "fp-C"], stage


def test_kg_absorb_under_catalog_equals_file_backed(
        iceberg_session, tmp_path):
    """VERDICT r3 item 7, the named path: the kg_update absorb commits
    table-level under the Iceberg catalog — mention/doc_terms/
    mention-triple appends, the merged
    co-occurrence branch via writeTo(...).overwritePartitions() (the
    partition-replace commit) — and the resulting stages must EQUAL the
    file-backed absorb over the same two batches.  Replays no-op."""
    spark, registry = iceberg_session
    from pyspark.sql import functions as F

    from onto_text_tag_spark.corpus import (
        distributed_documents_df,
        mini_ontology,
    )
    from onto_text_tag_spark.dictionary import build_dictionary_rows
    from onto_text_tag_spark.plans.kg_absorb import (
        absorb_batch,
        init_kg_root,
    )

    onto = mini_ontology()
    dict_rows = build_dictionary_rows(onto)
    docs = distributed_documents_df(spark, 80, seed=13, partitions=4)
    docs.cache().count()
    b1 = docs.where(F.crc32("url") % 2 == 0)
    b2 = docs.where(F.crc32("url") % 2 == 1)

    # catalog-backed root
    ice_root = str(tmp_path / "kg_ice")
    init_kg_root(spark, ice_root, onto)
    s1 = absorb_batch(spark, ice_root, b1, dict_rows, batch_fp="b1")
    assert s1["status"] == "committed"
    s2 = absorb_batch(spark, ice_root, b2, dict_rows, batch_fp="b2")
    assert s2["status"] == "committed"
    rep = absorb_batch(spark, ice_root, b1, dict_rows, batch_fp="b1")
    assert rep["status"] == "noop_already_committed"

    ice_stages = {
        stage: sorted(map(tuple,
                          read_stage(spark, ice_root, stage).collect()))
        for stage in ("mentions", "doc_terms", "triples")
    }

    # file-backed twin over the same batches (catalog off)
    spark.conf.unset("spark.sql.catalog.spark_catalog")
    try:
        file_root = str(tmp_path / "kg_file")
        init_kg_root(spark, file_root, onto)
        absorb_batch(spark, file_root, b1, dict_rows, batch_fp="b1")
        absorb_batch(spark, file_root, b2, dict_rows, batch_fp="b2")
        file_stages = {
            stage: sorted(map(tuple, read_stage(
                spark, file_root, stage).collect()))
            for stage in ("mentions", "doc_terms", "triples")
        }
    finally:
        spark.conf.set("spark.sql.catalog.spark_catalog",
                       ICEBERG_CATALOG_IMPL)

    for stage in ("mentions", "doc_terms", "triples"):
        assert ice_stages[stage] == file_stages[stage], stage
    # co-occurrence weights merged across batches, not replaced: the
    # triples rows must contain cross-batch co_occurs_with weights
    n_cooccur = sum(1 for r in ice_stages["triples"]
                    if "co_occurs_with" in r)
    assert n_cooccur > 0


def test_dedup_absorb_under_catalog_equals_file_backed(
        iceberg_session, tmp_path):
    """VERDICT r4 item 3, the corpus-dedup family: the absorb's three
    append stages commit via table appends and the merged
    clusters map via a table replace — a catalog-backed root
    absorbing the same batches as a file-backed root must agree on the
    live corpus view, the cluster map, the demoted set, and replays."""
    spark, _registry = iceberg_session
    from onto_text_tag_spark.plans.dedup_absorb import (
        absorb_dedup_batch,
        init_dedup_root,
        read_deduped,
    )
    from onto_text_tag_spark.sinks import read_stage

    knobs = dict(num_hashes=64, bands=16, threshold=0.8, shingle_k=5,
                 shingle_mode="word")

    def words(prefix, n):
        return " ".join(f"{prefix}{i}" for i in range(n))

    a_text = words("alpha", 100)
    bridge = words("bridge", 10)
    schema = "url string, text string"
    # b1: A and B near but BELOW threshold (separate clusters), X alone
    b1 = [
        ("https://s.example/docA", a_text),
        ("https://s.example/docB",
         f"{a_text} {bridge} {words('beta', 25)}"),
        ("https://s.example/docX", words("xray", 60)),
    ]
    # b2: D bridges A-B (demotes committed docB), an exact cross-batch
    # dup of X, an intra-batch exact pair
    b2 = [
        ("https://s.example/docD", f"{a_text} {bridge}"),
        ("https://s.example/docX?exact", words("xray", 60)),
        ("https://s.example/new1", words("gamma", 40)),
        ("https://s.example/new2", words("gamma", 40)),
    ]

    def run_root(root):
        init_dedup_root(spark, root, schema)
        r1 = absorb_dedup_batch(
            spark, root, None, spark.createDataFrame(b1, schema),
            batch_fp="fp-1", **knobs)
        r2 = absorb_dedup_batch(
            spark, root, None, spark.createDataFrame(b2, schema),
            batch_fp="fp-2", **knobs)
        assert r1["status"] == r2["status"] == "committed"
        live = sorted(r["url"] for r in read_deduped(spark, root)
                      .select("url").collect())
        cmap = sorted(map(tuple, read_stage(spark, root, "clusters")
                          .collect()))
        demoted = sorted(r[0] for r in read_stage(spark, root, "demoted")
                         .collect())
        return live, cmap, demoted

    # file-backed ground truth: flip the catalog conf off for the twin
    spark.conf.unset("spark.sql.catalog.spark_catalog")
    try:
        want = run_root(str(tmp_path / "dd_file"))
    finally:
        spark.conf.set("spark.sql.catalog.spark_catalog",
                       ICEBERG_CATALOG_IMPL)

    got = run_root(str(tmp_path / "dd_ice"))
    assert got == want
    live, _cmap, demoted = got
    assert "https://s.example/docB" in demoted  # cross-batch demotion
    assert "https://s.example/docB" not in live
    assert "https://s.example/docX?exact" not in live

    # replay: committed no-op through the catalog path
    rep = absorb_dedup_batch(
        spark, str(tmp_path / "dd_ice"), None,
        spark.createDataFrame(b1, schema), batch_fp="fp-1", **knobs)
    assert rep["status"] == "noop_already_committed"

    # fold the demoted delete set table-level: live view unchanged,
    # delete set cleared, demoted doc physically gone from the stage
    from onto_text_tag_spark.plans.dedup_absorb import fold_demotions

    root_ice = str(tmp_path / "dd_ice")
    f = fold_demotions(spark, root_ice)
    assert f["status"] == "folded" and f["n_ids_folded"] > 0
    assert sorted(r["url"] for r in read_deduped(spark, root_ice)
                  .select("url").collect()) == live
    assert read_stage(spark, root_ice, "demoted").count() == 0
    assert read_stage(spark, root_ice, "deduped").count() == len(live)
    # re-fold no-ops
    assert fold_demotions(spark, root_ice)["status"] == \
        "noop_nothing_demoted"


def test_retract_under_catalog_equals_build_without_batch(
        iceberg_session, tmp_path):
    """Round 5: retraction commits table-level — the delete set
    appends, the negative-merged co-occurrence branch lands via
    overwritePartitions — and retracting batch2 must leave the live
    views equal to a build over batch1 alone.  The full-retraction
    corner (every co-occur pair zeroed) exercises the explicit
    partition-clear path, since overwritePartitions with an empty df
    replaces nothing."""
    spark, _registry = iceberg_session
    from onto_text_tag_spark.corpus import (
        distributed_documents_df,
        mini_ontology,
    )
    from onto_text_tag_spark.dictionary import build_dictionary_rows
    from onto_text_tag_spark.plans.kg_absorb import (
        absorb_batch,
        init_kg_root,
        read_live_mentions,
        read_live_triples,
        retract_batch,
    )

    onto = mini_ontology()
    dict_rows = build_dictionary_rows(onto)
    docs = distributed_documents_df(spark, 60, seed=13, partitions=4)
    docs.cache().count()
    b1 = docs.where(F.crc32("url") % 2 == 0)
    b2 = docs.where(F.crc32("url") % 2 == 1)

    root = str(tmp_path / "kg_ret")
    init_kg_root(spark, root, onto)
    absorb_batch(spark, root, b1, dict_rows, batch_fp="b1")
    absorb_batch(spark, root, b2, dict_rows, batch_fp="b2")
    r = retract_batch(spark, root, b2.select("url"), batch_fp="r2")
    assert r["status"] == "committed" and r["n_retracted_docs"] > 0
    got_triples = sorted(map(tuple,
                             read_live_triples(spark, root).collect()))
    got_mentions = sorted(map(tuple,
                              read_live_mentions(spark, root).collect()))

    # ground truth: a root that only ever absorbed batch1
    want_root = str(tmp_path / "kg_b1")
    init_kg_root(spark, want_root, onto)
    absorb_batch(spark, want_root, b1, dict_rows, batch_fp="b1")
    want_triples = sorted(map(tuple,
                              read_live_triples(spark, want_root)
                              .collect()))
    want_mentions = sorted(map(tuple,
                               read_live_mentions(spark, want_root)
                               .collect()))
    assert got_triples == want_triples
    assert got_mentions == want_mentions

    # double retraction cannot double-subtract
    rep = retract_batch(spark, root, b2.select("url"), batch_fp="r2")
    assert rep["status"] == "noop_already_committed"

    # fold the delete set table-level: live views bit-identical, the
    # retracted stage cleared, physical anti-join gone
    from onto_text_tag_spark.plans.kg_absorb import fold_retractions

    f = fold_retractions(spark, root)
    assert f["status"] == "folded" and f["n_urls_folded"] > 0
    assert sorted(map(tuple, read_live_triples(spark, root)
                      .collect())) == got_triples
    assert sorted(map(tuple, read_live_mentions(spark, root)
                      .collect())) == got_mentions
    assert read_stage(spark, root, "retracted").count() == 0
    assert read_stage(spark, root, "mentions").count() == len(
        got_mentions)

    # full retraction: every remaining doc goes — the co-occur
    # partition must be explicitly cleared (empty overwrite corner)
    r3 = retract_batch(spark, root, b1.select("url"), batch_fp="r1")
    assert r3["status"] == "committed"
    left = read_live_triples(spark, root)
    assert left.where(F.col("pred") == "co_occurs_with").count() == 0
    assert read_live_mentions(spark, root).count() == 0


def test_kg_side_stages_under_catalog_equal_file_backed(
        iceberg_session, tmp_path):
    """Round 5: the --sketch/--trends side stages and the link-graph
    absorb commit table-level (keyed merges via table replaces)
    — each stage must equal its file-backed twin over the same
    batches, and refresh_nodes must rebuild the nodes table under the
    catalog."""
    spark, _registry = iceberg_session
    from onto_text_tag_spark.corpus import (
        distributed_documents_df,
        mini_ontology,
    )
    from onto_text_tag_spark.dictionary import build_dictionary_rows
    from onto_text_tag_spark.plans.kg_absorb import (
        absorb_batch,
        absorb_links,
        init_kg_root,
        refresh_nodes,
    )

    onto = mini_ontology()
    dict_rows = build_dictionary_rows(onto)
    docs = distributed_documents_df(spark, 40, seed=17, partitions=4)
    docs.cache().count()
    # the synthetic pages only link within their own host — plant two
    # CROSS-host anchors so the host-graph merge has real weight rows
    # (one per batch, so the pair-keyed weight sum crosses batches)
    import datetime

    ts = datetime.datetime(2024, 1, 1)
    xhost = spark.createDataFrame(
        [(f"https://hub{i}.example.net/x{i}", ts,
          ('<html><body><a href="https://other.example.com/t">t</a>'
           "</body></html>").encode(), "cross host page", "en")
         for i in (1, 2)],
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string",
    )
    b1 = docs.where(F.crc32("url") % 2 == 0).unionByName(
        xhost.where(F.col("url").contains("hub1")))
    b2 = docs.where(F.crc32("url") % 2 == 1).unionByName(
        xhost.where(F.col("url").contains("hub2")))

    def run_root(root):
        init_kg_root(spark, root, onto)
        for df, fp in ((b1, "b1"), (b2, "b2")):
            out = absorb_batch(spark, root, df, dict_rows, batch_fp=fp,
                               sketch_k=16, trends_bucket="day")
            assert out["status"] == "committed"
            absorb_links(spark, root, df, batch_fp=fp)
        meta = [{"id": r["id"], "name": r["name"], "ont": r["ont"]}
                for r in spark.createDataFrame(dict_rows).select(
                    "id", "name", "ont").distinct().collect()]
        refresh_nodes(spark, root, class_meta=meta)
        return {
            stage: sorted(map(tuple,
                              read_stage(spark, root, stage).collect()))
            for stage in ("term_sketch", "trends", "links",
                          "host_graph", "nodes")
        }

    got = run_root(str(tmp_path / "kg_side_ice"))

    spark.conf.unset("spark.sql.catalog.spark_catalog")
    try:
        want = run_root(str(tmp_path / "kg_side_file"))
    finally:
        spark.conf.set("spark.sql.catalog.spark_catalog",
                       ICEBERG_CATALOG_IMPL)

    for stage in ("term_sketch", "trends", "links", "host_graph",
                  "nodes"):
        assert got[stage] == want[stage], stage
    assert len(got["links"]) > 0 and len(got["host_graph"]) > 0
    assert len(got["term_sketch"]) > 0 and len(got["trends"]) > 0


def test_crawl_sink_under_catalog_equals_batch_build(
        iceberg_session, tmp_path):
    """Round 5, the composed pipeline: with every absorb/retract step
    table-backed, the full crawl-to-graph sink (dedup absorb → KG
    absorb of survivors → retraction of demoted base docs) runs under
    the Iceberg catalog end-to-end, with the epoch's step inputs
    derived from committed store state (no batch-tagged files exist on
    tables).  Pin: the live KG equals a batch pipeline over the live
    deduped corpus, including the retraction of a demoted term-bearing
    page."""
    spark, _registry = iceberg_session
    import os as _os

    from onto_text_tag_spark.corpus import (
        distributed_documents_df,
        mini_ontology,
    )
    from onto_text_tag_spark.dictionary import build_dictionary_rows
    from onto_text_tag_spark.operators.cooccur import (
        cooccurrence_edges,
        doc_term_arrays,
    )
    from onto_text_tag_spark.operators.tagger import tag_documents
    from onto_text_tag_spark.plans.dedup_absorb import read_deduped
    from onto_text_tag_spark.plans.kg_absorb import (
        read_live_mentions,
        read_live_triples,
    )
    from onto_text_tag_spark.streaming.incremental import (
        init_crawl_root,
        start_crawl_sink,
    )

    knobs = dict(num_hashes=64, bands=16, threshold=0.8, shingle_k=5,
                 shingle_mode="word")
    term_tail = ("nicotine caffeine morphine heroin craving relapse "
                 "addiction cigarette ethanol opioid")

    def words(prefix, n):
        return " ".join(f"{prefix}{i}" for i in range(n))

    synth = distributed_documents_df(spark, 20, seed=47, partitions=2) \
        .select("url", "text")
    a_text = words("alpha", 100)
    bridge = words("bridge", 10)
    doc_a, doc_b = "https://s.example/docA", "https://s.example/docB"
    schema = "url string, text string"
    b0 = synth.unionByName(spark.createDataFrame([
        (doc_a, a_text),
        (doc_b, f"{a_text} {bridge} {words('beta', 15)} {term_tail}"),
        ("https://s.example/docX", words("xray", 60)),
    ], schema))
    b1 = spark.createDataFrame([
        ("https://s.example/docD", f"{a_text} {bridge}"),
        ("https://s.example/docX?exact", words("xray", 60)),
        ("https://s.example/new1", words("gamma", 40)),
    ], schema)

    root = str(tmp_path / "crawl_ice")
    src, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    onto = mini_ontology()
    dict_rows = build_dictionary_rows(onto)
    init_crawl_root(spark, root, onto, schema,
                    num_hashes=knobs["num_hashes"])
    kg_root = _os.path.join(root, "kg")
    dedup_root = _os.path.join(root, "dedup")
    from onto_text_tag_spark.sinks import read_manifest

    assert read_manifest(kg_root, "triples")["format"] == "iceberg"
    assert read_manifest(dedup_root, "deduped")["format"] == "iceberg"

    def run_stream():
        stream = spark.readStream.schema(schema).parquet(src)
        q = start_crawl_sink(stream, root, dict_rows, ckpt, **knobs)
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    b0.coalesce(1).write.mode("append").parquet(src)
    run_stream()
    assert doc_b in {r["url"] for r in read_live_mentions(
        spark, kg_root).select("url").distinct().collect()}

    b1.coalesce(1).write.mode("append").parquet(src)
    run_stream()  # restart from checkpoint — epoch 1 only

    live_docs = read_deduped(spark, dedup_root).cache()
    live_urls = {r["url"] for r in live_docs.select("url").collect()}
    assert doc_a in live_urls and doc_b not in live_urls
    mentions = tag_documents(live_docs, dict_rows)
    want_mt = {(r.url, t) for r in doc_term_arrays(mentions).collect()
               for t in r._terms}
    want_edges = {tuple(r)
                  for r in cooccurrence_edges(mentions).collect()}
    live_docs.unpersist()

    triples = read_live_triples(spark, kg_root)
    got_mt = {(r.subj, r.obj)
              for r in triples.where("pred = 'mentions'").collect()}
    got_edges = {(r.subj, r.obj, r.weight)
                 for r in triples.where("pred = 'co_occurs_with'")
                 .collect()}
    assert got_mt == want_mt
    assert got_edges == want_edges
    assert len(got_edges) > 0
    assert not any(s == doc_b for s, _ in got_mt)
