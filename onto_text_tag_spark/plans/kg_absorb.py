"""Incremental KG absorb core: commit one batch of documents into an
existing KG snapshot root without rebuilding it.

The staged, crash-safe, idempotent commit protocol is documented in
``jobs/kg_update.py``; the merge algebra (co-occurrence weights over
disjoint doc sets are additive) in
``operators/cooccur.py:merge_cooccurrence_edges``.  Shared by two
deployment forms:

* ``jobs/kg_update.py`` — spark-submit batch job per crawl delta;
* ``streaming/incremental.py:start_kg_update_sink`` — Structured
  Streaming ``foreachBatch``: each micro-batch commits under an
  epoch-keyed fingerprint, so at-least-once foreachBatch replays hit
  the already-committed no-op and the sink is exactly-once at the
  KG-commit level.

``init_kg_root`` bootstraps an EMPTY root with the ``jobs/kg_build.py``
stage layout, so a stream can construct the entire KG through absorb
commits alone; init + absorb(all docs) == kg_build(all docs) is pinned
by tests.
"""

from __future__ import annotations

import hashlib
import os
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from onto_text_tag_spark.operators.cooccur import (
    cooccurrence_edges_from_arrays,
    doc_term_arrays,
    merge_cooccurrence_edges,
)
from onto_text_tag_spark.operators.tagger import tag_documents
from onto_text_tag_spark.plans.kg_pipeline import extract_texts
from onto_text_tag_spark.sinks import (
    CommitOp,
    begin_commit,
    finish_commit,
    read_manifest,
    read_stage,
    require_file_backed_stages,
    run_stage,
    snapshot_log,
    stage_is_current,
    stage_is_table_backed,
    write_stage,
    write_stage_branches,
)


def _pred_rows(spark: SparkSession, kg_root: str, pred: str) -> DataFrame:
    """One ``pred=`` branch of the physical triples stage as
    ``(subj, obj, weight)``."""
    return (read_stage(spark, kg_root, "triples")
            .where(F.col("pred") == pred)
            .select("subj", "obj", "weight"))


def _main_committed_fps(kg_root: str) -> set:
    """Batch fingerprints the MAIN (triples) stage has committed."""
    return {
        s["metrics"]["batch_fingerprint"]
        for s in snapshot_log(kg_root, "triples")
        if s.get("metrics", {}).get("batch_fingerprint")
    }


def _side_covered_fps(kg_root: str, stage: str) -> set:
    """Batch fingerprints a side stage (term_sketch / trends) has
    absorbed — directly (``batch_fingerprint``) or via a full-stage
    catch-up merge (``caught_up_batches``)."""
    fps: set = set()
    for s in snapshot_log(kg_root, stage):
        m = s.get("metrics", {})
        if m.get("batch_fingerprint"):
            fps.add(m["batch_fingerprint"])
        fps.update(m.get("caught_up_batches", ()))
    return fps


def init_kg_root(
    spark: SparkSession,
    kg_root: str,
    onto_rows: list[dict],
    input_fingerprint: str = "init",
) -> None:
    """Bootstrap an empty KG root with the kg_build stage layout: empty
    ``mentions``/``doc_terms`` snapshots, ``triples`` with empty
    mention/co-occurrence branches plus the ontology-derived ``is_a``
    branch, and the transitive ``isa_closure`` — snapshot 1 in every
    stage's log.  All corpus content then arrives as absorb commits."""
    from onto_text_tag_spark.operators.closure import (
        transitive_closure_rows,
    )
    from onto_text_tag_spark.schemas import MENTIONS
    from onto_text_tag_spark.session import local_df

    empty_mentions = spark.createDataFrame([], MENTIONS).repartition(1)
    write_stage(empty_mentions, kg_root, "mentions",
                input_fingerprint=input_fingerprint)
    empty_terms = spark.createDataFrame(
        [], "url string, _terms array<string>"
    ).repartition(1)
    write_stage(empty_terms, kg_root, "doc_terms",
                input_fingerprint=input_fingerprint)

    branch_schema = "subj string, obj string, weight long"
    empty_branch = spark.createDataFrame([], branch_schema).repartition(1)
    isa_pairs = [
        (r["curie"], r["parent_curie"])
        for r in onto_rows
        if r.get("parent_curie")
    ]
    write_stage_branches(
        {
            "mentions": empty_branch,
            "co_occurs_with": empty_branch,
            "is_a": local_df(
                spark, [(c, p, None) for c, p in isa_pairs], branch_schema
            ),
        },
        kg_root, "triples", partition_col="pred",
        input_fingerprint=input_fingerprint,
    )
    closure_df = local_df(
        spark,
        [(d, "is_a_transitive", a, None)
         for d, a in transitive_closure_rows(isa_pairs)],
        "subj string, pred string, obj string, weight long",
    ).coalesce(1)
    write_stage(closure_df, kg_root, "isa_closure",
                input_fingerprint=input_fingerprint)


def absorb_batch(
    spark: SparkSession,
    kg_root: str,
    docs: DataFrame,
    dict_rows: list[dict],
    batch_fp: str,
    lang: str | None = "en",
    sketch_k: int | None = None,
    trends_bucket: str | None = None,
) -> dict:
    """Commit one document batch into ``kg_root`` (stage → append/swap →
    seal; see jobs/kg_update.py).  Returns the stats dict the job
    prints.  A batch whose fingerprint is already in the triples
    snapshot log is a committed no-op.

    ``sketch_k``: also maintain the ``term_sketch`` stage
    (``absorb_term_sketch``) from this batch's mention delta.
    ``trends_bucket``: also maintain the ``trends`` stage
    (``absorb_trends``; per-(class, bucket) counts are additive across
    the disjoint batch doc sets).  Both side-stages commit BEFORE the
    main commit, so a batch absorbed WITH a flag set implies its side
    stage committed too (their own epoch fingerprints make replays
    no-op).  Enabling a flag mid-life is handled, not silent: the
    sketch catches up exactly from the stored mentions stage (KMV
    merges are idempotent), trends warns and records the uncovered
    batches, and REPLAYING a main-committed batch with the flag
    back-fills its side stage from the batch-tagged mention files
    while the main commit stays a no-op.

    The commit is one ``sinks.finish_commit``: mentions/doc_terms/
    mention-triples rows APPEND, the merged co-occurrence branch
    REPLACES the ``pred=co_occurs_with`` partition — file appends +
    a directory swap on a file-backed root, table appends +
    ``overwritePartitions`` under an Iceberg session catalog."""
    t0 = time.time()
    stage_sec: dict[str, float] = {}

    def timed(name, fn):
        s = time.time()
        out = fn()
        stage_sec[name] = round(time.time() - s, 2)
        return out

    tag = hashlib.md5(batch_fp.encode()).hexdigest()[:12]
    staging = begin_commit(kg_root, tag, batch_fp, log_stage="triples")
    if staging is None:
        out = {
            "status": "noop_already_committed",
            "batch_fingerprint": batch_fp,
            "n_mentions_total": read_manifest(
                kg_root, "mentions")["total_rows"],
            "n_triples_total": read_manifest(
                kg_root, "triples")["total_rows"],
            "sec": round(time.time() - t0, 2),
        }
        # Replaying a main-committed batch with --sketch/--trends lets a
        # later-enabled side stage BACK-FILL this batch: its mentions are
        # identifiable in the live stage by their batch-tagged filenames
        # (finish_commit appends), so the side absorbs run from exactly
        # this batch's delta while the main commit stays a no-op.  The
        # side stages' own logs make true replays no-op in turn.
        if sketch_k or trends_bucket:
            import warnings

            mdata = os.path.join(kg_root, "mentions", "data")
            if stage_is_table_backed(kg_root, "mentions"):
                # table-backed stages have no batch-tagged files: the
                # sketch back-fill stays exact via its full-stage
                # catch-up fold; the trends back-fill (below) warns on
                # a non-empty batch exactly like the compacted case
                batch_files = []
                batch_mentions = read_stage(
                    spark, kg_root, "mentions").limit(0)
            else:
                batch_files = sorted(
                    os.path.join(mdata, f) for f in os.listdir(mdata)
                    if f.startswith(f"batch-{tag}-")
                    and f.endswith(".parquet")
                )
                batch_mentions = (
                    spark.read.option("basePath", mdata)
                    .parquet(*batch_files)
                    if batch_files
                    else spark.read.parquet(mdata).limit(0)
                )
            if sketch_k:
                # exact even when the files were compacted away: the
                # sketch's catch-up fold covers any uncovered batch
                # from the full mentions stage
                out["term_sketch"] = timed(
                    "term_sketch_backfill", lambda: absorb_term_sketch(
                        spark, kg_root, batch_mentions,
                        batch_fp=batch_fp, k=sketch_k))
            if trends_bucket:
                # the main commit recorded how many mentions this batch
                # appended — distinguishes a legitimately-empty batch
                # (back-fill with empty delta is exact) from files a
                # compaction rewrote (exact back-fill impossible)
                n_batch_mentions = next(
                    (s["metrics"].get("batch_mentions", 0)
                     for s in snapshot_log(kg_root, "triples")
                     if s.get("metrics", {}).get("batch_fingerprint")
                     == batch_fp),
                    0,
                )
                if batch_files or n_batch_mentions == 0:
                    out["trends"] = timed(
                        "trends_backfill", lambda: absorb_trends(
                            spark, kg_root, batch_mentions, docs,
                            batch_fp=batch_fp, bucket=trends_bucket))
                elif batch_fp not in _side_covered_fps(kg_root, "trends"):
                    # compaction rewrote the batch-tagged files: an
                    # exact trends back-fill is impossible — leave the
                    # batch uncovered (absorb_trends keeps flagging it)
                    # rather than commit empty counts
                    warnings.warn(
                        f"batch {batch_fp[:12]}…: mentions stage no "
                        "longer holds its batch-tagged files "
                        "(compacted?); trends back-fill skipped",
                        stacklevel=2,
                    )
            out["sec"] = round(time.time() - t0, 2)
        return out

    docs = extract_texts(docs)
    if lang and "lang" in docs.columns:
        docs = docs.where(F.col("lang") == lang)
    id_col = "url" if "url" in docs.columns else "doc_id"

    # only never-seen urls join the KG (url-level idempotence; in-place
    # page updates need retraction, which an aggregate-merge cannot
    # express — rebuild the affected partition instead)
    old_doc_terms = read_stage(spark, kg_root, "doc_terms")
    new_docs = docs.join(
        old_doc_terms.select(F.col("url").alias(id_col)),
        on=id_col, how="left_anti",
    )

    # --- stage the delta as ordinary resumable snapshots ------------------
    delta_mentions = timed("tag_delta", lambda: run_stage(
        spark, staging, "mentions",
        lambda: tag_documents(new_docs, dict_rows, id_col=id_col),
        input_fingerprint=batch_fp,
    ))
    delta_doc_terms = timed("doc_terms_delta", lambda: run_stage(
        spark, staging, "doc_terms",
        lambda: doc_term_arrays(delta_mentions),
        input_fingerprint=batch_fp,
    ))
    timed("mention_triples_delta", lambda: run_stage(
        spark, staging, "mention_triples",
        lambda: delta_doc_terms.select(
            F.col("url").alias("subj"),
            F.explode("_terms").alias("obj"),
            F.lit(None).cast("long").alias("weight"),
        ),
        input_fingerprint=batch_fp,
    ))
    delta_edges = timed("delta_edges", lambda: run_stage(
        spark, staging, "delta_edges",
        # snapshot-read doc_term_arrays output: deduped per doc, and a
        # standalone stage (no shared-exchange branch) → count(*) plan
        lambda: cooccurrence_edges_from_arrays(
            delta_doc_terms, assume_deduped=True),
        input_fingerprint=batch_fp,
    ))
    old_edges = _pred_rows(spark, kg_root, "co_occurs_with").select(
        F.col("subj").alias("src"), F.col("obj").alias("dst"), "weight")
    timed("merge_edges", lambda: run_stage(
        spark, staging, "merged_cooccur",
        lambda: merge_cooccurrence_edges(old_edges, delta_edges).select(
            F.col("src").alias("subj"),
            F.col("dst").alias("obj"),
            F.col("weight").cast("long").alias("weight"),
        ),
        input_fingerprint=batch_fp,
    ))
    n_new_docs = read_manifest(staging, "doc_terms")["total_rows"]
    n_new_mentions = read_manifest(staging, "mentions")["total_rows"]

    if sketch_k:
        timed("term_sketch", lambda: absorb_term_sketch(
            spark, kg_root, delta_mentions,
            batch_fp=batch_fp, k=sketch_k,
        ))
    if trends_bucket:
        timed("trends", lambda: absorb_trends(
            spark, kg_root, delta_mentions, new_docs,
            batch_fp=batch_fp, bucket=trends_bucket,
        ))

    # --- commit: append + swap, then seal manifests + snapshot log --------
    metrics = {
        "batch_fingerprint": batch_fp,
        "batch_docs": n_new_docs,
        "batch_mentions": n_new_mentions,
    }
    ops = [
        CommitOp("append", "mentions", "mentions"),
        CommitOp("append", "doc_terms", "doc_terms"),
        CommitOp("append", "mention_triples", "triples",
                 ("pred", "mentions")),
        CommitOp("replace", "merged_cooccur", "triples",
                 ("pred", "co_occurs_with")),
    ]
    timed("commit", lambda: finish_commit(
        spark, kg_root, staging, ops, metrics, batch_fp=batch_fp))

    return {
        "status": "committed",
        "batch_fingerprint": batch_fp,
        "n_new_docs": n_new_docs,
        "n_new_mentions": n_new_mentions,
        "n_mentions_total": read_manifest(kg_root, "mentions")["total_rows"],
        "n_triples_total": read_manifest(kg_root, "triples")["total_rows"],
        "snapshots": len(snapshot_log(kg_root, "triples")),
        "sec": round(time.time() - t0, 2),
        "stage_sec": stage_sec,
    }


def _ensure_retracted_stage(spark: SparkSession, kg_root: str) -> None:
    """Lazily bootstrap the ``retracted`` delete-set stage on roots
    created before retraction existed (older init_kg_root layouts)."""
    try:
        read_manifest(kg_root, "retracted")
    except OSError:
        write_stage(
            spark.createDataFrame([], "url string").repartition(1),
            kg_root, "retracted", input_fingerprint="init",
        )


def read_retracted(spark: SparkSession, kg_root: str) -> DataFrame | None:
    """The retraction delete set, or None when empty/absent."""
    try:
        man = read_manifest(kg_root, "retracted")
    except OSError:
        return None
    if man.get("total_rows", 0) == 0:
        return None
    return read_stage(spark, kg_root, "retracted")


def read_dict_overlay(
    spark: SparkSession, kg_root: str
) -> tuple[DataFrame, DataFrame] | None:
    """The dictionary-update overlay pair ``(mentions_overlay,
    doc_terms_overlay)``, or None when absent/empty.

    A DEFERRED dictionary update (``plans/kg_dict_update.py:
    update_dictionary(defer_rewrite=True)``) does not rewrite the
    corpus-sized url-keyed stages; it lands the affected docs'
    re-tagged rows here instead — Iceberg's merge-on-read MERGE.  The
    overlay's url set (the ``doc_terms_overlay`` rows — one per
    affected url, EMPTY term arrays kept so a doc whose mentions all
    disappeared still masks) is the equality-delete set over the base:

        current = (base ANTI overlay.urls) ∪ overlay

    ``doc_terms_overlay`` row count is the emptiness signal: every
    deferred update writes one row per affected url there, even when
    the re-tag produced no mentions."""
    try:
        man = read_manifest(kg_root, "doc_terms_overlay")
    except OSError:
        return None
    if man.get("total_rows", 0) == 0:
        return None
    return (
        read_stage(spark, kg_root, "mentions_overlay"),
        read_stage(spark, kg_root, "doc_terms_overlay"),
    )


def mentions_with_overlay(spark: SparkSession, kg_root: str) -> DataFrame:
    """Mentions with any dictionary-update overlay applied (retraction
    delete set NOT applied — compose with ``read_live_mentions`` for
    the full live view)."""
    base = read_stage(spark, kg_root, "mentions")
    ov = read_dict_overlay(spark, kg_root)
    if ov is None:
        return base
    ov_m, ov_dt = ov
    return base.join(
        ov_dt.select("url"), "url", "left_anti"
    ).unionByName(ov_m)


def doc_terms_with_overlay(spark: SparkSession, kg_root: str) -> DataFrame:
    """Doc-term arrays with any dictionary-update overlay applied.
    Empty-array overlay rows (docs whose mentions all disappeared) are
    filtered: the rebuild's ``doc_term_arrays`` never emits them, and
    downstream algebra (retraction decrements, co-occurrence deltas)
    relies on that invariant."""
    base = read_stage(spark, kg_root, "doc_terms")
    ov = read_dict_overlay(spark, kg_root)
    if ov is None:
        return base
    _ov_m, ov_dt = ov
    return base.join(
        ov_dt.select("url"), "url", "left_anti"
    ).unionByName(ov_dt.where(F.size("_terms") > 0))


def read_live_mentions(spark: SparkSession, kg_root: str) -> DataFrame:
    """Merge-on-read live view: base with the dictionary-update overlay
    applied, minus retracted urls."""
    m = mentions_with_overlay(spark, kg_root)
    r = read_retracted(spark, kg_root)
    return m if r is None else m.join(r, "url", "left_anti")


def read_live_doc_terms(spark: SparkSession, kg_root: str) -> DataFrame:
    dt = doc_terms_with_overlay(spark, kg_root)
    r = read_retracted(spark, kg_root)
    return dt if r is None else dt.join(r, "url", "left_anti")


def read_live_triples(spark: SparkSession, kg_root: str) -> DataFrame:
    """Live triples view: ``pred='mentions'`` rows whose subject url is
    retracted are masked out (merge-on-read delete set — Iceberg's
    equality-delete pattern); co-occurrence weights are already exact
    because retraction PHYSICALLY merges the weight decrement (the
    aggregate can't be masked row-wise), and ontology ``is_a`` rows are
    corpus-independent."""
    t = read_stage(spark, kg_root, "triples")
    ov = read_dict_overlay(spark, kg_root)
    r = read_retracted(spark, kg_root)
    if ov is None and r is None:
        return t
    mention_rows = t.where(F.col("pred") == "mentions")
    if ov is not None:
        # overlay applies to the url-keyed mentions branch only: the
        # co-occurrence branch is physically merged by the update, and
        # is_a rows are corpus-independent
        _ov_m, ov_dt = ov
        mention_rows = mention_rows.join(
            ov_dt.select(F.col("url").alias("subj")), "subj", "left_anti"
        ).unionByName(
            ov_dt.select(
                F.col("url").alias("subj"),
                F.lit("mentions").alias("pred"),
                F.explode("_terms").alias("obj"),
                F.lit(None).cast("long").alias("weight"),
            )
        )
    if r is not None:
        mention_rows = mention_rows.join(
            r.select(F.col("url").alias("subj")), "subj", "left_anti"
        )
    return t.where(F.col("pred") != "mentions").unionByName(mention_rows)


def retract_batch(
    spark: SparkSession,
    kg_root: str,
    urls: DataFrame,
    batch_fp: str,
) -> dict:
    """Retract documents from the KG: the exact inverse of
    ``absorb_batch`` for a set of previously-absorbed urls.

    Needed when corpus membership is revised after ingestion — the
    driving case is dedup-gated crawl ingestion
    (``streaming/incremental.py:start_crawl_sink``): a later crawl epoch
    can DEMOTE an already-admitted page (a bridging near-dup merges its
    cluster), and the KG must forget that page's contributions.

    The algebra is exact because every corpus-derived artifact is
    additive over disjoint doc sets:

    * mentions / doc_terms / ``(url, mentions, curie)`` triples are
      keyed by url → a merge-on-read delete set (the ``retracted``
      stage; live views above anti-join it), O(1) write;
    * co-occurrence ``weight = |docs(a) ∩ docs(b)|`` → recompute the
      retracted docs' pair contributions FROM THE STORED ``doc_terms``
      stage (no corpus re-read, no re-tagging — tagging is
      deterministic, so the stored arrays equal what re-tagging would
      produce) and merge with negated weights; pairs reaching zero
      drop.  ``weight(live) = weight(admitted) − weight(retracted)``
      holds exactly (operators/cooccur.py:merge_cooccurrence_edges),
      so the result is bit-equal to a rebuild over the live corpus —
      pinned by tests/test_crawl_sink.py.

    Same staged crash-safe commit protocol as ``absorb_batch``; a
    ``batch_fp`` already in the triples snapshot log is a committed
    no-op, and already-retracted urls are skipped (url-level
    idempotence — double retraction cannot double-subtract).  Retracted
    urls stay tombstoned: ``absorb_batch``'s seen-url anti-join reads
    the PHYSICAL doc_terms stage, so a re-crawl of a retracted url does
    not re-enter (document-level history is append-only).

    Works under both stage backends: the delete-set rows APPEND and
    the negative-merged co-occurrence branch REPLACES its partition,
    exactly like ``absorb_batch``'s positive merge — the retraction is
    the same partition replacement with a negated delta."""
    t0 = time.time()
    tag = hashlib.md5(batch_fp.encode()).hexdigest()[:12]
    staging = begin_commit(kg_root, f"retract-{tag}", batch_fp,
                           log_stage="triples")
    if staging is None:
        return {
            "status": "noop_already_committed",
            "batch_fingerprint": batch_fp,
            "sec": round(time.time() - t0, 2),
        }

    _ensure_retracted_stage(spark, kg_root)

    (url_col,) = urls.columns
    urls = urls.select(F.col(url_col).alias("url")).distinct()
    already = read_retracted(spark, kg_root)
    if already is not None:
        urls = urls.join(already, "url", "left_anti")

    staged_urls = run_stage(
        spark, staging, "retracted", lambda: urls.coalesce(1),
        input_fingerprint=batch_fp,
    )
    # overlay-aware: if a url was dictionary-updated after ingestion,
    # its CURRENT contributions (the ones in the aggregate) live in the
    # overlay, not the base stage — subtracting the stale base arrays
    # would corrupt the weights
    gone_terms = doc_terms_with_overlay(spark, kg_root).join(
        staged_urls, "url", "left_semi"
    )
    neg_edges = cooccurrence_edges_from_arrays(
        gone_terms, assume_deduped=True
    ).withColumn("weight", -F.col("weight"))
    old_edges = _pred_rows(spark, kg_root, "co_occurs_with").select(
        F.col("subj").alias("src"), F.col("obj").alias("dst"), "weight")
    run_stage(
        spark, staging, "merged_cooccur",
        lambda: merge_cooccurrence_edges(old_edges, neg_edges)
        .where(F.col("weight") > 0)
        .select(
            F.col("src").alias("subj"),
            F.col("dst").alias("obj"),
            F.col("weight").cast("long").alias("weight"),
        ),
        input_fingerprint=batch_fp,
    )
    n_retracted = read_manifest(staging, "retracted")["total_rows"]

    metrics = {
        "batch_fingerprint": batch_fp,
        "retracted_docs": n_retracted,
    }

    # triples is sealed LAST — its snapshot log is the commit point
    finish_commit(spark, kg_root, staging, [
        CommitOp("append", "retracted", "retracted"),
        CommitOp("replace", "merged_cooccur", "triples",
                 ("pred", "co_occurs_with")),
    ], metrics, batch_fp=batch_fp)
    return {
        "status": "committed",
        "batch_fingerprint": batch_fp,
        "n_retracted_docs": n_retracted,
        "n_triples_total": read_manifest(kg_root, "triples")["total_rows"],
        "sec": round(time.time() - t0, 2),
    }


def fold_retractions(spark: SparkSession, kg_root: str) -> dict:
    """Fold the ``retracted`` delete set into the data files: physically
    rewrite ``mentions``, ``doc_terms``, and the ``pred=mentions``
    triples branch minus the retracted urls, then clear the delete set —
    Iceberg's "rewrite data files applying equality deletes".  The LIVE
    view content is unchanged (the rewrite applies exactly the anti-join
    the live views were doing per read), so like ``compact_stage`` the
    seals KEEP each stage's input fingerprint; what changes is read
    amplification: after the fold, readers pay no anti-join.

    Naturally idempotent and crash-safe: each subtree lands via the
    staged swap (torn states recovered), and the delete-set clear is
    LAST — a crash before it leaves live views correct (anti-joining
    already-removed rows is a no-op) and a re-run folds the remainder.

    Caveat: ``absorb_batch``'s seen-url check reads the physical
    ``doc_terms`` stage, so folding drops the re-crawl tombstone for the
    folded urls — a later crawl of a retracted url would re-enter the
    KG.  In the crawl-sink deployment (``start_crawl_sink``) that is
    safe: the dedup root's signature store is the durable seen-set and
    gates re-entry before the KG ever sees the page.  For a standalone
    ``jobs/kg_update.py`` root where re-crawl suppression of retracted
    urls matters, keep the delete set unfolded.

    Works under both stage backends: each rewrite is a staged
    replacement (a directory swap, or a table ``createOrReplace`` /
    ``overwritePartitions`` under an Iceberg session catalog)."""
    t0 = time.time()
    staging = begin_commit(kg_root, "fold_retractions")
    r = read_retracted(spark, kg_root)
    if r is None:
        return {"status": "noop_nothing_retracted",
                "sec": round(time.time() - t0, 2)}
    n_retracted = r.count()
    masked = r.select(F.col("url").alias("subj"))
    fold_fp = f"fold-{n_retracted}"
    rows_before: dict[str, int] = {}
    url_stages = ["mentions", "doc_terms"]
    if read_dict_overlay(spark, kg_root) is not None:
        # a retracted url can also sit in the dictionary-update overlay
        # (updated after ingestion, demoted later) — fold it out of the
        # overlay pair too, or clearing the delete set would resurrect it
        url_stages += ["mentions_overlay", "doc_terms_overlay"]
    for stage in url_stages:
        rows_before[stage] = read_manifest(kg_root, stage)["total_rows"]
        run_stage(
            spark, staging, stage,
            lambda stage=stage: read_stage(spark, kg_root, stage)
            .join(r, "url", "left_anti"),
            input_fingerprint=fold_fp,
        )
    run_stage(
        spark, staging, "mention_triples",
        lambda: _pred_rows(spark, kg_root, "mentions")
        .join(masked, "subj", "left_anti"),
        input_fingerprint=fold_fp,
    )
    run_stage(
        spark, staging, "retracted",
        lambda: spark.createDataFrame([], "url string").repartition(1),
        input_fingerprint=fold_fp,
    )
    finish_commit(spark, kg_root, staging, [
        *(CommitOp("replace", stage, stage) for stage in url_stages),
        CommitOp("replace", "mention_triples", "triples",
                 ("pred", "mentions")),
        # clear the delete set LAST (the fold's commit point)
        CommitOp("replace", "retracted", "retracted"),
    ], metrics={"fold_retractions": {"urls_folded": n_retracted}})
    return {
        "status": "folded",
        "n_urls_folded": n_retracted,
        "rows_before": rows_before,
        "sec": round(time.time() - t0, 2),
    }


def ensure_dict_overlay_stages(spark: SparkSession, kg_root: str) -> None:
    """Lazily bootstrap the deferred-dictionary-update overlay pair on
    roots created before it existed: empty ``mentions_overlay`` (tagger
    output schema) and ``doc_terms_overlay`` stages."""
    from onto_text_tag_spark.schemas import MENTIONS

    try:
        read_manifest(kg_root, "doc_terms_overlay")
    except OSError:
        write_stage(
            spark.createDataFrame([], MENTIONS).repartition(1),
            kg_root, "mentions_overlay", input_fingerprint="init",
        )
        write_stage(
            spark.createDataFrame(
                [], "url string, _terms array<string>"
            ).repartition(1),
            kg_root, "doc_terms_overlay", input_fingerprint="init",
        )


def fold_dict_overlay(spark: SparkSession, kg_root: str) -> dict:
    """Fold the dictionary-update overlay into the base data files:
    physically rewrite ``mentions``, ``doc_terms``, and the
    ``pred=mentions`` triples branch as their overlay-applied views,
    then truncate the overlay pair — the merge-on-read → copy-on-write
    maintenance step (Iceberg's "rewrite data files" after MoR MERGE
    commits).  Live-view content is unchanged at EVERY intermediate
    step: each base rewrite applies exactly the transformation the live
    views compute per read, and until the overlay is cleared the view's
    (base' ANTI mask) ∪ overlay re-derives the same rows — so like
    ``fold_retractions`` this is crash-safe by construction and the
    seals KEEP each stage's fingerprint.  The overlay clear is last
    (the fold's commit point); a re-run folds nothing and no-ops.

    O(corpus) — the deferred rewrite cost, paid once at maintenance
    time and amortized over every release absorbed since the last
    fold, instead of once per release."""
    from onto_text_tag_spark.schemas import MENTIONS

    t0 = time.time()
    staging = begin_commit(kg_root, "fold_dict_overlay")
    ov = read_dict_overlay(spark, kg_root)
    if ov is None:
        return {"status": "noop_no_overlay",
                "sec": round(time.time() - t0, 2)}
    _ov_m, ov_dt = ov
    n_urls = ov_dt.count()
    fp = f"fold-overlay-{n_urls}"
    run_stage(
        spark, staging, "mentions",
        lambda: mentions_with_overlay(spark, kg_root),
        input_fingerprint=fp,
    )
    run_stage(
        spark, staging, "doc_terms",
        lambda: doc_terms_with_overlay(spark, kg_root),
        input_fingerprint=fp,
    )
    mask = ov_dt.select(F.col("url").alias("subj"))
    run_stage(
        spark, staging, "mention_triples",
        lambda: _pred_rows(spark, kg_root, "mentions")
        .join(mask, "subj", "left_anti")
        .unionByName(ov_dt.select(
            F.col("url").alias("subj"),
            F.explode("_terms").alias("obj"),
            F.lit(None).cast("long").alias("weight"),
        )),
        input_fingerprint=fp,
    )
    run_stage(
        spark, staging, "mentions_overlay",
        lambda: spark.createDataFrame([], MENTIONS).repartition(1),
        input_fingerprint=fp,
    )
    run_stage(
        spark, staging, "doc_terms_overlay",
        lambda: spark.createDataFrame(
            [], "url string, _terms array<string>").repartition(1),
        input_fingerprint=fp,
    )
    finish_commit(spark, kg_root, staging, [
        CommitOp("replace", "mentions", "mentions"),
        CommitOp("replace", "doc_terms", "doc_terms"),
        CommitOp("replace", "mention_triples", "triples",
                 ("pred", "mentions")),
        # truncate the overlay LAST (the fold's commit point)
        CommitOp("replace", "mentions_overlay", "mentions_overlay"),
        CommitOp("replace", "doc_terms_overlay", "doc_terms_overlay"),
    ], metrics={"fold_dict_overlay": {"urls_folded": n_urls}})
    return {
        "status": "folded",
        "n_urls_folded": n_urls,
        "sec": round(time.time() - t0, 2),
    }


def refresh_nodes(
    spark: SparkSession,
    kg_root: str,
    class_meta: list[dict] | None = None,
) -> dict:
    """Recompute the NODES table (plans/kg_pipeline.py:node_table) from
    the live doc_terms view — the maintenance action that brings a
    root's node profile current after absorb / retract / dict-update
    commits.  Node degrees are pure aggregates of doc_terms, so unlike
    the co-occurrence merge they need no incremental algebra: one
    dictionary-keyed groupBy re-derives them exactly.

    Class metadata (label, ont) is corpus-independent: reused from the
    existing nodes stage's ``kind=class`` rows, or — on roots built
    before the nodes stage existed, or after a dictionary update that
    adds classes — taken from ``class_meta`` dictionary rows when
    given.  Idempotent: the stage fingerprint combines the doc_terms
    and retracted fingerprints, so a refresh over unchanged inputs is
    a committed no-op.  Lands via the staged swap (the meta read above
    comes FROM the live stage, so the rewrite must fully materialize
    before replacing it).

    The seal records the refresh fingerprint itself — a pure function
    of the inputs, not a chained batch log — on either stage backend."""
    from onto_text_tag_spark.plans.kg_pipeline import node_table

    t0 = time.time()
    staging = begin_commit(kg_root, "refresh_nodes")
    dt_fp = read_manifest(kg_root, "doc_terms")["input_fingerprint"]
    try:
        r_fp = read_manifest(kg_root, "retracted")["input_fingerprint"]
    except OSError:
        r_fp = ""
    fp = hashlib.md5(f"nodes:{dt_fp}+{r_fp}".encode()).hexdigest()

    try:
        read_manifest(kg_root, "nodes")
        have_stage = True
    except OSError:
        have_stage = False
    if have_stage and stage_is_current(kg_root, "nodes", fp):
        return {"status": "noop_already_current",
                "sec": round(time.time() - t0, 2)}

    if class_meta is not None:
        meta: "DataFrame | list[dict]" = class_meta
    elif have_stage:
        meta = (
            read_stage(spark, kg_root, "nodes")
            .where(F.col("kind") == "class")
            .select("id", "label", "ont")
        )
    else:
        raise ValueError(
            "root has no nodes stage; pass class_meta dictionary rows "
            "to bootstrap it"
        )

    run_stage(
        spark, staging, "nodes",
        lambda: node_table(read_live_doc_terms(spark, kg_root), meta),
        partition_by=["kind"],
        input_fingerprint=fp,
    )
    n_nodes = read_manifest(staging, "nodes")["total_rows"]
    man = finish_commit(
        spark, kg_root, staging, [CommitOp("replace", "nodes", "nodes")],
        metrics={"refresh_nodes": {"n_nodes": n_nodes}}, fingerprint=fp,
    )
    return {
        "status": "refreshed",
        "n_nodes": man["total_rows"],
        "sec": round(time.time() - t0, 2),
    }


def compact_stage(
    spark: SparkSession,
    kg_root: str,
    stage: str,
    target_bytes_per_file: int = 128 << 20,
) -> dict:
    """Rewrite an append-grown stage into right-sized files — the
    small-files maintenance that file-level append commits eventually
    need (Iceberg's ``rewrite_data_files``).  Row content is unchanged;
    only the file layout is.  The rewrite lands via the same staged
    swap as the co-occurrence merge, and the seal KEEPS the stage's
    input fingerprint (compaction is not a logical change, so resume
    semantics survive it) while appending a snapshot whose metrics
    record the file-count change.

    Partitioned stages keep their hive layout: a round-robin
    repartition bounds the files-per-task, and the dynamic-partition
    write regroups by partition value."""
    require_file_backed_stages(spark, "compact_stage")
    import math

    staging = begin_commit(kg_root, f"compact_{stage}")
    man = read_manifest(kg_root, stage)
    n_target = max(1, math.ceil(man["size_bytes"] / target_bytes_per_file))
    write_stage(
        read_stage(spark, kg_root, stage).repartition(n_target),
        staging, stage, partition_by=man.get("partition_by") or [],
    )
    return finish_commit(
        spark, kg_root, staging, [CommitOp("replace", stage, stage)],
        metrics={"compaction": {
            "files_before": man["n_files"],
            "files_after": read_manifest(staging, stage)["n_files"],
        }},
    )


def absorb_links(
    spark: SparkSession,
    kg_root: str,
    docs: DataFrame,
    batch_fp: str,
) -> dict:
    """Commit one crawl batch's ANCHOR LINK GRAPH into ``kg_root`` —
    the web-graph twin of ``absorb_batch``, same exactly-once algebra:

    * per-url idempotence: only urls not already in the links stage
      contribute (a re-delivered page cannot double its edges);
    * the links stage file-APPENDS (row-level facts, append-only);
    * the host graph is a pair-keyed weight SUM, additive across
      disjoint url sets, so it merges exactly like the co-occurrence
      edges (one host-pair-keyed shuffle, ≪ corpus);
    * epoch fingerprints in the links snapshot log make a replayed
      batch a committed no-op (the links seal is the commit point).

    Stages are lazily bootstrapped on roots built before ``--links``.
    """
    from onto_text_tag_spark.operators.weblinks import (
        extract_links,
        host_graph,
    )

    t0 = time.time()
    tag = hashlib.md5(("links:" + batch_fp).encode()).hexdigest()[:12]

    try:
        read_manifest(kg_root, "links")
    except OSError:
        write_stage(
            spark.createDataFrame(
                [], "src_url string, dst_url string, anchor string"
            ).repartition(1),
            kg_root, "links", input_fingerprint="init",
        )
        write_stage(
            spark.createDataFrame(
                [], "src_host string, dst_host string, weight bigint"
            ).repartition(1),
            kg_root, "host_graph", input_fingerprint="init",
        )

    staging = begin_commit(kg_root, tag, batch_fp, log_stage="links")
    if staging is None:
        return {
            "status": "noop_already_committed",
            "n_links_total": read_manifest(kg_root, "links")["total_rows"],
            "sec": round(time.time() - t0, 2),
        }

    id_col = "url" if "url" in docs.columns else "doc_id"
    seen = read_stage(spark, kg_root, "links").select(
        F.col("src_url").alias(id_col)
    ).distinct()
    new_docs = docs.join(seen, id_col, "left_anti")

    delta_links = run_stage(
        spark, staging, "links_delta",
        lambda: extract_links(new_docs, url_col=id_col, html_col="html"),
        input_fingerprint=batch_fp,
    )
    old_hosts = read_stage(spark, kg_root, "host_graph")
    run_stage(
        spark, staging, "merged_hosts",
        lambda: (
            old_hosts.unionByName(host_graph(delta_links))
            .groupBy("src_host", "dst_host")
            .agg(F.sum("weight").cast("long").alias("weight"))
        ),
        input_fingerprint=batch_fp,
    )
    n_new_links = read_manifest(staging, "links_delta")["total_rows"]

    metrics = {"batch_fingerprint": batch_fp, "batch_links": n_new_links}
    finish_commit(spark, kg_root, staging, [
        CommitOp("replace", "merged_hosts", "host_graph"),
        CommitOp("append", "links_delta", "links"),
    ], metrics, batch_fp=batch_fp)

    return {
        "status": "committed",
        "n_new_links": n_new_links,
        "n_links_total": read_manifest(kg_root, "links")["total_rows"],
        "sec": round(time.time() - t0, 2),
    }


def absorb_term_sketch(
    spark: SparkSession,
    kg_root: str,
    mentions: DataFrame,
    batch_fp: str,
    k: int = 64,
) -> dict:
    """Maintain a ``term_sketch`` stage — KMV document-frequency sketch
    state ``(curie, ks)`` (operators/cooccur.py:term_sketch_partials) —
    under incremental absorbs.

    The merge is EXACT (``merge(sketch(A), sketch(B)) == sketch(A∪B)``
    bit-for-bit, overlap included), so the maintained stage always
    equals a from-scratch sketch over every absorbed document while
    each absorb touches only the batch's mentions and the sketch-sized
    stored state — never the corpus.  Same exactly-once protocol as the
    co-occurrence/links stages: epoch fingerprints in the snapshot log
    make replays committed no-ops; the staged-swap recovery handles
    interrupted commits.

    Mid-life enablement is exact too: when the sketch stage is missing
    coverage — the flag turned on after docs were already absorbed (or
    built by kg_build), or dropped for some batches and re-enabled —
    this call detects the gap (main-committed fingerprints absent from
    the sketch log, or a first-init over a non-empty mentions stage)
    and folds a sketch of the ENTIRE stored mentions stage into the
    merge.  The KMV merge's idempotence under overlap makes that fold
    exact regardless of what the stage already absorbed; it costs one
    mentions-stage scan, paid only when a gap exists, and the covered
    fingerprints are recorded (``caught_up_batches``) so the next
    absorb is O(batch) again.

    ``mentions``: the BATCH's mention rows (url, curie) — typically the
    delta the surrounding absorb just computed.

    Works under both stage backends: the catch-up fold reads the
    mentions STAGE, not batch-tagged files.
    """
    from onto_text_tag_spark.operators.cooccur import (
        merge_term_sketches,
        term_sketch_partials,
    )

    t0 = time.time()
    tag = hashlib.md5(("sketch:" + batch_fp).encode()).hexdigest()[:12]

    initialized_now = False
    try:
        read_manifest(kg_root, "term_sketch")
    except OSError:
        initialized_now = True
        write_stage(
            spark.createDataFrame([], "curie string, ks array<bigint>")
            .repartition(1),
            kg_root, "term_sketch", input_fingerprint="init",
            metrics={"k": k},
        )

    stored_k = read_manifest(kg_root, "term_sketch")["metrics"].get("k", k)
    if stored_k != k:
        raise ValueError(
            f"term_sketch stage was built with k={stored_k}; merging "
            f"with k={k} would not equal a from-scratch sketch"
        )
    if batch_fp in _side_covered_fps(kg_root, "term_sketch"):
        return {
            "status": "noop_already_committed",
            "n_terms": read_manifest(kg_root, "term_sketch")["total_rows"],
            "sec": round(time.time() - t0, 2),
        }

    # coverage gap?  main-committed batches the sketch never absorbed
    # (flag enabled mid-life, dropped-and-re-enabled, or a replay of a
    # main-committed batch whose side stages were skipped) — or a first
    # init over a root that already holds mentions (e.g. kg_build-built,
    # whose docs carry no batch fingerprints at all)
    missing = _main_committed_fps(kg_root) - _side_covered_fps(
        kg_root, "term_sketch")
    n_stored_mentions = read_manifest(kg_root, "mentions")["total_rows"]
    fold_full = bool(missing) or (initialized_now and n_stored_mentions > 0)

    staging = begin_commit(kg_root, tag, batch_fp)
    stored = read_stage(spark, kg_root, "term_sketch")

    def _merged():
        delta = term_sketch_partials(mentions, k=k)
        if fold_full:
            # exact catch-up: KMV merge is idempotent under overlap, so
            # folding a sketch of the ENTIRE stored mentions stage in
            # covers every gap batch without double-count risk
            delta = merge_term_sketches(
                delta,
                term_sketch_partials(
                    read_stage(spark, kg_root, "mentions"), k=k),
                k=k,
            )
        return merge_term_sketches(stored, delta, k=k)

    run_stage(
        spark, staging, "merged_sketch", _merged,
        input_fingerprint=batch_fp,
    )
    metrics = {"batch_fingerprint": batch_fp, "k": k}
    if fold_full:
        metrics["caught_up_batches"] = sorted(missing)
        metrics["caught_up_mentions"] = n_stored_mentions
    finish_commit(spark, kg_root, staging,
                  [CommitOp("replace", "merged_sketch", "term_sketch")],
                  metrics, batch_fp=batch_fp)
    return {
        "status": "committed",
        "n_terms": read_manifest(kg_root, "term_sketch")["total_rows"],
        "sec": round(time.time() - t0, 2),
    }


def absorb_trends(
    spark: SparkSession,
    kg_root: str,
    mentions: DataFrame,
    docs: DataFrame,
    batch_fp: str,
    bucket: str = "day",
) -> dict:
    """Maintain the ``trends`` stage (crawl-time per-class distinct-doc
    series, operators/cooccur.py:mention_trends) under incremental
    absorbs.

    The per-(class, bucket) counts are ADDITIVE across absorb batches —
    the surrounding absorb only admits never-seen urls, so batch doc
    sets are disjoint and counts merge by sum, like the co-occurrence
    weights.  The delta-vs-previous-bucket column is derived by a
    window over the merged SERIES (terms × buckets — tiny), so each
    absorb touches the batch's mentions plus series-sized state, never
    the corpus.  Same exactly-once protocol as the other absorb stages;
    a bucket-granularity mismatch refuses instead of mixing series.

    UNLIKE the term sketch, trend counts cannot be caught up from
    stored state (the absorbed docs' ``warc_ts`` is not retained), so a
    coverage gap — the flag enabled mid-life or dropped for some
    batches — cannot be silently healed.  This call DETECTS such gaps
    (main-committed fingerprints absent from the trends log; first init
    over a non-empty root), warns, and records them in the commit
    metrics (``missing_batches`` / ``initialized_over_existing_docs``)
    so the undercount is visible, not silent.  Replaying the missing
    batches through ``absorb_batch`` back-fills them exactly: the main
    commit no-ops while the trends absorb runs from the batch's
    appended mention files.

    ``mentions``: the batch's mention rows; ``docs``: the batch's
    corpus rows carrying ``warc_ts`` (joined on url for bucketing).

    Works under both stage backends.  Table-backed stages carry no
    batch-tagged files, so the replay BACK-FILL of a main-committed
    batch is only possible for legitimately-empty batches — a
    non-empty gap warns exactly like the compacted-files case.
    """
    import warnings

    from pyspark.sql import Window

    from onto_text_tag_spark.operators.cooccur import mention_trends

    t0 = time.time()
    tag = hashlib.md5(("trends:" + batch_fp).encode()).hexdigest()[:12]

    initialized_now = False
    try:
        read_manifest(kg_root, "trends")
    except OSError:
        initialized_now = True
        write_stage(
            spark.createDataFrame(
                [], "curie string, bucket timestamp, n_docs bigint, "
                    "delta_prev_bucket bigint",
            ).repartition(1),
            kg_root, "trends", input_fingerprint="init",
            metrics={"bucket": bucket},
        )

    stored_bucket = read_manifest(kg_root, "trends")["metrics"].get(
        "bucket", bucket)
    if stored_bucket != bucket:
        raise ValueError(
            f"trends stage uses bucket={stored_bucket!r}; absorbing at "
            f"bucket={bucket!r} would mix granularities"
        )
    if batch_fp in _side_covered_fps(kg_root, "trends"):
        return {
            "status": "noop_already_committed",
            "n_series_rows": read_manifest(kg_root, "trends")["total_rows"],
            "sec": round(time.time() - t0, 2),
        }

    caveats: dict = {}
    missing = _main_committed_fps(kg_root) - _side_covered_fps(
        kg_root, "trends") - {batch_fp}
    if missing:
        caveats["missing_batches"] = sorted(missing)
        warnings.warn(
            f"trends stage is missing {len(missing)} main-committed "
            "batch(es) — the series UNDERCOUNTS until they are "
            "replayed through absorb_batch with trends enabled "
            "(the replay back-fills from the batches' mention files)",
            stacklevel=2,
        )
    if initialized_now and not missing:
        # docs present but NO uncovered batch fingerprints to explain
        # them: kg_build-built content, which replay cannot back-fill
        # (fingerprinted gaps are covered by the missing_batches path)
        n_docs = read_manifest(kg_root, "doc_terms")["total_rows"]
        if n_docs > 0:
            caveats["initialized_over_existing_docs"] = n_docs
            warnings.warn(
                f"trends stage initialized over a root already holding "
                f"{n_docs} doc_terms rows; docs without batch "
                "fingerprints (e.g. a kg_build-built root) cannot be "
                "back-filled — their crawl times are not retained. "
                "Rebuild trends from the corpus (kg_build --trends) "
                "for an exact series",
                stacklevel=2,
            )

    staging = begin_commit(kg_root, tag, batch_fp)
    id_col = "url" if "url" in docs.columns else "doc_id"
    delta = mention_trends(
        mentions,
        docs.select(F.col(id_col).cast("string").alias("url"), "warc_ts"),
        bucket=bucket,
    ).select("curie", "bucket", "n_docs")
    stored = read_stage(spark, kg_root, "trends").select(
        "curie", "bucket", "n_docs")
    w = Window.partitionBy("curie").orderBy("bucket")
    run_stage(
        spark, staging, "merged_trends",
        lambda: (
            stored.unionByName(delta)
            .groupBy("curie", "bucket")
            .agg(F.sum("n_docs").cast("long").alias("n_docs"))
            .select(
                "curie", "bucket", "n_docs",
                (
                    F.col("n_docs")
                    - F.coalesce(F.lag("n_docs").over(w), F.lit(0))
                ).alias("delta_prev_bucket"),
            )
        ),
        input_fingerprint=batch_fp,
    )
    trend_metrics = {"batch_fingerprint": batch_fp, "bucket": bucket,
                     **caveats}
    finish_commit(spark, kg_root, staging,
                  [CommitOp("replace", "merged_trends", "trends")],
                  trend_metrics, batch_fp=batch_fp)
    return {
        "status": "committed",
        "n_series_rows": read_manifest(kg_root, "trends")["total_rows"],
        "sec": round(time.time() - t0, 2),
    }
