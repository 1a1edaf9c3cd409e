"""Incremental paragraph-level dedup absorb: commit a crawl delta into
a paragraph-dedup root at O(delta) cost, never re-deduplicating the
accumulated corpus.

north_rule framing: `operators/dedup.py:paragraph_dedup` is a batch
operator — one pass over the whole corpus.  At web scale the corpus is
append-mostly, and the paragraph-digest set (the dedup state) is MUCH
smaller than the corpus and mergeable: a delta batch only needs to know
which digests are already claimed.  Cost model per batch:

* delta paragraphs are exploded, digested, and first-occurrence-ranked
  WITHIN the batch (one delta-sized digest window);
* claimed history is one anti-join of the batch-first digests against
  the live ``para_digests`` store (digest-keyed; lay the store out
  bucketed by digest prefix and the join prunes to touched buckets —
  at file scale this scan is the only O(store) term);
* surviving paragraphs rebuild the delta documents (delta-sized
  reassembly), which APPEND into ``deduped``; the newly-claimed
  digests APPEND into ``para_digests``.

Equality contract (pinned by tests/test_paragraph_absorb.py): for an
append-only crawl — batch N's ids sort after batch N-1's, which is how
crawl ids arrive — absorbing batches A then B yields exactly
``paragraph_dedup(A ∪ B)``: the batch operator's corpus-wide
first-(doc, position)-occurrence rule IS the arrival order rule.

Commit protocol: the ``sinks.begin_commit`` / ``finish_commit`` staged
commit (single writer per root, crash-safe, idempotent) — delta
snapshots staged under ``<root>/_staging/``, appended into the live
stages with ``deduped`` sealed LAST: its snapshot log is the commit
point, so a batch whose fingerprint is already there is a committed
no-op.
"""

from __future__ import annotations

import hashlib
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from onto_text_tag_spark.operators.dedup import content_digest
from onto_text_tag_spark.sinks import (
    CommitOp,
    begin_commit,
    finish_commit,
    read_manifest,
    read_stage,
    run_stage,
    write_stage,
)


def init_paragraph_root(
    spark: SparkSession,
    root: str,
    doc_schema,
    input_fingerprint: str = "init",
) -> None:
    """Bootstrap an EMPTY paragraph-dedup root (empty ``para_digests``
    and ``deduped`` snapshots) so the entire corpus can arrive as
    absorb commits.  ``doc_schema`` is the DELTA document schema; the
    ``deduped`` stage holds it with ``text`` rewritten plus the
    ``n_paragraphs``/``n_kept`` audit columns."""
    empty_docs = spark.createDataFrame([], doc_schema)
    deduped_schema = (
        empty_docs
        .withColumn("n_paragraphs", F.lit(0).cast("long"))
        .withColumn("n_kept", F.lit(0).cast("long"))
        .schema
    )
    for stage, schema in (
        ("para_digests", "digest long"),
        ("deduped", deduped_schema),
    ):
        write_stage(
            spark.createDataFrame([], schema).repartition(1),
            root, stage, input_fingerprint=input_fingerprint,
        )


def read_para_deduped(spark: SparkSession, root: str) -> DataFrame:
    """The live paragraph-deduped corpus (append-grown)."""
    return read_stage(spark, root, "deduped")


def absorb_paragraph_batch(
    spark: SparkSession,
    root: str,
    delta_docs: DataFrame,
    batch_fp: str,
    id_col: str = "url",
    text_col: str = "text",
) -> dict:
    """Commit one delta batch into paragraph-dedup root ``root``
    (stage → append → seal).  Returns batch metrics; an
    already-committed fingerprint returns a no-op marker without
    touching the store.  Works under both stage backends: both stages
    are append-only."""
    t0 = time.time()
    tag = hashlib.md5(batch_fp.encode()).hexdigest()[:12]
    staging = begin_commit(root, f"para-{tag}", batch_fp,
                           log_stage="deduped")
    if staging is None:
        return {
            "status": "noop_already_committed",
            "batch_fingerprint": batch_fp,
            "sec": round(time.time() - t0, 2),
        }

    paras = (
        delta_docs.select(
            F.col(id_col),
            F.expr(
                f"filter(transform(split({text_col}, '\\n'), "
                "x -> trim(x)), x -> x != '')"
            ).alias("_paras"),
        )
        .select(id_col, F.posexplode("_paras").alias("pos", "para"))
        .withColumn("digest", content_digest("para"))
    )
    # first occurrence per digest within the batch: min(struct(id,
    # pos, para)) — same de-skewed shape as the batch operator.  The
    # struct carries para, so the aggregate output IS the batch
    # survivor relation (no join back to the paragraph stream); a
    # digest-partitioned row_number window would sort every occurrence
    # of a mega-boilerplate paragraph in ONE task at mega-batch sizes,
    # while the aggregate's map-side partials absorb the hot key
    batch_first = (
        paras.groupBy("digest")
        .agg(
            F.min(F.col(id_col)).alias("_id"),
            # min_by not min(struct): ObjectHashAggregate vs
            # SortAggregate (see operators/dedup.py:paragraph_dedup)
            F.min_by(
                F.struct(F.col("pos").alias("pos"),
                         F.col("para").alias("para")),
                F.struct(F.col(id_col), F.col("pos")),
            ).alias("_vp"),
        )
        .select(
            "digest",
            F.col("_id").alias(id_col),
            F.col("_vp.pos").alias("pos"),
            F.col("_vp.para").alias("para"),
        )
    )
    stored = read_stage(spark, root, "para_digests")

    run_stage(
        spark, staging, "para_digests",
        lambda: batch_first
        .join(stored, "digest", "left_anti")
        .select("digest"),
        input_fingerprint=batch_fp,
    )

    def _rebuild() -> DataFrame:
        kept = (
            batch_first
            .join(stored, "digest", "left_anti")
            .groupBy(id_col)
            .agg(
                F.sum(F.lit(1)).cast("long").alias("n_kept"),
                F.concat_ws(
                    "\n",
                    F.expr(
                        "transform(array_sort(collect_list("
                        "struct(pos, para))), x -> x.para)"
                    ),
                ).alias("_new_text"),
            )
        )
        n_paras = paras.groupBy(id_col).agg(
            F.count("*").cast("long").alias("n_paragraphs")
        )
        return (
            delta_docs.drop("n_paragraphs", "n_kept")
            .join(kept, id_col, "left")
            .join(n_paras, id_col, "left")
            .withColumn(
                text_col, F.coalesce("_new_text", F.lit(""))
            )
            .drop("_new_text")
            .withColumn(
                "n_paragraphs",
                F.coalesce("n_paragraphs", F.lit(0)).cast("long"),
            )
            .withColumn(
                "n_kept", F.coalesce("n_kept", F.lit(0)).cast("long")
            )
        )

    run_stage(
        spark, staging, "deduped", _rebuild,
        input_fingerprint=batch_fp,
    )
    n_new_digests = read_manifest(staging, "para_digests")["total_rows"]
    n_docs = read_manifest(staging, "deduped")["total_rows"]

    metrics = {
        "batch_fingerprint": batch_fp,
        "batch_docs": n_docs,
        "batch_new_digests": n_new_digests,
    }
    # both stages are staged before either appends — appending
    # para_digests before the deduped relation is computed would
    # anti-join the batch's own paragraphs away under lazy evaluation;
    # deduped LAST = commit point
    finish_commit(spark, root, staging, [
        CommitOp("append", "para_digests", "para_digests"),
        CommitOp("append", "deduped", "deduped"),
    ], metrics, batch_fp=batch_fp)

    return {
        "status": "committed",
        "batch_fingerprint": batch_fp,
        "n_batch_docs": n_docs,
        "n_new_digests": n_new_digests,
        "sec": round(time.time() - t0, 2),
    }
