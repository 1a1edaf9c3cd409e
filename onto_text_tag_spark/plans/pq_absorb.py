"""Incremental PQ code-store maintenance: absorb embedding deltas into
a stored product-quantization code table without re-encoding the base
corpus.

north_rule framing: the PQ store is the at-rest compressed form of the
embedding column (dim×4 bytes → m codes per row) that ``pq_topk`` /
``ivfpq_topk`` scan.  The crawl grows daily; re-encoding 10^12 vectors
per delta is O(corpus).  Codes are row-local pure functions of
(vector, codebooks), so with FROZEN codebooks an absorb is O(delta):
encode only never-seen ids (one shuffle-free map,
``operators/similarity.py:pq_encode_with_error``) and file-append
their ``(vec_id, codes, recon_err)`` rows.

Codebook discipline mirrors ``ivf_absorb``'s centroid discipline
exactly: the codebooks are pinned by fingerprint at init, and every
absorb re-reads and re-fingerprints the stored table — an edited
codebook is REFUSED (codes encoded under different codebooks are not
one index; retrain and rebuild instead).

The additive error stats double as the retrain signal
(``pq_store_report``): reconstruction error is the PQ analog of IVF's
assignment score — as the corpus drifts from the distribution the
codebooks were trained on, new vectors quantize worse and the running
mean error rises.  Per-batch means are kept so drift is visible as a
TREND (index-sized state, never a corpus scan).

Commit protocol mirrors ``plans/ivf_absorb.py`` (staged snapshots,
deterministic batch-file appends, swap for merged stats, fingerprint
seal; replays are committed no-ops; interrupted swaps recovered).
``absorb(b1); absorb(b2) == pq_encode(b1 ∪ b2)`` is pinned by
tests/test_pq_absorb.py.
"""

from __future__ import annotations

import hashlib
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from onto_text_tag_spark.operators.similarity import pq_encode_with_error
from onto_text_tag_spark.sinks import (
    CommitOp,
    begin_commit,
    finish_commit,
    read_manifest,
    read_stage,
    run_stage,
    write_stage,
)


def _codebook_fingerprint(codebooks: list[list[list[float]]]) -> str:
    payload = ";".join(
        f"{s}:{c}:{','.join(repr(float(x)) for x in vec)}"
        for s, book in enumerate(codebooks)
        for c, vec in enumerate(book)
    )
    return hashlib.md5(payload.encode()).hexdigest()


def init_pq_root(
    spark: SparkSession,
    root: str,
    codebooks: list[list[list[float]]],
) -> dict:
    """Bootstrap an empty PQ store root: the codebook table (pinned by
    fingerprint — every later absorb must present the same set), an
    empty ``pq_codes`` stage, and an empty additive ``pq_err_stats``
    stage (one row per committed batch: count + error sum)."""
    fp = _codebook_fingerprint(codebooks)
    cb_df = spark.createDataFrame(
        [
            (s, c, [float(x) for x in vec])
            for s, book in enumerate(codebooks)
            for c, vec in enumerate(book)
        ],
        "s int, c int, centroid array<double>",
    ).coalesce(1)
    write_stage(cb_df, root, "pq_codebooks", input_fingerprint=fp,
                metrics={"codebook_fingerprint": fp,
                         "m": len(codebooks),
                         "ksub": len(codebooks[0])})
    write_stage(
        spark.createDataFrame(
            [], "vec_id long, codes array<int>, recon_err double"
        ).repartition(1),
        root, "pq_codes", input_fingerprint="init",
        metrics={"codebook_fingerprint": fp},
    )
    write_stage(
        spark.createDataFrame(
            [], "batch string, n long, sum_err double").repartition(1),
        root, "pq_err_stats", input_fingerprint="init",
        metrics={"codebook_fingerprint": fp},
    )
    return {"status": "initialized",
            "m": len(codebooks), "ksub": len(codebooks[0])}


def load_codebooks(spark: SparkSession, root: str
                   ) -> list[list[list[float]]]:
    rows = read_stage(spark, root, "pq_codebooks").orderBy(
        "s", "c").collect()
    m = 1 + max(r["s"] for r in rows)
    books: list[list[list[float]]] = [[] for _ in range(m)]
    for r in rows:
        books[r["s"]].append([float(x) for x in r["centroid"]])
    return books


def absorb_pq_batch(
    spark: SparkSession,
    root: str,
    delta: DataFrame,
    batch_fp: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Commit one embedding batch into the code store: encode ONLY
    never-seen ids under the FROZEN codebooks (O(delta) row-local
    map), file-append their ``(vec_id, codes, recon_err)`` rows, merge
    the per-batch error stats additively.  Exactly-once via the batch
    fingerprint in the ``pq_codes`` snapshot log (the last seal = the
    commit point); an edited codebook table refuses.  Works under both
    stage backends."""
    t0 = time.time()
    tag = hashlib.md5(("pq:" + batch_fp).encode()).hexdigest()[:12]
    stored_fp = read_manifest(root, "pq_codebooks")["metrics"][
        "codebook_fingerprint"]

    staging = begin_commit(root, tag, batch_fp, log_stage="pq_codes")
    if staging is None:
        return {
            "status": "noop_already_committed",
            "n_vecs_total": read_manifest(root, "pq_codes")["total_rows"],
            "sec": round(time.time() - t0, 2),
        }

    codebooks = load_codebooks(spark, root)
    if _codebook_fingerprint(codebooks) != stored_fp:
        raise ValueError(
            "pq_codebooks stage no longer matches its pinned "
            "fingerprint — the codebook table was edited in place; "
            "codes encoded under different codebooks are not one "
            "index: retrain and rebuild the store instead"
        )

    seen = read_stage(spark, root, "pq_codes").select("vec_id")
    # dropDuplicates BEFORE the anti-join: a crawl re-fetch can repeat
    # a vec_id within one batch (same hazard ivf_absorb guards)
    new_vecs = (
        delta.select(
            F.col(id_col).cast("long").alias("vec_id"),
            F.col(vec_col).alias("embedding"),
        )
        .dropDuplicates(["vec_id"])
        .join(seen, "vec_id", "left_anti")
    )

    delta_codes = run_stage(
        spark, staging, "codes_delta",
        lambda: pq_encode_with_error(new_vecs, codebooks),
        input_fingerprint=batch_fp,
    )
    batch_stats = delta_codes.agg(
        F.count("*").cast("long").alias("n"),
        F.coalesce(F.sum("recon_err"), F.lit(0.0)).alias("sum_err"),
    ).select(F.lit(batch_fp).alias("batch"), "n", "sum_err")
    run_stage(
        spark, staging, "merged_stats",
        lambda: read_stage(spark, root, "pq_err_stats")
        .unionByName(batch_stats),
        input_fingerprint=batch_fp,
    )
    n_new = read_manifest(staging, "codes_delta")["total_rows"]

    metrics = {"batch_fingerprint": batch_fp, "batch_vecs": n_new,
               "codebook_fingerprint": stored_fp}
    # codes append LAST = commit point
    finish_commit(spark, root, staging, [
        CommitOp("replace", "merged_stats", "pq_err_stats"),
        CommitOp("append", "codes_delta", "pq_codes"),
    ], metrics, batch_fp=batch_fp)
    return {
        "status": "committed",
        "n_new_vecs": n_new,
        "n_vecs_total": read_manifest(root, "pq_codes")["total_rows"],
        "sec": round(time.time() - t0, 2),
    }


def pq_store_report(spark: SparkSession, root: str) -> dict:
    """Store health from index-sized state (no corpus scan): total and
    running-mean reconstruction error plus the per-batch mean trend —
    the codebook-staleness signal.  A late-batch mean well above the
    early-batch mean means the corpus has drifted from the codebooks'
    training distribution: retrain + rebuild."""
    stats = read_stage(spark, root, "pq_err_stats")
    rows = stats.orderBy("batch").collect()
    total_n = sum(int(r["n"]) for r in rows)
    total_err = sum(float(r["sum_err"]) for r in rows)
    meta = read_manifest(root, "pq_codebooks")["metrics"]
    per_batch = [
        {
            "batch": r["batch"],
            "n": int(r["n"]),
            "mean_err": round(float(r["sum_err"]) / r["n"], 6)
            if r["n"] else 0.0,
        }
        for r in rows
    ]
    return {
        "m": meta["m"],
        "ksub": meta["ksub"],
        "n_vecs": total_n,
        "mean_recon_err": round(total_err / total_n, 6)
        if total_n else 0.0,
        "batches": per_batch,
    }
