"""Incremental ANN-index maintenance: absorb embedding deltas into a
stored IVF cell index without re-assigning the base corpus.

north_rule framing: the crawl grows daily, and each page's embedding
arrives with it.  Re-assigning 10^12 vectors per delta is O(corpus)
per day; this absorb is O(delta) — only never-seen ids are assigned
(one shuffle-free argmax map over the delta, ``operators/similarity.py:
ivf_cell_assignments``), appended to the ``ivf_cells`` stage
file-level, with per-cell statistics merged ADDITIVELY (count and
assignment-score sums are sums over disjoint id sets, the same algebra
as the co-occurrence weights).

The stats stage doubles as the index-health dashboard
(``ivf_index_report``):

* **cell skew** (max/mean occupancy) — a ballooning cell means probe
  cost concentrates there (the IVF analog of a head-term hot key);
* **mean assignment score** — trained centroids describe the corpus
  the k-means saw; as the crawl drifts, new vectors sit farther from
  every centroid and the running mean falls.  Both signals come from
  index-sized state, never a corpus scan; crossing a threshold means
  retrain + rebuild (centroid edits are refused — an index whose rows
  were assigned under different centroids is not an IVF index).

Commit protocol mirrors ``plans/kg_absorb.py`` exactly (staged
snapshots, deterministic batch-file appends, swap for the merged
stats, fingerprint seal; replays are committed no-ops; interrupted
swaps recovered).  ``absorb(b1); absorb(b2) == from-scratch
assignment over b1 ∪ b2`` is pinned by tests/test_ivf_absorb.py.
"""

from __future__ import annotations

import hashlib
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from onto_text_tag_spark.operators.similarity import ivf_cell_assignments
from onto_text_tag_spark.sinks import (
    CommitOp,
    begin_commit,
    finish_commit,
    read_manifest,
    read_stage,
    run_stage,
    write_stage,
)


def _centroid_fingerprint(centroids: list[tuple[int, list[float]]]) -> str:
    payload = ";".join(
        f"{cid}:{','.join(repr(float(x)) for x in vec)}"
        for cid, vec in sorted(centroids)
    )
    return hashlib.md5(payload.encode()).hexdigest()


def init_ivf_root(
    spark: SparkSession,
    root: str,
    centroids: list[tuple[int, list[float]]],
) -> dict:
    """Bootstrap an empty IVF index root: the centroid table (pinned by
    fingerprint — every later absorb must present the same set), an
    empty ``ivf_cells`` assignment stage, and an empty additive
    ``ivf_cell_stats`` stage."""
    fp = _centroid_fingerprint(centroids)
    cents_df = spark.createDataFrame(
        [(int(c), [float(x) for x in v]) for c, v in centroids],
        "cell long, centroid array<double>",
    ).coalesce(1)
    write_stage(cents_df, root, "ivf_centroids", input_fingerprint=fp,
                metrics={"centroid_fingerprint": fp,
                         "n_centroids": len(centroids)})
    write_stage(
        spark.createDataFrame(
            [], "vec_id long, cell long, cscore double").repartition(1),
        root, "ivf_cells", input_fingerprint="init",
        metrics={"centroid_fingerprint": fp},
    )
    write_stage(
        spark.createDataFrame(
            [], "cell long, n long, sum_score double").repartition(1),
        root, "ivf_cell_stats", input_fingerprint="init",
        metrics={"centroid_fingerprint": fp},
    )
    return {"status": "initialized", "n_centroids": len(centroids)}


def load_centroids(spark: SparkSession, root: str
                   ) -> list[tuple[int, list[float]]]:
    return [
        (int(r["cell"]), [float(x) for x in r["centroid"]])
        for r in read_stage(spark, root, "ivf_centroids")
        .orderBy("cell").collect()
    ]


def absorb_embeddings(
    spark: SparkSession,
    root: str,
    delta: DataFrame,
    batch_fp: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Commit one embedding batch into the index: assign ONLY
    never-seen ids (O(delta) argmax map), file-append their
    ``(vec_id, cell, cscore)`` rows, merge the per-cell stats
    additively.  Exactly-once via the batch fingerprint in the
    ``ivf_cells`` snapshot log (the last seal = the commit point).

    Works under both stage backends: the assignment rows APPEND and
    the keyed-additive cell stats — a genuine MERGE, not a row append —
    REPLACE their stage from the MATERIALIZED merged-stats staging
    snapshot (reading the live stage while replacing it is the hazard
    the staging materialization exists to prevent)."""
    t0 = time.time()
    tag = hashlib.md5(("ivf:" + batch_fp).encode()).hexdigest()[:12]
    stored_fp = read_manifest(root, "ivf_centroids")["metrics"][
        "centroid_fingerprint"]

    staging = begin_commit(root, tag, batch_fp, log_stage="ivf_cells")
    if staging is None:
        return {
            "status": "noop_already_committed",
            "n_vecs_total": read_manifest(root, "ivf_cells")["total_rows"],
            "sec": round(time.time() - t0, 2),
        }

    centroids = load_centroids(spark, root)
    if _centroid_fingerprint(centroids) != stored_fp:
        raise ValueError(
            "ivf_centroids stage no longer matches its pinned "
            "fingerprint — the centroid table was edited in place; "
            "retrain and rebuild the index instead"
        )

    seen = read_stage(spark, root, "ivf_cells").select("vec_id")
    # dropDuplicates BEFORE the anti-join: a crawl re-fetch can repeat a
    # vec_id within one batch, and a doubled row would both append a
    # duplicate index row and double-count the additive cell stats —
    # breaking the pinned absorb == from-scratch invariant.
    new_vecs = (
        delta.select(
            F.col(id_col).cast("long").alias("vec_id"),
            F.col(vec_col).alias("embedding"),
        )
        .dropDuplicates(["vec_id"])
        .join(seen, "vec_id", "left_anti")
    )

    delta_cells = run_stage(
        spark, staging, "cells_delta",
        lambda: ivf_cell_assignments(new_vecs, centroids),
        input_fingerprint=batch_fp,
    )
    run_stage(
        spark, staging, "merged_stats",
        lambda: (
            read_stage(spark, root, "ivf_cell_stats")
            .unionByName(
                delta_cells.groupBy("cell").agg(
                    F.count("*").cast("long").alias("n"),
                    F.sum("cscore").alias("sum_score"),
                )
            )
            .groupBy("cell")
            .agg(
                F.sum("n").cast("long").alias("n"),
                F.sum("sum_score").alias("sum_score"),
            )
        ),
        input_fingerprint=batch_fp,
    )
    n_new = read_manifest(staging, "cells_delta")["total_rows"]

    metrics = {"batch_fingerprint": batch_fp, "batch_vecs": n_new,
               "centroid_fingerprint": stored_fp}
    # cells append LAST = commit point
    finish_commit(spark, root, staging, [
        CommitOp("replace", "merged_stats", "ivf_cell_stats"),
        CommitOp("append", "cells_delta", "ivf_cells"),
    ], metrics, batch_fp=batch_fp)
    return {
        "status": "committed",
        "n_new_vecs": n_new,
        "n_vecs_total": read_manifest(root, "ivf_cells")["total_rows"],
        "sec": round(time.time() - t0, 2),
    }


def ivf_index_report(spark: SparkSession, root: str) -> dict:
    """Index health from index-sized state (no corpus scan): occupancy
    skew (probe hot-spot risk) and mean assignment score (centroid
    staleness under corpus drift)."""
    stats = read_stage(spark, root, "ivf_cell_stats")
    row = stats.agg(
        F.count("*").alias("n_cells"),
        F.coalesce(F.sum("n"), F.lit(0)).alias("n_vecs"),
        F.coalesce(F.max("n"), F.lit(0)).alias("max_cell"),
        F.coalesce(F.avg("n"), F.lit(0.0)).alias("mean_cell"),
        (F.coalesce(F.sum("sum_score"), F.lit(0.0))
         / F.coalesce(F.sum("n"), F.lit(1))).alias("mean_score"),
    ).collect()[0]
    n_centroids = read_manifest(root, "ivf_centroids")["metrics"][
        "n_centroids"]
    skew = (
        float(row["max_cell"]) / float(row["mean_cell"])
        if row["mean_cell"] else 0.0
    )
    return {
        "n_centroids": n_centroids,
        "n_occupied_cells": int(row["n_cells"]),
        "n_vecs": int(row["n_vecs"]),
        "max_cell": int(row["max_cell"]),
        "mean_cell": round(float(row["mean_cell"]), 2),
        "occupancy_skew": round(skew, 3),
        "mean_assignment_score": round(float(row["mean_score"]), 4),
    }
