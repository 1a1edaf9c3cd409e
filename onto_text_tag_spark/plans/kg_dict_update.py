"""Dictionary-delta KG maintenance: absorb an ONTOLOGY VERSION BUMP
into an existing KG root without rebuilding it.

north_rule framing: at 10^12-document scale the corpus is the expensive
axis and the ontology is the volatile one — OBO/OLS ontologies release
monthly, and a KG that needs a full re-tag + re-aggregate per release
is unmaintainable.  This plan makes a dictionary change cost
O(affected docs), exactly:

* **affected set** — for ADDED surfaces, one corpus scan with the tiny
  DELTA automaton (matcher cost ∝ text, but the automaton is
  delta-sized and the scan emits only a url set); for REMOVED/remapped
  surfaces, NO corpus scan at all: the affected urls are looked up in
  the stored ``doc_terms`` arrays (a doc is affected by a removal only
  if the removed curie has a KEPT span there, and kept spans are
  exactly what ``doc_terms`` records).
* **re-tag** — only the affected urls are re-tagged, with the full NEW
  dictionary.  This is what makes the update EXACT under the
  reference's longest-match-wins overlap resolution
  (``functions/aho_corasick.py:filter_spans``): a new longer surface
  can SHADOW a stored mention ("acute heart attack" displacing "heart
  attack"), and removing a surface can UN-shadow a mention that was
  never emitted — span algebra over stored (post-filter) spans cannot
  reconstruct either, but re-tagging the affected doc trivially can.
  Unaffected docs have bit-identical raw span sets under both
  dictionaries, so their stored rows are already the rebuild's rows.
* **merge** — the co-occurrence aggregate absorbs the change via the
  signed pair delta (``operators/cooccur.py:signed_pair_delta``):
  weights are additive over disjoint doc sets, so subtracting the
  affected docs' old pair contributions and adding their new ones
  equals the rebuild (zero/negative-weight pairs drop).  Mentions /
  doc_terms / mention-triples rewrite ONLY the affected urls' rows
  (anti-join + union, landed via the staged swap; at cluster scale the
  rewrite partition-prunes to the affected urls' partitions).

``update_ontology`` handles the ontology-GRAPH side of a release
(``is_a`` triples + transitive closure): both are derived from
driver-side small data, so they are simply re-derived and swapped —
no corpus interaction at all.

Equality with a from-scratch build under the new dictionary is pinned
span-for-span by tests/test_dict_update.py (both directions: adds that
shadow stored mentions, removals that un-shadow them), and the merge
algebra is DuckDB-oracle-checked by the ``kg_cooccur_dict_delta``
driver query.  Commit protocol (staged, crash-safe, idempotent,
fingerprint-keyed) mirrors ``plans/kg_absorb.py``.
"""

from __future__ import annotations

import hashlib
import os
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from onto_text_tag_spark.operators.cooccur import (
    doc_term_arrays,
    merge_cooccurrence_edges,
    signed_pair_delta,
)
from onto_text_tag_spark.operators.tagger import tag_documents
from onto_text_tag_spark.plans.kg_absorb import (
    ensure_dict_overlay_stages,
    read_live_doc_terms,
    read_retracted,
)
from onto_text_tag_spark.plans.kg_pipeline import extract_texts
from onto_text_tag_spark.sinks import (
    CommitOp,
    begin_commit,
    finish_commit,
    read_manifest,
    read_stage,
    require_file_backed_stages,
    run_stage,
)


def dictionary_delta(
    old_rows: list[dict], new_rows: list[dict]
) -> dict:
    """Split a dictionary change into the two affected-set drivers:
    ``added_rows`` — (surface → curie) entries present only in the new
    dictionary (new classes, new synonyms, remapped surfaces), tagged
    over the corpus to find docs the ADDITIONS touch; ``shrunk_curies``
    — curies that lost at least one surface (removals, remaps), whose
    affected docs are looked up in stored doc_terms."""
    old_by_surface = {r["surface"]: r["id"] for r in old_rows}
    new_by_surface = {r["surface"]: r["id"] for r in new_rows}
    added_rows = [
        r for r in new_rows
        if old_by_surface.get(r["surface"]) != r["id"]
    ]
    shrunk_curies = sorted({
        cid for s, cid in old_by_surface.items()
        if new_by_surface.get(s) != cid
    })
    return {"added_rows": added_rows, "shrunk_curies": shrunk_curies}


def update_dictionary(
    spark: SparkSession,
    kg_root: str,
    docs: DataFrame,
    old_dict_rows: list[dict],
    new_dict_rows: list[dict],
    batch_fp: str,
    lang: str | None = "en",
    defer_rewrite: bool = False,
) -> dict:
    """Commit a dictionary change into ``kg_root`` (stage → swap →
    seal).  ``docs`` must be the corpus the KG was built over (the
    same contract as a rebuild — e.g. the live deduped view); only the
    affected urls' texts are ever read from it.  A ``batch_fp``
    already in the triples snapshot log is a committed no-op.

    ``defer_rewrite=True`` makes the commit MERGE-ON-READ (Iceberg MoR
    MERGE): instead of rewriting the corpus-sized url-keyed stages
    (``mentions``/``doc_terms``/``pred=mentions`` — the whole-stage
    copy that dominates the eager path's cost), the affected docs'
    re-tagged rows land in the small overlay pair
    (``plans/kg_absorb.py:read_dict_overlay``), whose url set masks the
    base rows at read.  Write cost becomes O(affected) regardless of
    corpus size; readers pay one extra anti-join + union until
    ``fold_dict_overlay`` rewrites the base (once, amortized over every
    release since the last fold).  The co-occurrence aggregate is still
    physically merged either way — an aggregate cannot be masked
    row-wise.  Live-view equality with the eager path and with a
    from-scratch rebuild is pinned by tests/test_dict_update.py.

    File-backed roots only: the update reads live stages by parquet
    path, so it refuses up front under an Iceberg session catalog."""
    require_file_backed_stages(spark, "update_dictionary")
    t0 = time.time()
    stage_sec: dict[str, float] = {}

    def timed(name, fn):
        s = time.time()
        out = fn()
        stage_sec[name] = round(time.time() - s, 2)
        return out

    tag = hashlib.md5(batch_fp.encode()).hexdigest()[:12]
    live_triples = os.path.join(kg_root, "triples", "data")
    staging = begin_commit(kg_root, f"dict-{tag}", batch_fp,
                           log_stage="triples")
    if staging is None:
        return {
            "status": "noop_already_committed",
            "batch_fingerprint": batch_fp,
            "sec": round(time.time() - t0, 2),
        }
    if defer_rewrite:
        ensure_dict_overlay_stages(spark, kg_root)

    if not defer_rewrite:
        # an EAGER rewrite reads the physical url-keyed stages; a
        # pending merge-on-read overlay (earlier deferred updates) must
        # be folded into them first or the rewrite starts from stale
        # rows.  fold_dict_overlay is idempotent/crash-safe and no-ops
        # when the overlay is empty or absent.
        from onto_text_tag_spark.plans.kg_absorb import (
            fold_dict_overlay,
            read_dict_overlay,
        )

        if read_dict_overlay(spark, kg_root) is not None:
            fold_dict_overlay(spark, kg_root)

    delta = dictionary_delta(old_dict_rows, new_dict_rows)
    docs = extract_texts(docs)
    if lang and "lang" in docs.columns:
        docs = docs.where(F.col("lang") == lang)
    id_col = "url" if "url" in docs.columns else "doc_id"
    # defensive twin of the live-view read below: if the caller hands
    # the FULL corpus rather than the live view, retracted docs must
    # not re-enter through the re-tag side of the delta
    gone = read_retracted(spark, kg_root)
    if gone is not None:
        docs = docs.join(gone.select(F.col("url").alias(id_col)),
                         id_col, "left_anti")

    # the LIVE view, not the physical stage: on a root with doc
    # retractions (crawl-sink demotions) the physical doc_terms still
    # carries the retracted urls' rows, but the co-occurrence aggregate
    # already excludes their contributions — feeding them into the
    # affected set / signed delta would subtract them a second time.
    # The REWRITES below stay physical on purpose (retracted rows are
    # preserved untouched and remain masked at read).
    old_doc_terms = read_live_doc_terms(spark, kg_root)

    # --- affected urls ----------------------------------------------------
    def _affected():
        parts = []
        if delta["added_rows"]:
            # the only corpus scan: the DELTA automaton (raw-match
            # superset — a doc whose raw spans are unchanged has an
            # unchanged tagging outcome)
            parts.append(
                tag_documents(docs, delta["added_rows"], id_col=id_col)
                .select("url").distinct()
            )
        if delta["shrunk_curies"]:
            gone = F.array(*[F.lit(c) for c in delta["shrunk_curies"]])
            parts.append(
                old_doc_terms
                .where(F.arrays_overlap("_terms", gone))
                .select("url")
            )
        if not parts:
            return spark.createDataFrame([], "url string")
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out.distinct()

    affected = timed("affected", lambda: run_stage(
        spark, staging, "affected", _affected,
        input_fingerprint=batch_fp,
    ))

    # --- re-tag affected urls with the full NEW dictionary -----------------
    retag = timed("retag", lambda: run_stage(
        spark, staging, "retag_mentions",
        lambda: tag_documents(
            docs.join(
                affected.select(F.col("url").alias(id_col)),
                id_col, "left_semi",
            ),
            new_dict_rows, id_col=id_col,
        ),
        input_fingerprint=batch_fp,
    ))
    new_arrays = timed("new_arrays", lambda: run_stage(
        spark, staging, "new_doc_terms",
        lambda: doc_term_arrays(retag),
        input_fingerprint=batch_fp,
    ))

    # --- signed co-occurrence delta + merged aggregate ---------------------
    old_edges = spark.read.parquet(
        os.path.join(live_triples, "pred=co_occurs_with")
    ).select(F.col("subj").alias("src"), F.col("obj").alias("dst"),
             "weight")
    timed("merge_edges", lambda: run_stage(
        spark, staging, "merged_cooccur",
        lambda: merge_cooccurrence_edges(
            old_edges,
            signed_pair_delta(
                old_doc_terms.join(affected, "url", "left_semi"),
                new_arrays,
            ),
        ).where(F.col("weight") > 0).select(
            F.col("src").alias("subj"),
            F.col("dst").alias("obj"),
            F.col("weight").cast("long").alias("weight"),
        ),
        input_fingerprint=batch_fp,
    ))

    if defer_rewrite:
        # --- merge-on-read commit: O(affected) overlay pair --------------
        # New overlay = previous overlay minus re-affected urls, plus the
        # re-tag.  EVERY affected url gets a doc_terms_overlay row — docs
        # whose mentions all disappeared keep an EMPTY array row so they
        # still mask their base rows (read_dict_overlay docstring).
        old_ov_m = read_stage(spark, kg_root, "mentions_overlay")
        old_ov_dt = read_stage(spark, kg_root, "doc_terms_overlay")
        timed("overlay_mentions", lambda: run_stage(
            spark, staging, "mentions_overlay",
            lambda: old_ov_m.join(affected, "url", "left_anti")
            .unionByName(retag.select(*old_ov_m.columns)),
            input_fingerprint=batch_fp,
        ))
        timed("overlay_doc_terms", lambda: run_stage(
            spark, staging, "doc_terms_overlay",
            lambda: old_ov_dt.join(affected, "url", "left_anti")
            .unionByName(new_arrays)
            .unionByName(
                affected.join(new_arrays.select("url"), "url", "left_anti")
                .select(
                    "url",
                    F.expr("cast(array() as array<string>)")
                    .alias("_terms"),
                )
            ),
            input_fingerprint=batch_fp,
        ))
        ops = [
            CommitOp("replace", "doc_terms_overlay", "doc_terms_overlay"),
            CommitOp("replace", "mentions_overlay", "mentions_overlay"),
        ]
        # base stages are sealed too: their PHYSICAL rows are untouched
        # but their logical content changed (the overlay masks them), so
        # a resume keyed on the old fingerprint must miss
        seal = ["mentions", "doc_terms", "mentions_overlay",
                "doc_terms_overlay", "triples"]
    else:
        # --- copy-on-write: rewrite the url-keyed stages ------------------
        timed("rewrite_mentions", lambda: run_stage(
            spark, staging, "mentions",
            lambda: read_stage(spark, kg_root, "mentions")
            .join(affected, "url", "left_anti").unionByName(retag),
            input_fingerprint=batch_fp,
        ))
        timed("rewrite_doc_terms", lambda: run_stage(
            spark, staging, "doc_terms",
            lambda: read_stage(spark, kg_root, "doc_terms")
            .join(affected, "url", "left_anti")
            .unionByName(new_arrays),
            input_fingerprint=batch_fp,
        ))
        timed("rewrite_mention_triples", lambda: run_stage(
            spark, staging, "mention_triples",
            lambda: spark.read.parquet(
                os.path.join(live_triples, "pred=mentions"))
            .join(affected.select(F.col("url").alias("subj")),
                  "subj", "left_anti")
            .unionByName(new_arrays.select(
                F.col("url").alias("subj"),
                F.explode("_terms").alias("obj"),
                F.lit(None).cast("long").alias("weight"),
            )),
            input_fingerprint=batch_fp,
        ))
        ops = [
            CommitOp("replace", "mentions", "mentions"),
            CommitOp("replace", "doc_terms", "doc_terms"),
            CommitOp("replace", "mention_triples", "triples",
                     ("pred", "mentions")),
        ]
        seal = None
    ops.append(CommitOp("replace", "merged_cooccur", "triples",
                        ("pred", "co_occurs_with")))
    n_affected = read_manifest(staging, "affected")["total_rows"]
    metrics = {
        "batch_fingerprint": batch_fp,
        "dict_update": {
            "affected_docs": n_affected,
            "added_surfaces": len(delta["added_rows"]),
            "shrunk_curies": len(delta["shrunk_curies"]),
            "deferred": defer_rewrite,
        },
    }
    # triples sealed LAST — its snapshot log is the commit point
    timed("commit", lambda: finish_commit(
        spark, kg_root, staging, ops, metrics, batch_fp=batch_fp,
        seal=seal))
    return {
        "status": "committed",
        "batch_fingerprint": batch_fp,
        "n_affected_docs": n_affected,
        "n_added_surfaces": len(delta["added_rows"]),
        "n_shrunk_curies": len(delta["shrunk_curies"]),
        "n_mentions_total": read_manifest(kg_root, "mentions")["total_rows"],
        "n_triples_total": read_manifest(kg_root, "triples")["total_rows"],
        "sec": round(time.time() - t0, 2),
        "stage_sec": stage_sec,
    }


def update_ontology(
    spark: SparkSession,
    kg_root: str,
    onto_rows: list[dict],
    batch_fp: str,
) -> dict:
    """Swap in a new ontology GRAPH: re-derive the ``is_a`` triple
    branch and the transitive ``isa_closure`` from the new ontology
    rows (driver-side small data — the reference parses ontologies on
    the driver too) and land both via the staged swap.  No corpus
    interaction: the ontology graph is corpus-independent.  Pair with
    ``update_dictionary`` for the tagging side of a release.
    File-backed roots only, like ``update_dictionary``."""
    from onto_text_tag_spark.operators.closure import (
        transitive_closure_rows,
    )
    from onto_text_tag_spark.session import local_df

    require_file_backed_stages(spark, "update_ontology")
    t0 = time.time()
    tag = hashlib.md5(batch_fp.encode()).hexdigest()[:12]
    staging = begin_commit(kg_root, f"onto-{tag}", batch_fp,
                           log_stage="triples")
    if staging is None:
        return {"status": "noop_already_committed",
                "batch_fingerprint": batch_fp,
                "sec": round(time.time() - t0, 2)}

    isa_pairs = [
        (r["curie"], r["parent_curie"])
        for r in onto_rows if r.get("parent_curie")
    ]
    run_stage(
        spark, staging, "is_a",
        lambda: local_df(
            spark, [(c, p, None) for c, p in isa_pairs],
            "subj string, obj string, weight long",
        ).coalesce(1),
        input_fingerprint=batch_fp,
    )
    run_stage(
        spark, staging, "isa_closure",
        lambda: local_df(
            spark,
            [(d, "is_a_transitive", a, None)
             for d, a in transitive_closure_rows(isa_pairs)],
            "subj string, pred string, obj string, weight long",
        ).coalesce(1),
        input_fingerprint=batch_fp,
    )
    finish_commit(spark, kg_root, staging, [
        CommitOp("replace", "isa_closure", "isa_closure"),
        CommitOp("replace", "is_a", "triples", ("pred", "is_a")),
    ], {"batch_fingerprint": batch_fp,
        "ontology_update": {"is_a_edges": len(isa_pairs)}},
        batch_fp=batch_fp)
    return {"status": "committed", "batch_fingerprint": batch_fp,
            "n_is_a_edges": len(isa_pairs),
            "sec": round(time.time() - t0, 2)}
