"""spark-submit entry point for INCREMENTAL KG maintenance: absorb a
new crawl batch into an existing ``jobs/kg_build.py`` snapshot root
without rebuilding it.

north_rule: at 10^12-document scale a crawl delta must never trigger a
full rebuild.  Cost model per batch:

* tagging ∝ |batch| (only never-seen urls are tagged — a distributed
  left-anti join against the live ``doc_terms`` snapshot);
* ``mentions`` / ``doc_terms`` / ``triples/pred=mentions`` grow by
  file-level APPEND — prior batches are not rewritten (Iceberg's append
  commit, emulated as idempotent batch-prefixed part-file copies);
* the co-occurrence edge aggregate is REWRITTEN by a pair-keyed weight
  sum (``merge_cooccurrence_edges``: weights over disjoint doc sets are
  additive) — the LSM-style compaction; the edge set is ≪ corpus-sized;
* ``is_a`` triples and the closure are ontology-derived — untouched.

Equality with a full rebuild over the union corpus is pinned by
tests/test_kg_update_job.py, and the same algebra is DuckDB-oracle-
checked by the ``kg_cooccur_incremental`` driver query.  Measured
(BENCH/BASELINE.md): absorbing a 10% delta costs ~8-24% of a rebuild.

Commit protocol (single writer per root, crash-safe, idempotent) —
the staged-commit primitive of ``onto_text_tag_spark/sinks.py``, driven
by ``onto_text_tag_spark/plans/kg_absorb.py`` (also the ``foreachBatch``
core of the streaming ingest sink):

1. ``sinks.begin_commit`` recovers every torn swap and append under the
   root, no-ops a batch already in the ``triples`` snapshot log, and
   names the staging dir ``<root>/_staging/<batch_tag>/``;
2. stage the delta (mentions, doc_terms, mention triples, delta edges,
   merged edges) there as ordinary resumable snapshots — a re-run after
   any crash reuses them via their input fingerprints;
3. ``sinks.finish_commit`` runs the ops in order: staged part-files
   APPEND into the live stage dirs under deterministic
   ``batch-<tag>-NNNNN.parquet`` names (each copied to a hidden
   temporary name and renamed into place; a re-run skips files that
   landed), and the merged co-occurrence subtree REPLACES
   ``triples/data/pred=co_occurs_with`` by copy-then-rename — copy into
   a hidden ``.swap-new`` sibling, rename live aside to ``.swap-old``,
   rename the complete copy in — so recovery only ever keeps a complete
   tree;
4. it then seals each touched stage (``triples`` last — the commit
   point): manifest rebuilt from parquet footers, marker
   re-fingerprinted, and a new snapshot appended to the stage's
   ``_SNAPSHOT_LOG.jsonl`` — the Iceberg metadata commit that makes the
   batch visible;
5. and drops the staging dir.

A batch whose fingerprint already appears in the ``triples`` snapshot
log is a committed no-op: re-submitting the same delta reports the live
totals and exits.

Usage:
    spark-submit --master local[N] --py-files pkg.zip jobs/kg_update.py \
        --kg <kg_build output root> --input <delta docs parquet>
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--kg", required=True,
                    help="existing jobs/kg_build.py snapshot root")
    ap.add_argument("--input",
                    help="delta documents parquet (new crawl batch)")
    ap.add_argument("--retract", metavar="URLS_PARQUET",
                    help="retract previously-absorbed documents instead: "
                    "a parquet of urls (single column) whose mention "
                    "triples are masked and whose co-occurrence weight "
                    "contributions are subtracted exactly "
                    "(plans/kg_absorb.py:retract_batch — the batch twin "
                    "of the crawl sink's demotion handling)")
    ap.add_argument("--fold-retractions", action="store_true",
                    help="after the update, physically fold the "
                    "retracted delete set into the data files and clear "
                    "it (fold_retractions; live-view content unchanged)")
    ap.add_argument("--ontology", nargs="*", default=[])
    ap.add_argument("--fixture", choices=["mini", "driver"], default="mini")
    ap.add_argument("--lang", default="en")
    ap.add_argument("--no-warmup", action="store_true",
                    help="skip the steady-state warmup pass (measured "
                    "time then includes one-time JVM JIT + Python worker "
                    "forks)")
    ap.add_argument("--compact-after", type=int, default=None,
                    metavar="N_FILES",
                    help="after a committed absorb, rewrite any append-"
                    "grown stage holding more than N_FILES part-files "
                    "into right-sized files (jobs/kg_compact.py inline; "
                    "content-identical, fingerprint kept)")
    ap.add_argument("--sketch", nargs="?", const=64, default=None,
                    type=int, metavar="K",
                    help="also maintain the KMV term-df sketch stage "
                    "(plans/kg_absorb.py:absorb_term_sketch): merge the "
                    "batch's sketch into the stored state — exact vs a "
                    "from-scratch sketch over every absorbed doc")
    ap.add_argument("--trends", nargs="?", const="day", default=None,
                    metavar="BUCKET",
                    help="also maintain the crawl-time trends stage "
                    "(plans/kg_absorb.py:absorb_trends): per-(class, "
                    "warc_ts BUCKET) counts merge additively with the "
                    "batch, deltas re-derived over the tiny series")
    ap.add_argument("--links", action="store_true",
                    help="also absorb the batch's anchor link graph: "
                    "links stage file-appends, host graph merges by "
                    "pair-keyed weight sum (plans/kg_absorb.py:"
                    "absorb_links; same exactly-once protocol)")
    args = ap.parse_args()
    if not args.input and not args.retract:
        ap.error("one of --input / --retract is required")

    from pyspark.sql import SparkSession

    from onto_text_tag_spark.dictionary import build_dictionary_rows
    from onto_text_tag_spark.plans.kg_absorb import absorb_batch
    from onto_text_tag_spark.plans.kg_pipeline import load_ontology_rows
    from onto_text_tag_spark.session import apply_engine_conf
    from onto_text_tag_spark.sinks import fingerprint_parquet_inputs

    spark = apply_engine_conf(SparkSession.builder).getOrCreate()

    if not args.no_warmup and args.input:
        # Same steady-state warmup as jobs/kg_build.py: fork the Python
        # workers, JIT the codegen paths, touch the input footers once —
        # amortized on a long-lived cluster, a fixed distortion on a
        # fresh local JVM.
        import pandas as _pd  # noqa: F401

        def _noop(it):
            for b in it:
                yield b

        spark.range(0, 10_000, numPartitions=4).toDF("id").mapInPandas(
            _noop, schema="id long"
        ).count()
        spark.read.parquet(args.input).limit(1000).count()

    if args.input:
        if args.trends:
            # mirror jobs/kg_build.py's --trends guards: fail clean and
            # upfront, not with a mid-absorb AnalysisException after the
            # mention delta was already staged
            if "warc_ts" not in spark.read.parquet(args.input).columns:
                raise SystemExit("--trends needs a warc_ts corpus column")
        dict_rows = build_dictionary_rows(
            load_ontology_rows(args.ontology, args.fixture)
        )
        stats = absorb_batch(
            spark, args.kg, spark.read.parquet(args.input), dict_rows,
            batch_fp=fingerprint_parquet_inputs([args.input]),
            lang=args.lang,
            sketch_k=args.sketch,
            trends_bucket=args.trends,
        )
        if args.links:
            from onto_text_tag_spark.plans.kg_absorb import absorb_links

            stats["links"] = absorb_links(
                spark, args.kg, spark.read.parquet(args.input),
                batch_fp=fingerprint_parquet_inputs([args.input])
                + ":links",
            )
    else:
        stats = {"status": "committed"}  # retract-only update
    if args.retract:
        from onto_text_tag_spark.plans.kg_absorb import retract_batch

        stats["retract"] = retract_batch(
            spark, args.kg, spark.read.parquet(args.retract),
            batch_fp=fingerprint_parquet_inputs([args.retract])
            + ":retract",
        )
    if args.fold_retractions:
        from onto_text_tag_spark.plans.kg_absorb import fold_retractions

        stats["fold"] = fold_retractions(spark, args.kg)
    if args.compact_after is not None and stats["status"] == "committed":
        from onto_text_tag_spark.plans.kg_absorb import compact_stage
        from onto_text_tag_spark.sinks import read_manifest

        compacted = {}
        for stage in ("mentions", "doc_terms", "triples"):
            if read_manifest(args.kg, stage)["n_files"] > args.compact_after:
                sealed = compact_stage(spark, args.kg, stage)
                compacted[stage] = sealed["metrics"]["compaction"]
        stats["compacted"] = compacted
    print(json.dumps(stats))
    spark.stop()


if __name__ == "__main__":
    main()
