"""The benchmark's calls into the system: the full KG build, the batch
absorb, the association read and the output digests.

``build`` follows ``jobs/kg_build.py``'s default parquet path stage for
stage (mentions → doc_terms → triples branches → nodes → isa_closure),
through the same public functions; ``test_kgbench.py`` pins that both
write identical stage contents.  Every layer call is wrapped in a
tracer span, which is a no-op when tracing is off.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from onto_text_tag_spark.operators.closure import transitive_closure_rows
from onto_text_tag_spark.operators.cooccur import (
    cooccurrence_edges_from_arrays,
    doc_term_arrays,
)
from onto_text_tag_spark.operators.tagger import tag_documents
from onto_text_tag_spark.plans.kg_absorb import absorb_batch, read_live_triples
from onto_text_tag_spark.plans.kg_pipeline import extract_texts, node_table
from onto_text_tag_spark.session import local_df
from onto_text_tag_spark.sinks import (
    fingerprint_parquet_inputs,
    read_manifest,
    read_stage,
    run_stage,
    write_stage,
    write_stage_branches,
)
from onto_text_tag_spark.views import register_kg_views

from workload import digest

TOP_K = 20


def build(spark, corpus_paths, out, dict_rows, isa_pairs, from_html, tracer):
    """Full KG build of the parquet corpus at ``corpus_paths`` into the
    snapshot root ``out``; returns the number of triples committed."""
    with tracer.span("build"):
        corpus = spark.read.parquet(*corpus_paths)
        # from_html: extraction fuses into the tagging batch (html_col);
        # else the text column is read and html is pruned at the scan
        docs = corpus.drop("text") if from_html else extract_texts(corpus)
        docs = docs.where(F.col("lang") == "en")
        fp = fingerprint_parquet_inputs(corpus_paths)

        with tracer.span("mentions"):
            mentions = run_stage(
                spark, out, "mentions",
                lambda: tag_documents(
                    docs, dict_rows, id_col="url",
                    html_col="html" if from_html else None),
                input_fingerprint=fp)
        n_mentions = read_manifest(out, "mentions")["total_rows"]
        with tracer.span("doc_terms"):
            doc_terms = run_stage(spark, out, "doc_terms",
                                  lambda: doc_term_arrays(mentions),
                                  input_fingerprint=fp)

        branch_schema = "subj string, obj string, weight long"
        with tracer.span("triples"):
            edges = cooccurrence_edges_from_arrays(doc_terms,
                                                   assume_deduped=True)
            write_stage_branches(
                {
                    "mentions": doc_terms.select(
                        F.col("url").alias("subj"),
                        F.explode("_terms").alias("obj"),
                        F.lit(None).cast("long").alias("weight")),
                    "co_occurs_with": edges.select(
                        F.col("src").alias("subj"), F.col("dst").alias("obj"),
                        F.col("weight").cast("long").alias("weight")),
                    "is_a": local_df(
                        spark, [(c, p, None) for c, p in isa_pairs],
                        branch_schema),
                },
                out, "triples", partition_col="pred",
                input_fingerprint=fp, metrics={"n_mentions": n_mentions})
        with tracer.span("nodes"):
            run_stage(spark, out, "nodes",
                      lambda: node_table(doc_terms, dict_rows),
                      partition_by=["kind"], input_fingerprint=fp)
        with tracer.span("isa_closure"):
            closure = local_df(
                spark,
                [(d, "is_a_transitive", a, None)
                 for d, a in transitive_closure_rows(isa_pairs)],
                "subj string, pred string, obj string, weight long",
            ).coalesce(1)
            write_stage(closure, out, "isa_closure", input_fingerprint=fp)
    return read_manifest(out, "triples")["total_rows"]


def absorb(spark, kg_root, batch_path, dict_rows, batch_fp, tracer):
    """Commit one crawl batch into the live KG root."""
    with tracer.span("absorb_batch"):
        stats = absorb_batch(spark, kg_root, spark.read.parquet(batch_path),
                             dict_rows, batch_fp)
    if stats["status"] != "committed":
        raise RuntimeError(f"batch {batch_fp} not committed: {stats}")
    return stats


def association_read(spark, kg_root, head, tracer):
    """The reference's /visualise_associations query over the live KG:
    the head class and its is-a descendants, then their top co-occurring
    classes by summed weight."""
    with tracer.span("live_read"):
        v = register_kg_views(spark, kg_root)
        rows = spark.sql(f"""
            WITH d AS (
              SELECT subj AS c FROM {v['isa_closure']} WHERE obj = '{head}'
              UNION SELECT '{head}' AS c),
            nb AS (
              SELECT e.dst AS other, e.weight FROM {v['edges']} e
                JOIN d ON e.src = d.c
              UNION ALL
              SELECT e.src AS other, e.weight FROM {v['edges']} e
                JOIN d ON e.dst = d.c)
            SELECT other, SUM(weight) AS weight FROM nb
            WHERE other NOT IN (SELECT c FROM d)
            GROUP BY other ORDER BY weight DESC, other LIMIT {TOP_K}
        """).collect()
    return [(r["other"], int(r["weight"])) for r in rows]


def triples_digest(df) -> dict:
    """Per-predicate digest of a triples DataFrame."""
    by_pred: dict = {}
    for r in df.select("subj", "pred", "obj", "weight").toPandas().itertuples(
            index=False):
        w = None if r.weight != r.weight else int(r.weight)  # NaN is null
        by_pred.setdefault(r.pred, []).append((r.subj, r.obj, w))
    return {p: digest(rows) for p, rows in sorted(by_pred.items())}


def stage_digests(spark, root, stages) -> dict:
    """Digest of each stage's rows (array columns sorted, since
    collect_set order is not defined)."""
    out = {}
    for stage in stages:
        df = read_stage(spark, root, stage)
        cols = sorted(df.columns)
        out[stage] = digest(
            tuple("|".join(sorted(v)) if isinstance(v, list) else v
                  for v in (r[c] for c in cols))
            for r in df.collect())
    return out


def cooccur_load(spark, root) -> tuple:
    """(pairs the co-occurrence explode emits, the largest class document
    frequency) over the live doc_terms view."""
    v = register_kg_views(spark, root, prefix="load_")
    dt = spark.table(v["doc_terms"])
    n = F.size("_terms").cast("long")
    pairs = dt.select(F.sum(n * (n - 1) / 2)).first()[0]
    max_df = (dt.select(F.explode("_terms").alias("c")).groupBy("c").count()
              .agg(F.max("count")).first()[0])
    return int(pairs), int(max_df)


def pred_counts(root) -> dict:
    """Committed triples rows per predicate, from the stage manifest."""
    return {p["pred"]: p["rows"]
            for p in read_manifest(root, "triples")["partitions"]}
