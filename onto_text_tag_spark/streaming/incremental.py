"""Incremental (streaming) KG construction surface.

The reference is strictly request/response + offline rebuild
(SURVEY.md §1.4) — streaming is an additive capability: the same
tagging logic applied to a document stream via Structured Streaming,
with watermarked windowed aggregation of mention counts.

The tagging stage reuses the exact batch automaton (broadcast once;
``mapInPandas`` works identically on streaming DataFrames), so batch
and streaming tagging can never diverge.  The sink contract is
checkpointed exactly-once-per-epoch parquet — the streaming analog of
sinks.write_stage.

Scale notes: the stateful ops here (windowed counts) keep bounded state
via watermarks; the co-occurrence self-join is NOT offered in streaming
mode (stream-stream self-join state would be unbounded over a corpus) —
co-occurrence stays a batch/rollup stage over the mention table, which
is the correct architecture at 10^12 docs anyway.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from onto_text_tag_spark.operators.tagger import tag_documents
from onto_text_tag_spark.schemas import DOCUMENTS


def read_document_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int = 16,
) -> DataFrame:
    """File-source document stream (new parquet files under ``path``).

    ``maxFilesPerTrigger`` bounds per-epoch work — backpressure for
    bursty crawls."""
    return (
        spark.readStream.schema(DOCUMENTS)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def tag_stream(documents: DataFrame, dictionary: DataFrame) -> DataFrame:
    """Streaming mention extraction — same operator as batch tagging.

    ``tag_documents`` only uses narrow ops (select + mapInPandas), all
    streaming-compatible; the dictionary is a batch DataFrame collected
    and broadcast once at query start."""
    return tag_documents(documents, dictionary)


def windowed_mention_counts(
    mentions: DataFrame,
    events_ts_col: str = "ingest_ts",
    window: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Watermarked tumbling-window counts per CURIE (late data dropped
    after the watermark; state bounded)."""
    return (
        mentions.withWatermark(events_ts_col, watermark)
        .groupBy(
            F.window(F.col(events_ts_col), window).alias("w"),
            F.col("curie"),
        )
        .agg(F.count("*").alias("n_mentions"))
        .select(
            F.col("w.start").alias("wstart"),
            F.col("w.end").alias("wend"),
            "curie",
            "n_mentions",
        )
    )


def sessionize_stream(
    events: DataFrame,
    gap_seconds: int = 1800,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Custom stateful streaming operator: gap-based sessionization via
    ``applyInPandasWithState`` (the streaming twin of the batch
    ``events_sessionize`` driver query).

    Per-user state = (session_start, last_ts, n_events) as epoch
    seconds; an event arriving more than ``gap_seconds`` after the last
    one CLOSES the current session (emitted with ``closed=true``) and
    opens a new one.  The currently-open session is emitted each
    micro-batch with ``closed=false`` (update mode), so downstream sinks
    always see the freshest session picture without waiting for
    timeouts.

    Scale notes: state is O(active users), a few longs each; the only
    shuffle is the groupBy on the user key — identical key layout to the
    batch sessionizer, so a lambda architecture shares partitioning.
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        f"{user_col} string, session_start timestamp, "
        "session_end timestamp, n_events long, closed boolean"
    )
    state_schema = "start long, last long, n long"

    def fn(key: tuple, pdfs, state: GroupState):
        (user,) = key
        if state.exists:
            start, last, n = state.get
        else:
            start, last, n = None, None, 0
        closed_rows = []
        ts_values = []
        for pdf in pdfs:
            ts_values.extend(
                int(t.timestamp()) for t in pd.to_datetime(pdf[ts_col])
            )
        for t in sorted(ts_values):
            if last is not None and t - last > gap_seconds:
                closed_rows.append((user, start, last, n, True))
                start, last, n = t, t, 1
            else:
                start = t if start is None else start
                last, n = t, n + 1
        state.update((start, last, n))
        rows = closed_rows + [(user, start, last, n, False)]
        yield pd.DataFrame(
            {
                user_col: [r[0] for r in rows],
                "session_start": pd.to_datetime(
                    [r[1] for r in rows], unit="s"
                ),
                "session_end": pd.to_datetime([r[2] for r in rows], unit="s"),
                "n_events": [r[3] for r in rows],
                "closed": [r[4] for r in rows],
            }
        )

    return events.groupBy(user_col).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def start_mentions_sink(
    mentions: DataFrame,
    out_path: str,
    checkpoint_path: str,
):
    """Checkpointed append sink: the streaming analog of write_stage —
    resumable exactly-once file output."""
    return (
        mentions.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
        .start()
    )


def start_kg_update_sink(
    documents: DataFrame,
    kg_root: str,
    dictionary_rows: list[dict],
    checkpoint_path: str,
    lang: str | None = "en",
    compact_every: int | None = None,
    links: bool = False,
    sketch_k: int | None = None,
):
    """Continuous crawl ingestion: absorb every micro-batch of pages
    into a KG snapshot root via the staged idempotent commit protocol
    (``plans/kg_absorb.py`` — the same core as ``jobs/kg_update.py``).

    Exactly-once KG commits under at-least-once delivery: the batch
    fingerprint is keyed by the epoch id, which Structured Streaming
    keeps stable across failure replays, so a replayed epoch hits the
    already-committed no-op.  State is bounded — the co-occurrence
    aggregate lives in the stage snapshot on storage (merged per epoch,
    LSM-style), NOT in streaming state, which is what makes continuous
    co-occurrence maintenance feasible where a stream-stream self-join
    is not (module docstring).  Bootstrap an empty root with
    ``plans/kg_absorb.py:init_kg_root`` to build the whole KG from the
    stream alone.

    ``compact_every=N`` folds small-files maintenance into the sink:
    after every Nth COMMITTED epoch the append-grown stages are
    rewritten into right-sized files (``compact_stage`` — content
    identical, fingerprint kept).  Replayed epochs hit the absorb
    no-op and skip compaction entirely, so replays stay pure no-ops.

    ``links=True`` additionally absorbs each epoch's anchor link graph
    (``absorb_links``: link facts append, host weights merge) under its
    own epoch-keyed fingerprint — same exactly-once algebra, so the
    link store tracks the KG store epoch for epoch.

    ``sketch_k=K`` maintains the KMV term-df sketch stage from each
    epoch's mention delta (``absorb_term_sketch`` via ``absorb_batch``;
    the merge is exact, so the streamed sketch always equals a batch
    sketch over every absorbed document)."""
    from onto_text_tag_spark.plans.kg_absorb import (
        absorb_batch,
        absorb_links,
        compact_stage,
    )

    def _absorb(batch_df: DataFrame, epoch_id: int) -> None:
        result = absorb_batch(
            batch_df.sparkSession, kg_root, batch_df, dictionary_rows,
            batch_fp=f"stream-epoch-{epoch_id}", lang=lang,
            sketch_k=sketch_k,
        )
        if links:
            absorb_links(
                batch_df.sparkSession, kg_root, batch_df,
                batch_fp=f"stream-epoch-{epoch_id}:links",
            )
        if (
            compact_every
            and result["status"] == "committed"
            and (epoch_id + 1) % compact_every == 0
        ):
            for stage in ("mentions", "doc_terms", "triples"):
                compact_stage(batch_df.sparkSession, kg_root, stage)

    return (
        documents.writeStream.foreachBatch(_absorb)
        .option("checkpointLocation", checkpoint_path)
        .start()
    )


def init_crawl_root(
    spark: SparkSession,
    root: str,
    onto_rows: list[dict],
    doc_schema,
    id_col: str = "url",
    num_hashes: int = 64,
) -> None:
    """Bootstrap a combined crawl root: ``<root>/dedup`` (stored-shingle
    dedup layout) + ``<root>/kg`` (kg_build stage layout), the two
    stores ``start_crawl_sink`` maintains."""
    import os

    from onto_text_tag_spark.plans.dedup_absorb import init_dedup_root
    from onto_text_tag_spark.plans.kg_absorb import init_kg_root

    init_dedup_root(spark, os.path.join(root, "dedup"), doc_schema,
                    id_col=id_col, num_hashes=num_hashes)
    init_kg_root(spark, os.path.join(root, "kg"), onto_rows)


def start_crawl_sink(
    documents: DataFrame,
    root: str,
    dictionary_rows: list[dict],
    checkpoint_path: str,
    lang: str | None = None,
    id_col: str = "url",
    text_col: str = "text",
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 8,
    shingle_k: int = 5,
    shingle_mode: str = "word",
    max_bucket_size: int = 200,
    prefilter_margin: float = 0.1,
    minhash_method: str = "oph",
    compact_every: int | None = None,
):
    """The full crawl-to-graph pipeline as ONE continuous sink:
    dedup-gated KG construction with exact retraction.

    Per micro-batch of pages, in order:

    1. **dedup absorb** into ``<root>/dedup`` — exact + near-dup the
       batch against the accumulated fingerprint store
       (``plans/dedup_absorb.py``; store-only verify, no corpus
       re-read);
    2. **KG absorb** of ONLY this epoch's dedup SURVIVORS into
       ``<root>/kg`` (``plans/kg_absorb.py:absorb_batch``) — duplicate
       pages never pollute mention counts or co-occurrence weights;
    3. **KG retraction** of base docs this epoch DEMOTED
       (``retract_batch``): when a bridging page merges two clusters,
       the page that loses representative status has its mention
       triples masked and its co-occurrence weight contributions
       subtracted exactly, so at every epoch boundary the KG equals a
       batch build over the CURRENT live deduped corpus
       (``read_deduped``) — pinned by tests/test_crawl_sink.py.

    Each step is individually idempotent under the epoch-keyed
    fingerprint (``crawl-epoch-N`` / ``crawl-epoch-N:retract``), so the
    composition is crash-safe at any point: a replayed epoch re-drives
    the sequence and every already-committed step no-ops.  The epoch's
    step inputs derive from COMMITTED STORE STATE, never a recompute
    of the dedup decision (backend-independent — works for file- and
    table-backed roots alike):

    * the KG absorbs ``read_deduped ⋉ batch ids`` — this epoch's
      admitted pages; a re-delivered url from an earlier epoch can
      slip into the semi-join, but ``absorb_batch``'s own seen-url
      anti-join (against the physical doc_terms stage) makes the
      over-approximation exact;
    * the retraction takes the FULL ``demoted`` delete set —
      ``retract_batch``'s already-retracted anti-join reduces it to
      exactly the urls not yet forgotten, so each epoch retracts its
      own demotions (plus any straggler an interrupted earlier epoch
      left behind — strictly more crash-robust than an exact per-epoch
      set).

    At-least-once foreachBatch delivery, exactly-once store commits.

    Scale: streaming state is EMPTY (all state lives in the two stage
    roots, merged LSM-style per epoch); per-epoch cost is
    O(batch) fingerprint/tag work plus one pair-keyed weight merge.
    ``compact_every=N`` folds small-files maintenance over both roots
    into every Nth committed epoch (file-backed roots; a catalog
    deployment leaves compaction to Iceberg's rewrite_data_files)."""
    import os

    from onto_text_tag_spark.plans.dedup_absorb import (
        absorb_dedup_batch,
        read_deduped,
    )
    from onto_text_tag_spark.plans.kg_absorb import (
        absorb_batch,
        compact_stage,
        retract_batch,
    )
    from onto_text_tag_spark.sinks import read_manifest, read_stage

    dedup_root = os.path.join(root, "dedup")
    kg_root = os.path.join(root, "kg")

    def _absorb(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        fp = f"crawl-epoch-{epoch_id}"

        absorb_dedup_batch(
            spark, dedup_root, None, batch_df, batch_fp=fp,
            id_col=id_col, text_col=text_col, threshold=threshold,
            num_hashes=num_hashes, bands=bands, shingle_k=shingle_k,
            shingle_mode=shingle_mode, max_bucket_size=max_bucket_size,
            prefilter_margin=prefilter_margin,
            minhash_method=minhash_method,
        )

        batch_ids = batch_df.select(id_col).distinct()
        survivors = read_deduped(spark, dedup_root).join(
            batch_ids, id_col, "left_semi")
        if survivors.limit(1).count() > 0:
            absorb_batch(
                spark, kg_root, survivors,
                dictionary_rows, batch_fp=fp, lang=lang,
            )
        if read_manifest(dedup_root, "demoted").get("total_rows", 0) > 0:
            from onto_text_tag_spark.plans.kg_absorb import read_retracted

            demoted = read_stage(spark, dedup_root, "demoted").select(
                F.col(id_col).alias("url"))
            already = read_retracted(spark, kg_root)
            pending = (demoted if already is None
                       else demoted.join(already, "url", "left_anti"))
            # only commit a retraction when something is actually
            # pending — an epoch that demotes nothing must not grow
            # the snapshot log with empty retractions
            if pending.limit(1).count() > 0:
                retract_batch(
                    spark, kg_root, pending,
                    batch_fp=f"{fp}:retract",
                )

        if (
            compact_every
            and result["status"] == "committed"
            and (epoch_id + 1) % compact_every == 0
        ):
            for stage_root, stage in (
                (dedup_root, "signatures"), (dedup_root, "deduped"),
                (dedup_root, "demoted"), (kg_root, "mentions"),
                (kg_root, "doc_terms"), (kg_root, "triples"),
            ):
                if read_manifest(stage_root, stage).get("n_files", 0) > 1:
                    compact_stage(spark, stage_root, stage)

    return (
        documents.writeStream.foreachBatch(_absorb)
        .option("checkpointLocation", checkpoint_path)
        .start()
    )


def start_dedup_update_sink(
    documents: DataFrame,
    dedup_root: str,
    checkpoint_path: str,
    id_col: str = "url",
    text_col: str = "text",
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 8,
    shingle_k: int = 5,
    shingle_mode: str = "word",
    max_bucket_size: int = 200,
    prefilter_margin: float = 0.1,
    minhash_method: str = "oph",
    compact_every: int | None = None,
):
    """Continuous crawl DEDUP ingestion: absorb every micro-batch of
    pages into a ``jobs/dedup_corpus.py``-layout snapshot root via the
    staged idempotent commit protocol (``plans/dedup_absorb.py`` — the
    same core as ``jobs/dedup_update.py``).

    Bootstrap an empty root with ``plans/dedup_absorb.py:
    init_dedup_root`` (``store_shingles=True``, the default) and the
    whole corpus can arrive as stream epochs: each batch is
    fingerprinted, exact-dup'd against the accumulated digest store,
    LSH-banded against the accumulated signature store, and verified by
    exact shingle Jaccard over the STORED shingle arrays — the sink
    never reads any corpus file besides the incoming batch, which is
    what makes it deployable as a pure stream consumer.  Survivors
    file-append into ``deduped``; base docs a bridging page demotes
    land in the merge-on-read ``demoted`` delete set (the live corpus
    view is ``read_deduped``).

    Exactly-once commits under at-least-once ``foreachBatch`` delivery:
    the batch fingerprint is keyed by the epoch id, which Structured
    Streaming keeps stable across failure replays, so a replayed epoch
    hits the already-committed no-op.  Streaming state is EMPTY — the
    dedup state (signatures, shingles, cluster map) lives in the stage
    snapshots on storage, merged per epoch LSM-style, so state size is
    bounded by storage, not executor memory, at any corpus scale.

    ``compact_every=N`` folds small-files maintenance into the sink:
    after every Nth COMMITTED epoch, append-grown stages with more than
    one file are rewritten into right-sized files (content identical,
    fingerprints kept).  Knobs must stay constant for the life of the
    root — they define the signature/banding layout."""
    from onto_text_tag_spark.plans.dedup_absorb import absorb_dedup_batch
    from onto_text_tag_spark.plans.kg_absorb import compact_stage
    from onto_text_tag_spark.sinks import read_manifest

    def _absorb(batch_df: DataFrame, epoch_id: int) -> None:
        result = absorb_dedup_batch(
            batch_df.sparkSession, dedup_root, None, batch_df,
            batch_fp=f"stream-epoch-{epoch_id}",
            id_col=id_col, text_col=text_col, threshold=threshold,
            num_hashes=num_hashes, bands=bands, shingle_k=shingle_k,
            shingle_mode=shingle_mode, max_bucket_size=max_bucket_size,
            prefilter_margin=prefilter_margin,
            minhash_method=minhash_method,
        )
        if (
            compact_every
            and result["status"] == "committed"
            and (epoch_id + 1) % compact_every == 0
        ):
            for stage in ("signatures", "deduped", "demoted"):
                if read_manifest(dedup_root, stage).get("n_files", 0) > 1:
                    compact_stage(batch_df.sparkSession, dedup_root, stage)

    return (
        documents.writeStream.foreachBatch(_absorb)
        .option("checkpointLocation", checkpoint_path)
        .start()
    )


def start_paragraph_update_sink(
    documents: DataFrame,
    para_root: str,
    checkpoint_path: str,
    id_col: str = "url",
    text_col: str = "text",
    compact_every: int | None = None,
):
    """Continuous paragraph-level dedup ingestion: absorb every
    micro-batch of pages into a ``plans/paragraph_absorb.py`` root —
    the streaming deployment of CCNet-style paragraph dedup.  Each
    epoch's paragraphs are first-occurrence-ranked within the batch,
    anti-joined against the accumulated paragraph-digest store, and the
    rebuilt documents file-append into ``deduped``; the digest store
    grows by exactly the batch's newly-claimed paragraphs.

    Exactly-once commits under at-least-once ``foreachBatch`` delivery:
    the batch fingerprint is keyed by the epoch id (stable across
    failure replays), so a replayed epoch hits the already-committed
    no-op.  Streaming state is EMPTY — the dedup state is the digest
    store on storage, so state size is bounded by storage, not executor
    memory.  Bootstrap an empty root with ``init_paragraph_root``.

    ``compact_every=N`` folds small-files maintenance into the sink
    exactly as in ``start_dedup_update_sink``."""
    from onto_text_tag_spark.plans.kg_absorb import compact_stage
    from onto_text_tag_spark.plans.paragraph_absorb import (
        absorb_paragraph_batch,
    )
    from onto_text_tag_spark.sinks import read_manifest

    def _absorb(batch_df: DataFrame, epoch_id: int) -> None:
        result = absorb_paragraph_batch(
            batch_df.sparkSession, para_root, batch_df,
            batch_fp=f"stream-epoch-{epoch_id}",
            id_col=id_col, text_col=text_col,
        )
        if (
            compact_every
            and result["status"] == "committed"
            and (epoch_id + 1) % compact_every == 0
        ):
            for stage in ("para_digests", "deduped"):
                if read_manifest(para_root, stage).get("n_files", 0) > 1:
                    compact_stage(batch_df.sparkSession, para_root, stage)

    return (
        documents.writeStream.foreachBatch(_absorb)
        .option("checkpointLocation", checkpoint_path)
        .start()
    )


def start_media_update_sink(
    media: DataFrame,
    media_root: str,
    checkpoint_path: str,
    family: str = "image",
    max_dist: int | None = None,
    max_bucket_size: int | None = 200,
    compact_every: int | None = None,
):
    """Continuous perceptual media dedup ingestion: absorb every
    micro-batch of media rows into a ``plans/image_absorb.py`` root —
    the streaming deployment of the multimodal dedup family, for any
    of its three members (``family`` = image | audio | video).  Each
    epoch decodes + perceptually hashes only its never-seen media ids,
    finds near-duplicate pairs against the accumulated hash store
    through the banded candidate machinery, and appends hashes +
    verified pairs.

    Exactly-once commits under at-least-once ``foreachBatch`` delivery
    (epoch-keyed batch fingerprints; replays hit the committed no-op);
    streaming state is EMPTY — the dedup state is the hash store on
    storage.  Bootstrap with ``init_media_root``.  ``compact_every=N``
    folds small-files maintenance into the sink exactly as in
    ``start_dedup_update_sink``."""
    from onto_text_tag_spark.plans.image_absorb import absorb_media_batch
    from onto_text_tag_spark.plans.kg_absorb import compact_stage
    from onto_text_tag_spark.sinks import read_manifest

    def _absorb(batch_df: DataFrame, epoch_id: int) -> None:
        result = absorb_media_batch(
            batch_df.sparkSession, media_root, batch_df,
            batch_fp=f"stream-epoch-{epoch_id}", family=family,
            max_dist=max_dist, max_bucket_size=max_bucket_size,
        )
        if (
            compact_every
            and result["status"] == "committed"
            and (epoch_id + 1) % compact_every == 0
        ):
            for stage in (f"{family}_sigs", f"{family}_dups"):
                if read_manifest(media_root, stage).get("n_files", 0) > 1:
                    compact_stage(batch_df.sparkSession, media_root, stage)

    return (
        media.writeStream.foreachBatch(_absorb)
        .option("checkpointLocation", checkpoint_path)
        .start()
    )


def start_image_update_sink(
    media: DataFrame,
    image_root: str,
    checkpoint_path: str,
    max_dist: int = 10,
    max_bucket_size: int | None = 200,
    compact_every: int | None = None,
):
    """Image-family form of ``start_media_update_sink`` (the original
    surface, unchanged)."""
    return start_media_update_sink(
        media, image_root, checkpoint_path, family="image",
        max_dist=max_dist, max_bucket_size=max_bucket_size,
        compact_every=compact_every,
    )
