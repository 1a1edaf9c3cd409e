"""Incremental perceptual media dedup: absorb crawl-batch media into a
perceptual-hash store at O(delta) cost, never re-hashing (let alone
re-decoding) the accumulated media corpus.  One core, three families:

* ``image`` — dHash over decoded pixels (``multimodal.image_dhash``);
* ``audio`` — block-energy hash over decoded PCM samples
  (``multimodal.audio_dhash``);
* ``video`` — temporal luma-envelope hash over decoded AVI frames
  (``multimodal.video_dhash``).

north_rule framing: the multimodal members of the incremental dedup
family (text twin: ``plans/dedup_absorb.py``).  All three hashes share
the 4×16-bit-band signature shape, so the mergeable dedup state is the
(media_id, 4-band sig) relation — a few dozen bytes per item vs the
payload's kilobytes — and a delta batch costs:

* decode + hash ONLY the batch's never-seen media ids (row-local
  Arrow kernel);
* candidate pairs involving ≥1 delta item via the SAME banded
  machinery the text path uses (``dedup.incremental_lsh_pairs`` over
  the bands as precomputed signatures): the store ships only
  (id, band, bucket) rows for buckets a delta member touches;
* exact Hamming verify of the candidates against the hash relation;
* surviving pairs + delta hashes APPEND into the live stages.

Equality contract (pinned by tests/test_image_absorb.py +
tests/test_media_absorb.py): ``absorb(A); absorb(B)`` yields exactly
the pair set of the family's batch operator over ``A ∪ B`` at the same
``max_dist`` (with the same bucket-cap setting): base-base pairs are
committed history, every pair with a delta endpoint is found by the
delta-vs-store pass.

Commit protocol: the ``sinks.begin_commit`` / ``finish_commit`` staged
commit (single writer per root, crash-safe, idempotent) — delta
snapshots staged, appended into the live stages, ``{family}_dups``
sealed LAST: its snapshot log is the commit point.
"""

from __future__ import annotations

import hashlib
import time

from pyspark.sql import DataFrame, SparkSession

from onto_text_tag_spark.operators.dedup import incremental_lsh_pairs
from onto_text_tag_spark.operators.multimodal import (
    aggregate_frame_pairs,
    audio_dhash,
    audio_segment_sigs,
    image_dhash,
    image_tile_sigs,
    verify_hamming_pairs,
    video_dhash,
    video_frame_sigs,
)
from onto_text_tag_spark.sinks import (
    CommitOp,
    begin_commit,
    finish_commit,
    read_manifest,
    read_stage,
    run_stage,
    write_stage,
)

# family -> (perceptual hash kernel, default exact-verify threshold);
# every kernel emits the (media_id, sig array<long> of 4 16-bit bands)
# relation the banded candidate machinery consumes.  ``video_frames``
# is the FRAME-granular video family (shared-footage detection — the
# paragraph-absorb analog): its "ids" are media_id#frame_idx keys, its
# pair ledger holds frame pairs, and ``read_video_shared_frames``
# aggregates them back to video pairs.
_FAMILIES = {
    "image": (image_dhash, 10),
    "audio": (audio_dhash, 8),
    "video": (video_dhash, 8),
    "video_frames": (video_frame_sigs, 4),
    "audio_segments": (audio_segment_sigs, 4),
    "image_tiles": (image_tile_sigs, 4),
}


def read_video_shared_frames(spark: SparkSession, root: str,
                             min_frames: int = 2) -> DataFrame:
    """The live ``video_frames`` pair ledger aggregated to video pairs
    (id_a, id_b, n_shared_frames, min_hamming) — the incremental view
    of ``multimodal.video_shared_frames`` over every absorbed batch."""
    return aggregate_frame_pairs(
        read_media_dups(spark, root, "video_frames"), min_frames)


def read_audio_shared_segments(spark: SparkSession, root: str,
                               min_segments: int = 2) -> DataFrame:
    """The live ``audio_segments`` pair ledger aggregated to audio
    pairs (id_a, id_b, n_shared_segments, min_hamming) — the
    incremental view of ``multimodal.audio_shared_segments`` over
    every absorbed batch."""
    return aggregate_frame_pairs(
        read_media_dups(spark, root, "audio_segments"), min_segments,
        count_col="n_shared_segments")


def read_image_shared_tiles(spark: SparkSession, root: str,
                            min_tiles: int = 2) -> DataFrame:
    """The live ``image_tiles`` pair ledger aggregated to image pairs
    (id_a, id_b, n_shared_tiles, min_hamming) — the incremental view
    of ``multimodal.image_shared_tiles`` over every absorbed batch."""
    return aggregate_frame_pairs(
        read_media_dups(spark, root, "image_tiles"), min_tiles,
        count_col="n_shared_tiles")


def _family(family: str):
    if family not in _FAMILIES:
        raise ValueError(
            f"unknown media family {family!r}: expected one of "
            f"{sorted(_FAMILIES)}")
    return _FAMILIES[family]


def init_media_root(spark: SparkSession, root: str,
                    family: str = "image") -> None:
    """Bootstrap an EMPTY media-dedup root (empty hash store + pair
    ledger) so the entire media corpus can arrive as absorb commits."""
    _family(family)
    write_stage(
        spark.createDataFrame(
            [], "media_id string, sig array<long>").repartition(1),
        root, f"{family}_sigs", input_fingerprint="init",
    )
    write_stage(
        spark.createDataFrame(
            [], "id_a string, id_b string, hamming long").repartition(1),
        root, f"{family}_dups", input_fingerprint="init",
    )


def read_media_dups(spark: SparkSession, root: str,
                    family: str = "image") -> DataFrame:
    """The live near-duplicate pair ledger (append-grown)."""
    return read_stage(spark, root, f"{family}_dups")


def absorb_media_batch(
    spark: SparkSession,
    root: str,
    media: DataFrame,
    batch_fp: str,
    family: str = "image",
    max_dist: int | None = None,
    max_bucket_size: int | None = 200,
) -> dict:
    """Commit one media batch into perceptual-dedup root ``root``
    (stage → append → seal).  Returns batch metrics; an
    already-committed fingerprint returns a no-op marker without
    touching the store.  Works under both stage backends: both media
    stages — signatures and the pair ledger — are append-grown."""
    hash_fn, default_dist = _family(family)
    if max_dist is None:
        max_dist = default_dist
    t0 = time.time()
    sigs_stage, dups_stage = f"{family}_sigs", f"{family}_dups"
    tag = hashlib.md5(
        (family + ":" + batch_fp).encode()).hexdigest()[:12]
    staging = begin_commit(root, f"{family[:3]}-{tag}", batch_fp,
                           log_stage=dups_stage)
    if staging is None:
        return {
            "status": "noop_already_committed",
            "batch_fingerprint": batch_fp,
            "sec": round(time.time() - t0, 2),
        }
    stored = read_stage(spark, root, sigs_stage)

    # decode+hash only never-seen ids; in-batch repeats collapse first
    # (a crawl re-fetch can repeat a media_id within one batch)
    delta_sigs = run_stage(
        spark, staging, "sigs_delta",
        lambda: hash_fn(media)
        .dropDuplicates(["media_id"])
        .join(stored.select("media_id"), "media_id", "left_anti"),
        input_fingerprint=batch_fp,
    )

    def _pairs() -> DataFrame:
        cand = incremental_lsh_pairs(
            stored, delta_sigs, id_col="media_id",
            num_hashes=4, bands=4, max_bucket_size=max_bucket_size,
        )
        all_sigs = stored.unionByName(delta_sigs)
        return verify_hamming_pairs(cand, all_sigs, max_dist)

    run_stage(
        spark, staging, "dups_delta", _pairs,
        input_fingerprint=batch_fp,
    )
    n_new_items = read_manifest(staging, "sigs_delta")["total_rows"]
    n_new_pairs = read_manifest(staging, "dups_delta")["total_rows"]

    metrics = {
        "batch_fingerprint": batch_fp,
        "batch_items": n_new_items,
        "batch_pairs": n_new_pairs,
    }
    # dups LAST = commit point
    finish_commit(spark, root, staging, [
        CommitOp("append", "sigs_delta", sigs_stage),
        CommitOp("append", "dups_delta", dups_stage),
    ], metrics, batch_fp=batch_fp)
    return {
        "status": "committed",
        "batch_fingerprint": batch_fp,
        "n_new_items": n_new_items,
        "n_new_pairs": n_new_pairs,
        "n_items_total": read_manifest(root, sigs_stage)["total_rows"],
        "n_pairs_total": read_manifest(root, dups_stage)["total_rows"],
        "sec": round(time.time() - t0, 2),
    }


# -- image-family wrappers (the original surface; stage names and the
# equality/commit contracts are unchanged) ----------------------------------

def init_image_root(spark: SparkSession, root: str) -> None:
    init_media_root(spark, root, "image")


def read_image_dups(spark: SparkSession, root: str) -> DataFrame:
    return read_media_dups(spark, root, "image")


def absorb_image_batch(
    spark: SparkSession,
    root: str,
    media: DataFrame,
    batch_fp: str,
    max_dist: int = 10,
    max_bucket_size: int | None = 200,
) -> dict:
    out = absorb_media_batch(
        spark, root, media, batch_fp, family="image",
        max_dist=max_dist, max_bucket_size=max_bucket_size,
    )
    if out["status"] == "committed":
        out = {**out,
               "n_new_images": out["n_new_items"],
               "n_images_total": out["n_items_total"]}
    return out
