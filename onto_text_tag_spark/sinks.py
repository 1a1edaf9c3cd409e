"""Materialization sinks: partitioned tables + lineage + resumable stages.

north_rule: "resumable from checkpoint with per-partition lineage +
metrics".  The reference's devices were shelve/pickle KV dumps and an
``exec()``-driven rebuild (build_ontotermentions.py) gated by pickle
existence checks (app.py:597,745); here every stage is an idempotent
snapshot write:

* ``write_stage``    — writes a DataFrame as (optionally partitioned)
                       parquet under ``<root>/<stage>/data``, then a
                       ``_MANIFEST.json`` with per-partition row counts
                       + bytes (lineage) and stage-level metrics, and
                       finally an atomic ``_SUCCESS_STAGE`` marker with
                       the input fingerprint.
* ``write_stage_branches`` — same stage contract, but each partition
                       value is written by its own Spark job (scaling:
                       see its docstring).
* ``stage_is_current`` — True iff the marker exists AND the recorded
                       input fingerprint matches — the snapshot-check
                       resume device: re-running the DAG skips stages
                       whose inputs are unchanged (idempotent re-run).
* ``run_stage``      — compute-or-reuse wrapper implementing resume.
* ``snapshot_log``   — append-only commit history per stage
                       (``_SNAPSHOT_LOG.jsonl``, Iceberg snapshot-log
                       analog): every committed write appends its full
                       lineage manifest under a monotonically
                       increasing ``snapshot_id``;
                       ``read_manifest(snapshot_id=...)`` time-travels
                       over the committed metadata, and — because every
                       commit records its full data-file list (Iceberg
                       manifest analog) — ``read_stage(snapshot_id=...)``
                       time-travels over the DATA of append-grown stages
                       (absorb commits), whose earlier files are
                       immutable.  Overwritten stages expire their old
                       files (plain overwrite = commit + immediate
                       expire-snapshots) and historical reads of them
                       raise.
* ``begin_commit`` / ``finish_commit`` — the staged commit behind every
                       incremental operation (absorb, retraction, fold,
                       compaction, refresh): recover torn swaps, stage
                       the new content as resumable snapshots, then
                       append / replace / partition-replace live stages
                       on either backend and seal them, commit point
                       last.

Iceberg provides this natively (snapshots + manifests); its runtime jar
is not present in this sandbox, so the same contract is implemented on
plain parquet + JSON sidecars.  On a cluster with an Iceberg catalog
(``iceberg_available``), ``write_stage`` routes the DATA write to
``df.writeTo(table).createOrReplace()`` and ``read_stage`` to
``spark.table(table)`` — call sites don't change; the manifest/marker/
snapshot-log sidecars (this engine's resume + lineage contract) are
still written, recording the table identity instead of a file list,
while Iceberg's own snapshot log rides underneath for time-travel.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import time
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


def iceberg_available(spark: SparkSession) -> bool:
    """True when the session catalog is Iceberg-backed — the switch that
    routes ``write_stage``/``read_stage`` data access through catalog
    tables instead of parquet paths."""
    try:
        return (
            spark.conf.get("spark.sql.catalog.spark_catalog", "")
            .lower()
            .find("iceberg")
            >= 0
        )
    except Exception:
        return False


def iceberg_stage_table(spark: SparkSession, root: str, stage: str) -> str:
    """Catalog table a stage maps to under an Iceberg catalog:
    ``<namespace>.<root-slug>_<root-hash>_<stage>`` — deterministic per
    (root, stage), collision-free across roots (the hash), readable in
    a catalog listing (the slug).  Namespace comes from
    ``spark.onto_text_tag.iceberg.namespace`` (default ``onto_kg``)."""
    ns = spark.conf.get("spark.onto_text_tag.iceberg.namespace", "onto_kg")
    slug = re.sub(r"[^a-z0-9_]+", "_",
                  (os.path.basename(os.path.normpath(root)) or "root")
                  .lower()).strip("_") or "root"
    root_h = hashlib.md5(os.path.abspath(root).encode()).hexdigest()[:8]
    safe_stage = re.sub(r"[^a-z0-9_]+", "_", stage.lower())
    return f"{ns}.{slug}_{root_h}_{safe_stage}"


def _snapshot_log_path(root: str, stage: str) -> str:
    return os.path.join(root, stage, "_SNAPSHOT_LOG.jsonl")


def _stage_paths(root: str, stage: str) -> tuple[str, str, str]:
    base = os.path.join(root, stage)
    return (
        os.path.join(base, "data"),
        os.path.join(base, "_MANIFEST.json"),
        os.path.join(base, "_SUCCESS_STAGE"),
    )


def write_stage(
    df: DataFrame,
    root: str,
    stage: str,
    partition_by: list[str] | None = None,
    input_fingerprint: str = "",
    metrics: dict | None = None,
) -> dict:
    """Write one stage snapshot: data + per-partition lineage manifest +
    success marker.  Returns the manifest dict.

    Under an Iceberg session catalog (``iceberg_available``) the data
    write degrades to ``df.writeTo(table).createOrReplace()`` — same
    call-site contract, table-backed data, sidecar lineage preserved."""
    data_path, manifest_path, marker_path = _stage_paths(root, stage)

    spark = df.sparkSession
    if iceberg_available(spark):
        return _write_stage_iceberg(
            df, spark, root, stage, partition_by or [],
            input_fingerprint, metrics,
        )

    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(data_path)
    return _finalize_stage(
        data_path, manifest_path, marker_path, stage,
        partition_by or [], input_fingerprint, metrics,
        df.schema.jsonValue(),
    )


def _write_stage_iceberg(
    df: DataFrame,
    spark: SparkSession,
    root: str,
    stage: str,
    partition_by: list[str],
    input_fingerprint: str,
    metrics: dict | None,
) -> dict:
    """The Iceberg degradation of ``write_stage``: data lands in a
    catalog table via ``writeTo(...).createOrReplace()``; the sidecar
    manifest records the TABLE identity (no file list — Iceberg's own
    manifests own file-level lineage) plus the same per-partition row
    lineage, derived from one aggregate over the committed table."""
    from pyspark.sql import functions as F

    table = iceberg_stage_table(spark, root, stage)
    writer = df.writeTo(table)
    if partition_by:
        writer = writer.partitionedBy(*[F.col(c) for c in partition_by])
    writer.createOrReplace()
    return _seal_table(spark, root, stage, table, partition_by,
                       input_fingerprint, metrics, df.schema.jsonValue())


def _seal_table(
    spark: SparkSession,
    root: str,
    stage: str,
    table: str,
    partition_by: list[str],
    input_fingerprint: str,
    metrics: dict | None,
    schema_json,
) -> dict:
    """Seal a table-backed stage: per-partition row lineage from one
    aggregate over the committed table, recorded with the table
    identity in the sidecar manifest + marker + snapshot log."""
    from pyspark.sql import functions as F

    _data, manifest_path, marker_path = _stage_paths(root, stage)
    committed = spark.table(table)
    if partition_by:
        # values recorded as strings, matching the file-based path's
        # hive-directory-name keys
        part_counts = [
            {**{c: str(row[c]) for c in partition_by}, "rows": row["rows"]}
            for row in sorted(
                committed.groupBy(*partition_by)
                .agg(F.count("*").alias("rows")).collect(),
                key=lambda r: tuple(str(r[c]) for c in partition_by),
            )
        ]
    else:
        part_counts = [{"rows": committed.count()}]

    manifest = {
        "stage": stage,
        "written_at_unix": int(time.time()),
        "input_fingerprint": input_fingerprint,
        "format": "iceberg",
        "table": table,
        "partition_by": partition_by,
        "partitions": part_counts,
        "total_rows": sum(p["rows"] for p in part_counts),
        "metrics": metrics or {},
        "schema": schema_json,
    }
    return _commit_manifest(manifest_path, marker_path, manifest)


def write_stage_branches(
    branches: dict[str, DataFrame],
    root: str,
    stage: str,
    partition_col: str,
    input_fingerprint: str = "",
    metrics: dict | None = None,
) -> dict:
    """Write one stage as independent per-branch jobs into hive-style
    ``<partition_col>=<value>/`` subdirectories.

    Semantically identical to ``write_stage(unionByName(branches),
    partition_by=[partition_col])`` — ``spark.read.parquet(data)``
    recovers the column from the directory names — but each branch runs
    as its OWN Spark job instead of N union branches feeding one
    dynamic-partition write.  The fused shape schedules every branch's
    output partitions into a single final write stage, whose critical
    path is the slowest branch (the skewed co-occurrence aggregate);
    measured on the 1M-doc corpus the fused write scaled 1.41x from
    2->8 cores while the branch-split shape scaled 2.08x and cut the
    8-core wall time 32%.  Sequential jobs also keep peak shuffle
    footprint to one branch at a time — the property that matters when
    each branch is corpus-sized."""
    data_path, manifest_path, marker_path = _stage_paths(root, stage)
    first_df = next(iter(branches.values()))
    if iceberg_available(first_df.sparkSession):
        # under a catalog the stage is ONE partitioned table; Iceberg's
        # own commit machinery owns per-partition file placement, so
        # the per-branch-job scheduling trick above degrades to the
        # fused dynamic-partition write
        from pyspark.sql import functions as F

        union = None
        for value, df in branches.items():
            part = df.drop(partition_col).withColumn(
                partition_col, F.lit(value))
            union = part if union is None else union.unionByName(part)
        return _write_stage_iceberg(
            union, first_df.sparkSession, root, stage, [partition_col],
            input_fingerprint, metrics,
        )
    shutil.rmtree(data_path, ignore_errors=True)
    schema_json = None
    for value, df in branches.items():
        df = df.drop(partition_col)
        if schema_json is None:
            from pyspark.sql.types import StringType, StructField, StructType

            schema_json = StructType(
                list(df.schema.fields)
                + [StructField(partition_col, StringType(), True)]
            ).jsonValue()
        df.write.mode("overwrite").parquet(
            os.path.join(data_path, f"{partition_col}={value}")
        )
    return _finalize_stage(
        data_path, manifest_path, marker_path, stage,
        [partition_col], input_fingerprint, metrics, schema_json,
    )


def _finalize_stage(
    data_path: str,
    manifest_path: str,
    marker_path: str,
    stage: str,
    partition_by: list[str],
    input_fingerprint: str,
    metrics: dict | None,
    schema_json,
) -> dict:
    # Per-partition lineage from parquet FOOTERS (pyarrow, driver-side):
    # zero extra Spark jobs.  The previous version re-read the data and
    # ran a groupBy/count job per stage — pure fixed overhead that
    # dominates small/medium runs and caps scaling efficiency (Amdahl).
    # On a real cluster against an object store the same numbers come
    # from the Iceberg snapshot manifest, also without a job.
    import pyarrow.parquet as pq

    part_rows: dict[tuple, int] = {}
    size_bytes = 0
    file_list: list[str] = []
    for dirpath, _dirs, files in os.walk(data_path):
        rel = os.path.relpath(dirpath, data_path)
        key = tuple(
            seg.split("=", 1)[1]
            for seg in ([] if rel == "." else rel.split(os.sep))
            if "=" in seg
        )
        for f in files:
            if f.endswith(".parquet"):
                fp = os.path.join(dirpath, f)
                file_list.append(
                    f if rel == "." else os.path.join(rel, f)
                )
                size_bytes += os.path.getsize(fp)
                nrows = pq.ParquetFile(fp).metadata.num_rows
                part_rows[key] = part_rows.get(key, 0) + nrows
    file_list.sort()
    n_files = len(file_list)
    if partition_by:
        part_counts = [
            {**dict(zip(partition_by, key)), "rows": rows}
            for key, rows in sorted(part_rows.items())
        ]
    else:
        part_counts = [{"rows": sum(part_rows.values())}]

    manifest = {
        "stage": stage,
        "written_at_unix": int(time.time()),
        "input_fingerprint": input_fingerprint,
        "partition_by": partition_by,
        "partitions": part_counts,
        "total_rows": sum(p["rows"] for p in part_counts),
        "n_files": n_files,
        # full data-file list (Iceberg manifest analog): snapshots of
        # APPEND-grown stages reference immutable earlier files, so the
        # log's historical file lists support time-travel data reads
        "files": file_list,
        "size_bytes": size_bytes,
        "metrics": metrics or {},
        "schema": schema_json,
    }
    return _commit_manifest(manifest_path, marker_path, manifest)


def _commit_manifest(
    manifest_path: str, marker_path: str, manifest: dict
) -> dict:
    """Seal a stage commit: assign the next snapshot id, write the
    manifest, the success marker (last — readers treat the stage as
    committed only once the manifest is complete; atomic-enough for a
    single writer per stage), and append to the snapshot log."""
    os.makedirs(os.path.dirname(manifest_path), exist_ok=True)
    log_path = os.path.join(os.path.dirname(manifest_path),
                            "_SNAPSHOT_LOG.jsonl")
    prior_snapshots = 0
    if os.path.exists(log_path):
        with open(log_path) as fh:
            prior_snapshots = sum(1 for ln in fh if ln.strip())
    manifest = {
        "stage": manifest["stage"],
        "snapshot_id": prior_snapshots + 1,
        **{k: v for k, v in manifest.items() if k != "stage"},
    }
    with open(manifest_path, "w") as fh:
        json.dump(manifest, fh, indent=2, default=str)
    with open(marker_path, "w") as fh:
        json.dump({"fingerprint": manifest["input_fingerprint"]}, fh)
    # commit history last: one full manifest per committed snapshot
    with open(log_path, "a") as fh:
        fh.write(json.dumps(manifest, default=str) + "\n")
    return manifest


def stage_is_current(root: str, stage: str, input_fingerprint: str = "") -> bool:
    _data, _manifest, marker_path = _stage_paths(root, stage)
    if not os.path.exists(marker_path):
        return False
    try:
        with open(marker_path) as fh:
            recorded = json.load(fh).get("fingerprint", "")
    except (OSError, json.JSONDecodeError):
        return False
    return recorded == input_fingerprint


def read_stage(
    spark: SparkSession, root: str, stage: str,
    snapshot_id: int | None = None,
) -> DataFrame:
    """Current stage data, or — with ``snapshot_id`` — the stage AS OF
    an earlier commit (Iceberg time-travel analog).

    Historical reads resolve the file list the requested snapshot's
    manifest recorded (every commit stores its full data-file list, the
    Iceberg manifest analog).  They work for APPEND-grown stages — the
    absorb/commit_stage path, where earlier files are immutable — and
    raise for overwritten stages whose files are gone (plain overwrite
    = commit + immediate expire-snapshots, as documented above).

    A stage written under an Iceberg catalog (manifest ``format:
    iceberg``) reads back via ``spark.table``; historical reads of it
    go through Iceberg's native time travel (``VERSION AS OF`` /
    ``snapshot-id``), not the sidecar file lists.
    """
    data_path, manifest_path, _s = _stage_paths(root, stage)
    if os.path.exists(manifest_path):
        try:
            current = read_manifest(root, stage)
        except (OSError, json.JSONDecodeError):
            current = {}
        if current.get("format") == "iceberg":
            if snapshot_id is not None:
                raise NotImplementedError(
                    f"stage {stage!r} is table-backed "
                    f"({current.get('table')}): time-travel through "
                    "Iceberg's native VERSION AS OF, not the sidecar "
                    "snapshot log"
                )
            return spark.table(current["table"])
    if snapshot_id is None:
        return spark.read.parquet(data_path)
    manifest = read_manifest(root, stage, snapshot_id=snapshot_id)
    files = manifest.get("files")
    if files is None:
        raise KeyError(
            f"stage {stage!r} snapshot {snapshot_id} predates file-list "
            "manifests; no time-travel data read possible"
        )
    paths = [os.path.join(data_path, f) for f in files]
    missing = [p for p in paths if not os.path.exists(p)]
    if missing:
        raise FileNotFoundError(
            f"stage {stage!r} snapshot {snapshot_id} is expired: "
            f"{len(missing)} of its {len(paths)} data files were "
            "rewritten by a later overwrite/compaction "
            f"(first missing: {missing[0]})"
        )
    reader = spark.read.option("basePath", data_path)
    return reader.parquet(*paths)


def read_stage_increment(
    spark: SparkSession,
    root: str,
    stage: str,
    since_snapshot_id: int,
    to_snapshot_id: int | None = None,
) -> DataFrame:
    """Rows APPENDED to a stage after ``since_snapshot_id`` (up to
    ``to_snapshot_id``, default the latest commit) — Iceberg's
    incremental-read analog, the surface a downstream consumer tails
    instead of re-scanning the whole stage per crawl batch.

    Works on append-grown stages (absorb commits): the increment is the
    file-list difference between the two snapshots' manifests, so the
    read costs O(delta), never O(stage).  A snapshot range that spans an
    overwrite/compaction (some ``since`` files no longer in ``to``)
    raises — after a rewrite the appended-rows question has no
    file-level answer and a silent wrong result would be worse.
    """
    since = read_manifest(root, stage, snapshot_id=since_snapshot_id)
    to = (
        read_manifest(root, stage)
        if to_snapshot_id is None
        else read_manifest(root, stage, snapshot_id=to_snapshot_id)
    )
    since_files = since.get("files")
    to_files = to.get("files")
    if since_files is None or to_files is None:
        raise KeyError(
            f"stage {stage!r} snapshots predate file-list manifests; "
            "no incremental read possible"
        )
    since_set = set(since_files)
    removed = since_set - set(to_files)
    if removed:
        raise ValueError(
            f"stage {stage!r} was rewritten between snapshots "
            f"{since['snapshot_id']} and {to['snapshot_id']} "
            f"({len(removed)} files gone): the range is not append-only, "
            "re-read the full stage instead"
        )
    new_files = [f for f in to_files if f not in since_set]
    data_path, _m, _s = _stage_paths(root, stage)
    if not new_files:
        return spark.read.parquet(data_path).limit(0)
    paths = [os.path.join(data_path, f) for f in new_files]
    missing = [p for p in paths if not os.path.exists(p)]
    if missing:
        raise FileNotFoundError(
            f"stage {stage!r} increment is expired: {missing[0]} was "
            "rewritten by a later overwrite/compaction"
        )
    return spark.read.option("basePath", data_path).parquet(*paths)


def read_manifest(
    root: str, stage: str, snapshot_id: int | None = None
) -> dict:
    """Current stage manifest, or — with ``snapshot_id`` — the manifest
    any earlier commit recorded in the stage's snapshot log."""
    if snapshot_id is not None:
        for snap in snapshot_log(root, stage):
            if snap.get("snapshot_id") == snapshot_id:
                return snap
        raise KeyError(
            f"stage {stage!r} has no committed snapshot {snapshot_id}"
        )
    _d, manifest_path, _s = _stage_paths(root, stage)
    with open(manifest_path) as fh:
        return json.load(fh)


def snapshot_log(root: str, stage: str) -> list[dict]:
    """The stage's append-only commit history (Iceberg snapshot-log
    analog), oldest first — one full per-partition lineage manifest per
    committed write.  Resume hits (``stage_is_current``) reuse the
    snapshot and do not append."""
    path = _snapshot_log_path(root, stage)
    if not os.path.exists(path):
        return []
    with open(path) as fh:
        return [json.loads(ln) for ln in fh if ln.strip()]


def stage_is_table_backed(root: str, stage: str) -> bool:
    """True when the stage's manifest records an Iceberg catalog table
    as the data home (``format: iceberg``) — such a stage has NO local
    ``data/`` dir for the file-level incremental protocol to act on."""
    try:
        return read_manifest(root, stage).get("format") == "iceberg"
    except (OSError, json.JSONDecodeError):
        return False


def require_file_backed_stages(spark: SparkSession, op: str) -> None:
    """Refuse an operation that acts on local stage ``data/`` dirs
    under an Iceberg session catalog.

    Under ``iceberg_available`` every ``write_stage`` — including
    staging writes — lands in a catalog table, so no ``data/`` dir
    exists and such an operation would die midway with
    FileNotFoundError (or worse, act on a stale dir).  Small-files
    compaction (Iceberg's own ``rewrite_data_files`` owns it) and the
    dictionary/ontology updates read live stages by parquet path;
    they refuse up front with the honest message instead.  Staged
    commits themselves (``finish_commit``) run on both backends."""
    if iceberg_available(spark):
        raise NotImplementedError(
            f"{op}: the file-level incremental-commit protocol is not "
            "available under an Iceberg session catalog — stage data "
            "lives in catalog tables, not local data/ dirs.  Run the "
            "full rebuild job instead (write_stage routes it to "
            "writeTo(...).createOrReplace()), or disable the catalog "
            "for incrementally maintained roots."
        )


def commit_stage(
    root: str,
    stage: str,
    partition_by: list[str] | None = None,
    input_fingerprint: str = "",
    metrics: dict | None = None,
    schema_json=None,
) -> dict:
    """Re-finalize a stage whose ``data/`` dir was modified IN PLACE
    (file-level append or subtree swap — the incremental-commit path of
    ``jobs/kg_update.py``): rebuild the per-partition lineage manifest
    from the parquet footers, rewrite the marker under the new input
    fingerprint, and append a new snapshot to the log.  The Iceberg
    analog is the metadata commit that seals an append/merge operation;
    ``finish_commit`` seals through it."""
    if stage_is_table_backed(root, stage):
        raise NotImplementedError(
            f"commit_stage({stage!r}): stage is table-backed (Iceberg "
            "catalog) — there is no local data/ dir to scan; the "
            "file-level incremental protocol does not apply "
            "(see require_file_backed_stages)"
        )
    data_path, manifest_path, marker_path = _stage_paths(root, stage)
    if schema_json is None:
        try:
            schema_json = read_manifest(root, stage).get("schema")
        except (OSError, json.JSONDecodeError):
            schema_json = None
    if partition_by is None:
        try:
            partition_by = read_manifest(root, stage).get("partition_by", [])
        except (OSError, json.JSONDecodeError):
            partition_by = []
    return _finalize_stage(
        data_path, manifest_path, marker_path, stage,
        partition_by, input_fingerprint, metrics, schema_json,
    )


# -- staged commits ----------------------------------------------------------
#
#   staging = begin_commit(root, name, batch_fp, log_stage)
#   ... run_stage(spark, staging, ...) materializes the new content ...
#   finish_commit(spark, root, staging, [CommitOp(...), ...], ...)

_SWAP_OLD = ".swap-old"
_SWAP_NEW = ".swap-new"
_TMP = ".tmp"


@dataclass(frozen=True)
class CommitOp:
    """One step of ``finish_commit``: ``kind="append"`` adds staged
    stage ``src``'s rows to live stage ``dst``; ``kind="replace"``
    replaces ``dst`` with ``src``.  With ``part=(col, value)`` either
    acts on that one partition of ``dst`` only (``src`` rows carry no
    ``col``)."""

    kind: str
    src: str
    dst: str
    part: tuple[str, str] | None = None


def batch_committed(root: str, stage: str, batch_fp: str) -> bool:
    """True when a snapshot in ``stage``'s log was sealed by
    ``batch_fp``."""
    return any(
        s.get("metrics", {}).get("batch_fingerprint") == batch_fp
        for s in snapshot_log(root, stage)
    )


def begin_commit(
    root: str,
    name: str,
    batch_fp: str | None = None,
    log_stage: str | None = None,
) -> str | None:
    """Entry step of a staged commit: recover every torn swap and
    append under ``root``, then return the staging path
    ``<root>/_staging/<name>`` — or None when ``batch_fp`` already
    sealed ``log_stage`` (the commit point), i.e. the batch is
    committed and the caller no-ops.

    Without ``batch_fp`` (maintenance: folds, compaction, refreshes)
    the staging dir is cleared first: staged snapshots are resumed by
    fingerprint, and a maintenance fingerprint cannot tell this run's
    snapshot from a stale one."""
    _recover_swaps(root)
    if batch_fp and log_stage and batch_committed(root, log_stage, batch_fp):
        return None
    staging = os.path.join(root, "_staging", name)
    if batch_fp is None:
        shutil.rmtree(staging, ignore_errors=True)
    return staging


def finish_commit(
    spark: SparkSession,
    root: str,
    staging: str,
    ops: list[CommitOp],
    metrics: dict | None = None,
    batch_fp: str | None = None,
    fingerprint: str | None = None,
    seal: list[str] | None = None,
) -> dict:
    """Commit step: run ``ops`` in order on the backend the stages'
    manifests name, seal the touched stages, drop the staging dir and
    staging tables.  Returns the manifest of the last sealed stage.

    Seals run in ``seal`` order (default: the stages ``ops`` touch, in
    first-touch order); the LAST seal is the commit point.  Each seal's
    input fingerprint is

    * chained, ``md5(prev + "+" + batch_fp)``, when ``batch_fp`` is
      given (batch commits; ``metrics`` gains ``batch_fingerprint``);
    * ``fingerprint`` when given (a refresh keyed on its inputs);
    * else kept, with ``metrics`` merged over the stage's previous
      metrics (content-identical maintenance: folds, compaction).

    Replays are safe: every op reads a materialized staged snapshot,
    file appends land under deterministic names, and each finished op
    leaves a marker in the staging dir, so a replay skips the ops (and,
    for batch commits, the seals) that already landed."""
    seal = seal or list(dict.fromkeys(op.dst for op in ops))
    metrics = metrics or {}
    # validate every op before the first mutation
    on_table = {}
    for op in ops:
        staged = read_manifest(staging, op.src)
        on_table[op] = staged.get("format") == "iceberg"
        live = _manifest_or_empty(root, op.dst)
        if live and (live.get("format") == "iceberg") != on_table[op]:
            raise ValueError(
                f"{op.dst!r} under {root!r} and its staged snapshot "
                f"{op.src!r} are on different stage backends"
            )
    tag = hashlib.md5(batch_fp.encode()).hexdigest()[:12] if batch_fp else ""

    os.makedirs(staging, exist_ok=True)
    done = [os.path.join(staging, f"_op{i}.done") for i in range(len(ops))]
    replay = bool(ops) and os.path.exists(done[-1])
    for op, marker in zip(ops, done):
        if os.path.exists(marker):
            continue
        if on_table[op]:
            _table_op(spark, root, staging, op, batch_fp or "")
        else:
            _file_op(root, staging, op, tag)
        open(marker, "w").close()

    for stage in seal:
        if replay and batch_fp and batch_committed(root, stage, batch_fp):
            continue
        _seal(spark, root, staging, stage, ops, metrics, batch_fp,
              fingerprint)

    for st in os.listdir(staging):
        if stage_is_table_backed(staging, st):
            _drop_stage_table(spark, staging, st)
    shutil.rmtree(staging, ignore_errors=True)
    return read_manifest(root, seal[-1])


def _manifest_or_empty(root: str, stage: str) -> dict:
    try:
        return read_manifest(root, stage)
    except OSError:
        return {}


def _seal(
    spark: SparkSession,
    root: str,
    staging: str,
    stage: str,
    ops: list[CommitOp],
    metrics: dict,
    batch_fp: str | None,
    fingerprint: str | None,
) -> dict:
    prev = _manifest_or_empty(root, stage)
    # a stage an op creates takes its layout from the staged snapshot
    src = next((_manifest_or_empty(staging, op.src)
                for op in ops if op.dst == stage), {})
    if batch_fp is not None:
        prev_fp = prev.get("input_fingerprint", "bootstrap")
        fp = hashlib.md5(f"{prev_fp}+{batch_fp}".encode()).hexdigest()
        metrics = {**metrics, "batch_fingerprint": batch_fp}
    elif fingerprint is not None:
        fp = fingerprint
    else:
        fp = prev["input_fingerprint"]
        metrics = {**(prev.get("metrics") or {}), **metrics}
    layout = prev or src
    partition_by = layout.get("partition_by") or []
    schema = prev.get("schema") or src.get("schema")
    if layout.get("format") == "iceberg":
        table = layout["table"] if prev else iceberg_stage_table(
            spark, root, stage)
        return _seal_table(spark, root, stage, table, partition_by, fp,
                           metrics, schema)
    return commit_stage(root, stage, partition_by=partition_by,
                        input_fingerprint=fp, metrics=metrics,
                        schema_json=schema)


def _file_op(root: str, staging: str, op: CommitOp, tag: str) -> None:
    src = os.path.join(staging, op.src, "data")
    dst = os.path.join(root, op.dst, "data")
    if op.part:
        dst = os.path.join(dst, f"{op.part[0]}={op.part[1]}")
    if op.kind == "append":
        _append_files(src, dst, tag)
    else:
        _swap_dir(src, dst)


def _append_files(src: str, dst: str, tag: str) -> None:
    """File-level append: copy the staged part-files into ``dst`` under
    deterministic ``batch-<tag>-NNNNN.parquet`` names.  Each copy lands
    under a hidden temporary name first and is renamed into place, so
    a live name only ever holds a complete file and a replay skips
    exactly the files that landed."""
    os.makedirs(dst, exist_ok=True)
    files = sorted(f for f in os.listdir(src) if f.endswith(".parquet"))
    for i, f in enumerate(files):
        name = f"batch-{tag}-{i:05d}.parquet"
        final = os.path.join(dst, name)
        if os.path.exists(final):
            continue
        tmp = os.path.join(dst, f".{name}{_TMP}")
        shutil.copy2(os.path.join(src, f), tmp)
        os.replace(tmp, final)


def _swap_aside(live: str, suffix: str) -> str:
    # hidden, so partition discovery over the parent never reads it
    parent, name = os.path.split(live)
    return os.path.join(parent, f".{name}{suffix}")


def _swap_dir(src: str, live: str) -> None:
    """Replace directory ``live`` with a copy of ``src``: copy into a
    hidden sibling ``.swap-new`` dir, rename ``live`` aside to
    ``.swap-old``, rename the complete copy into place, drop the old
    tree.  At every crash point ``live`` is the complete old tree, the
    complete new tree, or absent with the old tree aside —
    ``_recover_swaps`` rolls that last state back."""
    new, old = _swap_aside(live, _SWAP_NEW), _swap_aside(live, _SWAP_OLD)
    shutil.rmtree(new, ignore_errors=True)
    shutil.copytree(src, new)
    if os.path.exists(live):
        os.rename(live, old)
    os.rename(new, live)
    shutil.rmtree(old, ignore_errors=True)


def _recover_swaps(root: str) -> None:
    """Undo what a crash mid-``_swap_dir`` / mid-``_append_files``
    left anywhere under ``root``: an old tree set aside with no live
    tree is renamed back; one with a live tree (the swap completed) is
    dropped, as is every partial ``.swap-new`` copy and temporary
    append file.  Staged snapshots are never swapped and not walked."""
    for dirpath, dirs, files in os.walk(root):
        if dirpath == root and "_staging" in dirs:
            dirs.remove("_staging")
        aside = [d for d in dirs
                 if d.startswith(".") and d.endswith((_SWAP_OLD, _SWAP_NEW))]
        for d in aside:
            path = os.path.join(dirpath, d)
            # ".<name>" + suffix; both suffixes have the same length
            live = os.path.join(dirpath, d[1:-len(_SWAP_OLD)])
            if d.endswith(_SWAP_NEW) or os.path.exists(live):
                shutil.rmtree(path)
            else:
                os.rename(path, live)
        dirs[:] = [d for d in dirs if d not in aside]
        for f in files:
            if f.startswith(".batch-") and f.endswith(_TMP):
                os.remove(os.path.join(dirpath, f))


def _table_op(
    spark: SparkSession, root: str, staging: str, op: CommitOp, fp: str
) -> None:
    """``CommitOp`` on a table-backed stage: one Iceberg commit from the
    materialized staged snapshot (never a plan over the table it
    writes)."""
    from pyspark.sql import functions as F

    live = _manifest_or_empty(root, op.dst)
    table = live.get("table") or iceberg_stage_table(spark, root, op.dst)
    df = read_stage(spark, staging, op.src)
    if op.part:
        col, value = op.part
        df = df.withColumn(col, F.lit(value)).select(
            *spark.table(table).columns)
    if op.kind == "append":
        df.writeTo(table).append()
    elif op.part is None:
        partition_by = (live or read_manifest(staging, op.src)).get(
            "partition_by") or []
        writer = df.writeTo(table)
        if partition_by:
            writer = writer.partitionedBy(*[F.col(c) for c in partition_by])
        writer.createOrReplace()
    elif read_manifest(staging, op.src)["total_rows"]:
        # dynamic partition replacement swaps exactly the partition
        # present in df and leaves every other one untouched
        df.writeTo(table).overwritePartitions()
    else:
        # overwritePartitions with no rows replaces nothing: clear the
        # partition — a metadata-only DELETE where the catalog routes
        # SQL to the table, else a staged whole-table rewrite
        try:
            spark.sql(f"DELETE FROM {table} WHERE {col} = '{value}'")
        except Exception:
            keep = run_stage(
                spark, staging, f"{op.dst}_keep_{op.src}",
                lambda: spark.table(table).where(F.col(col) != value),
                input_fingerprint=fp,
            )
            (keep.writeTo(table)
             .partitionedBy(F.col(col)).createOrReplace())


def _drop_stage_table(spark: SparkSession, root: str, stage: str) -> None:
    """Drop the catalog table a staging stage materialized into.  A
    table the session catalog does not know (e.g. a test harness
    bridging ``writeTo`` to its own registry) is skipped, not an
    error."""
    table = iceberg_stage_table(spark, root, stage)
    try:
        exists = spark.catalog.tableExists(table)
    except Exception:
        exists = False
    if exists:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def run_stage(
    spark: SparkSession,
    root: str,
    stage: str,
    compute: Callable[[], DataFrame],
    partition_by: list[str] | None = None,
    input_fingerprint: str = "",
    metrics: dict | None = None,
) -> DataFrame:
    """Resume-aware stage execution: reuse the snapshot when its input
    fingerprint matches, else recompute and overwrite."""
    if stage_is_current(root, stage, input_fingerprint):
        return read_stage(spark, root, stage)
    df = compute()
    write_stage(
        df, root, stage,
        partition_by=partition_by,
        input_fingerprint=input_fingerprint,
        metrics=metrics,
    )
    return read_stage(spark, root, stage)


def fingerprint_parquet_inputs(paths: list[str]) -> str:
    """Cheap input fingerprint: sorted (path, mtime, size) of the files —
    snapshot-id equivalent for plain-parquet inputs."""
    import hashlib

    parts = []
    for p in sorted(paths):
        if os.path.isdir(p):
            for dirpath, _dirs, files in os.walk(p):
                for f in sorted(files):
                    fp = os.path.join(dirpath, f)
                    st = os.stat(fp)
                    parts.append(f"{fp}:{st.st_mtime_ns}:{st.st_size}")
        elif os.path.exists(p):
            st = os.stat(p)
            parts.append(f"{p}:{st.st_mtime_ns}:{st.st_size}")
    return hashlib.md5("|".join(parts).encode()).hexdigest()
