"""Dead-letter-queue inspection and re-drive (``cdc-dlq``).

The ingest paths quarantine malformed events (null seq, bad op, null key —
``cdc/apply.py::malformed_reason_expr``) into ``<dlq>/<commit_id>/`` parquet
dirs instead of poisoning the merge. This module closes the loop the way a
production queue does (SQS/Kafka DLQ re-drive): inspect what was
quarantined and why, then RE-DRIVE the repairable rows back into the table
exactly once.

What is repairable: ``null_seq`` rows — the one defect the engine can fix
itself, by assigning fresh sequence numbers ABOVE the table's max_seq (the
events carry no order, so "latest wins as of the re-drive" is the only
consistent semantics; per-key ordering among the re-driven rows themselves
is made deterministic below). ``bad_op`` / ``null_key:*`` rows have no
mechanical repair — they stay quarantined and are reported; fixing them
means fixing the producer and re-sending.

Exactly-once: the re-drive commit id is derived from the SORTED set of
consumed quarantine dirs (content-addressed, not timestamped), so a re-run
after a crash between merge and archive is a marker skip, and the archive
step (renaming each consumed dir to ``<dir>.redriven``) then completes —
the same heal-forward pattern as every other commit here. Archived dirs are
excluded from later listings and re-drives.

Scale shape: quarantine is the EXCEPTION path — DLQ volume is batch-error-
sized, not corpus-sized. The seq assignment uses one window partitioned by
the table's key columns (no global ordering); the reason breakdown is one
small aggregate.

Reference analog: none (SURVEY.md §1) — north-rule operational surface.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from table2qb_spark.cdc.apply import EMPTY_PREPASS, batch_prepass, malformed_reason_expr
from table2qb_spark.lake.merge import merge_upsert
from table2qb_spark.lake.table import LakeTable

ARCHIVE_SUFFIX = ".redriven"
UNREPAIRABLE_PREFIX = "unrepairable-"


def pending_dirs(dlq_dir: str) -> list[str]:
    """Quarantine dirs not yet archived, sorted by name (commit order).
    ``unrepairable-*`` dirs are terminal (producer-side fixes only) and
    never re-enter the pending set — re-driving them would loop forever."""
    if not os.path.isdir(dlq_dir):
        return []
    return sorted(
        os.path.join(dlq_dir, d)
        for d in os.listdir(dlq_dir)
        if not d.endswith(ARCHIVE_SUFFIX)
        and not d.startswith(UNREPAIRABLE_PREFIX)
        and os.path.isdir(os.path.join(dlq_dir, d))
    )


def _read(spark: SparkSession, dirs: list[str]) -> DataFrame:
    # mergeSchema: quarantine dirs may straddle a schema evolution — later
    # dirs carry columns earlier ones lack; align them with typed NULLs
    return spark.read.option("mergeSchema", "true").parquet(*dirs)


def dlq_report(spark: SparkSession, dlq_dir: str) -> dict:
    """Reason breakdown across pending quarantine dirs (one small agg)."""
    dirs = pending_dirs(dlq_dir)
    if not dirs:
        return {"pending_dirs": 0, "rows": 0, "by_reason": {}}
    df = _read(spark, dirs)
    rows = df.groupBy("dlq_reason").count().collect()
    return {
        "pending_dirs": len(dirs),
        "dirs": [os.path.basename(d) for d in dirs],
        "rows": sum(int(r["count"]) for r in rows),
        "by_reason": {r["dlq_reason"]: int(r["count"]) for r in rows},
    }


def redrive(
    spark: SparkSession,
    table: LakeTable,
    dlq_dir: str,
    op_col: str = "op",
    seq_col: str = "seq",
    payload_col: str = "payload_json",
) -> dict:
    """Re-apply the repairable (null_seq) rows from every pending quarantine
    dir as ONE merge batch with freshly assigned sequence numbers; rows
    with producer-side defects land in a terminal ``unrepairable-<digest>``
    dir (reported, never re-driven); the consumed dirs archive LAST.
    Crash-idempotent by construction: a re-run sees the same pending set,
    derives the same digest/commit_id, marker-skips the merge, rewrites the
    (deterministic) unrepairable dir and completes the archive."""
    dirs = pending_dirs(dlq_dir)
    if not dirs:
        return {"redriven": 0, "still_bad": 0, "pending_dirs": 0}
    digest = hashlib.md5(
        "\x1f".join(os.path.basename(d) for d in dirs).encode()
    ).hexdigest()[:12]
    commit_id = f"dlq-redrive-{digest}"

    snap = table.snapshot()
    keys = snap.key_columns
    df = _read(spark, dirs).drop("dlq_reason")
    # same ingest pipeline as the replayer, in the same order (rows were
    # quarantined BEFORE these steps): content_sha invariant (BASELINE
    # input_hint), then payload flatten — which RECOVERS values for columns
    # the table gained after quarantine, since the raw payload rode into
    # the DLQ (reconcile is a no-op schema-wise when evolution already ran)
    from table2qb_spark.cdc.schema_evolution import reconcile_and_flatten

    schema_names = {c["name"] for c in snap.current_schema()}
    if "content_sha" in schema_names and "content" in df.columns:
        df = df.withColumn("content_sha", F.sha2(F.col("content"), 256))
    if payload_col in df.columns:
        # an all-NULL payload column can arrive typed non-string (writer
        # inferred e.g. int32 for a typeless NULL); from_json needs string
        df = df.withColumn(payload_col, F.col(payload_col).cast("string"))
    # schema discovery only: the merge below counts its own (re-sequenced) batch
    pre = batch_prepass(snap, df, payload_col, op_col=None).get(0, EMPTY_PREPASS)
    df = reconcile_and_flatten(
        table, df, commit_id, payload_col, pre.payload_keys, pre.renames
    )
    # null-fill any remaining gap (a column added by DDL, not by payload);
    # re-read the schema — reconcile above may have just evolved it
    for c in table.snapshot().current_schema():
        if c["name"] not in df.columns and c["name"] not in ("_seq", "_deleted"):
            df = df.withColumn(c["name"], F.lit(None).cast(c["type"]))
    # re-classify NOW (not trusting the stored reason): a row can carry two
    # defects, and the seq fix below must not launder a null key through
    reason = malformed_reason_expr(op_col, seq_col, keys)
    fixable = df.where(reason.isNull() | (reason == "null_seq"))
    still_bad = df.where(reason.isNotNull() & (reason != "null_seq"))

    applied = {"skipped": True}
    n_fixable = fixable.count()
    if n_fixable and not table.has_commit(commit_id):
        base = int(snap.summary.get("max_seq") or 0)
        # fresh seqs above the table's max: per-key window (never global),
        # deterministic order within a key via the row's own content
        order = [F.col(c) for c in fixable.columns if c != seq_col]
        rn = F.row_number().over(Window.partitionBy(*keys).orderBy(*order))
        repaired = fixable.withColumn(
            seq_col,
            F.coalesce(F.col(seq_col).cast("long"), F.lit(base) + rn),
        )
        applied = merge_upsert(
            table, repaired, commit_id, op_col=op_col, seq_col=seq_col
        )
    n_still_bad = still_bad.count()
    if n_still_bad:
        out = os.path.join(dlq_dir, f"{UNREPAIRABLE_PREFIX}{digest}")
        still_bad.withColumn("dlq_reason", reason).write.mode(
            "overwrite"
        ).parquet(out)
    for d in dirs:
        os.rename(d, d + ARCHIVE_SUFFIX)
    return {
        "commit_id": commit_id,
        "redriven": int(n_fixable),
        "still_bad": int(n_still_bad),
        "pending_dirs": len(dirs),
        "skipped": bool(applied.get("skipped", False)),
        "upserts": int(applied.get("upserts", 0) or 0),
        "deletes": int(applied.get("deletes", 0) or 0),
    }
