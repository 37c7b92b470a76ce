"""MERGE-ON-READ upsert — equality-delete files instead of bucket rewrites.

The copy-on-write merge (lake/merge.py) rewrites every touched bucket's
bytes per batch: write amplification = bucket-size / batch-locality, which
at 100 TB with update-heavy, key-scattered streams means rewriting
gigabytes to apply kilobytes. Merge-on-read inverts the trade (Iceberg v2
equality deletes / Delta deletion-vector territory, re-expressed over this
lake format):

- the batch's winning rows are APPENDED as new data files (O(batch) bytes
  written, whatever they touch);
- each update/delete also lands one row in a per-bucket EQUALITY-DELETE
  file ``(key columns, _below_seq)``: copies of that key with
  ``_seq < _below_seq`` are dead;
- ``LakeTable.read`` masks dead rows with ONE aggregate over the delete set
  (bounded by updates-since-last-compaction, never table size) + one
  equi-join — every consumer (diff, verify, export, compaction, the prep
  composite) reads through the same path, so they are MOR-correct for free;
- ``compact()`` reads the masked state and rewrites buckets copy-on-write,
  which CLEARS their delete files — the steady state is "MOR absorbs the
  write-heavy hours, compaction folds the debt away off-peak".

Semantic deltas vs the COW merge (both documented, both tested):

- **same-seq redelivery resolves by DROP, not overwrite**: the seq guard
  keeps an incoming winner only when ``seq > stored seq``. The merge
  contract makes seq unique per key, so an equal-seq arrival is the same
  event redelivered (identical content) and dropping it yields the same
  state the COW tie-overwrite does.
- **deletes on tombstone-less tables** need no data row at all: the delete
  entry carries ``_below_seq = seq + 1`` so every copy at or below the
  delete's seq is masked, while a later re-insert (higher seq) survives.

Scale/cost shape per batch: the touched buckets from the caller's
``batch_stats`` (or one narrow aggregate); one narrow in-batch dedup; one
COLUMN-PRUNED read of the touched buckets' (keys, _seq) for the cross-batch
seq guard (kilobytes per row read, vs the COW merge reading AND rewriting
full payloads); one bucket-partitioned append write sized by the batch.
Reads then pay the mask join until compaction — the classic MOR contract.

Reference analog: none (table2qb is a whole-file converter); this is the
north rule's CDC surface at the write-amplification limit.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from table2qb_spark.cdc.dedup import dedup_max_seq
from table2qb_spark.lake.merge import BatchStats, bucket_stats
from table2qb_spark.lake.table import LakeTable, key_bucket_expr


def merge_mor(
    table: LakeTable,
    batch_df: DataFrame,
    commit_id: str,
    op_col: str = "op",
    seq_col: str = "seq",
    delete_op: str = "D",
    summary_update: dict | None = None,
    publish: bool = True,
    branch: str | None = None,
    batch_stats: BatchStats | None = None,
) -> dict:
    """Apply one change batch merge-on-read. Same idempotency (commit_id
    skip), concurrency (base_snapshot_id), stats, ``branch`` and
    ``batch_stats`` contract as ``merge_upsert`` (only the stats' touched
    buckets are used: the counts reported are of the winners that pass the
    seq guard). Requires a seq-guarded table (``_seq`` column): the
    read-time mask is versioned by sequence number."""
    if table.has_commit(commit_id) or (
        branch is not None and table._branch_has_commit(branch, commit_id)
    ):
        return {"skipped": True, "commit_id": commit_id}

    t0 = time.time()
    snap = (
        table.snapshot(table.branch_head(branch))
        if branch is not None
        else table.snapshot()
    )
    keys = snap.key_columns
    data_cols = [c["name"] for c in snap.current_schema()]
    if "_seq" not in data_cols:
        raise ValueError(
            "merge-on-read needs a seq-guarded table (_seq column): the "
            "equality-delete mask is versioned by sequence number "
            "(create_stream_table declares it)"
        )
    tombstones = "_deleted" in data_cols
    value_cols = [
        c for c in data_cols if c not in keys and c not in ("_seq", "_deleted")
    ]
    required = list(dict.fromkeys(keys + value_cols + [op_col, seq_col]))
    missing = [c for c in required if c not in batch_df.columns]
    if missing:
        raise ValueError(f"Batch is missing columns {missing}")

    # every column at its declared type, as in merge_upsert: the bucket of a
    # key must not depend on the type the batch happened to carry it in, and
    # a value written at the batch's type (bigint for a declared int) plants
    # files that every later read rejects
    decl = {c["name"]: c["type"] for c in snap.current_schema()}
    batch_sel = batch_df.select(
        *[F.col(k).cast(decl[k]).alias(k) for k in keys],
        F.col(seq_col).cast("long").alias("__seq"),
        F.col(op_col).alias("__op"),
        *[F.col(c).cast(decl[c]).alias(c) for c in value_cols],
    )
    touched = bucket_stats(batch_stats, batch_sel, keys, snap.n_buckets, delete_op).buckets
    winners = dedup_max_seq(batch_sel, keys, seq_col="__seq").withColumn(
        "__bucket", key_bucket_expr(keys, snap.n_buckets)
    )
    if not touched:
        # empty batch still commits (exactly-once marker for the range)
        table.commit_appends(
            commit_id, [], {}, {}, summary_update,
            base_snapshot_id=snap.snapshot_id, publish=publish,
            branch=branch,
        )
        return {
            "skipped": False,
            "commit_id": commit_id,
            "affected_buckets": 0,
            "upserts": 0,
            "deletes": 0,
            "strategy": "mor",
            "seconds": time.time() - t0,
        }

    # cross-batch seq guard: current per-key max LIVE seq in the touched
    # buckets — a column-pruned (keys + _seq) masked read, never the payload
    cur_max = (
        table.read(
            snapshot_id=None if branch is None else snap.snapshot_id,
            buckets=touched,
        )
        .select(*keys, F.col("_seq").alias("__cur_seq"))
        .groupBy(*keys)
        .agg(F.max("__cur_seq").alias("__cur_seq"))
    )
    kept = (
        winners.join(cur_max, keys, "left")
        .where(F.col("__cur_seq").isNull() | (F.col("__seq") > F.col("__cur_seq")))
        .persist()  # three consumers below: counts, data write, delete write
    )
    try:
        got = kept.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("__op") == delete_op, 1).otherwise(0)).alias("dels"),
            F.sum(F.col("__cur_seq").isNotNull().cast("int")).alias("existed"),
            F.max("__seq").alias("max_seq"),
        ).collect()[0]
        n_kept, n_dels = int(got["n"] or 0), int(got["dels"] or 0)

        hint = f"{snap.snapshot_id + 1:08d}"
        rows = kept.withColumn("_seq", F.col("__seq"))
        row_cols = keys + value_cols + ["_seq"]
        if tombstones:
            rows = rows.withColumn("_deleted", F.col("__op") == delete_op)
            row_cols.append("_deleted")
        else:
            rows = rows.where(F.col("__op") != delete_op)
        new_files = (
            table.write_data_files(rows.select(*row_cols, "__bucket"), hint)
            if n_kept
            else {}
        )

        # equality-delete entries: one per kept winner whose key EXISTED
        # (each masks exactly one then-live copy — the row-count invariant).
        # Tombstone-less deletes mask their own seq too (no data row lands).
        dels = kept.where(F.col("__cur_seq").isNotNull()).select(
            *keys,
            (
                F.col("__seq")
                + (
                    F.lit(0)
                    if tombstones
                    else F.when(F.col("__op") == delete_op, 1).otherwise(0)
                )
            ).alias("_below_seq"),
            "__bucket",
        )
        new_deletes = table.write_delete_files(dels, hint) if n_kept else {}

        su = dict(summary_update or {})
        su.setdefault("max_seq", got["max_seq"])
        table.commit_appends(
            commit_id,
            touched,
            new_files,
            new_deletes,
            su,
            base_snapshot_id=snap.snapshot_id,
            publish=publish,
            branch=branch,
        )
    finally:
        kept.unpersist()
    return {
        "skipped": False,
        "commit_id": commit_id,
        "affected_buckets": len(touched),
        "upserts": n_kept - n_dels,
        "deletes": n_dels,
        "updates": int(got["existed"] or 0),
        "strategy": "mor",
        "max_seq": got["max_seq"],
        "seconds": time.time() - t0,
    }
