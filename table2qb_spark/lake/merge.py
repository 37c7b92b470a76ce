"""MERGE upsert into a LakeTable — the CDC apply primitive.

Semantics (north rule): key-partitioned MERGE on the table's key columns with
insert/update/delete ops —

    MERGE INTO t USING batch ON t.key = batch.key
      WHEN MATCHED AND batch.op = 'D' THEN DELETE
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED AND batch.op != 'D' THEN INSERT *

Physical design — **union-window merge**: instead of (dedup-shuffle the
batch) + (key-shuffle both join sides) + (bucket repartition), the current
rows are unioned UNDER the batch at an always-losing sequence number
(``-1``, or their stored ``_seq`` for seq-guarded tables), the union is
placed by bucket in ONE exchange, and a window over each bucket keeps every
key's last row by (seq, batch-beats-stored):

    winner(key) = last by seq over {current row @ seq=-1} ∪ {batch events @ seq}

This folds in-batch dedup AND the merge join into one bucket exchange whose
output is already laid out for the write: scan -> one bucket shuffle ->
per-task sort -> write. Winners with op='D' are dropped (or tombstoned when
the table has a ``_deleted`` column).

Strategies:
- **late-materialization** (initial load / backfill into an EMPTY table):
  a narrow (keys, seq, op) phase picks each key's winning seq — content
  bytes are never read — then the winning seqs broadcast back against the
  full scan so only winner rows carry payload through the bucket exchange.
  ~2x the single-pass throughput at every core count (BENCH.md); gated by
  batch size (the broadcast is key-set-sized).
- **single-pass** (bursts/backfills into non-empty tables): everything in
  ONE Spark action.
- **pruned** (steady-state CDC: batch small vs table): the same bucket
  window, over only the touched buckets' files, which it rewrites
  (copy-on-write). At 100 TB this is the default — batch cost scales with
  batch locality, not table size.
- **agg-cdf** (tables with ``cdf.enabled``, unpruned): the one strategy
  that still picks winners with a ``groupBy(key).agg(max(struct(...)))``
  aggregate, because the change feed needs each key's before image beside
  its winner; the aggregate is persisted, and the data write places its
  winners by bucket. A pruned merge into a ``cdf.enabled`` table takes
  this aggregate too and still reports ``pruned``.

Batch stats (touched buckets, event and delete counts, max seq) come from
the caller as ``batch_stats``: the ingest core (``cdc.apply``) computes them
in its one pre-pass per batch, alongside schema discovery. A direct caller
that passes none gets them from a ``pyspark.sql.Observation`` riding on the
merge's own job, or, where the strategy needs the buckets before the merge
(pruned, patch, merge-on-read), from one narrow aggregate. Stats whose
bucket count is not the merge snapshot's (a ``rebucket`` landed after the
pre-pass) are recomputed the same way (``bucket_stats``).

Bucket placement: rows reach the write through ``table.place_buckets``, so
bucket ``b`` sits on task ``b mod P`` and the bucket window runs inside that
one exchange.

Session-state caveat (Spark 4.1): the first ``Observation`` use materializes
``SparkSession.observationManager`` (a lazy val, NOT java-Serializable).
Harmless for DataFrame jobs, but an MLlib model whose ``trainingSummary``
holds the session (e.g. ``LogisticRegressionModel.transform``) will then fail
Task-not-serializable in the same session. Workaround for ML-after-merge
callers: save/load the model (drops the summary) before ``transform`` — our
own fit path (``ops/classifier.py``) only lifts coefficients, so it is immune.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from table2qb_spark.cdc.dedup import dedup_max_seq
from table2qb_spark.lake.table import LakeTable, key_bucket_expr, place_buckets

# Batches larger than this fraction of the table's rows are not pruned to
# their touched buckets (they would touch ~every bucket anyway).
PRUNE_THRESHOLD = 0.2

# Hinted batches above this many events skip late-materialization: its
# broadcast build side holds one winning seq per distinct key.
LATE_MAT_MAX_EVENTS = 100_000_000


@dataclass(frozen=True)
class BatchStats:
    """What a merge needs to know about its batch before it runs: the
    buckets the batch touches (sorted) under a table of ``n_buckets``
    buckets, its event and delete counts, and its max seq (None when no
    event has one)."""

    buckets: list[int]
    n: int
    deletes: int
    max_seq: int | None
    n_buckets: int | None = None

    @classmethod
    def of(cls, rows, n_buckets: int) -> "BatchStats":
        """Sum per-bucket rows carrying ``__bucket`` and ``stats_aggs``."""
        seqs = [r["max_seq"] for r in rows if r["max_seq"] is not None]
        return cls(
            sorted(int(r["__bucket"]) for r in rows),
            sum(int(r["n"]) for r in rows),
            sum(int(r["deletes"] or 0) for r in rows),
            max(seqs, default=None),
            n_buckets,
        )


def stats_aggs(op_col: str, seq_col: str, delete_op: str = "D") -> list[Column]:
    """The per-bucket stats aggregates: ``n``, ``deletes``, ``max_seq``."""
    return [
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col(op_col) == delete_op, 1).otherwise(0)).alias("deletes"),
        F.max(F.col(seq_col).cast("long")).alias("max_seq"),
    ]


def collect_batch_stats(
    batch_sel: DataFrame, keys: list[str], n_buckets: int, delete_op: str = "D"
) -> BatchStats:
    """One narrow aggregate over a merge's ``batch_sel`` (keys already cast,
    ``__op`` / ``__seq``) — for direct callers that passed no stats."""
    return BatchStats.of(
        batch_sel.groupBy(key_bucket_expr(keys, n_buckets).alias("__bucket"))
        .agg(*stats_aggs("__op", "__seq", delete_op))
        .collect(),
        n_buckets,
    )


def bucket_stats(
    batch_stats: BatchStats | None, batch_sel: DataFrame, keys: list[str],
    n_buckets: int, delete_op: str = "D",
) -> BatchStats:
    """``batch_stats`` when its buckets hold for a table of ``n_buckets``
    buckets (an empty batch touches none under any count), else one
    ``collect_batch_stats`` aggregate. The caller's pre-pass may predate a
    ``rebucket`` commit: its bucket ids then name the old layout, and a
    merge that read them and replaced the new buckets would drop rows."""
    if batch_stats is not None and (
        batch_stats.n == 0 or batch_stats.n_buckets == n_buckets
    ):
        return batch_stats
    return collect_batch_stats(batch_sel, keys, n_buckets, delete_op)


def _bucket_window_winners(df: DataFrame, keys: list[str], n_buckets: int) -> DataFrame:
    """Each key's last row by (seq, pri), found by a window over the placed
    buckets: one exchange (``place_buckets``), then a per-task sort. The
    output stays bucket-placed and sorted by bucket, so the write needs
    neither a second exchange nor a second sort.

    Null-safe group-end detection: lead(lit(1)) is NULL only at the
    partition's last row (lead(key).isNull() would also fire mid-stream
    when the NEXT key is genuinely NULL), and eqNullSafe treats NULL keys
    as a real group — lead(k) != k evaluates to NULL for them, silently
    keeping/dropping whole NULL-key groups."""
    placed = place_buckets(
        df.withColumn("__bucket", key_bucket_expr(keys, n_buckets)), n_buckets
    )
    w = Window.partitionBy("__bucket", "__part").orderBy(
        *[F.col(k) for k in keys], F.col("__seq"), F.col("__pri")
    )
    last = F.lead(F.lit(1)).over(w).isNull()
    for k in keys:
        last = last | ~F.lead(F.col(k)).over(w).eqNullSafe(F.col(k))
    return placed.withColumn("__last", last).where(F.col("__last"))


def _cdf_changes(
    agged, keys: list[str], data_cols: list[str], value_cols: list[str],
    tombstones: bool, delete_op: str,
):
    """Change-feed rows derived from the SAME aggregate that decides the
    merge winners (``__p`` = winning payload, ``__b`` = the current row's
    payload or NULL): op/before/after exactly as the post-hoc snapshot
    diff would classify them, at zero extra table reads. Keys the batch
    did not win (untouched rows, stale seq-guarded events) emit nothing.
    See lake/cdf.py for the full capture/read contract."""
    p_won = F.col("__p.__pri") == 1

    def image(src: str):
        fields = []
        for c in data_cols:
            if c in keys:
                fields.append(F.col(c).alias(c))
            elif c == "_seq":
                fields.append(F.col(f"{src}.__seq").alias("_seq"))
            elif c == "_deleted":
                fields.append(
                    (F.col(f"{src}.__op") == delete_op).alias("_deleted")
                )
            else:
                fields.append(F.col(f"{src}.{c}").alias(c))
        return F.struct(*fields)

    before = F.when(F.col("__b").isNotNull(), image("__b"))
    if tombstones:
        # tombstone tables keep a physical row for deletes: the feed mirrors
        # the physical model (what read() and therefore the diff see)
        after = image("__p")
        op = F.when(F.col("__b").isNull(), F.lit("c")).otherwise(F.lit("u"))
    else:
        after_live = F.col("__p.__op") != delete_op
        after = F.when(after_live, image("__p"))
        op = (
            F.when(after_live & F.col("__b").isNull(), F.lit("c"))
            .when(after_live, F.lit("u"))
            .when(F.col("__b").isNotNull(), F.lit("d"))
        )
    return (
        agged.where(p_won)
        .select(op.alias("op"), *keys, before.alias("before"),
                after.alias("after"))
        .where(F.col("op").isNotNull())
    )


def _observed(observation: Observation) -> BatchStats:
    """The counts an Observation carried on the merge's own job (buckets
    are not observed: the strategies that use this replace every bucket)."""
    got = observation.get
    return BatchStats([], int(got["n"] or 0), int(got["deletes"] or 0), got["max_seq"])


def merge_patch(
    table: LakeTable,
    batch_df: DataFrame,
    commit_id: str,
    op_col: str = "op",
    seq_col: str = "seq",
    summary_update: dict | None = None,
    publish: bool = True,
    batch_stats: BatchStats | None = None,
) -> dict:
    """Apply one change batch under PARTIAL-UPDATE semantics (the
    ``cdc/patch.py`` merge engine, wired to the lake): a ``U`` payload's
    null column means "leave the stored value", an ``I`` replaces the whole
    row (its nulls are real), a final ``D`` removes the key, and a
    post-delete ``U`` revives onto an empty row. For full-row-image streams
    use :func:`merge_upsert` — this engine exists for MySQL
    ``binlog_row_image=MINIMAL`` / Mongo ``$set``-shaped logs where
    last-row-wins would null every untouched column. Ops are the engine
    vocabulary I/U/D (the patch algebra's boundary logic is defined on it).

    Physical shape follows the upsert merge's union design, with an
    aggregate in place of its bucket window: current rows union UNDER the
    batch as row images — live rows as ``I``, tombstones as ``D``, at seq
    ``-1`` (their stored ``_seq`` on seq-guarded tables) — then ONE
    map-side-combined ``groupBy(key)`` (``cdc.patch.patch_fold``) folds
    merge + in-batch patch resolution, then the bucket repartition for the
    write — scan, one key shuffle, one bucket shuffle. Steady-state batches prune to touched buckets exactly
    like ``merge_upsert`` (same ``batch_stats``, same ``PRUNE_THRESHOLD``).
    Idempotent via commit manifests; exactly-once replay composes because
    ``patch_merge``'s base-as-insert algebra IS this union (tests prove
    resume == one-shot).

    Seq-guard/tombstone semantics come FREE from the algebra: a tombstone
    re-enters as a ``D`` row image at its stored ``_seq``, so it shadows
    every older (late/redelivered) event and stays a physical ``_deleted``
    row unless a NEWER event revives the key — on tombstone tables dead
    keys are kept as null-payload tombstone rows (what the seq-guarded
    ``read_live`` contract expects) instead of dropped.

    Late-event contract (authoritative-state-wins, the same as the
    seq-guarded upsert merge): an event below the stored row image's seq is
    superseded WHOLESALE — in particular a late ``I`` does NOT back-fill
    columns the folded state never set (the fold cannot distinguish
    "never patched" from "explicitly null"). Total-order patch semantics
    require in-order delivery across batches, which the batch replayer's
    disjoint ascending seq ranges guarantee; within a batch any order is
    fine (the fold is order-free).

    Change-data-feed note: the patch engine does NOT capture a CDF feed on
    ``cdf.enabled`` tables (no ``cdf_sid`` marker is set) — readers fall
    back to the snapshot diff, which is correct for these COW rewrites
    (see ``lake/cdf.py``'s not-captured list).
    """
    if table.has_commit(commit_id):
        return {"skipped": True, "commit_id": commit_id}

    t0 = time.time()
    snap = table.snapshot()
    keys = snap.key_columns
    data_cols = [c["name"] for c in snap.current_schema()]
    seq_guard = "_seq" in data_cols
    tombstones = "_deleted" in data_cols
    value_cols = [
        c for c in data_cols if c not in keys and c not in ("_seq", "_deleted")
    ]
    delete_op = "D"

    decl = {c["name"]: c["type"] for c in snap.current_schema()}
    required = list(dict.fromkeys(keys + value_cols + [op_col, seq_col]))
    missing = [c for c in required if c not in batch_df.columns]
    if missing:
        raise ValueError(f"Batch is missing columns {missing}")
    batch_sel = batch_df.select(
        *[F.col(k).cast(decl[k]).alias(k) for k in keys],
        F.col(seq_col).cast("long").alias("__seq"),
        F.col(op_col).alias("__op"),
        *[F.col(c).cast(decl[c]).alias(c) for c in value_cols],
    )

    table_rows = int(snap.summary.get("row_count", 0) or 0)

    batch_stats = bucket_stats(batch_stats, batch_sel, keys, snap.n_buckets, delete_op)
    n_total, n_dels = batch_stats.n, batch_stats.deletes
    max_seq = batch_stats.max_seq
    touched = batch_stats.buckets
    use_pruning = table_rows > 0 and n_total < PRUNE_THRESHOLD * table_rows

    if not touched:
        table.commit_files(
            commit_id, [], {}, dict(summary_update or {}),
            base_snapshot_id=snap.snapshot_id, publish=publish,
        )
        return {
            "skipped": False, "commit_id": commit_id, "affected_buckets": 0,
            "upserts": 0, "deletes": 0, "strategy": "patch-pruned",
            "seconds": time.time() - t0,
        }

    current = table.read(buckets=touched if use_pruning else None)
    cur_seq = F.col("_seq") if seq_guard else F.lit(-1).cast("long")
    # stored state re-enters as its own row image: live rows are
    # authoritative inserts, tombstones are deletes at their guard seq
    cur_op = (
        F.when(
            F.coalesce(F.col("_deleted"), F.lit(False)), F.lit(delete_op)
        ).otherwise(F.lit("I"))
        if tombstones
        else F.lit("I")
    )
    current_sel = current.select(
        *keys,
        cur_seq.alias("__seq"),
        cur_op.alias("__op"),
        *[F.col(c) for c in value_cols],
    )

    from table2qb_spark.cdc.patch import patch_fold, resolve_patch_col

    folded = patch_fold(
        current_sel.unionByName(batch_sel),
        keys,
        seq_col="__seq",
        op_col="__op",
        value_cols=value_cols,
    )
    winners = folded.select(
        *keys,
        F.col("__last.s").alias("__seq"),
        (F.col("__last.o") == delete_op).alias("__dead"),
        *[resolve_patch_col(c) for c in value_cols],
    )
    out_cols = list(keys) + value_cols
    if seq_guard:
        winners = winners.withColumn("_seq", F.col("__seq"))
        out_cols.append("_seq")
    if tombstones:
        # dead keys stay as physical tombstone rows (null payload — no
        # candidate survives the final D boundary by construction)
        winners = winners.withColumn("_deleted", F.col("__dead"))
        out_cols.append("_deleted")
    else:
        winners = winners.where(~F.col("__dead"))
    merged = winners.select(*out_cols).withColumn(
        "__bucket", key_bucket_expr(keys, snap.n_buckets)
    )
    new_files = table.write_data_files(
        merged, snapshot_hint=f"{snap.snapshot_id + 1:08d}", repartition=True
    )
    affected = (
        touched if use_pruning
        else sorted(set(new_files) | {int(b) for b in snap.files})
    )
    for b in affected:
        new_files.setdefault(b, [])
    su = dict(summary_update or {})
    su.setdefault("max_seq", max_seq)
    table.commit_files(
        commit_id, affected, new_files, su,
        base_snapshot_id=snap.snapshot_id, publish=publish,
    )
    return {
        "skipped": False,
        "commit_id": commit_id,
        "affected_buckets": len(affected),
        "upserts": n_total - n_dels,
        "deletes": n_dels,
        "strategy": "patch-pruned" if use_pruning else "patch",
        "max_seq": max_seq,
        "seconds": time.time() - t0,
    }


def merge_upsert(
    table: LakeTable,
    batch_df: DataFrame,
    commit_id: str,
    op_col: str = "op",
    seq_col: str = "seq",
    delete_op: str = "D",
    two_phase_dedup: bool = False,
    summary_update: dict | None = None,
    batch_size_hint: int | None = None,
    publish: bool = True,
    branch: str | None = None,
    batch_stats: BatchStats | None = None,
) -> dict:
    """Apply one change batch. Returns merge stats. Idempotent: a commit_id
    already present in the snapshot history is skipped outright.

    ``publish=False`` STAGES the commit (write-audit-publish): the snapshot
    header + manifests are written but VERSION never moves and no commit
    marker lands — audit via ``read(snapshot_id=...)``, then
    ``table.publish_snapshot`` / ``table.discard_snapshot``.
    ``batch_stats``: the batch's touched buckets and counts, computed by
    the caller's pre-pass (``cdc.apply.batch_prepass``); its true event
    count picks the strategy and the merge runs no stats pass of its own.
    Without it, ``batch_size_hint`` (approximate event count, e.g. the
    seq-range width) picks pruned vs single-pass, the pruned strategy runs
    one narrow bucket aggregate, and the others count the batch with a
    ``pyspark.sql.Observation`` on the merge's own job (Observation metrics
    never fire inside a streaming ``foreachBatch``, so that path passes
    stats). ``branch``: merge onto that branch's head (reads the BRANCH
    state, not main) and stage the result as a branch-owned snapshot — the
    audit-branch workflow; ``table.fast_forward`` publishes the chain."""
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

    # seq-guarded tables carry ``_seq`` (stored per-row sequence): an incoming
    # row wins only when its seq >= the stored one — out-of-order delivery
    # ACROSS batches is safe. ``_deleted`` adds tombstones (logical deletes)
    # so a late lower-seq update cannot resurrect a deleted key. The batch
    # replayer needs neither (its seq ranges are totally ordered); the
    # streaming path uses both. Read converged state via read_live().
    seq_guard = "_seq" in data_cols
    tombstones = "_deleted" in data_cols
    value_cols = [c for c in data_cols if c not in keys and c not in ("_seq", "_deleted")]

    # Change-data-feed capture (lake/cdf.py, opt-in table property): the
    # winner aggregate below also keeps the current row's payload per key,
    # so before/after images cost zero extra table reads; the aggregate is
    # persisted once and both the feed and the data files derive from it.
    # Late-materialization backfills skip capture (the feed would force a
    # second pass over the whole batch) — readers fall back to the diff.
    from table2qb_spark.lake.cdf import cdf_enabled, write_change_feed

    # Branch commits skip CDF capture: the feed's cdf_sid contract names the
    # CHILD snapshot id, which on a branch is a free slot unknown until the
    # header lands — consumers of a fast-forwarded chain fall back to the
    # (composing) snapshot diff for those steps.
    cdf_on = cdf_enabled(snap) and branch is None

    required = list(dict.fromkeys(keys + value_cols + [op_col, seq_col]))
    missing = [c for c in required if c not in batch_df.columns]
    if missing:
        raise ValueError(f"Batch is missing columns {missing}")
    # Align batch columns to the table's DECLARED types at ingest (a batch
    # built from inferred-schema sources arrives as e.g. bigint where the
    # table declares int; writing it verbatim plants parquet files whose
    # physical type contradicts the table schema — every later read fails
    # with PARQUET_COLUMN_DATA_TYPE_MISMATCH). Cast is a no-op when types
    # already match; under ANSI mode (Spark 4 default) a narrowing overflow
    # fails THIS write loudly instead of corrupting the table.
    decl = {c["name"]: c["type"] for c in snap.current_schema()}
    batch_sel = batch_df.select(
        *[F.col(k).cast(decl[k]).alias(k) for k in keys],
        F.col(seq_col).cast("long").alias("__seq"),
        F.lit(1).alias("__pri"),  # seq ties: batch beats stored (see below)
        F.col(op_col).alias("__op"),
        *[F.col(c).cast(decl[c]).alias(c) for c in value_cols],
    )
    if two_phase_dedup:
        # explicit salted pre-combine for single-key bursts, then the main agg
        batch_sel = dedup_max_seq(
            batch_sel, keys, seq_col="__seq", two_phase=True
        )

    table_rows = int(snap.summary.get("row_count", 0) or 0)

    # Backfill/initial-replay fast path (empty table, plain batch): LATE
    # MATERIALIZATION. The wide exchange is the DRAM-bandwidth bottleneck at
    # high core counts, and most of its bytes are payload columns (content)
    # for rows that LOSE the merge. Phase 1 shuffles only (keys, seq, op) —
    # an order-of-magnitude narrower row — to pick each key's winning seq;
    # phase 2 broadcast-joins the winning seqs back against the batch scan,
    # so only winner rows (1/dup-factor of the batch) carry their payload
    # through the bucket exchange. Duplicate deliveries of a winning seq
    # both pass the join; the bucket window below keeps exactly one.
    # seq values need only be unique PER KEY (the merge contract): a foreign
    # key's event sharing a winning seq value passes the join too, but the
    # bucket window re-picks the max per key among fetched rows. Delete
    # winners MUST be fetched too (not pre-filtered out of the broadcast):
    # a key's winning seq is its MAX seq, so with every winner seq present
    # the window's per-key max is always the true winner, and the op filter
    # below drops the delete-winner keys. Excluding delete winners instead
    # would resurrect a deleted key whose lower-seq update collides with
    # another key's winning seq.
    # Seq-guarded/tombstone tables qualify too when EMPTY: with no current
    # rows the guard reduces to in-batch max-seq-wins, and delete winners
    # become tombstone rows instead of being dropped — so the streaming
    # path's initial backfill (empty table) also takes this path.
    # The broadcast build side is one winning seq per distinct key — at an
    # initial load of HUNDREDS of millions of keys that exceeds Spark's
    # broadcast limits (512M rows / 8 GB) and the driver's memory, so
    # batches above LATE_MAT_MAX_EVENTS fall back to the single-pass
    # shuffle. On 4 cores late-mat is the faster of the two (BENCH.md,
    # "Late-materialization A/B").
    n_batch = batch_size_hint if batch_stats is None else batch_stats.n
    late_mat = (
        table_rows == 0
        and not two_phase_dedup
        and (n_batch is None or n_batch <= LATE_MAT_MAX_EVENTS)
    )
    observation = None
    if late_mat:
        narrow = batch_sel.select(*keys, "__seq", "__op")
        if batch_stats is None:
            observation = Observation(f"merge-lm-{commit_id}")
            narrow = narrow.observe(observation, *stats_aggs("__op", "__seq", delete_op))
        # NO distinct on the build side: two keys sharing a winning seq value
        # put two wseq=s rows in the build relation, so probe rows with that
        # seq match twice — but the duplicates are IDENTICAL rows and the
        # bucket window's last-row detection keeps exactly one (same as
        # duplicate deliveries). Cross-key collisions are rare, while a
        # distinct costs a whole extra shuffle + stage on the critical path.
        win_seqs = narrow.groupBy(*keys).agg(F.max("__seq").alias("__wseq")).select(
            "__wseq"
        )
        fetched = batch_sel.join(
            F.broadcast(win_seqs), batch_sel["__seq"] == F.col("__wseq"), "inner"
        ).drop("__wseq")
        winners = _bucket_window_winners(fetched, keys, snap.n_buckets)
        lm_cols = list(keys) + value_cols
        if seq_guard:
            winners = winners.withColumn("_seq", F.col("__seq"))
            lm_cols.append("_seq")
        if tombstones:
            winners = winners.withColumn("_deleted", F.col("__op") == delete_op)
            lm_cols.append("_deleted")
        else:
            winners = winners.where(F.col("__op") != delete_op)
        merged = winners.select(*lm_cols, "__bucket")
        new_files = table.write_data_files(
            merged, snapshot_hint=f"{snap.snapshot_id + 1:08d}", repartition=False
        )
        if observation is not None:
            batch_stats = _observed(observation)
        affected = sorted(set(new_files) | {int(b) for b in snap.files})
        for b in affected:
            new_files.setdefault(b, [])
        su = dict(summary_update or {})
        su.setdefault("max_seq", batch_stats.max_seq)
        table.commit_files(
            commit_id, affected, new_files, su,
            base_snapshot_id=snap.snapshot_id, publish=publish, branch=branch,
        )
        return {
            "skipped": False,
            "commit_id": commit_id,
            "affected_buckets": len(affected),
            "upserts": batch_stats.n - batch_stats.deletes,
            "deletes": batch_stats.deletes,
            "strategy": "late-materialization",
            "max_seq": batch_stats.max_seq,
            "seconds": time.time() - t0,
        }

    # The batch's true size (from batch_stats) or the caller's hint picks
    # the strategy; a streaming trigger carries no hint, so its stats are
    # what lets it prune.
    use_pruning = (
        table_rows > 0 and n_batch is not None and n_batch < PRUNE_THRESHOLD * table_rows
    )
    if use_pruning:
        batch_stats = bucket_stats(batch_stats, batch_sel, keys, snap.n_buckets, delete_op)
        affected = batch_stats.buckets
        if not affected:
            su0 = dict(summary_update or {})
            if cdf_on:  # captured-and-empty: readers skip, never diff
                su0.update({"cdf_rows": 0,
                            "cdf_sid": snap.snapshot_id + 1})
            table.commit_files(
                commit_id, [], {}, su0,
                base_snapshot_id=snap.snapshot_id, publish=publish, branch=branch,
            )
            return {
                "skipped": False, "commit_id": commit_id, "affected_buckets": 0,
                "upserts": 0, "deletes": 0, "strategy": "pruned",
                "seconds": time.time() - t0,
            }
        current = table.read(
            snapshot_id=None if branch is None else snap.snapshot_id,
            buckets=affected,
        )
    else:
        if batch_stats is None:
            observation = Observation(f"merge-{commit_id}")
            batch_sel = batch_sel.observe(
                observation, *stats_aggs("__op", "__seq", delete_op)
            )
        affected = None  # every bucket is replaced
        current = table.read(
            snapshot_id=None if branch is None else snap.snapshot_id
        )

    # current rows enter the contest below every batch event: at their stored
    # _seq (guarded tables) or at -1 (seq ranges are totally ordered, any
    # batch event is newer). Tombstoned rows re-enter as op='D' so they keep
    # winning over nothing and stay tombstones.
    cur_seq = F.col("_seq") if seq_guard else F.lit(-1).cast("long")
    cur_op = (
        F.when(F.coalesce(F.col("_deleted"), F.lit(False)), F.lit(delete_op)).otherwise(F.lit("U"))
        if tombstones
        else F.lit("U")
    )
    current_sel = current.select(
        *keys,
        cur_seq.alias("__seq"),
        F.lit(0).alias("__pri"),
        cur_op.alias("__op"),
        *[F.col(c) for c in value_cols],
    )

    # __pri orders right after __seq, so an incoming event whose seq EQUALS
    # the stored row's _seq deterministically wins (including deletes — 'D'
    # would otherwise lose a lexicographic tie to 'U'), honouring "incoming
    # wins when its seq >= the stored one".
    both = current_sel.unionByName(batch_sel)

    if cdf_on:
        # CDF capture keeps the aggregate: next to the winner payload a
        # second per-key struct keeps the CURRENT row's payload — the before
        # image. The aggregate is persisted so the feed write and the data
        # write are two cheap reads of one computation; the write then
        # places the winners by bucket.
        payload = F.struct(
            F.col("__seq"), F.col("__pri"), F.col("__op"), *[F.col(c) for c in value_cols]
        )
        agged = both.groupBy(*keys).agg(
            F.max(payload).alias("__p"),
            F.max(F.when(F.col("__pri") == 0, payload)).alias("__b"),
        ).persist()
        winners = agged.select(
            *keys,
            F.col("__p.__seq").alias("__seq"),
            F.col("__p.__op").alias("__op"),
            *[F.col(f"__p.{c}").alias(c) for c in value_cols],
        )
    else:
        # pruned, single-pass and backfill: ONE wide shuffle total. The
        # bucket is a pure function of the keys, so placing rows by bucket
        # co-locates every key's rows; a bucket-partitioned window then takes
        # the last row per key by (__seq, __pri) with NO further exchange
        # (the window's required clustering is already satisfied), and the
        # output is bucket-aligned so the write needs no second repartition
        # either. Against the aggregate form this halves shuffled bytes and
        # skips the hash table. Ordering stops at (__seq, __pri) — equal
        # (key, seq) beyond __pri is an exact duplicate delivery (seq unique
        # per key), and content-bearing payload structs as sort keys measured
        # 2x slower; scalar per-key leads likewise beat a struct lead
        winners = _bucket_window_winners(both, keys, snap.n_buckets)

    out_cols = list(keys) + value_cols
    if seq_guard:
        winners = winners.withColumn("_seq", F.col("__seq"))
        out_cols.append("_seq")
    if tombstones:
        winners = winners.withColumn("_deleted", F.col("__op") == delete_op)
        out_cols.append("_deleted")
    else:
        winners = winners.where(F.col("__op") != delete_op)
    if cdf_on:
        merged = winners.select(*out_cols).withColumn(
            "__bucket", key_bucket_expr(keys, snap.n_buckets)
        )
    else:
        merged = winners.select(*out_cols, "__bucket")

    cdf_su: dict = {}
    if cdf_on:
        changes = _cdf_changes(
            agged, keys, data_cols, value_cols, tombstones, delete_op
        )
        rel, n_changes = write_change_feed(
            table, changes, f"{snap.snapshot_id + 1:08d}"
        )
        cdf_su = {"cdf_dir": rel, "cdf_rows": n_changes,
                  "cdf_sid": snap.snapshot_id + 1}

    new_files = table.write_data_files(
        merged, snapshot_hint=f"{snap.snapshot_id + 1:08d}", repartition=cdf_on
    )
    if cdf_on:
        agged.unpersist()

    if observation is not None:
        batch_stats = _observed(observation)
    if affected is None:  # single-pass replaces every previously-filled bucket
        affected = sorted(set(new_files) | {int(b) for b in snap.files})
    # buckets that lost all rows still count as replaced (their old files go)
    for b in affected:
        new_files.setdefault(b, [])

    su = dict(summary_update or {})
    su.update(cdf_su)
    su.setdefault("max_seq", batch_stats.max_seq)
    table.commit_files(
        commit_id, affected, new_files, su,
        base_snapshot_id=snap.snapshot_id, publish=publish, branch=branch,
    )
    return {
        "skipped": False,
        "commit_id": commit_id,
        "affected_buckets": len(affected),
        "upserts": batch_stats.n - batch_stats.deletes,
        "deletes": batch_stats.deletes,
        "strategy": ("pruned" if use_pruning
                     else "agg-cdf" if cdf_on else "single-pass"),
        "max_seq": batch_stats.max_seq,
        "seconds": time.time() - t0,
    }
