"""CDC replay engine: ordered change-log tail -> lake MERGE upserts.

The replayer consumes the change log in **sequence-number ranges** (not file
order — delivery order is irrelevant, seq is authoritative; events inside a
range are deduped max-seq-wins, ranges are disjoint so cross-range ordering
is total). Each range becomes one MERGE commit with:

- commit_id = ``cdc-{batch_index:08d}`` — the idempotent commit manifest:
  replaying from ANY earlier checkpoint re-issues commits that the snapshot
  chain already contains and they are skipped, so the final state converges
  (north-rule exactly-once).
- a checkpoint record in the snapshot summary (last_batch, max_seq) — resume
  reads the current snapshot and continues from the next range;
- a metrics row (events, upserts, deletes, buckets touched, seconds,
  events/sec, lag) appended to ``_meta/metrics.jsonl`` — per-batch
  throughput/lag observability.

Batch-loop vs Structured Streaming: the loop IS ``foreachBatch`` semantics
with deterministic batch boundaries (seq ranges instead of arrival time),
which is what makes replay reproducible. Both front-ends — this replayer and
the readStream one in table2qb_spark.cdc.streaming — hand each batch to the
same ``apply_change_batch``, which owns everything from the commit-marker
skip to the metrics row.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from table2qb_spark.cdc.schema_evolution import (
    RENAME_KEY,
    parse_renames,
    reconcile_and_flatten,
)
from table2qb_spark.lake.merge import BatchStats, merge_patch, merge_upsert, stats_aggs
from table2qb_spark.lake.table import LakeTable, Snapshot, key_bucket_expr

# per-phase seconds in every metrics row (null where a path skips the phase)
PHASES = ("dlq_s", "prepass_s", "reconcile_s", "merge_s")


def _leaf_column_index(md, name: str) -> int:
    """Index of a TOP-LEVEL column among the parquet file's FLATTENED leaf
    columns (row-group statistics are leaf-indexed: an Arrow field index is
    wrong as soon as any struct column precedes the target)."""
    for i in range(md.num_columns):
        if md.schema.column(i).path == name:
            return i
    return -1


def _footer_schema(path: str):
    """The schema ``spark.read.parquet(path)`` infers, read on the driver
    from one data file's footer, so no Spark job runs: Spark's own row
    metadata when the file carries it (what Spark's reader prefers too),
    else the Arrow schema. Partition columns (``op=I/`` directories) are not
    in it: Spark still discovers them from the paths. None when ``path``
    holds no parquet file."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema
    from pyspark.sql.types import StructType

    for root, dirs, files in os.walk(path):
        # Spark skips "_" / "." entries (_SUCCESS, _temporary, .crc)
        dirs[:] = sorted(d for d in dirs if not d.startswith(("_", ".")))
        for fn in sorted(files):
            if fn.endswith(".parquet") and not fn.startswith(("_", ".")):
                schema = pq.read_schema(os.path.join(root, fn))
                spark_json = (schema.metadata or {}).get(
                    b"org.apache.spark.sql.parquet.row.metadata"
                )
                if spark_json is not None:
                    return StructType.fromJson(json.loads(spark_json))
                return from_arrow_schema(schema)
    return None


def malformed_reason_expr(
    op_col: str,
    seq_col: str,
    key_cols: list[str],
    valid_ops: tuple[str, ...] = ("I", "U", "D"),
):
    """Null iff the event is well-formed; else the first failing check
    ('null_seq' | 'bad_op' | 'null_key:<col>'). The DLQ rule of
    ``apply_change_batch`` (so of both ingest paths) and of cdc/dlq.py."""
    reason = F.when(F.col(seq_col).isNull(), F.lit("null_seq")).when(
        F.col(op_col).isNull() | ~F.col(op_col).isin(*valid_ops),
        F.lit("bad_op"),
    )
    for k in key_cols:
        reason = reason.when(F.col(k).isNull(), F.lit(f"null_key:{k}"))
    return reason


def check_merge_engine(merge_engine: str, merge_on_read: bool) -> None:
    """Reject a bad engine combination before any I/O. "upsert" =
    full-row-image last-writer-wins; "patch" = partial-update per-column
    last-non-null-wins (cdc/patch.py / lake.merge.merge_patch) for
    MINIMAL-row-image / $set-shaped logs. Patch applies per-bucket COW
    rewrites, so it composes with staging but not with merge-on-read
    (equality deletes mask whole superseded ROWS — a partial payload has no
    full row to append)."""
    if merge_engine not in ("upsert", "patch"):
        raise ValueError(f"Unknown merge_engine {merge_engine!r}")
    if merge_engine == "patch" and merge_on_read:
        raise ValueError("merge_engine='patch' requires copy-on-write "
                         "(merge-on-read appends full row images)")


@dataclass(frozen=True)
class BatchPrepass:
    """One batch's pre-pass: its distinct payload keys (sorted, without the
    rename key), its rename directives folded in seq order, and the merge's
    ``BatchStats`` (None when the pre-pass ran without ``op_col``)."""

    payload_keys: list[str]
    renames: dict[str, str]
    stats: BatchStats | None


EMPTY_PREPASS = BatchPrepass([], {}, BatchStats([], 0, 0, None))


def batch_prepass(
    snap: Snapshot,
    df: DataFrame,
    payload_col: str = "payload_json",
    op_col: str | None = "op",
    seq_col: str = "seq",
    batch: Column | None = None,
) -> dict[int, BatchPrepass]:
    """Everything ingest must know about its batches before it merges, from
    ONE aggregate over ``df`` grouped by (``batch``, bucket): per batch the
    payload keys (``collect_set(map_keys(from_json(payload)))``), the rename
    directives in seq order, and per bucket the event count, delete count
    and max seq. The bucket is computed from the key columns cast to their
    declared types, exactly as the merge buckets its rows. ``batch`` labels
    each row's batch (default: one batch, 0); a batch with no rows has no
    entry. ``op_col=None`` skips the bucket stats (schema discovery only:
    ``stats`` is None, renames are ordered by payload text)."""
    keys = snap.key_columns
    group = [(F.lit(0) if batch is None else batch).alias("__batch")]
    aggs = []
    if op_col is not None:
        decl = {c["name"]: c["type"] for c in snap.current_schema()}
        group.append(key_bucket_expr(keys, snap.n_buckets, decl).alias("__bucket"))
        aggs += stats_aggs(op_col, seq_col)
    has_payload = payload_col in df.columns
    if has_payload:
        payload = F.col(payload_col)
        seq = (F.col(seq_col) if op_col is not None else F.lit(None)).cast("long")
        aggs += [
            F.collect_set(
                F.map_keys(F.from_json(payload, "map<string,string>"))
            ).alias("keys"),
            F.collect_list(
                F.when(payload.contains(RENAME_KEY), F.struct(seq.alias("s"), payload.alias("p")))
            ).alias("renames"),
        ]
    if not aggs:
        return {}
    by_batch = defaultdict(list)
    for r in df.groupBy(*group).agg(*aggs).collect():
        by_batch[int(r["__batch"])].append(r)
    out = {}
    for b, rows in by_batch.items():
        found, directives = set(), []
        if has_payload:
            found = {k for r in rows for ks in r["keys"] for k in ks}
            directives = sorted(
                ((d["s"] is None, d["s"] or 0, d["p"]) for r in rows for d in r["renames"])
            )
        out[b] = BatchPrepass(
            sorted(found - {RENAME_KEY}),
            parse_renames(p for _, _, p in directives),
            BatchStats.of(rows, snap.n_buckets) if op_col is not None else None,
        )
    return out


def append_metrics_row(
    table: LakeTable,
    source: str,
    batch: int,
    commit_id: str,
    stats: dict,
    seconds: float,
    dlq_events: int = 0,
    seq_start: int | None = None,
    seq_end: int | None = None,
    lag_events: int | None = None,
    phases: dict | None = None,
) -> dict:
    """Append one batch's row to ``_meta/metrics.jsonl`` and return it.
    Both ingest paths (``source`` = replay | stream) write this key set; a
    value the path cannot know is null. ``strategy``, the event counts and
    ``max_seq`` come from the merge's returned ``stats``, so a staged
    (unpublished) commit reports its own values, not the parent snapshot's.
    ``phases`` maps each of ``PHASES`` to its seconds; a phase the path did
    not run for this batch is null."""
    upserts, deletes = stats.get("upserts"), stats.get("deletes")
    n_events = None if upserts is None else int(upserts) + int(deletes or 0)
    row = {
        "batch": batch,
        "commit_id": commit_id,
        "source": source,
        "strategy": stats.get("strategy"),
        "seq_start": seq_start,
        "seq_end": seq_end,
        "batch_events": n_events,
        "upserts": upserts,
        "deletes": deletes,
        "buckets_touched": stats.get("affected_buckets", 0),
        "seconds": round(seconds, 3),
        "events_per_sec": (
            round(n_events / seconds, 1) if n_events is not None and seconds else None
        ),
        "max_seq": stats.get("max_seq"),
        "lag_events": lag_events,
        "dlq_events": dlq_events,
        **{k: None if (phases or {}).get(k) is None else round(phases[k], 3) for k in PHASES},
        "ts": time.time(),
    }
    with open(os.path.join(table.path, "_meta", "metrics.jsonl"), "a", encoding="utf-8") as f:
        f.write(json.dumps(row) + "\n")
    return row


def apply_change_batch(
    table: LakeTable,
    batch_df: DataFrame,
    commit_id: str,
    *,
    source: str,
    batch: int,
    summary_update: dict,
    op_col: str = "op",
    seq_col: str = "seq",
    payload_col: str = "payload_json",
    dlq_dir: str | None = None,
    valid_ops: tuple[str, ...] = ("I", "U", "D"),
    merge_engine: str = "upsert",
    merge_on_read: bool = False,
    publish: bool = True,
    two_phase_dedup: bool = False,
    prepass: BatchPrepass | None = None,
    prepass_s: float | None = None,
    seq_start: int | None = None,
    seq_end: int | None = None,
    lag_events: int | None = None,
) -> dict | None:
    """Apply one change batch as commit ``commit_id`` — the ingest body the
    seq-range replayer and the streaming ``foreachBatch`` both call — and
    return its metrics row (see ``append_metrics_row``). Returns None when
    the table already holds the commit: a resume from an earlier checkpoint
    or a redelivered micro-batch is skipped before any write (exactly-once).

    Order: DLQ quarantine (with ``dlq_dir``) -> content sha -> pre-pass
    (``batch_prepass``: payload keys, renames and the merge's bucket stats
    in one aggregate) -> schema reconcile (metadata-only commits) -> upsert
    / patch / merge-on-read merge. A caller that ran the pre-pass already
    (the replayer, once per run) passes this batch's ``prepass``, and the
    run's ``prepass_s`` with the first batch it applies; the row's
    ``seconds`` then include it.

    DLQ: a malformed change event — unknown/null ``op``, null key column,
    null ``seq`` — would otherwise be either silently mis-applied (an op
    outside the vocabulary falls through merge's delete test and UPSERTS; a
    null-keyed event becomes a live (null, ..) row) or silently dropped (a
    null seq matches no replay seq range, ever). With ``dlq_dir`` they go to
    ``dlq_dir/<commit_id>/`` with a ``dlq_reason`` column instead of the
    merge. The write is mode=overwrite keyed by commit_id, so a crash-rerun
    of an uncommitted batch rewrites the same directory (never duplicates);
    the reported count is a parquet-footer read, not a second scan."""
    if table.has_commit(commit_id):
        return None
    t0 = time.time()
    phases = dict.fromkeys(PHASES)
    phases["prepass_s"] = prepass_s
    dlq_events = 0
    if dlq_dir is not None:
        from table2qb_spark.ops.prep import _parquet_rows

        reason = malformed_reason_expr(
            op_col, seq_col, table.snapshot().key_columns, valid_ops
        )
        out = os.path.join(dlq_dir, commit_id)
        batch_df.where(reason.isNotNull()).withColumn(
            "dlq_reason", reason
        ).write.mode("overwrite").parquet(out)
        dlq_events = _parquet_rows(out)
        batch_df = batch_df.where(reason.isNull())
        phases["dlq_s"] = time.time() - t0
    # per-row invariant (BASELINE input_hint): content sha256 computed at
    # ingest — never taken from the log, whose hash may be stale — and
    # stored alongside the row, so state verification never re-reads content
    schema_names = {c["name"] for c in table.snapshot().current_schema()}
    if "content_sha" in schema_names and "content" in batch_df.columns:
        batch_df = batch_df.withColumn("content_sha", F.sha2(F.col("content"), 256))
    if prepass is None:
        t = time.time()
        prepass = batch_prepass(
            table.snapshot(), batch_df, payload_col, op_col, seq_col
        ).get(0, EMPTY_PREPASS)
        phases["prepass_s"] = time.time() - t
    # schema evolution first (metadata-only commits), then flat MERGE
    t = time.time()
    batch_df = reconcile_and_flatten(
        table, batch_df, commit_id, payload_col, prepass.payload_keys, prepass.renames
    )
    phases["reconcile_s"] = time.time() - t
    t = time.time()
    merge_args = dict(
        op_col=op_col, seq_col=seq_col, summary_update=summary_update,
        publish=publish, batch_stats=prepass.stats,
    )
    if merge_on_read:
        from table2qb_spark.lake.mor import merge_mor

        stats = merge_mor(table, batch_df, commit_id, **merge_args)
    elif merge_engine == "patch":
        stats = merge_patch(table, batch_df, commit_id, **merge_args)
    else:
        stats = merge_upsert(
            table, batch_df, commit_id, two_phase_dedup=two_phase_dedup, **merge_args
        )
    phases["merge_s"] = time.time() - t
    seconds = time.time() - t0 + (prepass_s or 0)
    return append_metrics_row(
        table, source, batch, commit_id, stats, seconds,
        dlq_events, seq_start, seq_end, lag_events, phases,
    )


@dataclass
class BatchResult:
    batch_index: int
    commit_id: str
    events: int
    skipped: bool
    stats: dict


class ChangeLogReplayer:
    def __init__(
        self,
        spark: SparkSession,
        table: LakeTable,
        events: DataFrame | str,
        seq_col: str = "seq",
        op_col: str = "op",
        batch_events: int = 1_000_000,
        two_phase_dedup: bool = False,
        payload_col: str = "payload_json",
        events_format: str = "parquet",
        dlq_dir: str | None = None,
        valid_ops: tuple[str, ...] = ("I", "U", "D"),
        merge_on_read: bool = False,
        stage: bool = False,
        merge_engine: str = "upsert",
    ):
        check_merge_engine(merge_engine, merge_on_read)
        self.merge_engine = merge_engine
        self.spark = spark
        self.table = table
        self._events_path = events if isinstance(events, str) else None
        if isinstance(events, str):
            # parquet is the production layout; json/csv cover hand-rolled or
            # exported logs (csv needs header+inferSchema for seq as a number)
            if events_format == "parquet":
                # the footer's schema, not Spark's inference: inference is
                # a Spark job on every construction
                schema = _footer_schema(events) if os.path.isdir(events) else None
                reader = spark.read if schema is None else spark.read.schema(schema)
                self.events = reader.parquet(events)
            elif events_format == "json":
                self.events = spark.read.json(events)
            elif events_format == "csv":
                self.events = spark.read.option("header", True).option(
                    "inferSchema", True
                ).csv(events)
            else:
                raise ValueError(f"Unknown events_format {events_format!r}")
        else:
            self.events = events
        self.seq_col = seq_col
        self.op_col = op_col
        self.batch_events = batch_events
        self.two_phase_dedup = two_phase_dedup
        self.payload_col = payload_col
        self.dlq_dir = dlq_dir
        self.valid_ops = tuple(valid_ops)
        # merge-on-read: append winners + equality-delete files instead of
        # rewriting touched buckets (lake/mor.py) — the update-heavy-stream
        # write-amplification escape; pair with periodic cdc-compact
        self.merge_on_read = merge_on_read
        # write-audit-publish: stage the batch's snapshot (header+manifests,
        # no VERSION swap, no commit marker) for audit before publish.
        # Schema-evolution commits (additive metadata) still publish
        # immediately — only the DATA batch is gated.
        self.stage = stage
        self.metrics_path = os.path.join(table.path, "_meta", "metrics.jsonl")

    # ----- checkpointing -----------------------------------------------------

    def last_applied_batch(self) -> int:
        return int(self.table.snapshot().summary.get("last_batch", -1))

    def seq_bounds(self) -> tuple[int, int]:
        """Global [min, max] of the seq column. For a directory input this is
        a driver-side parquet-FOOTER read (metadata only — at 100 TB a data
        scan just to find the range is wrong; a production log keeps this in
        its manifest). Falls back to a Spark aggregate for DataFrame inputs
        or stat-less files."""
        fb = self._footer_bounds()
        if fb is not None:
            return fb
        r = self.events.agg(
            F.min(self.seq_col).alias("lo"), F.max(self.seq_col).alias("hi")
        ).collect()[0]
        return int(r["lo"]), int(r["hi"])

    def _footer_bounds(self) -> tuple[int, int] | None:
        if self._events_path is None or not os.path.isdir(self._events_path):
            return None
        import pyarrow.parquet as pq

        lo = hi = None
        for root, _dirs, files in os.walk(self._events_path):
            for fn in files:
                if not fn.endswith(".parquet"):
                    continue
                md = pq.ParquetFile(os.path.join(root, fn)).metadata
                ci = _leaf_column_index(md, self.seq_col)
                if ci < 0:
                    return None
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(ci).statistics
                    if st is None or not st.has_min_max:
                        return None  # any stat-less file -> exact Spark agg
                    lo = st.min if lo is None else min(lo, st.min)
                    hi = st.max if hi is None else max(hi, st.max)
        if lo is None:
            return None
        return int(lo), int(hi)

    def batch_range(self, batch_index: int, lo: int) -> tuple[int, int]:
        start = lo + batch_index * self.batch_events
        return start, start + self.batch_events - 1

    # ----- single batch --------------------------------------------------------

    def _valid(self, df: DataFrame) -> DataFrame:
        """``df`` without the events the DLQ quarantines (all of it when
        there is no DLQ: then malformed events go to the merge)."""
        if self.dlq_dir is None:
            return df
        reason = malformed_reason_expr(
            self.op_col, self.seq_col, self.table.snapshot().key_columns, self.valid_ops
        )
        return df.where(reason.isNull())

    def prepass(self, first: int, last: int, lo: int) -> dict[int, BatchPrepass]:
        """``batch_prepass`` over batches ``first..last`` at once: one
        aggregate for the whole run instead of discovery scans per commit.
        Quarantined events are left out, so a DLQ'd payload never evolves
        the schema."""
        start, end = self.batch_range(first, lo)[0], self.batch_range(last, lo)[1]
        seq = F.col(self.seq_col)
        events = self._valid(self.events.where((seq >= start) & (seq <= end)))
        return batch_prepass(
            self.table.snapshot(), events, self.payload_col, self.op_col,
            self.seq_col, batch=F.floor((seq - lo) / self.batch_events),
        )

    def apply_batch(
        self,
        batch_index: int,
        lo: int,
        hi_total: int,
        prepass: BatchPrepass | None = None,
        prepass_s: float | None = None,
    ) -> BatchResult:
        commit_id = f"cdc-{batch_index:08d}"
        start, end = self.batch_range(batch_index, lo)
        batch = self.events.where(
            (F.col(self.seq_col) >= start) & (F.col(self.seq_col) <= end)
        )
        if batch_index == 0 and self.dlq_dir is not None:
            # null-seq events belong to NO seq range, so batch 0 hands them
            # to the DLQ (a resume past batch 0 does not re-scan them: their
            # quarantine already happened in the original run)
            batch = batch.unionByName(self.events.where(F.col(self.seq_col).isNull()))
        metrics = apply_change_batch(
            self.table,
            batch,
            commit_id,
            source="replay",
            batch=batch_index,
            # max_seq is NOT pinned to the range end here: merge records the
            # actually-observed max sequence (ops truth); resume keys off
            # last_batch, which is range-based
            summary_update={"last_batch": batch_index, "range_end": end},
            op_col=self.op_col,
            seq_col=self.seq_col,
            payload_col=self.payload_col,
            dlq_dir=self.dlq_dir,
            valid_ops=self.valid_ops,
            merge_engine=self.merge_engine,
            merge_on_read=self.merge_on_read,
            publish=not self.stage,
            two_phase_dedup=self.two_phase_dedup,
            prepass=prepass,
            prepass_s=prepass_s,
            seq_start=start,
            seq_end=end,
            lag_events=max(0, hi_total - end),
        )
        if metrics is None:
            return BatchResult(batch_index, commit_id, 0, True, {})
        return BatchResult(
            batch_index, commit_id, metrics["batch_events"] or 0, False, metrics
        )

    # ----- full replay -----------------------------------------------------------

    def run(self, max_batches: int | None = None) -> list[BatchResult]:
        """Replay from the current checkpoint to the end of the log. In
        ``stage`` mode at most ONE batch is applied regardless of
        ``max_batches``: a second batch would have to merge against state
        the unpublished first batch hasn't made visible (its snapshot slot
        is held), so staged ingest is publish-one-audit-one by design.

        One ``prepass`` covers every batch this run applies; the first
        batch's metrics row carries its seconds."""
        if self.stage:
            max_batches = 1 if max_batches is None else min(1, max_batches)
        lo, hi = self.seq_bounds()
        n_batches = (hi - lo) // self.batch_events + 1
        first = self.last_applied_batch() + 1
        if max_batches is not None:
            n_batches = min(n_batches, first + max_batches)
        if first >= n_batches:
            return []
        t0 = time.time()
        pre = self.prepass(first, n_batches - 1, lo)
        prepass_s = time.time() - t0
        results = []
        for i in range(first, n_batches):
            results.append(
                self.apply_batch(
                    i, lo, hi, pre.get(i, EMPTY_PREPASS), prepass_s if i == first else None
                )
            )
        return results

    def metrics(self) -> list[dict]:
        if not os.path.exists(self.metrics_path):
            return []
        with open(self.metrics_path) as f:
            return [json.loads(line) for line in f if line.strip()]
