"""Change Data Feed (CDF): per-commit change files captured AT MERGE TIME,
so downstream incremental consumers (cdc-materialize, cdc-replicate,
cdc-subscribe, cdc-diff --envelope) read O(changed rows) instead of
re-deriving changes from an O(touched-bucket bytes) snapshot diff — Delta
Lake's Change Data Feed re-expressed over this lake format.

Why this exists (measured, BENCH.md "IVM refresh vs recompute"): the
bucket-pruned snapshot diff is the right FALLBACK, but its cost is the
touched buckets read at BOTH snapshot versions — and uniformly scattered
updates touch every bucket, so at any scale where the scan dominates,
diff-based incremental refresh loses to a plain recompute. The merge,
however, already holds every before/after image in the same hash
aggregate that decides the winners: capturing the envelope there costs
one small parquet write per commit (plus persisting the aggregate so the
feed and the data files are derived from ONE computation), after which
every consumer's delta read is change-sized forever. That is the 100 TB
shape: ingest pays O(changes) once, consumers pay O(changes) each.

Layout and atomicity:

- feeds live under ``<table>/changes/snap-<hint>-<token>/`` (attempt-
  unique, like data files); the committing snapshot records
  ``cdf_dir``/``cdf_rows``/``cdf_sid`` in its summary. Summaries carry
  forward from the parent, so a feed is valid for snapshot ``s`` ONLY
  when ``s.summary["cdf_sid"] == s.snapshot_id`` — a later commit that
  didn't capture (compaction, DML, a crashed writer's survivor) inherits
  a stale ``cdf_sid`` and the reader falls back to the diff for that
  step. No flag days, no corruption windows.
- a feed dir written by a commit attempt that LOST the optimistic-
  concurrency race is an orphan; ``expire_snapshots``'s sweep removes
  unreferenced feed files after the same grace window as data files.

Read path (``changes_between``): walk the published ancestry from
``from_id`` to ``to_id``; contiguous runs of feed-carrying commits read
their parquet feeds (struct-aligned to the CURRENT schema — feeds written
before an ADD COLUMN gain typed NULL fields), runs without feeds collapse
into ONE ``snapshot_diff_envelope`` per run (the diff composes over any
range). ``coalesce=True`` nets the chain per key — first ``before``, last
``after`` in ancestry order — and drops keys with no net change, which
makes the result digest-identical to ``snapshot_diff_envelope(from, to)``
(pytest asserts exactly that, feeds-only, diff-only and mixed).

Semantics captured (parity with the diff over ``table.read()``):

- plain tables: batch winner with no current row -> 'c'; with one -> 'u';
  delete winner with a current row -> 'd'; delete of an absent key -> no
  row. A winner that rewrites identical values is captured as 'u'
  (event-level truth) and cancels in the coalesce (state-level truth).
- seq-guarded tables: a stale event LOSES the aggregate (the stored row
  wins) -> no feed row, matching the diff's view that nothing changed.
- tombstone tables: the physical row model is captured — a delete writes
  a ``_deleted=true`` row image, so feeds mirror what ``read()`` (and
  therefore the diff) sees.

Not captured (reader falls back to the per-run diff, documented):
late-materialization backfills into EMPTY tables (capture would force a
second pass over the whole batch; the fallback diff of an empty ``from``
side is just a scan of the new snapshot), the partial-update patch engine
(``lake.merge.merge_patch`` — COW rewrites, so the fallback diff is
exact), merge-on-read appends,
row-level DML, MERGE INTO, compaction/rebucket/z-order (logical no-ops —
their diff is empty), and rollback (whose fallback diff correctly emits
the INVERSE changes).

Reference analog: none (SURVEY.md §1 — the reference is one-shot batch
ETL); this is north-rule CDC-producer surface, Delta CDF shape from
public docs.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from table2qb_spark.lake.diff import snapshot_diff_envelope
from table2qb_spark.lake.table import LakeTable, Snapshot

#: table property that turns capture on (set at create, or cdc-alter)
CDF_PROP = "cdf.enabled"
CHANGES_DIR = "changes"


def cdf_enabled(snap: Snapshot) -> bool:
    return str(snap.properties.get(CDF_PROP, "")).lower() == "true"


def feed_of(snap: Snapshot) -> "str | None":
    """The feed dir (relative to the table root) captured BY this snapshot,
    or None. Summaries inherit from the parent, so the recorded ``cdf_sid``
    must equal this snapshot's own id — an inherited (stale) entry means
    this commit did not capture and the reader must fall back to the diff
    for its step."""
    if snap.summary.get("cdf_sid") != snap.snapshot_id:
        return None
    if int(snap.summary.get("cdf_rows") or 0) == 0:
        return ""  # captured-and-empty: a real feed with zero rows
    return snap.summary.get("cdf_dir") or None


def write_change_feed(
    table: LakeTable, changes: DataFrame, snapshot_hint: str
) -> tuple[str, int]:
    """Write one commit's change rows (op, <keys>, before, after) to an
    attempt-unique dir under changes/. Returns (relpath, row_count) for the
    committing snapshot's summary — the count comes from the parquet
    footers, not a second scan."""
    rel = os.path.join(
        CHANGES_DIR, f"snap-{snapshot_hint}-{uuid.uuid4().hex[:8]}"
    )
    out = os.path.join(table.path, rel)
    changes.write.mode("overwrite").parquet(out)
    from table2qb_spark.ops.prep import _parquet_rows

    return rel, int(_parquet_rows(out))


def _aligned_image(src_col: str, present: set, cols: list[dict]):
    """Rebuild a row-image struct on the CURRENT schema's column order;
    columns the feed predates read as typed NULLs (same alignment rule as
    the diff's old side). NULL struct stays NULL."""
    fields = [
        F.col(f"{src_col}.{c['name']}").alias(c["name"])
        if c["name"] in present
        else F.lit(None).cast(c["type"]).alias(c["name"])
        for c in cols
    ]
    return F.when(F.col(src_col).isNotNull(), F.struct(*fields))


def _read_feed(
    table: LakeTable, snap: Snapshot, rel: str,
    cols: list[dict], keys: list[str],
) -> DataFrame:
    """One commit's feed, struct-aligned to the range's target schema,
    carrying its own from/to/ts source metadata (from the snapshot header —
    the feed file stores none, so replayed/re-read feeds never disagree
    with the commit that owns them)."""
    df = table.spark.read.parquet(os.path.join(table.path, rel))
    present = {
        f.name for f in df.schema["before"].dataType.fields
    }
    return df.select(
        "op",
        *keys,
        _aligned_image("before", present, cols).alias("before"),
        _aligned_image("after", present, cols).alias("after"),
        F.lit(snap.parent_id).alias("from_snapshot"),
        F.lit(snap.snapshot_id).alias("to_snapshot"),
        F.lit(snap.timestamp_ms).alias("ts_ms"),
    )


def _empty_envelope(table: LakeTable, from_id: int, to_id: int) -> DataFrame:
    snap = table.snapshot(to_id)
    cols = snap.current_schema()
    struct_t = "struct<" + ", ".join(
        f"{c['name']}:{c['type']}" for c in cols
    ) + ">"
    key_types = {c["name"]: c["type"] for c in cols}
    return table.spark.range(0).select(
        F.lit(None).cast("string").alias("op"),
        *[F.lit(None).cast(key_types[k]).alias(k) for k in snap.key_columns],
        F.lit(None).cast(struct_t).alias("before"),
        F.lit(None).cast(struct_t).alias("after"),
        F.lit(from_id).alias("from_snapshot"),
        F.lit(to_id).alias("to_snapshot"),
        F.lit(snap.timestamp_ms).alias("ts_ms"),
    )


def coalesce_envelope(
    env: DataFrame, keys: list[str], from_id: int, to_id: int, ts_ms: int
) -> DataFrame:
    """Net a multi-step envelope per key: the FIRST step's before is the
    state at ``from_id``, the LAST step's after is the state at ``to_id``
    (ancestry order = ``to_snapshot``); intermediate images cancel. Keys
    whose net before and after are null-safe-equal (update-then-revert,
    rewrite-with-identical-values, delete-of-absent) drop — exactly the
    rows ``snapshot_diff_envelope`` would never emit, which is what makes
    the two digest-identical."""
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy("to_snapshot")
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    netted = env.select(
        *keys,
        F.first("before").over(wfull).alias("__b"),
        F.last("after").over(wfull).alias("__a"),
        F.row_number().over(w).alias("__rn"),
    ).where(F.col("__rn") == 1)
    b, a = F.col("__b"), F.col("__a")
    op = (
        F.when(a.isNotNull() & b.isNull(), F.lit("c"))
        .when(b.isNotNull() & a.isNull(), F.lit("d"))
        .otherwise(F.lit("u"))
    )
    return netted.where(~b.eqNullSafe(a)).select(
        op.alias("op"),
        *keys,
        b.alias("before"),
        a.alias("after"),
        F.lit(from_id).alias("from_snapshot"),
        F.lit(to_id).alias("to_snapshot"),
        F.lit(ts_ms).alias("ts_ms"),
    )


def changes_between(
    table: LakeTable,
    from_id: int,
    to_id: "int | None" = None,
    coalesce: bool = True,
) -> DataFrame:
    """The change envelope between two snapshots, reading captured feeds
    where they exist and falling back to ONE bucket-pruned diff per
    feed-less run of the ancestry. ``coalesce=True`` nets the chain —
    digest-identical to ``snapshot_diff_envelope(from_id, to_id)`` but
    O(changed rows) when feeds cover the range. ``coalesce=False`` returns
    the per-step union (each row stamped with its own from/to/ts).

    Raises ValueError when ``from_id`` is no longer in the retained
    ancestry (expired past the cursor) — callers surface their
    full-refresh/resync recovery, same contract as the diff path."""
    to_id = to_id if to_id is not None else table.current_snapshot_id()
    if from_id == to_id:
        return _empty_envelope(table, from_id, to_id)
    hist = table.history()
    ids = [s.snapshot_id for s in hist]
    by_id = {s.snapshot_id: s for s in hist}
    if from_id not in ids or to_id not in ids:
        raise ValueError(
            f"snapshot range ({from_id}, {to_id}] is not fully in the "
            f"retained ancestry (oldest retained: {ids[0]}, current: "
            f"{ids[-1]}) — snapshots were expired past the cursor"
        )
    if ids.index(from_id) > ids.index(to_id):
        raise ValueError(
            f"from_id {from_id} is NEWER than to_id {to_id} in the "
            "ancestry — changes_between reads forward only"
        )
    chain = ids[ids.index(from_id): ids.index(to_id) + 1]
    snap_to = by_id[to_id]
    cols_to, keys_to = snap_to.current_schema(), snap_to.key_columns

    parts: list[DataFrame] = []
    run_start: "int | None" = None  # first from-id of a pending diff run
    for prev, sid in zip(chain, chain[1:]):
        rel = feed_of(by_id[sid])
        if rel is None:  # no feed: extend (or open) the diff run
            run_start = prev if run_start is None else run_start
            continue
        if run_start is not None:  # close the run with one composed diff
            parts.append(snapshot_diff_envelope(table, run_start, prev))
            run_start = None
        if rel != "":  # captured-and-empty feeds contribute nothing
            parts.append(_read_feed(table, by_id[sid], rel, cols_to, keys_to))
    if run_start is not None:
        parts.append(snapshot_diff_envelope(table, run_start, chain[-1]))

    if not parts:
        return _empty_envelope(table, from_id, to_id)
    env = parts[0]
    for p in parts[1:]:
        env = env.unionByName(p)
    if not coalesce:
        return env
    return coalesce_envelope(
        env, keys_to, from_id, to_id, snap_to.timestamp_ms
    )
