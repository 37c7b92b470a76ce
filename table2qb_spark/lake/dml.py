"""Row-level DML over the lake: predicate DELETE, predicate UPDATE, and
generic MERGE INTO.

The CDC merge paths (lake/merge.py COW, lake/mor.py equality-delete MOR)
apply KEYED changes from the event stream. Operators also need the
out-of-band row-level statements a warehouse table supports — "DELETE FROM
t WHERE lang = 'php'" (retention, GDPR erasure, bad-crawl purges) and
"UPDATE t SET lang = 'python' WHERE path LIKE '%.py'" (backfills) — where
the rows are named by PREDICATE, not by key. This module re-expresses
Iceberg's two DELETE strategies over this lake format:

- **copy-on-write** (``strategy="cow"``): one stats/bloom-pruned scan finds
  the touched buckets, then ONLY those buckets are rewritten with the
  matching rows removed (or updated). Write amplification is
  O(touched-bucket bytes); reads stay mask-free. Right when the predicate
  touches a large row fraction, or as the compaction-adjacent default.
- **position deletes** (``strategy="positional"``, DELETE only): the
  matched rows' physical identities — (table-relative file path, row
  ordinal), Spark's parquet ``_metadata.file_path`` / ``row_index`` — land
  in per-bucket position-delete files; NO data file is rewritten. Write
  cost is O(matched rows); reads pay one anti-join (broadcast by AQE — the
  delete set is bounded by predicate-deletes since the last compaction)
  until ``compact()`` folds the mask away. This is Iceberg v2's position
  delete, the right shape when a 100 TB table loses a few thousand rows:
  COW would rewrite gigabytes per touched bucket to remove kilobytes.

Positions are emitted from a MASKED read (``read(with_pos_cols=True)``
applies equality- and position-delete masks first), so each (file, pos)
pair masks exactly one then-live row — the manifest live-row arithmetic
(pointer rows = data − eq-deletes − pos-deletes, audited by lake/fsck.py)
stays exact, and re-deleting the same rows twice is a no-op.

Both statements are snapshot commits with the table's full contract:
idempotent by commit_id, concurrency-checked against the base snapshot,
time travel sees the pre-delete state, and ``cdc-diff`` shows the removed
rows. ``compact()`` folds position deletes exactly like equality deletes
(it reads through the mask and rewrites, clearing the bucket's delete
files); ``min_delete_ratio`` debt targeting counts both kinds.

``merge_into`` is the third statement of the warehouse triad: SQL MERGE
with an arbitrary source DataFrame joined on the table's key columns (the
ON condition IS key equality — anything else couldn't route rows to
buckets), WHEN MATCHED [AND cond] THEN UPDATE/DELETE, WHEN NOT MATCHED
[AND cond] THEN INSERT. Unlike the CDC apply paths it takes no seq/op
envelope — the caller states intent per clause, which is what backfills,
dimension refreshes, and "upsert this corrected batch" jobs actually have.

Reference analog: none (table2qb is a stateless file converter,
SURVEY.md §1); this is north-rule lake surface.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, functions as F

from table2qb_spark.lake.table import LakeTable, key_bucket_expr


def _simple_preds(table: LakeTable, where: str):
    """The predicate as the lake's simple-conjunction form
    (``col<op>value``, comma-AND — the same mini-syntax as cdc-export's
    ``--where``) IF it unambiguously is one: every referenced name must be
    a real column, every value a value of that column's type and every
    string value quote/space-free. Anything else — quoted literals,
    function calls, OR, LIKE — is full Spark SQL (and skips file pruning).
    Deterministic: a string is interpreted by exactly one grammar."""
    from table2qb_spark.lake.skipping import parse_predicates

    types = {c["name"]: c["type"] for c in table.snapshot().current_schema()}
    try:
        preds = parse_predicates(where, types)
    except ValueError:
        return None
    for _col, _op, val in preds:
        if isinstance(val, str) and any(ch in val for ch in "'\" "):
            return None
    return preds


def _matched(table: LakeTable, where: str, with_pos: bool):
    """(live rows matching the predicate with __bucket (+ physical identity)
    attached, the predicate as a reusable Column). Simple conjunctions get
    manifest stats/bloom file skipping; arbitrary SQL scans full (but still
    column-complete — DML must see every candidate row)."""
    from table2qb_spark.lake.skipping import predicates_to_column

    preds = _simple_preds(table, where)
    if preds is not None:
        hit = predicates_to_column(preds)
        df = table.read(with_bucket_col=True, with_pos_cols=with_pos, where=preds)
    else:
        hit = F.expr(where)
        df = table.read(with_bucket_col=True, with_pos_cols=with_pos).where(hit)
    return df, hit


def delete_where(
    table: LakeTable,
    where: str,
    commit_id: str,
    strategy: str = "cow",
    positional_max_fraction: float = 0.10,
    dry_run: bool = False,
) -> dict:
    """DELETE FROM table WHERE <predicate>. See module docstring for the
    strategy trade-off. Returns {"deleted_rows", "strategy", "buckets",
    "snapshot", "seconds"} (or {"skipped": True} on commit replay).

    ``strategy="auto"`` measures instead of guessing: one stats/bloom-pruned
    counting pass (the same scan COW needs anyway to find its buckets)
    yields matched rows per bucket; the touched buckets' LIVE row counts
    come free from the manifest pointers (no scan). Matched fraction <=
    ``positional_max_fraction`` → position deletes (O(matched) write);
    above → COW (rewriting most of the bucket anyway, so take the mask-free
    reads). At 100 TB this is the difference between appending kilobytes
    and rewriting gigabytes — or between a clean read path and a permanent
    anti-join — decided from data, per statement.

    ``dry_run=True`` runs only the counting pass and reports what WOULD
    happen — {"dry_run", "matched_rows", "buckets", "strategy" (resolved
    for auto), "auto_matched_fraction"} — without writing or committing
    anything; the commit_id stays unconsumed."""
    if strategy not in ("cow", "positional", "auto"):
        raise ValueError(f"unknown delete strategy {strategy!r}")
    if table.has_commit(commit_id):
        return {"skipped": True, "commit_id": commit_id}
    t0 = time.time()
    snap = table.snapshot()

    if dry_run:
        matched, _ = _matched(table, where, with_pos=False)
        per_bucket = matched.groupBy("__bucket").count().collect()
        n_matched = sum(int(r["count"]) for r in per_bucket)
        buckets = sorted(int(r["__bucket"]) for r in per_bucket)
        resolved, fraction = strategy, None
        if strategy == "auto" and buckets:
            ptrs = snap.manifest_pointers or {}
            live_rows = sum(
                int(ptrs.get(str(b), {}).get("rows", 0)) for b in buckets
            )
            fraction = (n_matched / live_rows) if live_rows else 1.0
            resolved = (
                "positional"
                if fraction <= positional_max_fraction
                else "cow"
            )
        out = {
            "dry_run": True,
            "matched_rows": n_matched,
            "buckets": buckets,
            "strategy": resolved,
            "snapshot": snap.snapshot_id,
            "seconds": round(time.time() - t0, 3),
        }
        if fraction is not None:
            out["auto_matched_fraction"] = round(fraction, 6)
        return out

    touched = None  # auto precomputes; explicit strategies scan themselves
    fraction = None
    if strategy == "auto":
        matched, pred = _matched(table, where, with_pos=False)
        per_bucket = matched.groupBy("__bucket").count().collect()
        touched = sorted(int(r["__bucket"]) for r in per_bucket)
        if not touched:
            return {
                "deleted_rows": 0,
                "strategy": strategy,
                "buckets": [],
                "snapshot": snap.snapshot_id,
                "seconds": round(time.time() - t0, 3),
            }
        n_matched = sum(int(r["count"]) for r in per_bucket)
        ptrs = snap.manifest_pointers or {}
        live_rows = sum(
            int(ptrs.get(str(b), {}).get("rows", 0)) for b in touched
        )
        # pointer rows are live-row arithmetic (data - delete masks); a
        # legacy table without pointers conservatively takes COW
        fraction = (n_matched / live_rows) if live_rows else 1.0
        strategy = (
            "positional" if fraction <= positional_max_fraction else "cow"
        )

    if strategy == "positional":
        hits = _matched(table, where, with_pos=True)[0].select(
            F.col("__file").alias("_file"),
            F.col("__pos").alias("_pos"),
            "__bucket",
        )
        pos_files = table.write_pos_delete_files(hits, f"d{snap.snapshot_id + 1:07d}")
        if not pos_files:
            return {
                "deleted_rows": 0,
                "strategy": strategy,
                "buckets": [],
                "snapshot": snap.snapshot_id,
                "seconds": round(time.time() - t0, 3),
            }
        n = sum(int(e["rows"]) for ents in pos_files.values() for e in ents)
        new_snap = table.commit_appends(
            commit_id,
            sorted(pos_files),
            {},
            {},
            base_snapshot_id=snap.snapshot_id,
            appended_pos_deletes=pos_files,
        )
        out = {
            "deleted_rows": n,
            "strategy": strategy,
            "buckets": sorted(pos_files),
            "snapshot": new_snap.snapshot_id,
            "seconds": round(time.time() - t0, 3),
        }
        if fraction is not None:
            out["auto_matched_fraction"] = round(fraction, 6)
        return out

    # copy-on-write: find touched buckets (one pruned scan — reused from
    # the auto probe when it ran), rewrite only those buckets with the
    # survivors (which also folds any MOR debt the rewritten buckets
    # carried — commit_files clears their delete files)
    if touched is None:
        matched, pred = _matched(table, where, with_pos=False)
        touched = [
            int(r["__bucket"])
            for r in matched.select("__bucket").distinct().collect()
        ]
    if not touched:
        return {
            "deleted_rows": 0,
            "strategy": strategy,
            "buckets": [],
            "snapshot": snap.snapshot_id,
            "seconds": round(time.time() - t0, 3),
        }
    live = table.read(buckets=touched, with_bucket_col=True)
    before = live.count()
    survivors = live.where(~F.coalesce(pred, F.lit(False)))
    files = table.write_data_files(survivors, f"d{snap.snapshot_id + 1:07d}")
    # a bucket whose rows ALL matched writes no file: replace it with empty
    new_files = {b: files.get(b, []) for b in touched}
    new_snap = table.commit_files(
        commit_id, touched, new_files, base_snapshot_id=snap.snapshot_id
    )
    after = sum(int(e["rows"]) for ents in new_files.values() for e in ents)
    out = {
        "deleted_rows": before - after,
        "strategy": strategy,
        "buckets": sorted(touched),
        "snapshot": new_snap.snapshot_id,
        "seconds": round(time.time() - t0, 3),
    }
    if fraction is not None:
        out["auto_matched_fraction"] = round(fraction, 6)
    return out


def update_where(
    table: LakeTable,
    where: str,
    assignments: dict[str, str],
    commit_id: str,
    strategy: str = "cow",
    dry_run: bool = False,
) -> dict:
    """UPDATE table SET col = <expr>, ... WHERE <predicate>.

    ``strategy="cow"`` (default): only buckets containing matching rows are
    rewritten, matching rows get the assignment expressions (arbitrary
    Spark SQL over the row's columns), everything else is carried
    byte-identical. ``strategy="mor"`` is Iceberg v2's merge-on-read update
    re-expressed: the matched rows' (file, ordinal) identities land in
    position-delete files masking the OLD copies, and the rewritten rows
    append as new data files — write cost O(matched rows), not O(touched
    buckets); reads pay the anti-join mask until ``compact()`` folds it.
    The right shape when a predicate touches kilobytes of a 100 TB table.
    New files can never self-mask (position deletes name the old files).

    Key columns are immutable under both strategies (an update that moves
    a row's bucket is a delete+insert — route it through the CDC merge,
    which owns key identity)."""
    if strategy not in ("cow", "mor"):
        raise ValueError(f"unknown update strategy {strategy!r}")
    if table.has_commit(commit_id):
        return {"skipped": True, "commit_id": commit_id}
    t0 = time.time()
    snap = table.snapshot()
    bad = set(assignments) & set(snap.key_columns)
    if bad:
        raise ValueError(
            f"Cannot update key column(s) {sorted(bad)}: key identity is "
            "immutable (bucket routing) — use the CDC merge for moves"
        )
    known = {c["name"] for c in snap.current_schema()}
    unknown = set(assignments) - known
    if unknown:
        raise ValueError(f"Unknown column(s) in SET: {sorted(unknown)}")

    if dry_run:
        matched = _matched(table, where, with_pos=False)[0]
        per_bucket = matched.groupBy("__bucket").count().collect()
        return {
            "dry_run": True,
            "matched_rows": sum(int(r["count"]) for r in per_bucket),
            "buckets": sorted(int(r["__bucket"]) for r in per_bucket),
            "strategy": strategy,
            "snapshot": snap.snapshot_id,
            "seconds": round(time.time() - t0, 3),
        }

    if strategy == "mor":
        hint = f"u{snap.snapshot_id + 1:07d}"
        matched = _matched(table, where, with_pos=True)[0].persist()
        try:
            pos_files = table.write_pos_delete_files(
                matched.select(
                    F.col("__file").alias("_file"),
                    F.col("__pos").alias("_pos"),
                    "__bucket",
                ),
                hint,
            )
            if not pos_files:
                return {
                    "updated_rows": 0,
                    "strategy": strategy,
                    "buckets": [],
                    "snapshot": snap.snapshot_id,
                    "seconds": round(time.time() - t0, 3),
                }
            updated = matched.drop("__file", "__pos")
            for col, expr in assignments.items():
                ty = next(
                    c["type"] for c in snap.current_schema() if c["name"] == col
                )
                updated = updated.withColumn(col, F.expr(expr).cast(ty))
            data_files = table.write_data_files(updated, hint)
            buckets = sorted(set(pos_files) | set(data_files))
            new_snap = table.commit_appends(
                commit_id,
                buckets,
                data_files,
                {},
                base_snapshot_id=snap.snapshot_id,
                appended_pos_deletes=pos_files,
            )
        finally:
            matched.unpersist()
        n = sum(int(e["rows"]) for ents in pos_files.values() for e in ents)
        return {
            "updated_rows": n,
            "strategy": strategy,
            "buckets": buckets,
            "snapshot": new_snap.snapshot_id,
            "seconds": round(time.time() - t0, 3),
        }

    matched, pred = _matched(table, where, with_pos=False)
    touched = [
        int(r["__bucket"])
        for r in matched.select("__bucket").distinct().collect()
    ]
    if not touched:
        return {
            "updated_rows": 0,
            "strategy": strategy,
            "buckets": [],
            "snapshot": snap.snapshot_id,
            "seconds": round(time.time() - t0, 3),
        }
    live = table.read(buckets=touched, with_bucket_col=True)
    hit = F.coalesce(pred, F.lit(False))
    n_updated = live.where(hit).count()
    out = live
    for col, expr in assignments.items():
        ty = next(c["type"] for c in snap.current_schema() if c["name"] == col)
        out = out.withColumn(
            col, F.when(hit, F.expr(expr).cast(ty)).otherwise(F.col(col))
        )
    files = table.write_data_files(out, f"u{snap.snapshot_id + 1:07d}")
    new_files = {b: files.get(b, []) for b in touched}
    new_snap = table.commit_files(
        commit_id, touched, new_files, base_snapshot_id=snap.snapshot_id
    )
    return {
        "updated_rows": n_updated,
        "strategy": strategy,
        "buckets": sorted(touched),
        "snapshot": new_snap.snapshot_id,
        "seconds": round(time.time() - t0, 3),
    }


SRC = "src_"  # expression-namespace prefix for the MERGE source's columns


def merge_into(
    table: LakeTable,
    source: DataFrame,
    commit_id: str,
    when_matched_update: "dict[str, str] | str | None" = None,
    when_matched_delete: "str | bool" = False,
    when_not_matched_insert: "bool | dict[str, str]" = True,
    update_condition: str | None = None,
    insert_condition: str | None = None,
    count_actions: bool = True,
) -> dict:
    """MERGE INTO table USING source ON <key equality>, copy-on-write.

    Clause semantics (SQL MERGE, fixed evaluation order):
      1. WHEN MATCHED AND <when_matched_delete> THEN DELETE — pass a
         predicate string, or True for every matched row.
      2. WHEN MATCHED AND <update_condition> THEN UPDATE — assignments as
         {target_col: sql_expr}, or the string ``"*"`` to set every non-key
         column from the source's same-named column (source columns it
         lacks are left unchanged).
      3. WHEN NOT MATCHED AND <insert_condition> THEN INSERT — True inserts
         the source row (table columns the source lacks become NULL); a
         {target_col: sql_expr} dict overrides per column.
    Matched rows hitting neither clause, and target rows with no source
    match, are carried unchanged; unmatched source rows with inserts off
    (or failing ``insert_condition``) are dropped.

    Conditions and assignment expressions are Spark SQL evaluated over a
    row namespace holding the TARGET columns under their own names and the
    SOURCE columns as ``src_<name>`` (e.g. ``"src_seq > seq"``); for
    not-matched rows only the ``src_`` side is non-null.

    Scale shape: source keys route buckets exactly like the CDC merge —
    only buckets the source touches are read and rewritten; the join
    shuffles on the key columns (AQE broadcasts a small source). The source
    must be key-unique — duplicate keys would make the result depend on
    join row order, so they raise (same contract as Delta/Iceberg MERGE
    cardinality errors). Commit contract identical to delete/update:
    idempotent by commit_id, snapshot-isolated, time-travelable.

    Per-action counts cost one extra aggregate over the merge result, which
    is persisted (memory-and-disk) so the join computes once for count +
    write. When the touched buckets dwarf executor storage — a wide backfill
    on the 100 TB table — pass ``count_actions=False``: the merge runs as
    ONE unpersisted pass straight into the bucket writer and the returned
    counts are None (the commit's row deltas still land in the manifests).
    """
    if table.has_commit(commit_id):
        return {"skipped": True, "commit_id": commit_id}
    t0 = time.time()
    snap = table.snapshot()
    keys = snap.key_columns
    schema = snap.current_schema()
    types = {c["name"]: c["type"] for c in schema}
    non_keys = [c["name"] for c in schema if c["name"] not in keys]

    missing = [k for k in keys if k not in source.columns]
    if missing:
        raise ValueError(f"source lacks key column(s) {missing}")
    clash = [c for c in types if c.startswith(SRC)]
    if clash:
        raise ValueError(
            f"table column(s) {clash} collide with the '{SRC}' source "
            "namespace prefix"
        )
    if when_matched_update == "*":
        when_matched_update = {
            c: f"{SRC}{c}" for c in non_keys if c in source.columns
        }
    if isinstance(when_matched_update, dict):
        bad = set(when_matched_update) & set(keys)
        if bad:
            raise ValueError(
                f"Cannot update key column(s) {sorted(bad)}: key identity "
                "is immutable (bucket routing)"
            )
        unknown = set(when_matched_update) - set(types)
        if unknown:
            raise ValueError(f"Unknown column(s) in UPDATE: {sorted(unknown)}")
    if isinstance(when_not_matched_insert, dict):
        unknown = set(when_not_matched_insert) - set(types)
        if unknown:
            raise ValueError(f"Unknown column(s) in INSERT: {sorted(unknown)}")
    if not (when_matched_update or when_matched_delete or when_not_matched_insert):
        raise ValueError("MERGE with no clauses is a no-op; refusing")

    # key-cast + prefix the source: keys keep their names (join columns),
    # everything else enters the expression namespace as src_<name>
    src = source.select(
        *[F.col(k).cast(types[k]).alias(k) for k in keys],
        *[
            (F.col(c).cast(types[c]) if c in types else F.col(c)).alias(
                f"{SRC}{c}"
            )
            for c in source.columns
            if c not in keys
        ],
        F.lit(True).alias("__src"),
    )

    # ONE pass over the source answers both pre-flight questions: the
    # cardinality gate (key-unique? else MERGE would depend on join order —
    # Delta/Iceberg raise here too) and the touched-bucket set (matches
    # rewrite their bucket; inserts land in theirs). Per-key counts reduce
    # to one row per bucket (max count + bucket id), so the driver receives
    # at most n_buckets rows.
    pre = (
        src.groupBy(
            key_bucket_expr(keys, snap.n_buckets).alias("b"), *keys
        )
        .count()
        .groupBy("b")
        .agg(F.max("count").alias("max_per_key"))
        .collect()
    )
    if any(r["max_per_key"] > 1 for r in pre):
        raise ValueError(
            "source is not key-unique: MERGE result would depend on join "
            "order — dedupe the source first"
        )
    touched = sorted(int(r["b"]) for r in pre)
    if not touched:
        return {
            "inserted_rows": 0,
            "updated_rows": 0,
            "deleted_rows": 0,
            "buckets": [],
            "snapshot": snap.snapshot_id,
            "seconds": round(time.time() - t0, 3),
        }

    live = table.read(buckets=touched).withColumn("__tgt", F.lit(True))
    joined = live.join(src, on=keys, how="full_outer")

    matched = F.coalesce("__tgt", F.lit(False)) & F.coalesce(
        "__src", F.lit(False)
    )
    def _cond(c):
        return F.coalesce(F.expr(c), F.lit(False)) if c else F.lit(True)

    if when_matched_delete is True:
        del_hit = matched
    elif when_matched_delete:
        del_hit = matched & _cond(when_matched_delete)
    else:
        del_hit = F.lit(False)
    upd_hit = (
        matched & ~del_hit & _cond(update_condition)
        if when_matched_update
        else F.lit(False)
    )
    if when_not_matched_insert:
        ins_hit = ~F.coalesce("__tgt", F.lit(False)) & _cond(insert_condition)
    else:
        ins_hit = F.lit(False)

    def _insert_val(c):
        if isinstance(when_not_matched_insert, dict) and c in when_not_matched_insert:
            return F.expr(when_not_matched_insert[c]).cast(types[c])
        if f"{SRC}{c}" in src.columns:
            return F.col(f"{SRC}{c}")
        return F.lit(None).cast(types[c])

    out_cols = []
    for c in [x["name"] for x in schema]:
        if c in keys:
            out_cols.append(F.col(c))  # merged by the USING-keys join
            continue
        col = F.col(c)
        if when_matched_update and c in when_matched_update:
            col = F.when(
                upd_hit, F.expr(when_matched_update[c]).cast(types[c])
            ).otherwise(col)
        col = F.when(ins_hit, _insert_val(c)).otherwise(col)
        out_cols.append(col.alias(c))

    flagged = joined.select(
        *out_cols,
        del_hit.alias("__del"),
        upd_hit.alias("__upd"),
        ins_hit.alias("__ins"),
        F.coalesce("__tgt", F.lit(False)).alias("__tgt"),
    )
    if count_actions:
        flagged = flagged.persist()
    try:
        stats = (
            flagged.agg(
                F.sum(F.col("__del").cast("long")).alias("d"),
                F.sum(F.col("__upd").cast("long")).alias("u"),
                F.sum(F.col("__ins").cast("long")).alias("i"),
            ).collect()[0]
            if count_actions
            else None
        )
        survivors = (
            flagged.where(~F.col("__del") & (F.col("__tgt") | F.col("__ins")))
            .drop("__del", "__upd", "__ins", "__tgt")
            .withColumn("__bucket", key_bucket_expr(keys, snap.n_buckets))
        )
        files = table.write_data_files(survivors, f"m{snap.snapshot_id + 1:07d}")
        new_files = {b: files.get(b, []) for b in touched}
        new_snap = table.commit_files(
            commit_id, touched, new_files, base_snapshot_id=snap.snapshot_id
        )
    finally:
        if count_actions:
            flagged.unpersist()
    return {
        "inserted_rows": int(stats["i"] or 0) if stats is not None else None,
        "updated_rows": int(stats["u"] or 0) if stats is not None else None,
        "deleted_rows": int(stats["d"] or 0) if stats is not None else None,
        "buckets": touched,
        "snapshot": new_snap.snapshot_id,
        "seconds": round(time.time() - t0, 3),
    }
