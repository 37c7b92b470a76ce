"""Shuffle-free bucketed CDC apply — the scale path.

Production change logs are partitioned by key at the producer (Kafka topic
partitions keyed on (repo, path); Debezium does the same). When the log's
partitioning function equals the lake table's bucket function, the MERGE
needs **no wide shuffle at all**:

    for each bucket b:   winner(key) = last-writer-wins over
                         events[b=b, seq range] ∪ current rows[bucket b]

Each touched bucket becomes an INDEPENDENT single-task Spark job (scan the
bucket's events ∪ current files -> pure-JVM local sort + window winner ->
write that bucket's directory), submitted concurrently from a driver thread
pool and joined only at the metadata commit. An un-partitioned window over
a single-partition child plans as a local sort — no Exchange, no Python
round-trip (plan-asserted in tests). Memory traffic per batch = read events
+ read touched buckets + write touched buckets — no shuffle
spill/serialization at all. This is what makes 4N-executor scaling
near-linear: there is no all-to-all exchange left to contend on, and every
per-bucket job is independent (the same shape as Iceberg's per-partition
compaction/rewrite actions).

**Bucket pruning** (the steady-state-small-batch property that matters at
100 TB): the replayer indexes each event file's (min_seq, max_seq) from its
parquet footer once at startup — a metadata read, no data scan. A seq range
then touches only the buckets whose footers overlap it; every other bucket's
current files are carried forward in the commit untouched (copy-on-write
rewrites ONLY overlapping buckets, not all n_buckets). A bucket present in
the table but absent from the event layout is likewise carried forward, never
replaced — replaying a log segment that lacks some bucket dirs cannot drop
rows.

Trade-offs vs the shuffle merge (lake/merge.py):
- requires the log laid out by the same bucket function AND the same bucket
  count as the table (validated at startup against the log's _layout.json);
- per-bucket data must fit one task's memory (bucket count is the knob);
- one driver-submitted job per touched bucket (~tens of ms each, fully
  overlapped by the thread pool; at >10^4 touched buckets per batch a
  custom DataSource assigning file groups to partitions would amortize it).
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from table2qb_spark.cdc.apply import _leaf_column_index, append_metrics_row
from table2qb_spark.lake.table import LakeTable, key_bucket_expr

LAYOUT_FILE = "_layout.json"


def write_bucketed_change_log(
    df: DataFrame, path: str, key_cols: list[str], n_buckets: int
) -> None:
    """Producer-side layout: one directory per key bucket (the Kafka-keyed-
    topic equivalent). One shuffle here buys shuffle-free replay forever.
    A _layout.json records the bucket function parameters so replayers can
    refuse a log whose layout doesn't match the table."""
    out = df.withColumn("b", key_bucket_expr(key_cols, n_buckets))
    out.repartition(n_buckets, F.col("b")).write.mode("overwrite").partitionBy(
        "b"
    ).parquet(path)
    with open(os.path.join(path, LAYOUT_FILE), "w", encoding="utf-8") as f:
        json.dump({"key_columns": key_cols, "n_buckets": n_buckets}, f)


def _bucket_seq_index(
    events_dir: str, buckets: list[int], seq_col: str
) -> dict[int, tuple[int, int]]:
    """{bucket: (min_seq, max_seq)} from parquet footer statistics — a
    driver-side metadata read (no data scan, no Spark job). At cluster scale
    this index would live in the log's manifest; the shape is identical."""
    import pyarrow.parquet as pq

    index: dict[int, tuple[int, int]] = {}
    for b in buckets:
        b_dir = os.path.join(events_dir, f"b={b}")
        lo = hi = None
        degraded = False
        for fn in os.listdir(b_dir):
            if not fn.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(b_dir, fn)).metadata
            ci = _leaf_column_index(md, seq_col)
            if ci < 0:
                continue
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(ci).statistics
                if st is None or not st.has_min_max:
                    # no stats -> THIS bucket must assume it spans everything;
                    # every other bucket keeps its exact footer range (a
                    # single stat-less file must not disable pruning globally)
                    degraded = True
                    break
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
            if degraded:
                break
        if degraded:
            index[b] = (-(2**62), 2**62)
        elif lo is not None:
            index[b] = (int(lo), int(hi))
    return index


class BucketedReplayer:
    """Seq-range replay over a bucket-partitioned change log. Same commit
    manifests / checkpoints / metrics as ChangeLogReplayer — only the
    physical merge differs (no shuffle, footer-pruned copy-on-write).

    v1 limitation: payload_json schema evolution is not parsed on this path
    (use ChangeLogReplayer for evolving segments, or evolve the schema ahead
    of the range); everything else — dedup, I/U/D, exactly-once, resume —
    is identical and verified against the same oracle."""

    def __init__(
        self,
        spark: SparkSession,
        table: LakeTable,
        events_dir: str,
        seq_col: str = "seq",
        op_col: str = "op",
        delete_op: str = "D",
        batch_events: int = 1_000_000,
        buckets_per_job: int = 8,
    ):
        self.spark = spark
        self.table = table
        self.events_dir = events_dir
        self.seq_col = seq_col
        self.op_col = op_col
        self.delete_op = delete_op
        self.batch_events = batch_events
        self.buckets_per_job = max(1, buckets_per_job)
        self._event_buckets = sorted(
            int(d.split("=", 1)[1])
            for d in os.listdir(events_dir)
            if d.startswith("b=")
        )
        snap0 = table.snapshot()
        n_buckets = snap0.n_buckets
        layout_path = os.path.join(events_dir, LAYOUT_FILE)
        if os.path.exists(layout_path):
            with open(layout_path) as f:
                layout = json.load(f)
            if int(layout["n_buckets"]) != n_buckets:
                raise ValueError(
                    f"Change-log layout has n_buckets={layout['n_buckets']} but the "
                    f"table has n_buckets={n_buckets}; bucket-aligned replay would "
                    "misplace rows — use ChangeLogReplayer or rewrite the log"
                )
            # same bucket COUNT but different bucket FUNCTION (other key
            # columns) misplaces rows just as silently — validate both
            layout_keys = list(layout.get("key_columns") or [])
            if layout_keys and layout_keys != list(snap0.key_columns):
                raise ValueError(
                    f"Change-log layout is bucketed by key_columns={layout_keys} "
                    f"but the table's keys are {list(snap0.key_columns)}; "
                    "bucket-aligned replay would misplace rows — use "
                    "ChangeLogReplayer or rewrite the log"
                )
        elif self._event_buckets and self._event_buckets[-1] >= n_buckets:
            raise ValueError(
                f"Change-log bucket ids reach {self._event_buckets[-1]} but the table "
                f"has only n_buckets={n_buckets}; layouts do not match"
            )
        self._events_schema = self.spark.read.parquet(
            os.path.join(events_dir, f"b={self._event_buckets[0]}")
        ).schema
        self._seq_index = _bucket_seq_index(events_dir, self._event_buckets, seq_col)

    # ----- merge of one seq range ------------------------------------------

    def buckets_in_range(self, lo: int, hi: int) -> list[int]:
        """Event buckets whose footer (min,max) seq overlaps [lo, hi]."""
        return [
            b
            for b in self._event_buckets
            if b in self._seq_index
            and self._seq_index[b][0] <= hi
            and self._seq_index[b][1] >= lo
        ]

    def apply_range(
        self, commit_id: str, lo: int, hi: int, summary_update: dict | None = None
    ) -> dict:
        if self.table.has_commit(commit_id):
            return {"skipped": True, "commit_id": commit_id}
        t0 = time.time()
        snap = self.table.snapshot()
        keys = snap.key_columns
        data_cols = [c["name"] for c in snap.current_schema()]
        value_cols = [c for c in data_cols if c not in keys]

        # footer-pruned copy-on-write: only buckets whose event files overlap
        # the seq range are merged + replaced; everything else carries forward
        relevant = self.buckets_in_range(lo, hi)
        su = {"max_seq": hi, "mode": "bucketed"}
        su.update(summary_update or {})
        if not relevant:
            self.table.commit_files(
                commit_id, [], {}, su, base_snapshot_id=snap.snapshot_id
            )
            return {
                "skipped": False,
                "commit_id": commit_id,
                "affected_buckets": 0,
                "seconds": time.time() - t0,
            }

        # Per-bucket last-writer-wins, ALL JVM, ZERO exchange: each child is
        # one coalesced partition (one bucket's events ∪ current rows); an
        # un-partitioned window needs every row in one partition — which the
        # coalesce(1) child already satisfies, so the planner inserts a local
        # sort only, no Exchange (plan-asserted in tests). The winner per key
        # is the last row of the key group under (key, __seq, __pri) order:
        # keep a row when the NEXT row starts a different key. Ordering stops
        # at (__seq, __pri) — measured 2x cheaper than sorting by the full
        # payload struct (content strings as sort keys) — because equal
        # (key, seq) beyond __pri means an exact duplicate delivery (seq is
        # unique per key in a CDC log); scalar per-key leads likewise beat a
        # struct lead. This replaced a mapInPandas reduction — the
        # Arrow->pandas->Arrow round-trip was ~6x slower than staying in
        # whole-stage-codegen'd JVM operators.
        from pyspark.sql.window import Window

        key_cols = [F.col(k) for k in keys]
        w = Window.orderBy(*key_cols, F.col("__seq"), F.col("__pri"))

        # per-row invariant parity with ChangeLogReplayer (BASELINE
        # input_hint): tables carrying content_sha get it computed at ingest
        event_cols = {f.name for f in self._events_schema.fields}
        # cast event columns to the DECLARED table types (same invariant as
        # lake/merge.py batch_sel): unionByName below would otherwise coerce
        # int-declared columns up to a bigint event's type and write parquet
        # that contradicts the table schema — corrupting every later read
        decl = {c["name"]: c["type"] for c in snap.current_schema()}
        key_sel = [F.col(k).cast(decl[k]).alias(k) for k in keys]
        value_exprs = []
        for c in value_cols:
            if c == "content_sha" and c not in event_cols and "content" in event_cols:
                value_exprs.append(F.sha2(F.col("content"), 256).alias("content_sha"))
            else:
                value_exprs.append(F.col(c).cast(decl[c]).alias(c))

        import uuid as _uuid

        # attempt-unique directory (see lake/table.py): racing attempts at
        # the same snapshot id must never overwrite each other's files
        out_dir = os.path.join(
            self.table.path, "data",
            f"snap-{snap.snapshot_id + 1:08d}-{_uuid.uuid4().hex[:8]}",
        )

        # Column objects are unresolved expressions — plan-independent — so
        # every expression tree is built ONCE and shared by all children.
        # Building them per child was the scaling killer: ~25-30ms of
        # GIL-bound py4j construction x hundreds of buckets is a serial
        # driver term that Amdahl's law turns into a hard efficiency ceiling
        # (measured: identical 0.47 efficiency with 1-bucket and 8-bucket
        # jobs — the scheduler was never the bottleneck, plan construction
        # was).
        seq_filter = (F.col(self.seq_col) >= lo) & (F.col(self.seq_col) <= hi)
        ev_select = [
            *key_sel,
            F.col(self.seq_col).cast("long").alias("__seq"),
            F.lit(1).alias("__pri"),  # seq tie: event beats stored row
            F.col(self.op_col).alias("__op"),
            *value_exprs,
        ]
        cur_select = [
            *key_cols,
            F.lit(-1).cast("long").alias("__seq"),
            F.lit(0).alias("__pri"),
            F.lit("U").alias("__op"),
            *[F.col(c) for c in value_cols],
        ]
        # null-safe group-end detection (see lake/merge.py): lead(lit(1)) is
        # NULL only at the last row; eqNullSafe keeps NULL keys a real group
        last = F.lead(F.lit(1)).over(w).isNull()
        for k in keys:
            last = last | ~F.lead(F.col(k)).over(w).eqNullSafe(F.col(k))
        keep = F.col("__last") & (F.col("__op") != self.delete_op)
        post_select = [*key_cols, *[F.col(c) for c in value_cols]]

        def one_bucket_winners(b: int) -> DataFrame:
            ev = (
                self.spark.read.schema(self._events_schema)
                .parquet(os.path.join(self.events_dir, f"b={b}"))
                .where(seq_filter)
                .select(*ev_select)
            )
            child = ev.unionByName(self.table.read(buckets=[b]).select(*cur_select))
            return (
                child.coalesce(1)
                .withColumn("__last", last)
                .where(keep)
                .select(*post_select)
                .withColumn("b", F.lit(b))
            )

        # SQL fast path for buckets with NO current rows (initial replay /
        # backfill): the whole child is ONE generated SQL string — one py4j
        # call per GROUP instead of ~8 Column/DataFrame calls per child.
        # DataFrame construction is GIL-bound Python; at hundreds of buckets
        # it measured ~4.4s per batch REGARDLESS of core count — an Amdahl
        # serial term this path removes. (Incremental batches touch few
        # buckets after footer pruning, so the DataFrame path's build cost
        # is irrelevant there.)
        qk = [f"`{k}`" for k in keys]
        sql_vals = []
        for c in value_cols:
            if c == "content_sha" and c not in event_cols and "content" in event_cols:
                sql_vals.append("sha2(`content`, 256) AS `content_sha`")
            else:
                sql_vals.append(f"`{c}`")
        # lead(1) IS NULL = last row; IS DISTINCT FROM = null-safe inequality
        lead_cond = " OR ".join(
            ["lead(1) OVER w IS NULL"]
            + [f"(lead({q}) OVER w IS DISTINCT FROM {q})" for q in qk]
        )
        out_cols_sql = ", ".join(qk + [f"`{c}`" for c in value_cols])

        inner_select = ", ".join(
            qk
            + sql_vals
            + [
                f"CAST(`{self.seq_col}` AS BIGINT) AS __seq",
                f"`{self.op_col}` AS __op",
            ]
        )

        def bucket_sql(b: int) -> str:
            ev_dir = os.path.join(self.events_dir, f"b={b}")
            return (
                f"SELECT {out_cols_sql}, {b} AS b FROM (\n"
                f"  SELECT *, ({lead_cond}) AS __last FROM (\n"
                f"    SELECT /*+ COALESCE(1) */ {inner_select}\n"
                f"    FROM parquet.`{ev_dir}`\n"
                f"    WHERE `{self.seq_col}` >= {lo} AND `{self.seq_col}` <= {hi}\n"
                f"  ) WINDOW w AS (ORDER BY {', '.join(qk)}, __seq)\n"
                f") WHERE __last AND __op <> '{self.delete_op}'"
            )

        def merge_group(gid_buckets: tuple[int, list[int]]) -> None:
            gid, group = gid_buckets
            fresh = [b for b in group if not snap.files.get(str(b))]
            existing = [b for b in group if snap.files.get(str(b))]
            parts: list[DataFrame] = []
            if fresh:
                parts.append(
                    self.spark.sql(
                        "\nUNION ALL\n".join(f"SELECT * FROM ({bucket_sql(b)})" for b in fresh)
                    )
                )
            for b in existing:
                parts.append(one_bucket_winners(b))
            df = parts[0]
            for p in parts[1:]:
                df = df.unionByName(p)
            # each child stays its own single partition through the union, so
            # every task writes exactly its bucket's b=… directory
            df.write.mode("overwrite").partitionBy("b").parquet(
                os.path.join(out_dir, f"g={gid}")
            )

        # Driver thread pool over GROUPS of buckets: each group is ONE Spark
        # job whose tasks are the group's single-partition bucket merges
        # (scan -> local sort/window -> write own directory). Grouping exists
        # because the DAGScheduler event loop is single-threaded — hundreds
        # of one-task jobs serialize on it (~tens of ms each; measured as a
        # hard ceiling at 32 cores) — while executor-side parallelism is
        # unaffected by grouping. Plan construction also parallelizes across
        # the pool threads (py4j releases the GIL during JVM calls). Same
        # shape as Iceberg's per-partition rewrite actions: independent
        # tasks, no global barrier until the metadata commit.
        from concurrent.futures import ThreadPoolExecutor

        groups = [
            (i, relevant[i * self.buckets_per_job : (i + 1) * self.buckets_per_job])
            for i in range((len(relevant) + self.buckets_per_job - 1) // self.buckets_per_job)
        ]
        pool = min(len(groups), self.spark.sparkContext.defaultParallelism, 64)
        with ThreadPoolExecutor(max_workers=pool) as ex:
            list(ex.map(merge_group, groups))

        # enumerate written files from parquet footers (driver metadata read)
        import pyarrow.parquet as pq

        new_files: dict[int, list[dict]] = {b: [] for b in relevant}
        for gid, group in groups:
            g_dir = os.path.join(out_dir, f"g={gid}")
            for b_name in os.listdir(g_dir):
                if not b_name.startswith("b="):
                    continue
                b = int(b_name.split("=", 1)[1])
                for fn in sorted(os.listdir(os.path.join(g_dir, b_name))):
                    if not fn.endswith(".parquet"):
                        continue
                    full = os.path.join(g_dir, b_name, fn)
                    rows = pq.ParquetFile(full).metadata.num_rows
                    if rows:
                        new_files[b].append(
                            {
                                "path": os.path.relpath(full, self.table.path),
                                "schema_version": snap.schema_version,
                                "rows": rows,
                            }
                        )

        self.table.commit_files(
            commit_id, relevant, new_files, su, base_snapshot_id=snap.snapshot_id
        )
        return {
            "skipped": False,
            "commit_id": commit_id,
            "affected_buckets": len(relevant),
            "seconds": time.time() - t0,
        }

    # ----- full replay --------------------------------------------------------

    def seq_bounds(self) -> tuple[int, int]:
        los, his = zip(*self._seq_index.values())
        if min(los) > -(2**62):  # footer stats present: no Spark job needed
            return min(los), max(his)
        r = (
            self.spark.read.schema(self._events_schema)
            .parquet(*[os.path.join(self.events_dir, f"b={b}") for b in self._event_buckets])
            .agg(F.min(self.seq_col).alias("lo"), F.max(self.seq_col).alias("hi"))
            .collect()[0]
        )
        return int(r["lo"]), int(r["hi"])

    def last_applied_batch(self) -> int:
        return int(self.table.snapshot().summary.get("last_batch", -1))

    def run(self, max_batches: int | None = None) -> list[dict]:
        lo, hi = self.seq_bounds()
        n_batches = (hi - lo) // self.batch_events + 1
        first = self.last_applied_batch() + 1
        out = []
        for i in range(first, n_batches):
            if max_batches is not None and len(out) >= max_batches:
                break
            start = lo + i * self.batch_events
            end = start + self.batch_events - 1
            commit_id = f"cdc-{i:08d}"
            t0 = time.time()
            stats = self.apply_range(commit_id, start, end, summary_update={"last_batch": i})
            append_metrics_row(
                self.table, "bucketed", i, commit_id, stats, time.time() - t0,
                seq_start=start, seq_end=end, lag_events=max(0, hi - end),
            )
            out.append(stats)
        return out
