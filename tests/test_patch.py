"""Partial-update (patch) merge engine: semantics, equivalences, plan shape.

The engine folds MySQL-minimal-row-image / Mongo-$set style partial payloads
(null on U = "unchanged", null on I = real null) into final state with ONE
map-side-combinable aggregate — no window, no sort. These tests pin every
semantic branch, the salted twin, the base-merge composition, and the
one-shuffle physical plan."""

import pytest
from pyspark.sql import functions as F

from table2qb_spark.cdc.patch import patch_merge, patch_state

SCHEMA = "k int, seq long, op string, a int, b string"


def _state(spark, rows, **kw):
    df = spark.createDataFrame(rows, SCHEMA)
    out = patch_state(df, ["k"], **kw)
    return {r["k"]: (r["seq"], r["a"], r["b"]) for r in out.collect()}


class TestPatchSemantics:
    def test_patch_coalesces_per_column(self, spark):
        # U nulls leave the column untouched; non-nulls overwrite.
        st = _state(
            spark,
            [
                (1, 10, "I", 1, "x"),
                (1, 11, "U", None, "y"),  # patches b only
                (1, 12, "U", 5, None),  # patches a only
            ],
        )
        assert st == {1: (12, 5, "y")}

    def test_insert_null_is_authoritative(self, spark):
        # A full row image's null is a REAL null, not "unchanged".
        st = _state(spark, [(1, 10, "I", 7, "x"), (1, 11, "I", None, "z")])
        assert st == {1: (11, None, "z")}

    def test_delete_kills_key(self, spark):
        st = _state(spark, [(1, 10, "I", 1, "x"), (1, 11, "D", None, None)])
        assert st == {}

    def test_delete_then_patch_revives_onto_empty_row(self, spark):
        # Pre-delete values must NOT leak through the revival.
        st = _state(
            spark,
            [
                (1, 10, "I", 1, "x"),
                (1, 11, "D", None, None),
                (1, 12, "U", None, "y"),
            ],
        )
        assert st == {1: (12, None, "y")}

    def test_delete_then_insert_replaces_wholesale(self, spark):
        st = _state(
            spark,
            [
                (1, 10, "I", 1, "x"),
                (1, 11, "D", None, None),
                (1, 12, "I", 2, None),
                (1, 13, "U", None, "w"),
            ],
        )
        assert st == {1: (13, 2, "w")}

    def test_patch_only_key_upserts(self, spark):
        # A key first seen via U builds a row from nothing.
        st = _state(spark, [(1, 10, "U", None, "y"), (1, 11, "U", 3, None)])
        assert st == {1: (11, 3, "y")}

    def test_duplicate_delivery_is_idempotent(self, spark):
        rows = [(1, 10, "I", 1, "x"), (1, 11, "U", None, "y")]
        assert _state(spark, rows) == _state(spark, rows + rows)

    def test_two_phase_salted_twin_is_identical(self, spark):
        rows = [
            (k, s, op, a, b)
            for k in (1, 2, 3)
            for (s, op, a, b) in [
                (10, "I", k, "x"),
                (11, "U", None, "y"),
                (12, "U", k * 10, None),
                (13, "D", None, None) if k == 2 else (13, "U", None, "z"),
            ]
        ]
        assert _state(spark, rows) == _state(spark, rows, two_phase=True)


class TestPatchMerge:
    def test_half_fold_plus_merge_equals_one_shot(self, spark):
        rows = [
            (1, 10, "I", 1, "x"),
            (1, 11, "U", None, "y"),
            (2, 12, "I", 2, "p"),
            (1, 13, "U", 9, None),
            (2, 14, "D", None, None),
            (3, 15, "U", 4, None),
            (2, 16, "U", None, "revived"),
        ]
        df = spark.createDataFrame(rows, SCHEMA)
        one_shot = {
            r["k"]: (r["seq"], r["a"], r["b"])
            for r in patch_state(df, ["k"]).collect()
        }
        base = patch_state(df.where(F.col("seq") <= 13), ["k"])
        merged = patch_merge(base, df.where(F.col("seq") > 13), ["k"])
        got = {r["k"]: (r["seq"], r["a"], r["b"]) for r in merged.collect()}
        assert got == one_shot
        # The scenario genuinely exercises revival-after-delete across the
        # split: key 2 dies in the base, revives in the second half.
        assert got[2] == (16, None, "revived")


class TestMergePatchLake:
    SCHEMA_T = [
        ("repo", "string"),
        ("path", "string"),
        ("commit", "string"),
        ("lang", "string"),
        ("content", "string"),
    ]
    EV_DDL = (
        "seq long, op string, repo string, path string, "
        "commit string, lang string, content string"
    )

    def _table(self, spark, tmp_path, name="t"):
        from table2qb_spark.lake.table import LakeTable

        return LakeTable.create(
            spark, str(tmp_path / name), self.SCHEMA_T, ["repo", "path"],
            n_buckets=8,
        )

    def _rows(self, t):
        return {
            (r["repo"], r["path"]): (r["commit"], r["lang"], r["content"])
            for r in t.read().collect()
        }

    def test_patch_apply_insert_patch_delete(self, spark, tmp_path):
        from table2qb_spark.lake.merge import merge_patch

        t = self._table(spark, tmp_path)
        b1 = spark.createDataFrame(
            [
                (1, "I", "r1", "a.py", "c1", "python", "v1"),
                (2, "I", "r1", "b.py", "c2", "python", "v1"),
                (3, "I", "r2", "a.py", "c3", "go", "v1"),
            ],
            self.EV_DDL,
        )
        s1 = merge_patch(t, b1, "b1")
        assert not s1["skipped"] and t.read().count() == 3

        b2 = spark.createDataFrame(
            [
                # patch content only — commit/lang must survive
                (4, "U", "r1", "a.py", None, None, "v2"),
                # patch lang only
                (5, "U", "r1", "b.py", None, "py3", None),
                (6, "D", "r2", "a.py", None, None, None),
                # patch-only new key upserts (sparse columns)
                (7, "U", "r3", "n.py", None, "rust", None),
            ],
            self.EV_DDL,
        )
        s2 = merge_patch(t, b2, "b2")
        assert s2["strategy"].startswith("patch")
        assert self._rows(t) == {
            ("r1", "a.py"): ("c1", "python", "v2"),
            ("r1", "b.py"): ("c2", "py3", "v1"),
            ("r3", "n.py"): (None, "rust", None),
        }

    def test_patch_apply_is_idempotent_and_pruned(self, spark, tmp_path):
        from table2qb_spark.lake.merge import merge_patch

        t = self._table(spark, tmp_path)
        seed = [(i, "I", f"r{i % 4}", f"f{i}.py", "c", "go", f"v{i}")
                for i in range(40)]
        merge_patch(t, spark.createDataFrame(seed, self.EV_DDL), "seed")
        before = self._rows(t)

        b = spark.createDataFrame(
            [(100, "U", "r0", "f0.py", None, None, "patched")], self.EV_DDL
        )
        s = merge_patch(t, b, "b")
        # steady-state: one key's bucket touched, not the whole table
        assert s["strategy"] == "patch-pruned"
        assert s["affected_buckets"] < 8
        after = self._rows(t)
        assert after[("r0", "f0.py")] == ("c", "go", "patched")
        untouched = {k: v for k, v in before.items() if k != ("r0", "f0.py")}
        assert {k: v for k, v in after.items() if k != ("r0", "f0.py")} == untouched
        # exactly-once: same commit id re-applies as a skip
        assert merge_patch(t, b, "b")["skipped"] is True

    def test_replayer_patch_engine_resume_converges(self, spark, tmp_path):
        from table2qb_spark.cdc.apply import ChangeLogReplayer

        ev = [(i, "I", f"r{i % 3}", f"f{i % 10}.py", f"c{i}", "go", f"v{i}")
              for i in range(20)]
        ev += [
            (20, "U", "r0", "f0.py", None, None, "patched-content"),
            (21, "U", "r1", "f1.py", None, "zig", None),
            (22, "D", "r2", "f2.py", None, None, None),
        ]
        path = str(tmp_path / "ev")
        spark.createDataFrame(ev, self.EV_DDL).write.parquet(path)

        one = self._table(spark, tmp_path, "one")
        ChangeLogReplayer(
            spark, one, path, batch_events=8, merge_engine="patch"
        ).run()

        two = self._table(spark, tmp_path, "two")
        r2 = ChangeLogReplayer(
            spark, two, path, batch_events=8, merge_engine="patch"
        )
        r2.run(max_batches=1)  # stop mid-stream, then resume
        r2.run()
        assert self._rows(one) == self._rows(two)
        # the cross-batch patch genuinely landed on the batch-1 state
        got = self._rows(one)
        assert got[("r0", "f0.py")][2] == "patched-content"
        assert got[("r1", "f1.py")][1] == "zig"
        assert ("r2", "f2.py") not in got

    def test_patch_tombstones_block_resurrection_and_allow_revival(
        self, spark, tmp_path
    ):
        """Seq-guard/tombstone semantics fall out of the algebra: the
        tombstone re-enters as a D row image at its stored _seq, shadowing
        late events; a NEWER patch revives the key onto an empty row."""
        from table2qb_spark.cdc.streaming import create_stream_table
        from table2qb_spark.lake.merge import merge_patch

        t = create_stream_table(
            spark, str(tmp_path / "st"), self.SCHEMA_T, ["repo", "path"],
            n_buckets=4,
        )

        def b(rows):
            return spark.createDataFrame(rows, self.EV_DDL)

        merge_patch(t, b([(10, "I", "r1", "a.py", "c1", "go", "v1")]), "b1")
        merge_patch(t, b([(20, "D", "r1", "a.py", None, None, None)]), "b2")
        assert t.read_live().count() == 0
        dead = t.read().collect()
        assert len(dead) == 1 and dead[0]["_deleted"] is True
        assert dead[0]["content"] is None  # tombstones carry no payload

        # late redelivery BELOW the tombstone's seq: shadowed, stays dead
        merge_patch(t, b([(5, "U", "r1", "a.py", None, None, "zombie")]), "b3")
        assert t.read_live().count() == 0

        # newer patch revives onto an EMPTY row (only patched cols set)
        merge_patch(t, b([(30, "U", "r1", "a.py", None, "rust", None)]), "b4")
        live = t.read_live().collect()
        assert len(live) == 1
        r = live[0]
        assert (r["lang"], r["content"], r["commit"]) == ("rust", None, None)
        # read_live drops bookkeeping cols by contract; check _seq raw
        assert t.read().collect()[0]["_seq"] == 30

    def test_patch_seq_guard_late_update_loses(self, spark, tmp_path):
        from table2qb_spark.cdc.streaming import create_stream_table
        from table2qb_spark.lake.merge import merge_patch

        t = create_stream_table(
            spark, str(tmp_path / "sg"), self.SCHEMA_T, ["repo", "path"],
            n_buckets=4,
        )
        b = lambda rows: spark.createDataFrame(rows, self.EV_DDL)
        merge_patch(t, b([(10, "I", "r1", "a.py", "c1", "go", "v10")]), "b1")
        # a late lower-seq patch must NOT clobber the stored row image
        merge_patch(t, b([(4, "U", "r1", "a.py", None, None, "stale")]), "b2")
        r = t.read().collect()[0]
        assert r["content"] == "v10" and r["_seq"] == 10

    def test_patch_engine_rejects_merge_on_read(self, spark, tmp_path):
        """Both ingest front-ends reject the combination with the same
        error, before touching the (absent) log."""
        from table2qb_spark.cdc.apply import ChangeLogReplayer
        from table2qb_spark.cdc.streaming import start_stream

        t = self._table(spark, tmp_path)
        log = str(tmp_path / "x")
        with pytest.raises(ValueError, match="copy-on-write") as replay:
            ChangeLogReplayer(spark, t, log, merge_engine="patch", merge_on_read=True)
        with pytest.raises(ValueError) as stream:
            start_stream(
                spark, t, log, str(tmp_path / "ckpt"), merge_engine="patch",
                merge_on_read=True,
            )
        assert str(stream.value) == str(replay.value)

    def test_streaming_patch_engine_tails_new_files(self, spark, tmp_path):
        """Structured Streaming front-end with merge_engine='patch',
        driven like a real log tail: the backlog lands first, patch events
        arrive as NEW files in a later trigger. Final state must equal the
        one-shot batch fold; a restart on the same checkpoint re-applies
        nothing."""
        from table2qb_spark.cdc.patch import patch_state
        from table2qb_spark.cdc.streaming import (
            create_stream_table,
            run_stream_to_completion,
        )

        base = [(i, "I", f"r{i % 2}", f"f{i}.py", f"c{i}", "go", f"v{i}")
                for i in range(12)]
        tail = [
            (12, "U", "r0", "f0.py", None, None, "patched"),
            (13, "D", "r1", "f1.py", None, None, None),
            (14, "U", "r0", "f2.py", None, "zig", None),
        ]
        edir = str(tmp_path / "ev")
        spark.createDataFrame(base, self.EV_DDL).write.parquet(edir)
        t = create_stream_table(
            spark, str(tmp_path / "st"), self.SCHEMA_T, ["repo", "path"],
            n_buckets=4,
        )
        ckpt = str(tmp_path / "ckpt")
        run_stream_to_completion(
            spark, t, edir, ckpt, merge_engine="patch",
            max_files_per_trigger=100,
        )
        # the tail arrives: new files, processed by a later trigger
        spark.createDataFrame(tail, self.EV_DDL).write.mode(
            "append"
        ).parquet(edir)
        run_stream_to_completion(
            spark, t, edir, ckpt, merge_engine="patch",
            max_files_per_trigger=100,
        )
        got = {
            (r["repo"], r["path"]): (r["commit"], r["lang"], r["content"])
            for r in t.read_live().collect()
        }
        want = {
            (r["repo"], r["path"]): (r["commit"], r["lang"], r["content"])
            for r in patch_state(
                spark.createDataFrame(base + tail, self.EV_DDL),
                ["repo", "path"],
            ).collect()
        }
        assert got == want
        assert got[("r0", "f0.py")] == ("c0", "go", "patched")
        assert ("r1", "f1.py") not in got

        # restart on the same checkpoint: nothing re-applies
        snap_before = t.current_snapshot_id()
        run_stream_to_completion(
            spark, t, edir, ckpt, merge_engine="patch",
            max_files_per_trigger=100,
        )
        assert t.current_snapshot_id() == snap_before


class TestPatchPlanShape:
    def test_single_shuffle_no_window_no_python(self, spark):
        df = spark.createDataFrame(
            [(1, 10, "I", 1, "x"), (1, 11, "U", None, "y")], SCHEMA
        )
        plan = (
            patch_state(df, ["k"])
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert plan.count("Exchange hashpartitioning") == 1, plan
        # No window fold, no Python in the data plane. (max(struct) compiles
        # to SortAggregate — a per-partition key sort, same accepted shape
        # as dedup_max_seq — so a local Sort IS expected.)
        for bad in ("Window", "BatchEvalPython", "ArrowEvalPython"):
            assert bad not in plan, plan
        # Map-side combine: a partial_max must run below the exchange.
        assert "partial_max" in plan, plan
