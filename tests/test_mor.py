"""Merge-on-read (lake/mor.py): state parity with the COW merge, O(batch)
write amplification (appends, no rewrites), equality-delete masking through
every read path, compaction folding the delete debt away, exactly-once, and
the documented semantic deltas (same-seq drop, tombstone-less deletes)."""

import pytest
from pyspark.sql import functions as F

from table2qb_spark.cdc.streaming import create_stream_table
from table2qb_spark.cdc.verify import table_sha256
from table2qb_spark.lake.compact import compact
from table2qb_spark.lake.expire import expire_snapshots
from table2qb_spark.lake.merge import merge_upsert
from table2qb_spark.lake.mor import merge_mor
from table2qb_spark.lake.table import LakeTable

SCHEMA = [("repo", "string"), ("path", "string"), ("content", "string")]
KEYS = ["repo", "path"]

B1 = [
    (1, "I", "r1", "a.py", "a1"),
    (2, "I", "r1", "b.py", "b1"),
    (3, "I", "r2", "c.py", "c1"),
]
B2 = [
    (4, "U", "r1", "a.py", "a2"),      # update
    (5, "D", "r1", "b.py", None),      # delete
    (6, "I", "r2", "d.py", "d1"),      # insert
    (2, "U", "r1", "a.py", "stale"),   # stale (seq 2 < stored 4 after dedup vs 4)
]
B3 = [
    (7, "U", "r1", "a.py", "a3"),
    (8, "I", "r1", "b.py", "b2"),      # re-insert after delete
]


def batch(spark, rows):
    return spark.createDataFrame(
        rows, "seq long, op string, repo string, path string, content string"
    )


def mk(spark, tmp_path, name, n_buckets=4):
    return create_stream_table(
        spark, str(tmp_path / name), SCHEMA, KEYS, n_buckets=n_buckets
    )


def physical_files(t):
    snap = t.snapshot()
    return sum(len(snap.files[b]) for b in snap.files)


def delete_files(t):
    snap = t.snapshot()
    return sum(len(snap.delete_files(b)) for b in snap.files)


class TestMorParity:
    def test_state_matches_cow_merge(self, spark, tmp_path):
        tm = mk(spark, tmp_path, "mor")
        tc = mk(spark, tmp_path, "cow")
        for i, rows in enumerate([B1, B2, B3]):
            merge_mor(tm, batch(spark, rows), f"b{i}")
            merge_upsert(tc, batch(spark, rows), f"b{i}", batch_size_hint=1)
        assert table_sha256(tm.read_live()) == table_sha256(tc.read_live())
        # live rows identical too (tombstone bookkeeping may differ: MOR
        # masks superseded tombstones, COW keeps the latest per key)
        live = {
            (r["repo"], r["path"]): r["content"]
            for r in tm.read_live().collect()
        }
        assert live == {
            ("r1", "a.py"): "a3",
            ("r1", "b.py"): "b2",
            ("r2", "c.py"): "c1",
            ("r2", "d.py"): "d1",
        }

    def test_row_count_summary_tracks_live_reads(self, spark, tmp_path):
        t = mk(spark, tmp_path, "t")
        for i, rows in enumerate([B1, B2, B3]):
            merge_mor(t, batch(spark, rows), f"b{i}")
            assert t.row_count() == t.read().count()

    def test_appends_never_rewrite(self, spark, tmp_path):
        t = mk(spark, tmp_path, "t")
        merge_mor(t, batch(spark, B1), "b0")
        files_after_b0 = {
            e["path"] for b in t.snapshot().files for e in t.snapshot().files[b]
        }
        merge_mor(t, batch(spark, B2), "b1")
        snap = t.snapshot()
        files_after_b1 = {e["path"] for b in snap.files for e in snap.files[b]}
        # every original file is still referenced — nothing was rewritten
        assert files_after_b0 <= files_after_b1
        assert len(files_after_b1) > len(files_after_b0)
        assert delete_files(t) > 0

    def test_exactly_once_and_stale_redelivery(self, spark, tmp_path):
        t = mk(spark, tmp_path, "t")
        merge_mor(t, batch(spark, B1), "b0")
        merge_mor(t, batch(spark, B2), "b1")
        sha = table_sha256(t.read())
        # same commit id: skipped outright
        assert merge_mor(t, batch(spark, B2), "b1")["skipped"]
        # same events, new commit id: seq guard drops everything
        res = merge_mor(t, batch(spark, B2), "b1-again")
        assert not res["skipped"] and res["upserts"] == 0 and res["deletes"] == 0
        assert table_sha256(t.read()) == sha

    def test_time_travel_applies_old_mask_only(self, spark, tmp_path):
        t = mk(spark, tmp_path, "t")
        merge_mor(t, batch(spark, B1), "b0")
        s1 = t.current_snapshot_id()
        merge_mor(t, batch(spark, B2), "b1")
        old = {
            (r["repo"], r["path"]): r["content"]
            for r in t.read_live(snapshot_id=s1).collect()
        }
        assert old[("r1", "a.py")] == "a1" and ("r1", "b.py") in old


class TestMorCompaction:
    def test_compact_folds_deletes_away(self, spark, tmp_path):
        t = mk(spark, tmp_path, "t")
        for i, rows in enumerate([B1, B2, B3]):
            merge_mor(t, batch(spark, rows), f"b{i}")
        sha = table_sha256(t.read_live())
        assert delete_files(t) > 0
        res = compact(t, min_files=1)
        assert not res["skipped"]
        assert delete_files(t) == 0  # debt folded away
        assert table_sha256(t.read_live()) == sha
        assert t.row_count() == t.read().count()

    def test_min_delete_ratio_targets_debt_buckets_only(self, spark, tmp_path):
        t = mk(spark, tmp_path, "t", n_buckets=16)
        # insert-only keys spread debt-free data across buckets
        extra = [(100 + i, "I", f"r{i}", f"x{i}.py", "v") for i in range(8)]
        for i, rows in enumerate([B1, B2, B3, extra]):
            merge_mor(t, batch(spark, rows), f"b{i}")
        sha = table_sha256(t.read_live())
        snap0 = t.snapshot()
        debt_free = [
            int(b) for b in snap0.files if not snap0.delete_files(b)
        ]
        assert debt_free, "fixture should leave some buckets without debt"
        before = {b: [e["path"] for e in snap0.files[str(b)]] for b in debt_free}

        # threshold no bucket reaches -> metadata-only no-op
        res = compact(t, min_delete_ratio=100.0)
        assert res["skipped"]

        res = compact(t, min_delete_ratio=0.01)
        assert not res["skipped"]
        assert res["deletes_cleared_rows"] > 0
        assert delete_files(t) == 0  # all debt was in the selected buckets
        snap1 = t.snapshot()
        for b in debt_free:  # debt-free buckets were not rewritten
            assert [e["path"] for e in snap1.files[str(b)]] == before[b]
        assert table_sha256(t.read_live()) == sha
        assert t.row_count() == t.read().count()

    def test_expire_keeps_live_delete_files(self, spark, tmp_path):
        import os

        t = mk(spark, tmp_path, "t")
        merge_mor(t, batch(spark, B1), "b0")
        merge_mor(t, batch(spark, B2), "b1")
        sha = table_sha256(t.read_live())
        expire_snapshots(t, keep_last=1)
        # live delete files survived the sweep; state intact
        assert delete_files(t) > 0
        assert table_sha256(t.read_live()) == sha
        # after compaction + expiry the old delete files are really gone
        compact(t, min_files=1)
        expire_snapshots(t, keep_last=1)
        assert delete_files(t) == 0
        snap = t.snapshot()
        for b in snap.files:
            for e in snap.files[b]:
                assert os.path.exists(os.path.join(t.path, e["path"]))
        assert table_sha256(t.read_live()) == sha


class TestMorSemantics:
    def test_tombstoneless_delete_via_below_seq(self, spark, tmp_path):
        # a plain table WITH _seq but WITHOUT _deleted: deletes carry no data
        # row at all — the delete entry masks every copy at or below its seq
        t = LakeTable.create(
            spark,
            str(tmp_path / "t"),
            SCHEMA + [("_seq", "long")],
            KEYS,
            n_buckets=2,
        )
        merge_mor(t, batch(spark, B1), "b0")
        merge_mor(t, batch(spark, [(4, "D", "r1", "a.py", None)]), "b1")
        keys = {(r["repo"], r["path"]) for r in t.read().collect()}
        assert ("r1", "a.py") not in keys and len(keys) == 2
        # re-insert with a higher seq survives the old delete mask
        merge_mor(t, batch(spark, [(9, "I", "r1", "a.py", "back")]), "b2")
        got = t.read().where("repo='r1' and path='a.py'").collect()
        assert len(got) == 1 and got[0]["content"] == "back"
        assert t.row_count() == t.read().count()

    def test_values_land_at_declared_types(self, spark, tmp_path):
        """A batch carrying ``stars`` as bigint into a table that declares
        int lands int files, as the COW merge writes them: files at the
        batch's type fail every later read."""
        t = create_stream_table(
            spark, str(tmp_path / "t"),
            [("repo", "string"), ("path", "string"), ("stars", "int")], KEYS, n_buckets=2,
        )
        b = spark.createDataFrame(
            [(1, "I", "r", "a", 5), (2, "I", "r", "b", 7)],
            "seq long, op string, repo string, path string, stars bigint",
        )
        merge_mor(t, b, "b0")
        got = sorted((r["path"], r["stars"]) for r in t.read_live().collect())
        assert got == [("a", 5), ("b", 7)]

    def test_requires_seq_guarded_table(self, spark, tmp_path):
        t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, KEYS, n_buckets=2)
        with pytest.raises(ValueError, match="seq-guarded"):
            merge_mor(t, batch(spark, B1), "b0")

    def test_cow_merge_on_mor_bucket_respects_mask(self, spark, tmp_path):
        # a COW merge landing on a bucket with MOR history must read the
        # MASKED state (no resurrection) and clears that bucket's delete files
        t = mk(spark, tmp_path, "t", n_buckets=1)
        merge_mor(t, batch(spark, B1), "b0")
        merge_mor(t, batch(spark, B2), "b1")
        assert delete_files(t) > 0
        merge_upsert(t, batch(spark, B3), "b2", batch_size_hint=1)
        assert delete_files(t) == 0
        live = {
            (r["repo"], r["path"]): r["content"] for r in t.read_live().collect()
        }
        assert live[("r1", "a.py")] == "a3" and live[("r1", "b.py")] == "b2"
        assert t.row_count() == t.read().count()

    def test_key_rename_refused(self, spark, tmp_path):
        t = mk(spark, tmp_path, "t")
        with pytest.raises(ValueError, match="key column"):
            t.evolve_schema(rename_columns={"repo": "repository"})
        # payload renames still fine
        t.evolve_schema(rename_columns={"content": "body"})
        assert "body" in [c["name"] for c in t.snapshot().current_schema()]


class TestMorStreaming:
    def test_stream_mor_converges_out_of_order(self, spark, tmp_path):
        """cdc-stream --merge-on-read: shuffled-arrival micro-batches applied
        MOR converge to the same digest as the COW stream over the same log,
        accumulating delete files instead of rewrites."""
        from table2qb_spark.cdc.streaming import run_stream_to_completion
        from table2qb_spark.datagen import changelog as gen

        ev = gen.gen_change_log(
            spark, 1500, 8, 25, seed=11, dup_rate=0.05,
            schema_evolution_after=None,
        )
        events = str(tmp_path / "events")
        ev.repartition(12, F.xxhash64("seq")).write.parquet(events)

        shas = {}
        for variant, mor in (("cow", False), ("mor", True)):
            t = create_stream_table(
                spark, str(tmp_path / variant),
                [("repo", "string"), ("path", "string"), ("commit", "string"),
                 ("lang", "string"), ("content", "string")],
                KEYS, n_buckets=4,
            )
            run_stream_to_completion(
                spark, t, events, str(tmp_path / f"ckpt_{variant}"),
                max_files_per_trigger=4, merge_on_read=mor,
            )
            shas[variant] = table_sha256(t.read_live())
            if mor:
                assert delete_files(t) > 0  # appends, not rewrites
        assert shas["cow"] == shas["mor"]
