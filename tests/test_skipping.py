"""File-level data skipping: footer stats extraction (leaf-index-safe),
predicate parsing/admission (pure functions — no Spark), and the
LakeTable read-path integration (pruned file set + identical results)."""

import datetime
import decimal

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from table2qb_spark.lake.skipping import (
    file_column_stats,
    parse_predicates,
    stats_admit,
)


TYPES = {"repo": "string", "seq": "bigint", "score": "double", "a": "int"}


class TestParse:
    def test_ops_and_types(self):
        assert parse_predicates("repo=alpha,seq>=900,score<0.5", TYPES) == [
            ("repo", "=", "alpha"),
            ("seq", ">=", 900),
            ("score", "<", 0.5),
        ]

    def test_values_take_the_declared_type_not_a_guess(self):
        assert parse_predicates("repo=7,score=2", TYPES) == [
            ("repo", "=", "7"),
            ("score", "=", 2.0),
        ]
        assert parse_predicates(
            "d=2024-02-29,ok=TRUE,amt=1.10",
            {"d": "date", "ok": "boolean", "amt": "decimal(10,2)"},
        ) == [
            ("d", "=", datetime.date(2024, 2, 29)),
            ("ok", "=", True),
            ("amt", "=", decimal.Decimal("1.10")),
        ]

    def test_two_char_ops_win(self):
        assert parse_predicates("a<=3", TYPES) == [("a", "<=", 3)]
        assert parse_predicates("a>=3", TYPES) == [("a", ">=", 3)]

    def test_bad_spec(self):
        with pytest.raises(ValueError):
            parse_predicates("nonsense", TYPES)
        with pytest.raises(ValueError, match="unknown column 'nope'"):
            parse_predicates("nope=1", TYPES)
        with pytest.raises(ValueError, match="cannot read 'x1' as a bigint"):
            parse_predicates("seq>=x1", TYPES)


class TestAdmit:
    def test_range_logic(self):
        stats = {"seq": [100, 200], "repo": ["a", "m"]}
        assert stats_admit(stats, [("seq", ">=", 150)])
        assert not stats_admit(stats, [("seq", ">=", 201)])
        assert stats_admit(stats, [("seq", ">=", 200)])
        assert not stats_admit(stats, [("seq", "<", 100)])
        assert stats_admit(stats, [("seq", "<", 101)])
        assert not stats_admit(stats, [("seq", "=", 99)])
        assert stats_admit(stats, [("repo", "=", "b")])
        assert not stats_admit(stats, [("repo", "=", "z")])

    def test_conjunction(self):
        stats = {"seq": [100, 200]}
        assert not stats_admit(stats, [("seq", ">=", 150), ("seq", "<", 120)])

    def test_contradictory_equalities(self):
        stats = {"seq": [0, 10**9]}
        assert not stats_admit(stats, [("seq", "=", 5), ("seq", "=", 6)])
        assert stats_admit(stats, [("seq", "=", 5), ("seq", "=", 5)])

    def test_open_bound_touching(self):
        stats = {"seq": [100, 200]}
        # pred interval (200, inf) cannot touch a closed max of 200
        assert not stats_admit(stats, [("seq", ">", 200)])
        assert stats_admit(stats, [("seq", ">=", 200)])
        assert not stats_admit(stats, [("seq", ">=", 150), ("seq", "<", 150)])
        assert stats_admit(stats, [("seq", ">=", 150), ("seq", "<=", 150)])

    def test_missing_stats_admit(self):
        assert stats_admit(None, [("seq", "=", 1)])
        assert stats_admit({}, [("seq", "=", 1)])
        assert stats_admit({"other": [1, 2]}, [("seq", "=", 10**9)])

    def test_type_mismatch_admits(self):
        # string stats vs numeric literal must not prune (unknown collation)
        assert stats_admit({"seq": ["100", "200"]}, [("seq", "=", 500)])
        assert stats_admit({"seq": [100, 200]}, [("seq", "=", "500")])


class TestFooterStats:
    def _write(self, tmp_path, table, name="f.parquet", **kw):
        p = str(tmp_path / name)
        pq.write_table(table, p, **kw)
        return pq.read_metadata(p)

    def test_leaf_index_safety_struct_before_column(self, tmp_path):
        """A struct column ahead of the requested one must not shift the
        stats read onto the wrong leaf (round-3 regression class)."""
        t = pa.table(
            {
                "meta": [{"a": 7, "b": 8}, {"a": 9, "b": 10}],
                "seq": pa.array([100, 200], pa.int64()),
                "repo": ["alpha", "zulu"],
            }
        )
        md = self._write(tmp_path, t)
        stats = file_column_stats(md, {"seq", "repo"})
        assert stats["seq"] == [100, 200]
        assert stats["repo"] == ["alpha", "zulu"]

    def test_multi_row_group_union(self, tmp_path):
        t = pa.table({"seq": pa.array(list(range(1000)), pa.int64())})
        md = self._write(tmp_path, t, row_group_size=100)
        assert md.num_row_groups == 10
        assert file_column_stats(md, {"seq"})["seq"] == [0, 999]

    def test_binary_column_skipped(self, tmp_path):
        t = pa.table({"blob": pa.array([b"\xff\xfe", b"\x00"], pa.binary())})
        md = self._write(tmp_path, t)
        assert file_column_stats(md, {"blob"}) == {}

    def test_all_null_column_unprunable(self, tmp_path):
        t = pa.table({"seq": pa.array([None, None], pa.int64())})
        md = self._write(tmp_path, t)
        assert "seq" not in file_column_stats(md, {"seq"})


class TestLakeReadSkipping:
    """write_data_files stats -> manifest -> read(where=...) file pruning.

    Merge is copy-on-write per bucket, so the pruning win is COLD buckets:
    a commit touching few keys leaves every other bucket's file with its
    old _seq range — an incremental consumer's ``_seq >= since`` read
    plans past all of them without opening a single footer."""

    SCHEMA = [("repo", "string"), ("path", "string"), ("commit", "string"),
              ("lang", "string"), ("content", "string"), ("_seq", "long"),
              ("_deleted", "boolean")]

    def _batch(self, spark, lo, hi):
        return (
            spark.range(lo, hi)
            .select(
                F.col("id").alias("seq"),
                F.lit("U").alias("op"),
                F.concat(F.lit("r"), (F.col("id") % 4).cast("string")).alias("repo"),
                F.concat(F.lit("p"), F.col("id").cast("string")).alias("path"),
                F.concat(F.lit("c"), F.col("id").cast("string")).alias("commit"),
                F.lit("py").alias("lang"),
                F.concat(F.lit("body "), F.col("id").cast("string")).alias("content"),
            )
        )

    def _table(self, spark, tmp_path):
        from table2qb_spark.lake.merge import merge_upsert
        from table2qb_spark.lake.table import LakeTable

        t = LakeTable.create(
            spark, str(tmp_path / "skip_t"), self.SCHEMA, ["repo", "path"],
            n_buckets=16,
        )
        # c1 seeds every bucket (seq 0-399); c2 touches only 8 KEYS, so
        # most buckets keep their cold file with max _seq <= 399
        merge_upsert(t, self._batch(spark, 0, 400), "c1")
        merge_upsert(t, self._batch(spark, 400, 408), "c2", batch_size_hint=1)
        return t

    def test_stats_in_manifest(self, spark, tmp_path):
        t = self._table(spark, tmp_path)
        snap = t.snapshot()
        entries = [e for b in snap.files for e in snap.files[b]]
        assert entries and all("stats" in e for e in entries)
        s = entries[0]["stats"]
        assert "_seq" in s and "repo" in s and s["_seq"][0] <= s["_seq"][1]

    def test_incremental_read_prunes_cold_buckets(self, spark, tmp_path):
        t = self._table(spark, tmp_path)
        report = {}
        pruned = t.read(where=[("_seq", ">=", 400)], prune_report=report)
        full = t.read().where(F.col("_seq") >= 400)
        # c2 touched at most 8 buckets; every cold bucket's file is skipped
        assert report["files_kept"] <= 8 < report["files_total"]
        assert sorted(r["path"] for r in pruned.collect()) == sorted(
            r["path"] for r in full.collect()
        )

    def test_string_where_and_equality(self, spark, tmp_path):
        t = self._table(spark, tmp_path)
        report = {}
        out = t.read(where="repo=r1,_seq>=400", prune_report=report)
        rows = out.collect()
        assert sorted(r["path"] for r in rows) == ["p401", "p405"]
        assert report["files_kept"] < report["files_total"]

    def test_impossible_predicate_prunes_everything(self, spark, tmp_path):
        t = self._table(spark, tmp_path)
        report = {}
        out = t.read(where=[("_seq", ">", 10**9)], prune_report=report)
        assert report["files_kept"] == 0
        assert out.count() == 0

    def test_pruning_survives_rename(self, spark, tmp_path):
        """A predicate on the CURRENT name must find stats stored under the
        WRITTEN name (schema-evolution rename): 'zzz' is above every
        commit-string range, so full pruning proves the name mapping."""
        t = self._table(spark, tmp_path)
        t.evolve_schema(rename_columns={"commit": "revision"})
        report = {}
        out = t.read(where=[("revision", "=", "zzz")], prune_report=report)
        assert report["files_kept"] == 0
        assert out.count() == 0
        # and a satisfiable predicate on the renamed column still answers
        hit = t.read(where=[("revision", "=", "c405")]).collect()
        assert [r["path"] for r in hit] == ["p405"]

    def test_read_live_where(self, spark, tmp_path):
        from table2qb_spark.lake.merge import merge_upsert

        t = self._table(spark, tmp_path)
        # tombstone one hot key inside the wanted range
        d = self._batch(spark, 400, 401).withColumn("op", F.lit("D")) \
            .withColumn("seq", F.lit(900))
        merge_upsert(t, d, "c3", batch_size_hint=1)
        live = t.read_live(where=[("repo", "=", "r0")])
        paths = {r["path"] for r in live.collect()}
        assert "p400" not in paths          # tombstoned
        assert "p0" in paths and "p404" in paths
        assert "_seq" not in live.columns


class TestWhereValuesTakeTheColumnType:
    """A ``where`` value is typed by its column's declared type, never
    guessed: ``tag=7`` on a string column compares with the string "7"."""

    def _table(self, spark, path, properties=None):
        from pyspark.sql.types import StructType

        from table2qb_spark.lake.table import LakeTable, key_bucket_expr

        schema = [("id", "bigint"), ("tag", "string")]
        t = LakeTable.create(spark, str(path), schema, ["id"], n_buckets=2, properties=properties)
        rows = [(1, "007"), (2, "7"), (3, "x1"), (4, "12")]
        df = spark.createDataFrame(
            rows, StructType.fromDDL(", ".join(f"{n} {ty}" for n, ty in schema))
        ).withColumn("__bucket", key_bucket_expr(["id"], 2))
        files = t.write_data_files(df, "s1")
        t.commit_files("c1", list(files), files)
        return t

    def test_same_rows_with_and_without_a_bloom(self, spark, tmp_path):
        plain = self._table(spark, tmp_path / "plain")
        bloomed = self._table(
            spark, tmp_path / "bloom", {"bloom.columns": "tag", "bloom.bits": 1024}
        )
        for where, want in [("tag=007", [1]), ("tag=7", [2]), ("tag=x1", [3]), ("tag>=7", [2, 3])]:
            for t in (plain, bloomed):
                got = sorted(r["id"] for r in t.read(where=where).collect())
                assert got == want, (where, t.path)
