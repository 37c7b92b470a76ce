"""DROP COLUMN + type widening (evolve_schema extensions, cdc-alter CLI):
drop semantics (no resurrection on re-add), lossless-only widening, read
casts per written version, bloom probing with written types across a widen."""

import pytest
from pyspark.sql import functions as F

from table2qb_spark.lake.table import LakeTable, key_bucket_expr

SCHEMA = [
    ("repo", "string"),
    ("path", "string"),
    ("lang", "string"),
    ("stars", "int"),
    ("content", "string"),
]
KEYS = ["repo", "path"]
N = 400


def _rows(spark, start=0, n=N, typ="int"):
    return spark.range(start, start + n).select(
        F.concat(F.lit("r"), (F.col("id") % 10).cast("string")).alias("repo"),
        F.concat(F.lit("f"), F.col("id").cast("string")).alias("path"),
        F.lit("py").alias("lang"),
        (F.col("id") * 7).cast(typ).alias("stars"),
        F.concat(F.lit("c"), F.col("id").cast("string")).alias("content"),
    )


def _commit(t, df, cid):
    dfb = df.withColumn("__bucket", key_bucket_expr(KEYS, 4))
    files = t.write_data_files(dfb, cid)
    return t.commit_files(cid, list(files), files)


def _append(t, df, cid):
    """commit_files is copy-on-write per bucket, so an APPEND must carry the
    bucket's existing entries forward alongside the new ones."""
    dfb = df.withColumn("__bucket", key_bucket_expr(KEYS, 4))
    files = t.write_data_files(dfb, cid)
    snap = t.snapshot()
    merged = {
        b: (list(snap.files[str(b)]) if str(b) in snap.files else []) + ents
        for b, ents in files.items()
    }
    return t.commit_files(cid, list(merged), merged)


@pytest.fixture()
def table(spark, tmp_path):
    t = LakeTable.create(
        spark, str(tmp_path / "t"), SCHEMA, KEYS, n_buckets=4,
        properties={"bloom.columns": "stars", "bloom.bits": 4096},
    )
    _commit(t, _rows(spark), "c1")
    return t


class TestDropColumn:
    def test_drop_projects_away_without_rewriting(self, table):
        pre = table.snapshot()
        s = table.evolve_schema(drop_columns=["lang"])
        assert "lang" not in [c["name"] for c in s.current_schema()]
        got = table.read()
        assert "lang" not in got.columns
        assert got.count() == N
        # metadata-only: data manifests reused verbatim (reload — the
        # returned Snapshot doesn't carry pointers; the header does)
        post = table.snapshot()
        assert sorted(p["path"] for p in post.manifest_pointers.values()) == (
            sorted(p["path"] for p in pre.manifest_pointers.values())
        )
        # time travel still shows the column with its data
        old = table.read(snapshot_id=pre.snapshot_id)
        assert old.where(F.col("lang") == "py").count() == N

    def test_re_add_never_resurrects(self, spark, table):
        table.evolve_schema(drop_columns=["lang"])
        s = table.evolve_schema(add_columns=[("lang", "string")])
        ids = [c["id"] for c in s.current_schema() if c["name"] == "lang"]
        old_ids = [c["id"] for c in s.schemas["1"] if c["name"] == "lang"]
        assert ids and old_ids and ids[0] != old_ids[0]  # NEW column id
        got = table.read()
        assert got.where(F.col("lang").isNotNull()).count() == 0
        # and new writes populate it
        _append(
            table, _rows(spark, start=N, n=50).withColumn("lang", F.lit("go")), "c2"
        )
        assert table.read().where(F.col("lang") == "go").count() == 50
        assert table.read().where(F.col("lang").isNull()).count() == N

    def test_re_add_last_column_reads_null_in_old_files(self, spark, table):
        """Dropping and re-adding the LAST column under its old name and
        type gives a column list equal by name and type to the one the old
        files were written under; only the column id differs, and the old
        files must still read null for it."""
        table.evolve_schema(drop_columns=["content"])
        s = table.evolve_schema(add_columns=[("content", "string")])
        assert [(c["name"], c["type"]) for c in s.current_schema()] == SCHEMA
        got = table.read()
        assert got.columns == [c for c, _ in SCHEMA]
        assert got.count() == N
        assert got.where(F.col("content").isNotNull()).count() == 0
        _append(table, _rows(spark, start=N, n=50), "c2")
        assert table.read().where(F.col("content").isNotNull()).count() == 50

    def test_drop_guards(self, table):
        with pytest.raises(ValueError, match="key column"):
            table.evolve_schema(drop_columns=["repo"])
        with pytest.raises(ValueError, match="unknown column"):
            table.evolve_schema(drop_columns=["nope"])
        table.evolve_schema(drop_columns=["lang"])
        before = table.snapshot().snapshot_id
        # idempotent replay: re-drop of an already-dropped column is a no-op
        s = table.evolve_schema(drop_columns=["lang"])
        assert s.snapshot_id == before


class TestWiden:
    def test_widen_int_to_long_casts_old_files(self, spark, table):
        s = table.evolve_schema(widen_columns={"stars": "long"})
        types = {c["name"]: c["type"] for c in s.current_schema()}
        assert types["stars"] == "long"
        got = table.read()
        assert dict(got.dtypes)["stars"] == "bigint"
        assert got.agg(F.sum("stars")).collect()[0][0] == 7 * sum(range(N))
        # mixed-version table: new files written as long union with old ints
        _append(table, _rows(spark, start=N, n=100, typ="long"), "c2")
        got = table.read()
        assert got.count() == N + 100
        assert (
            got.agg(F.sum("stars")).collect()[0][0] == 7 * sum(range(N + 100))
        )

    def test_bloom_probes_written_type_across_widen(self, spark, table):
        """Old files hashed stars as INT, new files as LONG — xxhash64 is
        width-sensitive, so each version must be probed with its own type
        or present values would be wrongly pruned."""
        table.evolve_schema(widen_columns={"stars": "long"})
        _append(table, _rows(spark, start=N, n=100, typ="long"), "c2")
        # value present only in the OLD (int-written) files
        old_val = 7 * 3
        got = table.read(where=f"stars={old_val}").collect()
        assert len(got) == 1 and got[0]["path"] == "f3"
        # value present only in the NEW (long-written) files
        new_val = 7 * (N + 5)
        got = table.read(where=f"stars={new_val}").collect()
        assert len(got) == 1 and got[0]["path"] == f"f{N + 5}"
        # absent value still prunes every file, both versions
        pr = {}
        assert table.read(where="stars=1", prune_report=pr).count() == 0
        assert pr["files_kept"] == 0

    def test_widen_guards(self, table):
        with pytest.raises(ValueError, match="lossless"):
            table.evolve_schema(widen_columns={"stars": "string"})
        with pytest.raises(ValueError, match="lossless"):
            table.evolve_schema(widen_columns={"content": "long"})
        with pytest.raises(ValueError, match="unknown"):
            table.evolve_schema(widen_columns={"nope": "long"})
        table.evolve_schema(widen_columns={"stars": "long"})
        before = table.snapshot().snapshot_id
        s = table.evolve_schema(widen_columns={"stars": "long"})
        assert s.snapshot_id == before  # idempotent replay

    def test_widen_key_column_rejected(self, spark, tmp_path):
        t = LakeTable.create(
            spark, str(tmp_path / "k"),
            [("k", "int"), ("v", "string")], ["k"], n_buckets=2,
        )
        with pytest.raises(ValueError, match="key column"):
            t.evolve_schema(widen_columns={"k": "long"})


class TestAlterCLI:
    def test_cdc_alter_roundtrip(self, spark, table, capsys):
        import json

        from table2qb_spark.main import main

        rc = main([
            "cdc-alter", "--table", table.path,
            "--drop", "lang", "--widen", "stars=long",
            "--add", "license:string", "--rename", "content=body",
        ])
        assert rc == 0
        out = json.loads(capsys.readouterr().out)
        cols = {c["name"]: c["type"] for c in out["columns"]}
        assert "lang" not in cols
        assert cols["stars"] == "long"
        assert cols["license"] == "string"
        assert "body" in cols and "content" not in cols
        assert table.read().where(F.col("body") == "c3").count() == 1

    def test_cdc_alter_rejects_bad_widen(self, table, capsys):
        from table2qb_spark.main import main

        rc = main(["cdc-alter", "--table", table.path, "--widen", "content=long"])
        assert rc == 1
        assert "lossless" in capsys.readouterr().err
