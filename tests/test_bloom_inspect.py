"""Bloom-filter file skipping (lake/bloom.py) + metadata tables
(lake/inspect.py): build, soundness, pruning power, rename evolution,
saturation, point lookup, and the inspection surface."""

import pytest
from pyspark.sql import functions as F

from table2qb_spark.lake import inspect as meta
from table2qb_spark.lake.bloom import bloom_config
from table2qb_spark.lake.table import LakeTable, key_bucket_expr

SCHEMA = [
    ("repo", "string"),
    ("path", "string"),
    ("commit", "string"),
    ("lang", "string"),
    ("content", "string"),
    ("_seq", "long"),
]
KEYS = ["repo", "path"]
N_BUCKETS = 4
N_ROWS = 1500
N_REPOS = 30


def _rows(spark, n=N_ROWS):
    return spark.range(n).select(
        F.concat(F.lit("repo-"), (F.col("id") % N_REPOS).cast("string")).alias("repo"),
        F.concat(F.lit("src/f"), F.col("id").cast("string"), F.lit(".py")).alias("path"),
        F.md5(F.col("id").cast("string")).alias("commit"),
        F.lit("py").alias("lang"),
        F.concat(F.lit("content-"), F.col("id").cast("string")).alias("content"),
        F.col("id").alias("_seq"),
    )


def _make_table(spark, path, properties, rows=None):
    t = LakeTable.create(
        spark, str(path), SCHEMA, KEYS, n_buckets=N_BUCKETS, properties=properties
    )
    df = (rows if rows is not None else _rows(spark)).withColumn(
        "__bucket", key_bucket_expr(KEYS, N_BUCKETS)
    )
    files = t.write_data_files(df, "s2", max_records_per_file=150)
    t.commit_files("c1", list(files), files, summary_update={"max_seq": N_ROWS})
    return t


@pytest.fixture(scope="module")
def bloom_table(spark, tmp_path_factory):
    return _make_table(
        spark,
        tmp_path_factory.mktemp("bloom") / "t",
        {"bloom.columns": "repo,path,_seq", "bloom.bits": 4096, "bloom.hashes": 4},
    )


class TestBloomBuild:
    def test_every_file_carries_blooms(self, bloom_table):
        snap = bloom_table.snapshot()
        entries = [e for b in snap.files for e in snap.files[b]]
        assert entries and all("bloom" in e for e in entries)
        for e in entries:
            assert e["bloom"]["m"] == 4096 and e["bloom"]["k"] == 4
            assert set(e["bloom"]["cols"]) == {"repo", "path", "_seq"}

    def test_config_drops_ineligible_and_unknown_columns(self):
        schema = [
            {"name": "repo", "type": "string"},
            {"name": "score", "type": "double"},
            {"name": "_seq", "type": "long"},
        ]
        cfg = bloom_config(
            {"bloom.columns": "repo,score,_seq,nope"}, schema
        )
        assert cfg == (["repo", "_seq"], 8192, 4)
        assert bloom_config({"bloom.columns": "score"}, schema) is None
        assert bloom_config({}, schema) is None

    def test_properties_survive_commits_and_schema_evolution(
        self, spark, tmp_path
    ):
        # own table: this test COMMITS, which would skew the shared fixture
        t = _make_table(
            spark, tmp_path / "evo", {"bloom.columns": "repo,path"}
        )
        snap0 = t.snapshot()
        s = t.evolve_schema(add_columns=[("license", "string")])
        assert s.properties == snap0.properties
        # and the NEXT data commit still builds blooms
        df = _rows(spark, 100).withColumn("license", F.lit("mit")).withColumn(
            "__bucket", key_bucket_expr(KEYS, N_BUCKETS)
        )
        files = t.write_data_files(df, "s3")
        snap = t.commit_files("c2", list(files), files)
        new_entries = [
            e
            for b in snap.files
            for e in snap.files[b]
            if e["schema_version"] == s.schema_version
        ]
        assert new_entries and all("bloom" in e for e in new_entries)


class TestBloomPruning:
    def test_absent_value_prunes_every_file(self, bloom_table):
        pr = {}
        n = bloom_table.read(where="repo=repo-ABSENT", prune_report=pr).count()
        assert n == 0 and pr["files_kept"] == 0 and pr["files_total"] > 0

    def test_soundness_every_present_value_fully_returned(self, bloom_table):
        # a bloom may only ever admit extra files, never hide a row
        per_repo = N_ROWS // N_REPOS
        for i in range(N_REPOS):
            assert (
                bloom_table.read(where=f"repo=repo-{i}").count() == per_repo
            ), f"repo-{i}"

    def test_high_cardinality_point_predicate_prunes_to_one_file(
        self, bloom_table
    ):
        pr = {}
        got = bloom_table.read(where="path=src/f7.py", prune_report=pr).collect()
        assert len(got) == 1 and got[0]["content"] == "content-7"
        # 1500 distinct paths over ~40 files: min/max admits ~everything in
        # an unsorted table, the bloom should cut to a handful at most
        assert pr["files_kept"] <= max(2, pr["files_total"] // 5)

    def test_integral_column_probe(self, bloom_table):
        pr = {}
        got = bloom_table.read(where="_seq=42,repo=repo-12", prune_report=pr).collect()
        assert len(got) == 1 and got[0]["path"] == "src/f42.py"
        pr2 = {}
        assert bloom_table.read(where="_seq=999999", prune_report=pr2).count() == 0
        assert pr2["files_kept"] == 0

    def test_range_predicates_ignore_blooms(self, bloom_table):
        # bloom says nothing about ranges; stats layer still applies
        n = bloom_table.read(where="_seq>=1400").count()
        assert n == N_ROWS - 1400

    def test_saturated_blooms_are_dropped_not_wrong(self, spark, tmp_path):
        t = _make_table(
            spark,
            tmp_path / "sat",
            {"bloom.columns": "path", "bloom.bits": 64, "bloom.hashes": 4},
        )
        snap = t.snapshot()
        entries = [e for b in snap.files for e in snap.files[b]]
        # 64 bits vs ~40 distinct paths/file * 4 hashes: saturated -> dropped
        assert all("bloom" not in e for e in entries)
        assert t.read(where="path=src/f7.py").count() == 1

    def test_rename_evolution_maps_probe_to_written_name(self, spark, tmp_path):
        import hashlib

        t = _make_table(
            spark,
            tmp_path / "ren",
            {"bloom.columns": "commit", "bloom.bits": 4096},
        )
        # key columns cannot rename (layout identity); payload columns can
        t.evolve_schema(rename_columns={"commit": "commit_sha"})
        present = hashlib.md5(b"7").hexdigest()
        pr = {}
        got = t.read(where=f"commit_sha={present}", prune_report=pr).collect()
        assert len(got) == 1 and got[0]["path"] == "src/f7.py"
        pr2 = {}
        absent = "0" * 32
        assert t.read(where=f"commit_sha={absent}", prune_report=pr2).count() == 0
        assert pr2["files_kept"] == 0  # bloom pruned under the WRITTEN name


class TestLookup:
    def test_point_lookup_hits_one_bucket_and_file(self, bloom_table):
        pr = {}
        rows = bloom_table.lookup(
            {"repo": "repo-7", "path": "src/f7.py"}, prune_report=pr
        ).collect()
        assert len(rows) == 1 and rows[0]["content"] == "content-7"
        snap = bloom_table.snapshot()
        total_files = sum(len(snap.files[b]) for b in snap.files)
        assert pr["files_total"] < total_files  # bucket pruning engaged
        assert pr["files_kept"] <= 2  # bloom pruning within the bucket

    def test_lookup_requires_every_key_column(self, bloom_table):
        with pytest.raises(ValueError, match="missing"):
            bloom_table.lookup({"repo": "repo-7"})
        with pytest.raises(ValueError, match="unknown"):
            bloom_table.lookup(
                {"repo": "repo-7", "path": "src/f7.py", "nope": 1}
            )

    def test_lookup_absent_key(self, bloom_table):
        pr = {}
        rows = bloom_table.lookup(
            {"repo": "repo-7", "path": "src/NOPE.py"}, prune_report=pr
        ).collect()
        assert rows == [] and pr["files_kept"] == 0

    def test_lookup_matches_bucket_routing_for_many_keys(self, bloom_table):
        # the driver-side bucket twin (lake/hashing.py) must agree with the
        # layout for every key; tests/test_hashing.py covers key shapes
        for i in (0, 1, 7, 999, 1499):
            rows = bloom_table.lookup(
                {"repo": f"repo-{i % N_REPOS}", "path": f"src/f{i}.py"}
            ).collect()
            assert len(rows) == 1 and rows[0]["_seq"] == i


class TestInspect:
    def test_snapshots_df(self, bloom_table):
        snaps = {r["snapshot_id"]: r for r in meta.snapshots_df(bloom_table).collect()}
        assert snaps[1]["operation"] == "create"
        cur = bloom_table.snapshot()
        assert snaps[cur.snapshot_id]["commit_id"] == cur.commit_id
        assert snaps[cur.snapshot_id]["row_count"] == cur.summary["row_count"]

    def test_files_df_matches_manifests(self, bloom_table):
        snap = bloom_table.snapshot()
        want = sorted(
            (int(b), e["path"]) for b in snap.files for e in snap.files[b]
        )
        got = meta.files_df(bloom_table).where(F.col("content") == "data")
        assert sorted((r["bucket"], r["path"]) for r in got.collect()) == want
        rows_total = got.agg(F.sum("rows")).collect()[0][0]
        assert rows_total == snap.summary["row_count"]
        flags = got.select("has_stats", "has_bloom").distinct().collect()
        assert all(r["has_bloom"] for r in flags)

    def test_files_df_time_travel(self, bloom_table):
        # snapshot 2 was the first data commit; its file set must be stable
        cur = meta.files_df(bloom_table).count()
        old = meta.files_df(bloom_table, 2).count()
        assert 0 < old <= cur

    def test_refs_and_properties_df(self, bloom_table):
        bloom_table.create_tag("inspect-test", force=True)
        refs = {r["name"]: r for r in meta.refs_df(bloom_table).collect()}
        assert refs["inspect-test"]["snapshot_id"] == bloom_table.snapshot().snapshot_id
        props = {r["key"]: r["value"] for r in meta.properties_df(bloom_table).collect()}
        assert props["bloom.columns"] == "repo,path,_seq"
