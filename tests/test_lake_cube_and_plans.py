"""End-to-end CDC -> cube composition, plus physical-plan audits
(pushdown / broadcast / codegen — the 100TB sanity checks)."""

import os

import pytest
from pyspark.sql import functions as F

from table2qb_spark.cdc.apply import ChangeLogReplayer
from table2qb_spark.config.cube import get_cube_configuration, resolve_measures
from table2qb_spark.datagen import changelog as gen
from table2qb_spark.errors import CubeConfigError
from table2qb_spark.lake.dml import delete_where
from table2qb_spark.lake.table import LakeTable
from table2qb_spark.pipelines import codelist as codelist_pipe
from table2qb_spark.pipelines.lake_cube import (
    LAKE_CUBE_CONFIG,
    LAKE_MEASURE_TYPES,
    build_lake_cube,
)
from tests.conftest import job_group

FIXTURES = os.path.join(os.path.dirname(__file__), "fixtures")

BASE_SCHEMA = [
    ("repo", "string"),
    ("path", "string"),
    ("commit", "string"),
    ("lang", "string"),
    ("content", "string"),
]


@pytest.fixture(scope="module")
def lake(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("lakecube")
    ev = gen.gen_change_log(
        spark, 1500, 8, 40, seed=11, delete_rate=0.05, schema_evolution_after=None
    )
    path = str(root / "events")
    gen.write_change_log(ev, path, n_files=4)
    t = LakeTable.create(spark, str(root / "lake"), BASE_SCHEMA, ["repo", "path"], n_buckets=4)
    ChangeLogReplayer(spark, t, path, batch_events=1500).run()
    return t


class TestLakeCube:
    def test_cube_over_ingested_rows(self, spark, lake):
        langs = spark.createDataFrame(
            [(lang,) for lang in gen.LANGS if lang != "sql"], ["Label"]
        )
        codelist = codelist_pipe.code_records_df(spark, langs)
        res = build_lake_cube(spark, lake, language_codelist=codelist)
        obs = res["observations"]
        rows = obs.limit(5).collect()
        assert rows and all(r["obs_uri"].startswith("http://ex.org/data/repo-stats/") for r in rows)
        # slugized dimensions
        assert obs.where(F.col("repo").rlike("^[a-z0-9-]+$")).count() == obs.count()
        # measure-dimension inference found both measures
        cfg = res["cube_config"]
        assert cfg.type == "measure-dimension"
        assert cfg.measures == {"content_length", "file_count"}
        # J3 resolution: 'sql' files unresolved, others resolved
        r = res["resolution"]
        unresolved_langs = {
            x["language"] for x in r.where(~F.col("resolved")).select("language").distinct().collect()
        }
        assert unresolved_langs <= {"sql"}
        # used-codes covers both dimensions + measure types
        comps = {x["component"] for x in res["used_codes"].collect()}
        assert comps == {"repo", "language", "measure_type"}

    def test_component_specs_from_lake_cube(self, spark, lake):
        res = build_lake_cube(spark, lake)
        slugs = [c["component_slug"] for c in res["component_specifications"]]
        assert slugs == sorted(slugs)
        assert "measure_type" in slugs and "content_length" in slugs


class TestLakeCubeMeasures:
    """The lake cube takes its measures from ``LAKE_MEASURE_TYPES``, not
    from a scan of the lake."""

    def test_build_runs_no_spark_job(self, spark, lake):
        langs = spark.createDataFrame([(lang,) for lang in gen.LANGS], ["Label"])
        codelist = codelist_pipe.code_records_df(spark, langs)
        with job_group(spark) as jobs:
            res = build_lake_cube(spark, lake, language_codelist=codelist)
            assert jobs() == []
            # the detector itself sees a job started in the group
            res["observations"].write.format("noop").mode("overwrite").save()
            assert jobs() != []

    def test_both_measures_declared_even_when_every_row_is_deleted(
        self, spark, lake, tmp_path
    ):
        assert build_lake_cube(spark, lake)["cube_config"].measures == {
            "content_length", "file_count"
        }
        ev = gen.gen_change_log(spark, 200, 4, 10, seed=5, schema_evolution_after=None)
        path = str(tmp_path / "events")
        gen.write_change_log(ev, path, n_files=1)
        t = LakeTable.create(spark, str(tmp_path / "lake"), BASE_SCHEMA, ["repo", "path"], n_buckets=2)
        ChangeLogReplayer(spark, t, path, batch_events=200).run()
        delete_where(t, "repo IS NOT NULL", commit_id="wipe")
        assert t.read().count() == 0
        res = build_lake_cube(spark, t)
        assert res["cube_config"].measures == {"content_length", "file_count"}
        assert res["observations"].count() == 0

    def test_titles_resolve_without_data(self):
        assert resolve_measures(LAKE_MEASURE_TYPES, "Measure Type", LAKE_CUBE_CONFIG) == {
            "content_length", "file_count"
        }
        with pytest.raises(
            CubeConfigError,
            match="^Value 'Line Count' in qb:measureType column 'Measure Type' "
            "does not reference a qb:measure column$",
        ):
            resolve_measures(["Line Count"], "Measure Type", LAKE_CUBE_CONFIG)

    def test_csv_scan_names_the_row_of_an_unknown_measure_type(self, spark):
        with pytest.raises(CubeConfigError) as err:
            get_cube_configuration(
                os.path.join(FIXTURES, "lake-cube-unknown-measure-type.csv"),
                LAKE_CUBE_CONFIG,
                spark=spark,
            )
        assert str(err.value) == (
            "Value 'Line Count' in qb:measureType column 'Measure Type' row 2 "
            "does not reference a qb:measure column"
        )


class TestPhysicalPlans:
    """The plans we'd want at 1000 executors, asserted on the real ones."""

    def test_parquet_filter_pushdown_on_seq_range(self, spark, lake, tmp_path):
        ev = gen.gen_change_log(spark, 1000, 8, 40, seed=11)
        p = str(tmp_path / "ev")
        gen.write_change_log(ev, p, n_files=2)
        df = spark.read.parquet(p).where((F.col("seq") >= 100) & (F.col("seq") <= 200))
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "PushedFilters" in plan and "GreaterThanOrEqual(seq,100)" in plan

    def test_column_pruning_in_projection(self, spark, tmp_path):
        ev = gen.gen_change_log(spark, 1000, 8, 40, seed=11)
        p = str(tmp_path / "ev2")
        gen.write_change_log(ev, p, n_files=2)
        df = spark.read.parquet(p).select("repo", "path")
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ReadSchema: struct<repo:string,path:string>" in plan

    def test_codelist_join_is_broadcast(self, spark, lake):
        langs = spark.createDataFrame([(lang,) for lang in gen.LANGS], ["Label"])
        codelist = codelist_pipe.code_records_df(spark, langs)
        res = build_lake_cube(spark, lake, language_codelist=codelist)
        plan = res["resolution"]._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan

    def test_transforms_stay_in_codegen(self, spark, lake):
        res = build_lake_cube(spark, lake)
        obs = res["observations"]
        obs.collect()  # finalize the adaptive plan before inspecting it
        plan = obs._jdf.queryExecution().executedPlan().toString()
        # "*(n)" is the WholeStageCodegen marker in the compact plan string
        assert "*(" in plan
        # no python UDF anywhere in the pipeline plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    def test_dedup_uses_partial_aggregation(self, spark):
        from table2qb_spark.cdc.dedup import dedup_max_seq

        df = spark.createDataFrame(
            [(1, "I", "r", "p", "c")], "seq long, op string, repo string, path string, content string"
        )
        out = dedup_max_seq(df, ["repo", "path"], "seq")
        out.collect()
        plan = out._jdf.queryExecution().executedPlan().toString()
        # partial (map-side) aggregate before the exchange, final after.
        # struct-valued max falls to SortAggregate (strings in the buffer),
        # which still does partial aggregation — assert the partial stage.
        assert "partial_max" in plan and "Exchange" in plan
        assert plan.count("Aggregate") >= 2
