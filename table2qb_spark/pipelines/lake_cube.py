"""Cube build over CDC-ingested lake rows — the north-star composition.

table2qb's pipelines consumed CSV files; here the observation source is the
**converged lake table** produced by the CDC replayer. The repos lake
`(repo, path, commit, lang, content)` becomes a measure-dimension cube:

    Repo (dimension, slugize) x Language (dimension, slugize)
    x Measure Type in {Content Length, File Count} x Value

with codelist reference resolution (J3): the Language dimension is
broadcast-joined against a language codelist; rows whose code is absent are
flagged (quarantine candidates) instead of silently passing — the runtime
join the reference only achieved by URI convention (SURVEY.md §2.5 J3).

Everything is generated Catalyst expressions over the lake read — the same
transform library the CSV pipelines use, demonstrating that the cube layer
is source-agnostic.

The Measure Type column holds only the literals ``LAKE_MEASURE_TYPES`` that
``lake_observations_raw`` writes into it, so ``build_lake_cube`` hands those
titles to the cube configuration instead of scanning the lake to learn them:
building the cube launches no Spark job, only the caller's action does. The
cube therefore always declares both measures, even over a lake with no live
rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from table2qb_spark.config.columns import ColumnDescriptor, ColumnsConfig
from table2qb_spark.config.cube import get_cube_configuration
from table2qb_spark.lake.table import LakeTable
from table2qb_spark.pipelines import cube as cube_pipe

LAKE_CUBE_COLUMNS = [
    ColumnDescriptor("Repo", "repo", "dimension",
                     "http://ex.org/def/dimension/repo",
                     "http://ex.org/def/concept/repos/{repo}", "string", "slugize"),
    ColumnDescriptor("Language", "language", "dimension",
                     "http://ex.org/def/dimension/language",
                     "http://ex.org/def/concept/languages/{language}", "string", "slugize"),
    ColumnDescriptor("Measure Type", "measure_type", "dimension",
                     "http://purl.org/linked-data/cube#measureType",
                     "http://ex.org/def/measure/{measure_type}", "string", "slugize"),
    ColumnDescriptor("Content Length", "content_length", "measure",
                     "http://ex.org/def/measure/content-length", None, "number", None),
    ColumnDescriptor("File Count", "file_count", "measure",
                     "http://ex.org/def/measure/file-count", None, "number", None),
    ColumnDescriptor("Value", "value", "value",
                     "http://ex.org/def/measure/{measure_type}", None, "number", None),
]
LAKE_CUBE_CONFIG = ColumnsConfig(LAKE_CUBE_COLUMNS)
# every value of the Measure Type column: per file, then per (repo, lang)
LAKE_MEASURE_TYPES = ("Content Length", "File Count")


def lake_observations_raw(table: LakeTable) -> DataFrame:
    """Raw title-named observation rows derived from the lake: one
    Content-Length observation per file, one File-Count per (repo, lang)."""
    content_length, file_count = LAKE_MEASURE_TYPES
    live = table.read_live() if "_deleted" in [
        c["name"] for c in table.snapshot().current_schema()
    ] else table.read()
    per_file = live.select(
        F.col("repo").alias("Repo"),
        F.col("lang").alias("Language"),
        F.lit(content_length).alias("Measure Type"),
        F.length("content").cast("string").alias("Value"),
    )
    per_group = (
        live.groupBy("repo", "lang")
        .agg(F.count("*").alias("n"))
        .select(
            F.col("repo").alias("Repo"),
            F.col("lang").alias("Language"),
            F.lit(file_count).alias("Measure Type"),
            F.col("n").cast("string").alias("Value"),
        )
    )
    return per_file.unionByName(per_group)


def build_lake_cube(
    spark: SparkSession,
    table: LakeTable,
    language_codelist: DataFrame | None = None,
) -> dict:
    """Plan the cube transform over the lake; returns observation DataFrame,
    used-codes, component specs, and the codelist-resolution report. Runs
    no Spark job: the measures come from ``LAKE_MEASURE_TYPES``."""
    raw = lake_observations_raw(table)
    cfg = get_cube_configuration(raw, LAKE_CUBE_CONFIG, measure_titles=LAKE_MEASURE_TYPES)
    obs = cube_pipe.observation_records_df(raw, cfg)
    obs = obs.withColumn(
        "obs_uri", cube_pipe.observation_uri_expr("http://ex.org/data/", "repo-stats", cfg)
    )

    resolution = None
    if language_codelist is not None:
        # J3: broadcast join against the codelist; unresolved codes flagged
        cl = F.broadcast(language_codelist.select(F.col("notation")))
        resolution = (
            obs.join(cl, obs.language == F.col("notation"), "left")
            .withColumn("resolved", F.col("notation").isNotNull())
            .drop("notation")
        )
    return {
        "cube_config": cfg,
        "observations": obs,
        "used_codes": cube_pipe.used_codes_df(obs, sorted(cfg.dimensions)),
        "component_specifications": cube_pipe.component_specification_records(cfg),
        "resolution": resolution,
    }
