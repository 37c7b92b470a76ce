"""Cube (observation) pipeline — the flagship dataflow.

Reference: src/table2qb/pipelines/cube.clj + configuration/cube.clj. Two-pass
shape preserved Spark-first (SURVEY.md §3.3):

- **Pass 1**: cube-config inference (config/cube.py) — driver validations,
  plus, for a CSV input, a tiny ``distinct()`` job over the qb:measureType
  column to learn its measures (a source that knows its measure-type
  titles, like the lake cube, passes them and skips the job).
- **Pass 2**: ONE generated ``select()`` applying the per-column
  value_transformations (D7: slugize/unitize as Catalyst expressions) and the
  dimension-completeness guards (P11) — fully fused, zero shuffles.

Derived artifacts: component-specification records (D8,
cube.clj:174-179), the observation-URI key build (D9, cube.clj:54-59), the
used-codes distinct collections (A2), and the six CSVW metadata schemas
(cube.clj:30-178) as driver-side lineage records.
"""

from __future__ import annotations

import csv as _csv
import json
import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from table2qb_spark.config import csvspec
from table2qb_spark.config.columns import ColumnsConfig
from table2qb_spark.config.cube import CubeConfig, get_cube_configuration
from table2qb_spark.errors import CellValidationError
from table2qb_spark.functions import transforms
from table2qb_spark.functions import uris as uri_fns
from table2qb_spark.pipelines.templates import CUBE_PIPELINE_URIS

COMPONENT_SPEC_COLUMNS = ["component_slug", "component_attachment", "component_property"]


# ---------------------------------------------------------------------------
# Pass 2: observation transform
# ---------------------------------------------------------------------------


def observation_select_exprs(
    cube_config: CubeConfig, row: Column | None = None
) -> list[Column]:
    """D7 + P11 compiled to aliased Catalyst expressions in header order.
    ``row``: optional row-ordinal Column (csvspec.row_ordinal_col) threaded
    into the fail-fast dimension guard so executor-side errors carry row
    context like the reference's driver-side ones (csv.clj:166-177)."""
    transformers = cube_config.header_transformers()
    exprs: list[Column] = []
    for title, name in zip(cube_config.titles, cube_config.names):
        c: Column = F.col(f"`{title}`")
        tname = transformers.get(name)
        if tname is not None:
            c = transforms.TRANSFORMS[tname](c)
        if name in cube_config.dimensions:
            # P11 (validate-dimensions, configuration/cube.clj:189-199)
            msg = f"Missing value for dimension: {name}"
            if row is None:
                msg_col = F.lit(msg)
            else:
                msg_col = F.concat(F.lit(msg + " (row "), row, F.lit(")"))
            c = F.when(
                c.isNull() | (F.trim(c) == ""), F.raise_error(msg_col)
            ).otherwise(c)
        exprs.append(c.alias(name))
    return exprs


def observation_records_df(
    obs_df: DataFrame, cube_config: CubeConfig, row: Column | None = None
) -> DataFrame:
    """Transformed observations, columns in header order
    (observation-records, configuration/cube.clj:206-217). ``row`` (e.g.
    csvspec.row_ordinal_col()) is materialized as its own column first so it
    counts ROWS, not error-branch evaluations (see row_ordinal_col)."""
    if row is not None:
        obs_df = obs_df.withColumn(csvspec.ROW_ORDINAL, row)
        row = F.col(csvspec.ROW_ORDINAL)
    return obs_df.select(*observation_select_exprs(cube_config, row))


def observation_records(rows: list[dict], cube_config: CubeConfig) -> list[dict]:
    """Driver-path twin for tiny inputs / oracles."""
    transformers = cube_config.header_transformers()
    out = []
    title_of = {n: t for t, n in zip(cube_config.titles, cube_config.names)}
    for row in rows:
        rec = {}
        for title, name in zip(cube_config.titles, cube_config.names):
            v = row.get(title)
            tname = transformers.get(name)
            if tname is not None and v is not None:
                v = transforms.TRANSFORMS_PY[tname](v)
            if name in cube_config.dimensions and (v is None or str(v).strip() == ""):
                raise CellValidationError(f"Missing value for dimension: {name}")
            rec[name] = v
        out.append(rec)
    return out


# ---------------------------------------------------------------------------
# D8: component specifications
# ---------------------------------------------------------------------------


def component_specification_records(cube_config: CubeConfig) -> list[dict]:
    """cube.clj:174-179 — one record per dimension/attribute/measure
    component, sorted by component_slug for deterministic output (the golden
    example file is stored sorted; reference iterates Clojure sets)."""
    recs = [
        {
            "component_slug": col.name,
            "component_attachment": col.component_attachment,
            "component_property": col.property_template,
        }
        for col in cube_config.dimension_attribute_measure_columns()
    ]
    return sorted(recs, key=lambda r: r["component_slug"])


def component_specifications_df(spark: SparkSession, cube_config: CubeConfig) -> DataFrame:
    recs = component_specification_records(cube_config)
    return spark.createDataFrame(
        [(r["component_slug"], r["component_attachment"], r["component_property"]) for r in recs],
        schema="component_slug string, component_attachment string, component_property string",
    )


# ---------------------------------------------------------------------------
# D9: observation URI (the natural row key)
# ---------------------------------------------------------------------------


def observation_template(domain_data_prefix: str, dataset_slug: str, dimension_names: list[str]) -> str:
    """cube.clj:54-59."""
    parts = "".join("/{+" + n + "}" for n in dimension_names)
    return f"{domain_data_prefix}{dataset_slug}{parts}"


def observation_uri_expr(
    domain_data_prefix: str, dataset_slug: str, cube_config: CubeConfig
) -> Column:
    """D9 as one ``concat_ws`` over the ordered (already-slugged) dimension
    columns — this is the upsert key of the observation table."""
    dims = cube_config.ordered_dimension_names()
    return F.concat_ws(
        "/", F.lit(domain_data_prefix + dataset_slug), *[F.col(d) for d in dims]
    )


# ---------------------------------------------------------------------------
# A2: used-codes distinct collections
# ---------------------------------------------------------------------------


def used_codes_df(obs_df: DataFrame, component_names: list[str]) -> DataFrame:
    """Distinct (component, code) pairs across the given columns in ONE pass:
    posexplode of a packed array then a single hash-distinct (partial
    aggregation map-side; one shuffle total instead of one per dimension)."""
    pairs = F.array(
        *[
            F.struct(F.lit(n).alias("component"), F.col(n).cast("string").alias("code"))
            for n in component_names
        ]
    )
    return (
        obs_df.select(F.explode(pairs).alias("p"))
        .select(F.col("p.component").alias("component"), F.col("p.code").alias("code"))
        .distinct()
    )


# ---------------------------------------------------------------------------
# Metadata schemas (driver-side lineage records; cube.clj:30-178)
# ---------------------------------------------------------------------------


def _component_to_column(comp) -> dict:
    col = {
        "name": comp.name,
        "titles": comp.name,
        "datatype": comp.datatype,
        "propertyUrl": comp.property_template,
    }
    if comp.value_template is not None:
        col["valueUrl"] = comp.value_template
    return col


def _suppress_value_column(col: dict, value_components: set[str]) -> dict:
    if col.get("name") in value_components:
        return {**col, "suppressOutput": True}
    return col


def used_codes_codes_schema(csv_url: str, cube_config: CubeConfig, uri_config: dict) -> dict:
    columns = [
        _suppress_value_column(
            {**_component_to_column(comp), "propertyUrl": "skos:member"},
            cube_config.value_components,
        )
        for comp in cube_config.ordered_columns()
    ]
    return {
        "url": str(csv_url),
        "tableSchema": {
            "columns": columns,
            "aboutUrl": uri_config["used-codes-codelist-uri-from-observation"],
        },
    }


def observations_schema(
    csv_url: str, domain_data: str, dataset_slug: str, cube_config: CubeConfig, uri_config: dict
) -> dict:
    component_columns = [_component_to_column(c) for c in cube_config.ordered_columns()]
    columns = component_columns + [
        {"name": "Observation", "virtual": True, "propertyUrl": "rdf:type", "valueUrl": "qb:Observation"},
        {"name": "DataSet", "virtual": True, "propertyUrl": "qb:dataSet", "valueUrl": uri_config["dataset-uri"]},
    ]
    return {
        "url": str(csv_url),
        "tableSchema": {
            "columns": columns,
            "aboutUrl": observation_template(
                domain_data, dataset_slug, cube_config.ordered_dimension_names()
            ),
        },
    }


def used_codes_codelists_schema(csv_url: str, uri_config: dict) -> dict:
    return {
        "url": str(csv_url),
        "tableSchema": {
            "columns": [
                {"name": "component_slug", "titles": "component_slug", "datatype": "string", "suppressOutput": True},
                {"name": "component_attachment", "titles": "component_attachment", "datatype": "string", "suppressOutput": True},
                {"name": "component_property", "titles": "component_property", "datatype": "string", "suppressOutput": True},
                {"name": "type", "virtual": True, "propertyUrl": "rdf:type", "valueUrl": "skos:Collection"},
            ],
            "aboutUrl": uri_config["used-codes-codelist-uri-from-component"],
        },
    }


def derive_dsd_label(dataset_name: str | None) -> str | None:
    if dataset_name is None or dataset_name.strip() == "":
        return None
    return f"{dataset_name} (Data Structure Definition)"


def data_structure_definition_schema(csv_url: str, dataset_name: str | None, uri_config: dict) -> dict:
    dsd_label = derive_dsd_label(dataset_name)
    return {
        "@id": uri_config["dsd-uri"],
        "url": str(csv_url),
        "dc:title": dsd_label,
        "rdf:type": {"@id": "qb:DataStructureDefinition"},
        "rdfs:label": dsd_label,
        "tableSchema": {
            "columns": [
                {"name": "component_slug", "titles": "component_slug", "datatype": "string",
                 "propertyUrl": "qb:component", "valueUrl": uri_config["component-specification-uri"]},
                {"name": "component_attachment", "titles": "component_attachment", "datatype": "string", "suppressOutput": True},
                {"name": "component_property", "titles": "component_property", "datatype": "string", "suppressOutput": True},
            ],
            "aboutUrl": uri_config["dsd-uri"],
        },
    }


def component_specification_schema(csv_url: str, dataset_name: str | None, uri_config: dict) -> dict:
    title = dataset_name if dataset_name and dataset_name.strip() else None
    return {
        "url": str(csv_url),
        "dc:title": title,
        "tableSchema": {
            "columns": [
                {"name": "component_slug", "titles": "component_slug", "datatype": "string", "suppressOutput": True},
                {"name": "component_attachment", "titles": "component_attachment", "datatype": "string", "suppressOutput": True},
                {"name": "component_property", "titles": "component_property", "datatype": "string",
                 "propertyUrl": "{+component_attachment}", "valueUrl": "{+component_property}"},
                {"name": "type", "virtual": True, "propertyUrl": "rdf:type", "valueUrl": "qb:ComponentSpecification"},
                {"name": "codes_used", "virtual": True,
                 "propertyUrl": "http://publishmydata.com/def/qb/codesUsed",
                 "valueUrl": uri_config["used-codes-codelist-uri-from-component"]},
            ],
            "aboutUrl": uri_config["component-specification-uri"],
        },
    }


def dataset_schema(csv_url: str, dataset_name: str | None, uri_config: dict) -> dict:
    label = dataset_name if dataset_name and dataset_name.strip() else None
    return {
        "@id": uri_config["dataset-uri"],
        "url": str(csv_url),
        "dc:title": label,
        "rdfs:label": label,
        "tableSchema": {
            "columns": [
                {"name": "component_slug", "titles": "component_slug", "suppressOutput": True},
                {"name": "component_attachment", "titles": "component_attachment", "suppressOutput": True},
                {"name": "component_property", "titles": "component_property", "suppressOutput": True},
                {"name": "type", "virtual": True, "propertyUrl": "rdf:type", "valueUrl": "qb:DataSet"},
                {"name": "structure", "virtual": True, "propertyUrl": "qb:structure", "valueUrl": uri_config["dsd-uri"]},
            ],
            "aboutUrl": uri_config["dataset-uri"],
        },
    }


def cube_rdf_triples(
    spark: SparkSession,
    obs: DataFrame,
    cube_config: CubeConfig,
    uris: dict,
    domain_data: str,
    dataset_slug: str,
    dataset_name: str | None,
    observations_csv: str,
    comp_spec_csv: str,
) -> DataFrame:
    """All six CSVW tables of the cube metadata as one (s, p, o) DataFrame —
    the csv2rdf minimal-mode output (cube.clj:30-178), distributed.

    Skolemization: the reference's CSVW schemas already name every node —
    component specifications at component-specification-uri, the DSD at
    dsd-uri — so no blank nodes arise; we emit exactly those IRIs.

    - observations: qb:Observation type + qb:dataSet link + one triple per
      component per row (row-count x components — the bulk).
    - used-codes members: skos:member triples emitted per observation row
      then ``distinct()``-ed (RDF set semantics; one shuffle of short triple
      strings, same cost class as the used_codes_df distinct).
    - dataset/DSD/component-spec/used-codes-collection triples ride on the
      tiny comp-spec table (driver-derived, a few rows)."""
    from table2qb_spark.pipelines.rdf import table_level_triples, triples_df

    obs_schema = observations_schema(
        observations_csv, domain_data, dataset_slug, cube_config, uris
    )
    member_schema = used_codes_codes_schema(observations_csv, cube_config, uris)
    ds_schema = dataset_schema(comp_spec_csv, dataset_name, uris)
    dsd_schema = data_structure_definition_schema(comp_spec_csv, dataset_name, uris)
    cs_schema = component_specification_schema(comp_spec_csv, dataset_name, uris)
    ucl_schema = used_codes_codelists_schema(comp_spec_csv, uris)

    comp_df = component_specifications_df(spark, cube_config)

    parts = [
        triples_df(obs, obs_schema),
        triples_df(obs, member_schema).distinct(),
        # dataset/DSD virtual triples repeat per comp-spec row: dedupe
        triples_df(comp_df, ds_schema).distinct(),
        triples_df(comp_df, dsd_schema),
        triples_df(comp_df, cs_schema),
        triples_df(comp_df, ucl_schema),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    head = (
        table_level_triples(ds_schema)
        + table_level_triples(dsd_schema)
        + table_level_triples(cs_schema)
    )
    if head:
        out = spark.createDataFrame(head, out.schema).unionByName(out)
    return out


# ---------------------------------------------------------------------------
# Full pipeline
# ---------------------------------------------------------------------------


def resolve_uris(uri_defs: dict, base_uri: str, dataset_slug: str) -> dict:
    return uri_fns.expand_uris(
        uri_defs,
        {
            "base-uri": uri_fns.strip_trailing_path_separator(base_uri),
            "dataset-slug": dataset_slug,
        },
    )


def get_uris(base_uri: str, dataset_slug: str) -> dict:
    return resolve_uris(CUBE_PIPELINE_URIS, base_uri, dataset_slug)


# Above this input size the observations sink switches from the driver-side
# single-file golden artifact to a distributed df.write.csv (no collect).
CSV_DRIVER_SINK_MAX_BYTES = 64 * 1024 * 1024


def write_csv_file(path: str, columns: list[str], rows: list[dict]) -> None:
    """The driver CSV sink: one RFC 4180 file (Python's ``csv`` dialect),
    a null written as an empty field."""
    with open(path, "w", encoding="utf-8", newline="") as f:
        w = _csv.writer(f)
        w.writerow(columns)
        for r in rows:
            w.writerow([r.get(c) if r.get(c) is not None else "" for c in columns])


def write_csv_parts(df: DataFrame, out_dir: str) -> None:
    """The distributed CSV sink: header-ed part files under ``out_dir``,
    written as RFC 4180 like ``write_csv_file``. Spark's defaults differ:
    they escape quotes with a backslash, write an empty string as ``""``
    and trim leading and trailing whitespace."""
    (
        df.write.mode("overwrite")
        .option("header", True)
        .option("escape", '"')
        .option("emptyValue", "")
        .option("ignoreLeadingWhiteSpace", False)
        .option("ignoreTrailingWhiteSpace", False)
        .csv(out_dir)
    )


def cube_pipeline(
    spark: SparkSession,
    output_directory: str,
    input_csv: str,
    dataset_name: str,
    dataset_slug: str,
    column_config: ColumnsConfig,
    base_uri: str,
    uri_templates: dict | None = None,
    distributed_csv: bool | None = None,
    rdf_output: str | None = None,
    rdf_graph: str | None = None,
) -> dict:
    """cube.clj:195-227 end-to-end: component-specifications.csv,
    observations.csv, metadata.json.

    ``distributed_csv``: None (default) auto-selects the observations sink by
    input size — small inputs collect to ONE driver-written CSV (byte-stable
    against the reference goldens), large inputs write executor-side part
    files under ``observations.csv.d/`` with no driver materialization
    (``df.write.csv``). True/False force a sink."""
    uri_defs = uri_fns.merge_uris(CUBE_PIPELINE_URIS, uri_templates)
    uris = resolve_uris(uri_defs, base_uri, dataset_slug)
    cube_config = get_cube_configuration(input_csv, column_config, spark=spark)
    domain_data = uri_fns.domain_data(base_uri)

    os.makedirs(output_directory, exist_ok=True)
    comp_spec_csv = os.path.join(output_directory, "component-specifications.csv")
    observations_csv = os.path.join(output_directory, "observations.csv")
    metadata_file = os.path.join(output_directory, "metadata.json")

    # component specifications (driver-side: derived from broadcast config)
    write_csv_file(
        comp_spec_csv, COMPONENT_SPEC_COLUMNS, component_specification_records(cube_config)
    )

    # observations: distributed transform, then the CSV sink. The golden
    # artifact path (small inputs) is ONE driver-written file; past the size
    # threshold the rows never touch the driver — executors write header-ed
    # part files that any CSVW consumer (and spark.read.csv) reads as a unit.
    obs_raw = spark.read.option("header", True).option("inferSchema", False).csv(input_csv)
    obs = observation_records_df(
        obs_raw, cube_config, row=csvspec.row_ordinal_col()
    )
    if distributed_csv is None:
        distributed_csv = os.path.getsize(input_csv) > CSV_DRIVER_SINK_MAX_BYTES
    if distributed_csv:
        obs_dir = observations_csv + ".d"
        write_csv_parts(obs, obs_dir)
        observations_csv = obs_dir
    else:
        pdf = obs.toPandas()
        pdf.to_csv(observations_csv, index=False)

    metadata = {
        "@context": ["http://www.w3.org/ns/csvw", {"@language": "en"}],
        "tables": [
            dataset_schema(comp_spec_csv, dataset_name, uris),
            data_structure_definition_schema(comp_spec_csv, dataset_name, uris),
            component_specification_schema(comp_spec_csv, dataset_name, uris),
            used_codes_codelists_schema(comp_spec_csv, uris),
            used_codes_codes_schema(observations_csv, cube_config, uris),
            observations_schema(observations_csv, domain_data, dataset_slug, cube_config, uris),
        ],
    }
    with open(metadata_file, "w", encoding="utf-8") as f:
        json.dump(metadata, f, indent=2, ensure_ascii=False)
    out = {
        "metadata_file": metadata_file,
        "observations_csv": observations_csv,
        "component_specifications_csv": comp_spec_csv,
        "cube_config": cube_config,
        "observations_df": obs,
    }
    if rdf_output:
        # distributed N-Triples for the full cube: observation rows,
        # used-codes skos:member collections, dataset/DSD/component-spec
        # nodes (skolemized as the reference's own CSVW schemas name them —
        # no blank nodes; see cube_rdf_triples)
        triples = cube_rdf_triples(
            spark, obs, cube_config, uris, domain_data, dataset_slug,
            dataset_name, observations_csv, comp_spec_csv,
        )
        from table2qb_spark.pipelines.rdf import serialize_lines

        serialize_lines(triples, rdf_graph).write.mode("overwrite").text(rdf_output)
        out["rdf_output"] = rdf_output
    return out
