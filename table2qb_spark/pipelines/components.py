"""Components pipeline — CSV of component definitions -> rdf:Property rows.

Reference: src/table2qb/pipelines/components.clj. Input columns
(components.clj:93-109): Label (required, non-blank), Notation (default
slugize(Label), non-blank), Description, Component Type (required, one of
Dimension/Measure/Attribute), Codelist. Annotation (annotate-component,
components.clj:75-91) adds component_type_slug, maps component_type ->
qb:{Dimension,Measure,Attribute}Property, property_slug=propertize(label),
class_slug=classize(label), parent_property=sdmx obsValue iff Measure.

Spark shape: one generated ``select()`` — zero shuffles.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from table2qb_spark.config import csvspec
from table2qb_spark.config.csvspec import ColumnSpec
from table2qb_spark.config.columns import SDMX_OBS_VALUE
from table2qb_spark.functions import transforms, uris as uri_fns
from table2qb_spark.pipelines.templates import COMPONENTS_PIPELINE_URIS

COMPONENT_TYPE_MAPPING = {
    "Dimension": "qb:DimensionProperty",
    "Measure": "qb:MeasureProperty",
    "Attribute": "qb:AttributeProperty",
}
COMPONENT_TYPE_SLUG = {
    "Dimension": "dimension",
    "Measure": "measure",
    "Attribute": "attribute",
}

OUTPUT_COLUMNS = [
    "label",
    "description",
    "component_type",
    "codelist",
    "notation",
    "component_type_slug",
    "property_slug",
    "class_slug",
    "parent_property",
]


def csv_specs() -> list[ColumnSpec]:
    return [
        ColumnSpec("Label", "label", required=True, validators=[csvspec.validate_not_blank]),
        ColumnSpec(
            "Notation",
            "notation",
            validators=[csvspec.validate_not_blank],
            default_py=lambda row: transforms.slugize_py(row["label"]),
            default_expr=lambda cols: transforms.slugize(cols["label"]),
        ),
        ColumnSpec("Description", "description"),
        ColumnSpec(
            "Component Type",
            "component_type",
            required=True,
            validators=[csvspec.validate_one_of(set(COMPONENT_TYPE_MAPPING))],
        ),
        ColumnSpec("Codelist", "codelist"),
    ]


def annotate_components(df: DataFrame) -> DataFrame:
    """D5 (annotate-component, components.clj:75-91). Derivations use the RAW
    component_type / label, then component_type is mapped — same order as the
    reference's assoc/update chain."""
    raw_type = F.col("component_type")
    type_slug_map = F.create_map(
        *[x for k, v in COMPONENT_TYPE_SLUG.items() for x in (F.lit(k), F.lit(v))]
    )
    type_map = F.create_map(
        *[x for k, v in COMPONENT_TYPE_MAPPING.items() for x in (F.lit(k), F.lit(v))]
    )
    return (
        df.withColumn("component_type_slug", F.element_at(type_slug_map, raw_type))
        .withColumn("property_slug", transforms.propertize(F.col("label")))
        .withColumn("class_slug", transforms.classize(F.col("label")))
        .withColumn(
            "parent_property",
            F.when(raw_type == "Measure", F.lit(SDMX_OBS_VALUE)).otherwise(
                F.lit(None).cast("string")
            ),
        )
        .withColumn("component_type", F.element_at(type_map, raw_type))
    )


def _ensure_output_columns(df: DataFrame) -> DataFrame:
    have = set(df.columns)
    return df.select(
        *[
            F.col(c) if c in have else F.lit(None).cast("string").alias(c)
            for c in OUTPUT_COLUMNS
        ]
    )


def component_records_df(spark: SparkSession, source: str | DataFrame) -> DataFrame:
    if isinstance(source, DataFrame):
        df = csvspec.apply_specs(source, csv_specs())
    else:
        df = csvspec.records_df(spark, source, csv_specs())
    return _ensure_output_columns(annotate_components(df))


def component_records(source: str) -> list[dict]:
    """Driver-path twin (exact row-numbered errors on tiny inputs)."""
    out = []
    for r in csvspec.read_records(source, csv_specs()):
        raw_type = r["component_type"]
        label = r["label"]
        rec = dict(r)
        rec["component_type_slug"] = COMPONENT_TYPE_SLUG.get(raw_type)
        rec["property_slug"] = transforms.propertize_py(label)
        rec["class_slug"] = transforms.classize_py(label)
        rec["parent_property"] = SDMX_OBS_VALUE if raw_type == "Measure" else None
        rec["component_type"] = COMPONENT_TYPE_MAPPING.get(raw_type)
        out.append({k: rec.get(k) for k in OUTPUT_COLUMNS})
    return out


# --- metadata (components-schema, components.clj:21-73) ---------------------


def components_schema(csv_url: str, uri_config: dict) -> dict:
    ontology_uri = uri_config["ontology-uri"]
    component_uri = uri_config["component-uri"]
    component_class_uri = uri_config["component-class-uri"]
    return {
        "@context": ["http://www.w3.org/ns/csvw", {"@language": "en"}],
        "@id": ontology_uri,
        "url": str(csv_url),
        "dc:title": "Components Ontology",
        "rdfs:label": "Components Ontology",
        "rdf:type": {"@id": "owl:Ontology"},
        "tableSchema": {
            "columns": [
                {"name": "label", "titles": "label", "datatype": "string", "propertyUrl": "rdfs:label"},
                {"name": "description", "titles": "description", "datatype": "string", "propertyUrl": "dc:description"},
                {"name": "component_type", "titles": "component_type", "propertyUrl": "rdf:type", "valueUrl": "{+component_type}"},
                {"name": "codelist", "titles": "codelist", "datatype": "string", "propertyUrl": "qb:codeList", "valueUrl": "{+codelist}"},
                {"name": "notation", "titles": "notation", "datatype": "string", "propertyUrl": "skos:notation"},
                {"name": "component_type_slug", "titles": "component_type_slug", "datatype": "string", "suppressOutput": True},
                {"name": "property_slug", "titles": "property_slug", "datatype": "string", "suppressOutput": True},
                {"name": "class_slug", "titles": "class_slug", "datatype": "string", "propertyUrl": "rdfs:range", "valueUrl": component_class_uri},
                {"name": "parent_property", "titles": "parent_property", "datatype": "string", "propertyUrl": "rdfs:subPropertyOf", "valueUrl": "{+parent_property}"},
                {"propertyUrl": "rdfs:isDefinedBy", "virtual": True, "valueUrl": ontology_uri},
                {"propertyUrl": "rdf:type", "virtual": True, "valueUrl": "rdf:Property"},
            ],
            "aboutUrl": component_uri,
        },
    }


def resolve_uris(uri_defs: dict, base_uri: str) -> dict:
    return uri_fns.expand_uris(
        uri_defs, {"base-uri": uri_fns.strip_trailing_path_separator(base_uri)}
    )


def get_uris(base_uri: str) -> dict:
    return resolve_uris(COMPONENTS_PIPELINE_URIS, base_uri)


def components_pipeline(
    spark: SparkSession,
    output_directory: str,
    input_csv: str,
    base_uri: str,
    uri_templates: dict | None = None,
    rdf_output: str | None = None,
    rdf_graph: str | None = None,
) -> dict:
    """Full pipeline (components.clj:123-137): annotated CSV + metadata.json.
    ``rdf_output``: optional directory for a distributed N-Triples
    serialization (minimal csv2rdf subset, pipelines/rdf.py)."""
    uri_defs = uri_fns.merge_uris(COMPONENTS_PIPELINE_URIS, uri_templates)
    uris = resolve_uris(uri_defs, base_uri)
    os.makedirs(output_directory, exist_ok=True)
    components_csv = os.path.join(output_directory, "components.csv")
    metadata_file = os.path.join(output_directory, "metadata.json")

    df = component_records_df(spark, input_csv)
    # Size-gated sink (same contract as cube.py's observations sink):
    # component tables are config-sized by the reference's contract, so the
    # golden path stays ONE driver-written file — but past the threshold
    # the rows never touch the driver; executors write header-ed part files
    # that any CSVW consumer (and spark.read.csv) reads as a unit.
    from table2qb_spark.pipelines import cube as cube_pipe

    if os.path.getsize(input_csv) > cube_pipe.CSV_DRIVER_SINK_MAX_BYTES:
        out_dir = components_csv + ".d"
        cube_pipe.write_csv_parts(df.select(*OUTPUT_COLUMNS), out_dir)
        components_csv = out_dir
    else:
        rows = [r.asDict() for r in df.collect()]
        cube_pipe.write_csv_file(components_csv, OUTPUT_COLUMNS, rows)

    metadata = components_schema(components_csv, uris)
    with open(metadata_file, "w", encoding="utf-8") as f:
        json.dump(metadata, f, indent=2, ensure_ascii=False)
    out = {"metadata_file": metadata_file, "components_csv": components_csv, "df": df}
    if rdf_output:
        from table2qb_spark.pipelines.rdf import write_ntriples

        write_ntriples(df, metadata, rdf_output, graph=rdf_graph)
        out["rdf_output"] = rdf_output
    return out
