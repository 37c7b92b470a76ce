"""Codelist pipeline — CSV of codes -> annotated SKOS concept-scheme table.

Reference: src/table2qb/pipelines/codelist.clj. Input columns (csv-columns,
codelist.clj:106-120): Label (required), Notation (default slugize(Label)),
Parent Notation (default ""), Description, Sort Priority (optional integer,
kept as string). Annotation (annotate-code, codelist.clj:78-98) adds
parent_notation2 (copy), top_concept_of/has_top_concept ("yes" iff parent
blank), pref_label (copy of label).

Spark shape: ONE generated ``select()`` — scan, validation guards, defaults
and the four derived columns all fuse into a single whole-stage-codegen
stage; no shuffle anywhere.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from table2qb_spark.config import csvspec
from table2qb_spark.config.csvspec import ColumnSpec, blank_expr
from table2qb_spark.functions import transforms, uris as uri_fns
from table2qb_spark.pipelines.templates import CODELIST_PIPELINE_URIS

OUTPUT_COLUMNS = [
    "label",
    "notation",
    "parent_notation",
    "parent_notation2",
    "sort_priority",
    "description",
    "top_concept_of",
    "has_top_concept",
    "pref_label",
]


def csv_specs() -> list[ColumnSpec]:
    return [
        ColumnSpec("Label", "label", required=True),
        ColumnSpec(
            "Notation",
            "notation",
            validators=[csvspec.validate_not_blank],
            default_py=lambda row: transforms.slugize_py(row["label"]),
            default_expr=lambda cols: transforms.slugize(cols["label"]),
        ),
        ColumnSpec("Parent Notation", "parent_notation", default=""),
        ColumnSpec("Description", "description"),
        ColumnSpec(
            "Sort Priority",
            "sort_priority",
            validators=[csvspec.optional(csvspec.validate_integer())],
        ),
    ]


def annotate_codes(df: DataFrame) -> Column | DataFrame:
    """D6 (annotate-code, codelist.clj:78-98) as four withColumns —
    Catalyst collapses them into the same projection."""
    top = F.when(
        blank_expr(F.col("parent_notation")), F.lit("yes")
    ).otherwise(F.lit(""))
    return (
        df.withColumn("parent_notation2", F.col("parent_notation"))
        .withColumn("top_concept_of", top)
        .withColumn("has_top_concept", top)
        .withColumn("pref_label", F.col("label"))
    )


def _ensure_output_columns(df: DataFrame) -> DataFrame:
    cols = []
    have = set(df.columns)
    for c in OUTPUT_COLUMNS:
        cols.append(F.col(c) if c in have else F.lit(None).cast("string").alias(c))
    return df.select(*cols)


def code_records_df(spark: SparkSession, source: str | DataFrame) -> DataFrame:
    """Validated + annotated codelist rows, output-ordered columns."""
    if isinstance(source, DataFrame):
        df = csvspec.apply_specs(source, csv_specs())
    else:
        df = csvspec.records_df(spark, source, csv_specs())
    return _ensure_output_columns(annotate_codes(df))


def code_records(source: str) -> list[dict]:
    """Driver-path twin for tiny codelists (exact row-numbered errors)."""
    records = csvspec.read_records(source, csv_specs())
    out = []
    for r in records:
        parent = r.get("parent_notation") or ""
        tc = "yes" if parent.strip() == "" else ""
        r = dict(r)
        r["parent_notation2"] = r.get("parent_notation")
        r["top_concept_of"] = tc
        r["has_top_concept"] = tc
        r["pref_label"] = r.get("label")
        out.append({k: r.get(k) for k in OUTPUT_COLUMNS})
    return out


# --- metadata (codelist-schema, codelist.clj:25-77) -------------------------


def _type_column(type_name: str) -> dict:
    return {"propertyUrl": "rdf:type", "valueUrl": type_name, "virtual": True}


def codelist_schema(csv_url: str, codelist_name: str, uri_config: dict) -> dict:
    codelist_uri = uri_config["codelist-uri"]
    code_uri = uri_config["code-uri"]
    parent_uri = uri_config["parent-uri"]
    concept_types = uri_config.get("concept-types", ["skos:Concept"])
    base_columns = [
        {"name": "label", "titles": "label", "datatype": "string", "propertyUrl": "rdfs:label"},
        {"name": "notation", "titles": "notation", "datatype": "string", "propertyUrl": "skos:notation"},
        {"name": "parent_notation", "titles": "parent_notation", "datatype": "string",
         "propertyUrl": "skos:broader", "valueUrl": parent_uri},
        {"name": "parent_notation2", "titles": "parent_notation2", "datatype": "string",
         "aboutUrl": parent_uri, "propertyUrl": "skos:narrower", "valueUrl": code_uri},
        {"name": "sort_priority", "titles": "sort_priority", "datatype": "integer",
         "propertyUrl": "http://www.w3.org/ns/ui#sortPriority"},
        {"name": "description", "titles": "description", "datatype": "string",
         "propertyUrl": "rdfs:comment"},
        {"name": "top_concept_of", "titles": "top_concept_of",
         "propertyUrl": "skos:topConceptOf", "valueUrl": codelist_uri},
        {"name": "has_top_concept", "titles": "has_top_concept",
         "aboutUrl": codelist_uri, "propertyUrl": "skos:hasTopConcept", "valueUrl": code_uri},
        {"name": "pref_label", "titles": "pref_label", "propertyUrl": "skos:prefLabel"},
        {"propertyUrl": "skos:inScheme", "valueUrl": codelist_uri, "virtual": True},
    ]
    return {
        "@context": ["http://www.w3.org/ns/csvw", {"@language": "en"}],
        "@id": codelist_uri,
        "url": str(csv_url),
        "dc:title": codelist_name,
        "rdfs:label": codelist_name,
        "rdf:type": {"@id": "skos:ConceptScheme"},
        "tableSchema": {
            "aboutUrl": code_uri,
            "columns": base_columns + [_type_column(t) for t in concept_types],
        },
    }


def resolve_uris(uri_defs: dict, base_uri: str, codelist_slug: str) -> dict:
    return uri_fns.expand_uris(
        uri_defs,
        {
            "base-uri": uri_fns.strip_trailing_path_separator(base_uri),
            "codelist-slug": codelist_slug,
        },
    )


def get_uris(base_uri: str, codelist_slug: str) -> dict:
    return resolve_uris(CODELIST_PIPELINE_URIS, base_uri, codelist_slug)


def codelist_pipeline(
    spark: SparkSession,
    output_directory: str,
    codelist_csv: str,
    codelist_name: str,
    codelist_slug: str,
    base_uri: str,
    uri_templates: dict | None = None,
    rdf_output: str | None = None,
    rdf_graph: str | None = None,
) -> dict:
    """Full pipeline (codelist.clj:134-148): annotated CSV + metadata.json.
    ``rdf_output``: optional directory for a distributed N-Triples
    serialization of the annotated table (the minimal csv2rdf subset —
    pipelines/rdf.py). ``rdf_graph``: emit N-Quads in that named graph
    instead (the reference's --graph, cli/tasks.clj:243-251)."""
    uri_defs = uri_fns.merge_uris(CODELIST_PIPELINE_URIS, uri_templates)
    uris = resolve_uris(uri_defs, base_uri, codelist_slug)
    os.makedirs(output_directory, exist_ok=True)
    output_csv = os.path.join(output_directory, "codelist.csv")
    metadata_file = os.path.join(output_directory, "metadata.json")

    df = code_records_df(spark, codelist_csv)
    # Size-gated sink (same contract as cube.py's observations sink):
    # codelists are config-sized by the reference's contract, so the golden
    # path stays ONE driver-written file — but past the threshold the rows
    # never touch the driver; executors write header-ed part files that any
    # CSVW consumer (and spark.read.csv) reads as a unit.
    from table2qb_spark.pipelines import cube as cube_pipe

    if os.path.getsize(codelist_csv) > cube_pipe.CSV_DRIVER_SINK_MAX_BYTES:
        out_dir = output_csv + ".d"
        cube_pipe.write_csv_parts(df.select(*OUTPUT_COLUMNS), out_dir)
        output_csv = out_dir
    else:
        rows = [r.asDict() for r in df.collect()]
        cube_pipe.write_csv_file(output_csv, OUTPUT_COLUMNS, rows)

    metadata = codelist_schema(output_csv, codelist_name, uris)
    with open(metadata_file, "w", encoding="utf-8") as f:
        json.dump(metadata, f, indent=2, ensure_ascii=False)
    out = {"metadata_file": metadata_file, "codelist_csv": output_csv, "df": df}
    if rdf_output:
        from table2qb_spark.pipelines.rdf import write_ntriples

        write_ntriples(df, metadata, rdf_output, graph=rdf_graph)
        out["rdf_output"] = rdf_output
    return out
