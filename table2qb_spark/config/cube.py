"""Cube configuration inference — the reference's two-pass "pass 1".

Reference: src/table2qb/configuration/cube.clj. Resolves observation header
titles against the columns configuration, detects the cube type
(measure-dimension vs multi-measure), validates cardinalities (SURVEY.md §2.4
A4) and, for measure-dimension cubes, resolves the measures the
qb:measureType column names (A1 ``resolve-measures``, cube.clj:62-75). A
caller that already knows those measure-type titles passes them in and no
Spark job runs; otherwise they come from a **distinct scan** over the column
— in Spark a tiny ``select(mt).distinct()`` job whose partial aggregation
happens map-side.

All error messages match the reference's strings so the ported error-path
tests (test/table2qb/configuration/cube_test.clj:64-132) assert unchanged.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from table2qb_spark.config.columns import ColumnDescriptor, ColumnsConfig
from table2qb_spark.errors import CubeConfigError


@dataclass
class CubeConfig:
    """§1.1 cube-config (configuration/cube.clj:113-138)."""

    titles: list[str]
    names: list[str]
    type: str  # 'measure-dimension' | 'multi-measure'
    title_to_name: dict[str, str]
    name_to_component: dict[str, ColumnDescriptor]
    dimensions: set[str]
    attributes: set[str]
    measures: set[str]
    measure_type_component: str | None = None
    value_component: str | None = None

    @property
    def value_components(self) -> set[str]:
        # cube.clj values multimethod (cube.clj:160-168)
        if self.type == "measure-dimension":
            return {self.value_component}
        return set()

    def ordered_columns(self) -> list[ColumnDescriptor]:
        """Columns in observation-header order (cube.clj:175-178)."""
        return [self.name_to_component[n] for n in self.names]

    def ordered_dimension_names(self) -> list[str]:
        """Dimension column names in header order (cube.clj:224-228)."""
        return [n for n in self.names if n in self.dimensions]

    def dimension_attribute_measure_columns(self) -> list[ColumnDescriptor]:
        """cube.clj:170-173 — inputs to component-specification records."""
        out = []
        for n in sorted(self.dimensions) + sorted(self.attributes) + sorted(self.measures):
            out.append(self.name_to_component[n])
        return out

    def header_transformers(self) -> dict[str, str]:
        """{column name -> transform name} (cube.clj:180-187)."""
        return {
            c.name: c.value_transformation
            for c in self.ordered_columns()
            if c.value_transformation is not None
        }


def _resolve_columns(titles: list[str], cc: ColumnsConfig) -> list[ColumnDescriptor]:
    resolved = [(t, cc.title_to_column(t)) for t in titles]
    invalid = [t for t, c in resolved if c is None]
    if invalid:
        raise CubeConfigError("Unknown column titles: " + ", ".join(invalid))
    return [c for _, c in resolved]


def _get_measure_type_column(columns: list[ColumnDescriptor]) -> ColumnDescriptor | None:
    mt = [c for c in columns if c.is_qb_measure_type]
    if not mt:
        return None
    if len(mt) == 1:
        return mt[0]
    titles = ", ".join(c.title for c in mt)
    raise CubeConfigError(
        f"Found multiple qb:measureType columns: {titles}. "
        "At most one qb:measureType column should be defined."
    )


def _get_value_component(columns: list[ColumnDescriptor]) -> str:
    vals = [c for c in columns if c.type == "value"]
    if not vals:
        raise CubeConfigError("No value column defined")
    if len(vals) == 1:
        return vals[0].name
    titles = [c.title for c in vals]
    raise CubeConfigError(
        f"Found multiple value columns: {titles}. Exactly one value column should be defined."
    )


def _get_dimensions(name_set: set[str], cc: ColumnsConfig) -> set[str]:
    dims = name_set & cc.dimensions
    if not dims:
        raise CubeConfigError(
            "No dimension columns found. At least one dimension must be specified."
        )
    return dims


def _validate_no_measure_columns(name_set: set[str], cc: ColumnsConfig) -> None:
    cube_measures = name_set & cc.measures
    if cube_measures:
        titles = ", ".join(
            cc.component_name_to_title(n) for n in sorted(cube_measures)
        )
        raise CubeConfigError(
            f"Columns {titles} reference qb:measure components. "
            "Measure columns should not be declared for qb:measureType cubes"
        )


def resolve_measures(
    measure_titles: Iterable[str],
    mt_title: str,
    cc: ColumnsConfig,
    row_index_of: Callable[[str], int] | None = None,
) -> set[str]:
    """A1 without data: each measure-type title must resolve (title->name)
    to a qb:measure column (cube.clj:62-75). ``row_index_of`` maps an
    offending title to the first row holding it, for the reference's
    "row N" message; without it the message names no row."""
    measures: set[str] = set()
    for measure_title in measure_titles:
        name = cc.title_to_name.get(measure_title)
        if name is None or name not in cc.measures:
            row_index = row_index_of(measure_title) if row_index_of else None
            where = "" if row_index is None else f" row {row_index}"
            raise CubeConfigError(
                f"Value '{measure_title}' in qb:measureType column '{mt_title}'"
                f"{where} does not reference a qb:measure column",
                {"row_index": row_index, "value": measure_title},
            )
        measures.add(name)
    return measures


def _resolve_measures_distinct(
    obs_df: DataFrame, mt_title: str, cc: ColumnsConfig
) -> set[str]:
    """A1 over data: the distinct measure-type titles of ``obs_df``, resolved
    by ``resolve_measures``. Catalyst runs the scan as partial+final hash
    aggregate."""
    distinct_rows = (
        obs_df.select(F.col(f"`{mt_title}`").alias("mt")).distinct().collect()
    )
    return resolve_measures(
        (r["mt"] for r in distinct_rows),
        mt_title,
        cc,
        row_index_of=lambda value: _first_offending_row_index(obs_df, mt_title, value),
    )


def _first_offending_row_index(obs_df: DataFrame, mt_title: str, value) -> int:
    """Error path only: recover the first row index of the offending value for
    reference-parity messages. Uses zipWithIndex on the single projected
    column — a one-column scan, run only when the job is already failing."""
    try:
        rdd = obs_df.select(F.col(f"`{mt_title}`")).rdd.zipWithIndex()
        hit = rdd.filter(lambda t: t[0][0] == value).map(lambda t: t[1]).take(1)
        return int(hit[0]) if hit else 0
    except Exception:
        return 0


def get_cube_configuration(
    source: DataFrame | str,
    column_config: ColumnsConfig,
    spark: SparkSession | None = None,
    measure_titles: Iterable[str] | None = None,
) -> CubeConfig:
    """Pass 1 of the cube pipeline (configuration/cube.clj:148-157).

    ``source``: observations DataFrame whose column names are the raw input
    titles, or a CSV path (requires ``spark``).

    ``measure_titles``: every value the qb:measureType column can hold, when
    the caller builds that column itself and so knows them. A
    measure-dimension cube then resolves its measures from these titles and
    runs no Spark job; without them it scans the column for its distinct
    values. Multi-measure cubes have no such column and ignore it.
    """
    if isinstance(source, str):
        assert spark is not None, "spark session required for CSV source"
        obs_df = (
            spark.read.option("header", True).option("inferSchema", False).csv(source)
        )
    else:
        obs_df = source

    titles = list(obs_df.columns)
    columns = _resolve_columns(titles, column_config)
    names = [c.name for c in columns]
    name_set = set(names)
    title_to_name = {c.title: c.name for c in columns}
    mt_col = _get_measure_type_column(columns)

    if mt_col is None:
        # multi-measure (cube.clj:97-120)
        measures = name_set & column_config.measures
        if not measures:
            raise CubeConfigError(
                "Multi-measure cube must contain at least one measure column"
            )
        values = name_set & column_config.values
        if values:
            value_titles = ", ".join(
                column_config.component_name_to_title(n) for n in sorted(values)
            )
            raise CubeConfigError(
                f"Columns {value_titles} represent observation values. Multi-measure "
                "cubes should define measure values in the corresponding measure columns.",
                {"value_columns": sorted(values)},
            )
        return CubeConfig(
            titles=titles,
            names=names,
            type="multi-measure",
            title_to_name=title_to_name,
            name_to_component={c.name: c for c in columns},
            dimensions=_get_dimensions(name_set, column_config),
            attributes=name_set & column_config.attributes,
            measures=measures,
        )

    # measure-dimension (cube.clj:122-138)
    _validate_no_measure_columns(name_set, column_config)
    value_component = _get_value_component(columns)
    if measure_titles is None:
        measures = _resolve_measures_distinct(obs_df, mt_col.title, column_config)
    else:
        measures = resolve_measures(measure_titles, mt_col.title, column_config)
    name_to_component = {c.name: c for c in columns}
    for m in measures:
        name_to_component[m] = column_config.name_to_component[m]
    return CubeConfig(
        titles=titles,
        names=names,
        type="measure-dimension",
        title_to_name=title_to_name,
        name_to_component=name_to_component,
        dimensions=_get_dimensions(name_set, column_config),
        attributes=name_set & column_config.attributes,
        measures=measures,
        measure_type_component=mt_col.name,
        value_component=value_component,
    )
