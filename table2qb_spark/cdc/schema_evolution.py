"""Column-diff reconciler (north rule: schema evolution from change payloads).

Change events may carry a ``payload_json`` column: a JSON object of extra
column values (ADD COLUMN when a new key appears), or a rename directive
``{"__rename__": {"old": "new"}}``. Per batch the reconciler:

1. takes the batch's distinct payload keys and its rename directives (in
   seq order) from the ingest core's one pre-pass per batch
   (``cdc.apply.batch_prepass``), which finds them in the same aggregate as
   the merge's bucket stats — reconcile itself runs no Spark job;
2. diffs them against the table's current schema;
3. issues metadata-only schema commits (LakeTable.evolve_schema — the
   equivalent of Iceberg ``ALTER TABLE ADD/RENAME COLUMN``);
4. returns the batch with payload columns materialized as real columns so the
   MERGE sees a flat row.
"""

from __future__ import annotations

import json
from collections.abc import Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from table2qb_spark.lake.table import LakeTable

RENAME_KEY = "__rename__"


def parse_renames(payloads: Iterable[str]) -> dict[str, str]:
    """Fold the rename directives of ``payloads`` (raw JSON, in seq order)
    into one old -> new map; a payload that is not valid JSON is skipped."""
    renames: dict[str, str] = {}
    for p in payloads:
        try:
            d = json.loads(p)
        except (TypeError, ValueError):
            continue
        renames.update(d.get(RENAME_KEY, {}))
    return renames


def reconcile_and_flatten(
    table: LakeTable,
    batch_df: DataFrame,
    batch_commit_id: str,
    payload_col: str,
    payload_keys: list[str],
    renames: dict[str, str],
) -> DataFrame:
    """Evolve the table schema to cover this batch's payload, then return the
    batch with payload keys as real columns (string-typed; absent -> null).
    ``payload_keys`` / ``renames`` are the batch's pre-pass results
    (``cdc.apply.batch_prepass``)."""
    if payload_col not in batch_df.columns:
        return batch_df
    if renames:
        table.evolve_schema(rename_columns=renames, commit_id=f"{batch_commit_id}-rename")

    schema_names = {c["name"] for c in table.snapshot().current_schema()}
    new_cols = [k for k in payload_keys if k not in schema_names]
    if new_cols:
        table.evolve_schema(
            add_columns=[(k, "string") for k in new_cols],
            commit_id=f"{batch_commit_id}-addcols",
        )

    pm = F.from_json(F.col(payload_col), "map<string,string>")
    return batch_df.withColumns(
        {k: F.element_at(pm, F.lit(k)) for k in payload_keys}
    ).drop(payload_col)
