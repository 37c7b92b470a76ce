"""File-level data skipping — per-file column min/max stats in the commit
manifest, consulted at read time to prune whole files before Spark ever
sees them.

The reference engine reads whole CSV inputs (table2qb is a single-pass
converter); a 100 TB lake table cannot. Spark's parquet source already
prunes ROW GROUPS via footer statistics, but it must still list, open and
footer-read every file in the scan — at 10^6 files that is minutes of
driver/nn time per query. Iceberg/Delta solve it by hoisting the footer
min/max into the table metadata so planning touches only the manifest;
this module is that layer for our lake format.

Mechanics:

- at commit time (``LakeTable.write_data_files``) the footer each file
  already pays for its row count also yields per-column chunk statistics;
  the eligible columns' [min, max] land in the manifest entry as
  ``{"stats": {col: [lo, hi]}}``;
- at read time a conjunction of simple predicates prunes any file whose
  range cannot satisfy them, then the SAME predicates run as a real Spark
  filter over the survivors — stats are an optimization, never a
  correctness input;
- a file with no stats for a referenced column is always kept (legacy
  manifests, all-null chunks, binary columns), so skipping degrades to a
  plain filtered scan, never to a wrong answer.

Only null-rejecting comparisons are accepted (=, <, <=, >, >=, between):
parquet min/max ignore nulls, so range-based pruning is sound exactly for
predicates a NULL row can never pass.
"""

from __future__ import annotations

import datetime
import decimal
import json
from typing import Any

from pyspark.sql import Column
from pyspark.sql import functions as F

from table2qb_spark.lake.hashing import INTEGRAL_BITS

# columns with these parquet physical types carry JSON-representable,
# order-faithful stats; everything else (binary, int96, nested leaves) is
# left stats-less (=> never pruned on)
_OPS = ("<=", ">=", "=", "<", ">")  # two-char ops first for the parser


def _json_safe(v: Any) -> Any:
    """A stats bound the manifest can round-trip, or None to drop it."""
    if isinstance(v, bool) or v is None:
        return None  # boolean ranges prune nothing useful; nulls carry no bound
    if isinstance(v, (int, float, str)):
        # JSON has no inf/nan; a chunk min/max of nan orders unreliably anyway
        if isinstance(v, float) and (v != v or v in (float("inf"), float("-inf"))):
            return None
        return v
    if isinstance(v, bytes):
        try:
            return v.decode("utf-8")
        except UnicodeDecodeError:
            return None
    return None  # dates/timestamps/decimals: skip (engine-dependent ordering)


def file_column_stats(metadata, cols: set[str]) -> dict[str, list]:
    """{col: [min, max]} for the requested TOP-LEVEL columns of one parquet
    file's footer metadata (``pyarrow.parquet.FileMetaData``). Footer column
    chunks are LEAF-indexed, so columns are located by ``path_in_schema``
    (a struct field before a requested column would otherwise shift every
    index). A column missing statistics in ANY row group yields no entry
    (unprunable)."""
    acc: dict[str, list] = {}
    dead: set[str] = set()
    for rg_i in range(metadata.num_row_groups):
        rg = metadata.row_group(rg_i)
        seen: set[str] = set()
        for c_i in range(rg.num_columns):
            col = rg.column(c_i)
            name = col.path_in_schema
            if name not in cols or name in dead:
                continue
            seen.add(name)
            st = col.statistics
            if st is None or not st.has_min_max:
                dead.add(name)
                continue
            lo, hi = _json_safe(st.min), _json_safe(st.max)
            if lo is None or hi is None:
                dead.add(name)
                continue
            if name in acc:
                acc[name][0] = min(acc[name][0], lo)
                acc[name][1] = max(acc[name][1], hi)
            else:
                acc[name] = [lo, hi]
        # a row group where the column never appears as a leaf (e.g. it is
        # nested for this schema version) makes the column unprunable
        dead |= {n for n in cols if n in acc and n not in seen and n not in dead}
    return {k: v for k, v in acc.items() if k not in dead}


def _parse_value(text: str, col_type: str) -> Any:
    """``text`` as a literal of the declared ``col_type``, so it compares
    with the column as a value of the column's own type. Raises
    ``ValueError`` when ``text`` is no such value or the type takes no
    literal."""
    ty = col_type.lower()
    try:
        if ty == "string":
            return text
        if ty in INTEGRAL_BITS:
            return int(text)
        if ty in ("float", "double", "real"):
            return float(text)
        if ty.startswith("decimal"):
            return decimal.Decimal(text)
        if ty == "boolean" and text.lower() in ("true", "false"):
            return text.lower() == "true"
        if ty == "date":
            return datetime.date.fromisoformat(text)
        if ty == "timestamp":
            return datetime.datetime.fromisoformat(text)
    except (ValueError, decimal.InvalidOperation):
        pass
    raise ValueError(f"cannot read {text!r} as a {col_type} value")


def parse_predicates(spec: str, types: dict[str, str]) -> list[tuple[str, str, Any]]:
    """Parse a CLI ``--where`` spec: comma-separated ``col<op>value`` with
    op in =, <, <=, >, >=. ``types`` maps each column to its declared type
    (``{"repo": "string", "seq": "bigint"}``); each value is parsed as that
    type (``_parse_value``), so ``repo=alpha,seq>=900`` ->
    [("repo","=","alpha"), ("seq",">=",900)]. A column missing from
    ``types`` or a value its type cannot read raises ``ValueError``."""
    preds: list[tuple[str, str, Any]] = []
    for raw in spec.split(","):
        part = raw.strip()
        if not part:
            continue
        for op in _OPS:
            i = part.find(op)
            if i > 0:
                col, val = part[:i].strip(), part[i + len(op):].strip()
                if col not in types:
                    raise ValueError(f"predicate {part!r} names unknown column {col!r}")
                try:
                    preds.append((col, op, _parse_value(val, types[col])))
                except ValueError as e:
                    raise ValueError(f"predicate {part!r}: {e}") from None
                break
        else:
            raise ValueError(
                f"cannot parse predicate {part!r} (expected col<op>value "
                f"with op one of {', '.join(_OPS)})"
            )
    return preds


def _comparable(bound: Any, value: Any) -> bool:
    """Only same-kind comparisons prune; a type mismatch (string stats vs
    numeric literal) keeps the file."""
    num = (int, float)
    if isinstance(bound, num) and isinstance(value, num):
        return not isinstance(bound, bool) and not isinstance(value, bool)
    return isinstance(bound, str) and isinstance(value, str)


def stats_admit(
    stats: dict[str, list] | None, preds: list[tuple[str, str, Any]]
) -> bool:
    """Can a file with these column ranges contain a row passing ALL
    predicates? Each column's predicates fold into one interval, which must
    OVERLAP the file's [min, max] — so same-column contradictions
    (``seq>=150 AND seq<120``) prune even when each bound alone admits.
    Missing stats (file has none, or the column has no entry) admit the
    file — skipping is an optimization, not a gate."""
    if not stats:
        return True
    by_col: dict[str, list[tuple[str, Any]]] = {}
    for col, op, value in preds:
        by_col.setdefault(col, []).append((op, value))
    for col, ops in by_col.items():
        rng = stats.get(col)
        if not rng:
            continue
        lo, hi = rng
        # fold this column's comparable predicates into (glo, ghi) with
        # open-bound flags; incomparable values (type mismatch) are left to
        # the real filter
        glo, glo_open, ghi, ghi_open = None, False, None, False
        for op, value in ops:
            if not (_comparable(lo, value) and _comparable(hi, value)):
                continue
            if op in ("=", ">=", ">"):
                stricter = glo is None or value > glo or (
                    value == glo and op == ">" and not glo_open
                )
                if stricter:
                    glo, glo_open = value, (op == ">")
            if op in ("=", "<=", "<"):
                stricter = ghi is None or value < ghi or (
                    value == ghi and op == "<" and not ghi_open
                )
                if stricter:
                    ghi, ghi_open = value, (op == "<")
        # predicate interval empty, or disjoint from the file range?
        if glo is not None and ghi is not None:
            if glo > ghi or (glo == ghi and (glo_open or ghi_open)):
                return False
        if glo is not None and (hi < glo or (hi == glo and glo_open)):
            return False
        if ghi is not None and (lo > ghi or (lo == ghi and ghi_open)):
            return False
    return True


def predicates_to_column(preds: list[tuple[str, str, Any]]) -> Column:
    """The same conjunction as a real Spark filter — always applied over
    the surviving files, so pruning can only ever remove work, not rows."""
    out = F.lit(True)
    for col, op, value in preds:
        c = F.col(f"`{col}`")
        lit = F.lit(value)
        cond = {
            "=": c == lit,
            "<": c < lit,
            "<=": c <= lit,
            ">": c > lit,
            ">=": c >= lit,
        }[op]
        out = out & cond
    return out


def rename_predicates(
    preds: list[tuple[str, str, Any]], current_to_written: dict[str, str]
) -> list[tuple[str, str, Any]]:
    """Map predicate column names from the CURRENT schema to the names a
    file was WRITTEN under (schema evolution renames). A column the written
    schema lacks simply never matches stats (added-later columns are
    all-null in old files — and null-rejecting predicates admit no rows
    from them, but we leave that to the real filter)."""
    return [
        (current_to_written.get(col, col), op, v) for col, op, v in preds
    ]


def dumps_stats(stats: dict[str, list]) -> dict[str, list]:
    """Defensive round-trip: guarantee the manifest stays JSON-serializable
    even if a new pyarrow version grows new stats types."""
    return json.loads(json.dumps(stats))
