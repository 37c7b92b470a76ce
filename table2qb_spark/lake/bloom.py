"""Per-file bloom filters in the commit manifest — equality-predicate file
skipping for high-cardinality columns where min/max ranges cannot prune.

Why: ``lake/skipping.py``'s min/max stats prune range predicates well only
when files are CLUSTERED on the predicate column (sorted compaction,
z-order). A point predicate on an unsorted high-cardinality column — "give
me repo X's rows", "find commit deadbeef" — admits almost every file by
range, because each file's [min, max] spans most of the key space. Iceberg
solves this with parquet bloom filters hoisted into Puffin/metadata; Delta
with file-level bloom indexes. This module is that layer for our format:

- at write time (``LakeTable.write_data_files``), when the table property
  ``bloom.columns`` is set, ONE distributed Spark job re-reads just those
  columns of the freshly written files (column-pruned parquet scan — cost
  is O(batch), never O(table)) and builds an m-bit, k-hash bloom per
  (file, column). The aggregation never materializes per-file value sets:
  each value explodes to k bit positions, positions fold into 64-bit words
  via ``bit_or`` (map-side combined), and the driver receives at most
  m/64 longs per (file, column) — 128 longs at the default m=8192.
- the manifest entry gains ``{"bloom": {"m": .., "k": .., "cols":
  {col: base64(bitset)}}}``; a bloom that saturates past 50% fill is
  dropped (it would admit everything anyway).
- at read time, equality predicates probe the bloom: the probe positions
  come from ``lake/hashing.py``, a pure-Python twin of Spark's
  ``xxhash64`` that ``tests/test_hashing.py`` pins to Spark bit for bit,
  so probing runs no Spark job. Any bit absent => the file cannot contain
  the value => skip. Missing/dropped blooms admit the file: like min/max
  stats, blooms are an optimization, never a correctness input (the real
  filter always runs over the survivors).

Soundness notes:
- only ``=`` predicates probe (a bloom says nothing about ranges), and only
  on string / integral columns — float equality is numerically fragile and
  boolean/binary pruning is useless or unstable across engines.
- NULL column values are excluded from the build; ``=`` never matches NULL,
  so their absence cannot cause a wrong prune.
- schema renames are handled by the same current-name -> written-name map
  the stats path uses; the column's TYPE is stable across rename/add (the
  only evolutions this format supports), so probes hash with the current
  type.

At 100 TB: blooms add ~1.4 KB per column per file to the manifest (8192
bits base64) — at 10^6 files and 2 columns that is ~3 GB of manifest spread
over per-bucket manifest files, read only for the buckets a query touches.
The build job is a column-pruned scan of each batch exactly once, fully
distributed, with map-side-combined ``bit_or`` partial aggregation.

Reference provenance: the reference engine has no lake layer at all (it is
a single-pass CSV converter — see SURVEY.md); this module exists for the
north rule's 10^10-event lake, mirroring Iceberg bloom/Puffin semantics.
"""

from __future__ import annotations

import base64
from typing import Any

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from table2qb_spark.lake.hashing import hash_int, hash_value

PROP_COLUMNS = "bloom.columns"  # comma-separated column names
PROP_BITS = "bloom.bits"  # m — bloom size in bits (power of two not required)
PROP_HASHES = "bloom.hashes"  # k — probes per value

DEFAULT_BITS = 8192
DEFAULT_HASHES = 4
_MAX_FILL = 0.5  # drop blooms past this fill ratio (they admit ~everything)

# types whose equality predicates may probe a bloom; everything else is
# built-skipped AND probe-skipped (floats: fragile equality; boolean: 2
# values prune nothing; binary/nested: unstable cross-engine hashing)
_ELIGIBLE_TYPES = {"string", "int", "integer", "bigint", "long", "smallint", "tinyint"}


def bloom_config(
    properties: dict | None, schema: list[dict]
) -> tuple[list[str], int, int] | None:
    """Parse table properties into (columns, m, k), or None when blooms are
    not configured. Unknown / ineligible-typed columns are ignored with the
    same never-a-gate posture as the stats layer."""
    if not properties or not properties.get(PROP_COLUMNS):
        return None
    types = {c["name"]: str(c["type"]).lower() for c in schema}
    cols = [
        c.strip()
        for c in str(properties[PROP_COLUMNS]).split(",")
        if c.strip() and types.get(c.strip(), "") in _ELIGIBLE_TYPES
    ]
    if not cols:
        return None
    m = int(properties.get(PROP_BITS, DEFAULT_BITS))
    k = int(properties.get(PROP_HASHES, DEFAULT_HASHES))
    return cols, max(64, m), max(1, min(16, k))


def _position_structs(col: str, m: int, k: int) -> list:
    """k (name, bit-position) structs for one column value; NULL values
    yield NULL positions (filtered out before aggregation)."""
    c = F.col(f"`{col}`")
    return [
        F.struct(
            F.lit(col).alias("c"),
            F.when(c.isNotNull(), F.pmod(F.xxhash64(c, F.lit(i)), F.lit(m))).alias("p"),
        )
        for i in range(k)
    ]


def build_file_blooms(
    spark: SparkSession,
    abs_paths: list[str],
    cols: list[str],
    m: int,
    k: int,
) -> dict[str, dict[str, str]]:
    """{"b=<bucket>/<file_basename>": {col: base64-bitset}} for every
    parquet file in ``abs_paths``. Distributed: explode each row into k
    positions per column, fold positions into 64-bit words with
    map-side-combined ``bit_or``, collect only the (file, col, word_index,
    word) tuples — bounded by files * cols * m/64 longs, independent of row
    count.

    Keyed by the LAST TWO path components ("b=<n>/part-....parquet"): a
    partitionBy writer task reuses its part-file name in every bucket dir
    it touches, so the basename alone collides across buckets; the pair is
    unique within a commit's attempt-unique snap-dir and sidesteps the
    file:// URI vs local-path mismatch of ``_metadata.file_path``."""
    if not abs_paths or not cols:
        return {}
    segs = F.split(F.col("_metadata.file_path"), "/")
    df = spark.read.parquet(*abs_paths).select(
        F.concat_ws("/", F.element_at(segs, -2), F.element_at(segs, -1)).alias("__f"),
        *[F.col(f"`{c}`") for c in cols],
    )
    structs = [s for c in cols for s in _position_structs(c, m, k)]
    pairs = (
        df.select("__f", F.explode(F.array(*structs)).alias("s"))
        .select("__f", F.col("s.c").alias("c"), F.col("s.p").alias("p"))
        .where(F.col("p").isNotNull())
    )
    words = (
        pairs.groupBy(
            "__f", "c", (F.col("p") / 64).cast("long").alias("w")
        )
        .agg(
            # SQL form: pyspark's F.shiftleft only takes a literal shift
            F.bit_or(F.expr("shiftleft(1L, cast(p % 64 as int))")).alias("bits")
        )
        .collect()
    )
    acc: dict[str, dict[str, bytearray]] = {}
    for r in words:
        buf = acc.setdefault(r["__f"], {}).setdefault(r["c"], bytearray(m // 8 + 8))
        word = r["bits"] & 0xFFFFFFFFFFFFFFFF  # JVM long -> unsigned
        base = int(r["w"]) * 8
        for byte_i in range(8):
            buf[base + byte_i] |= (word >> (8 * byte_i)) & 0xFF
    out: dict[str, dict[str, str]] = {}
    for fname, per_col in acc.items():
        kept = {}
        for col, buf in per_col.items():
            ones = sum(bin(b).count("1") for b in buf)
            if ones / m <= _MAX_FILL:
                kept[col] = base64.b64encode(bytes(buf)).decode("ascii")
        if kept:
            out[fname] = kept
    return out


def probe_positions(value: Any, col_type: str, m: int, k: int) -> list[int] | None:
    """The k bit positions the build assigns ``value`` of ``col_type``:
    probe ``i`` is ``pmod(xxhash64(value, i), m)``, i.e. the value's hash
    chained through ``hashInt(i, .)``. Returns None (never prune) for a null
    value or one Spark would not accept for the column type (a Python type
    mismatch, an out-of-range integer)."""
    h = hash_value(value, col_type)
    if h is None:
        return None
    return [hash_int(i, h) % m for i in range(k)]


def bloom_admits(b64: str, positions: list[int]) -> bool:
    """True iff every probed bit is set (the file MAY contain the value).
    A decode failure admits — blooms never gate."""
    try:
        buf = base64.b64decode(b64)
    except Exception:
        return True
    for p in positions:
        byte_i, bit_i = p // 8, p % 8
        if byte_i >= len(buf) or not (buf[byte_i] >> bit_i) & 1:
            return False
    return True


class BloomProber:
    """Per-read() probe cache: one entry per distinct (col-type, value, m, k)
    so a scan over many manifest entries hashes each probed value once."""

    def __init__(self):
        self._cache: dict[tuple, list[int] | None] = {}

    def admits(
        self,
        bloom_entry: dict | None,
        preds_written: list[tuple[str, str, Any]],
        written_types: dict[str, str],
    ) -> bool:
        """False iff some equality predicate's value is provably absent from
        the file. ``preds_written`` carry WRITTEN column names (the stats
        path's rename mapping); ``written_types`` are the types of the
        schema version the file was WRITTEN under — the bloom hashed values
        as that type, and xxhash64 is width-sensitive (int 42 and long 42
        hash differently), so after a type widening old files MUST be probed
        with their written type, not the current one."""
        if not bloom_entry:
            return True
        m, k = int(bloom_entry.get("m", 0)), int(bloom_entry.get("k", 0))
        cols = bloom_entry.get("cols") or {}
        if m <= 0 or k <= 0 or not cols:
            return True
        for col, op, value in preds_written:
            if op != "=" or col not in cols:
                continue
            ty = written_types.get(col)
            if ty is None or str(ty).lower() not in _ELIGIBLE_TYPES:
                continue
            # type(value) keeps True apart from 1 (equal as dict keys)
            key = (str(ty).lower(), type(value), value, m, k)
            if key not in self._cache:
                self._cache[key] = probe_positions(value, str(ty), m, k)
            pos = self._cache[key]
            if pos is not None and not bloom_admits(cols[col], pos):
                return False
        return True
