"""The driver-side xxhash64 twin (lake/hashing.py) against Spark itself:
bucket routing and bloom probe positions must agree bit for bit with the
expressions that laid the data out, point lookups must find every key of
every supported key type, and neither lookup planning nor bloom probing
may launch a Spark job. The Murmur3 twin behind bucket placement must pick
each task's salt exactly as Spark's ``hash`` partitioner does, so the
merge's write keeps one exchange and bucket ``b`` lands on task ``b mod P``."""

import datetime
import random

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from table2qb_spark.lake.bloom import BloomProber, probe_positions
from table2qb_spark.lake.hashing import hash_int, hash_value, key_bucket, murmur3_int, xxh64
from table2qb_spark.lake.table import LakeTable, key_bucket_expr, place_buckets
from tests.conftest import job_group

N_BUCKETS = 17
_ALPHABET = (
    "abcxyzABC019 /._-"
    "\x1f\x00"  # the key separator and the null marker inside values
    "é߀中文"  # 2- and 3-byte UTF-8
    "😀🚀"  # 4-byte UTF-8
)


def _random_keys(n: int, seed: int = 7) -> list[str]:
    rng = random.Random(seed)
    keys = [""]
    # ASCII keys of every byte length around the 32-byte stripe and the
    # 8/4-byte tails
    keys += ["k" * i for i in range(1, 72)]
    while len(keys) < n:
        length = rng.choice([1, 3, 7, 8, 9, 15, 16, 17, 31, 32, 33, 64, 150, 400])
        keys.append("".join(rng.choice(_ALPHABET) for _ in range(length)))
    return keys


def test_string_hash_and_bucket_match_spark(spark):
    a = _random_keys(2000)
    b = list(reversed(a))
    rows = [(i, x, y) for i, (x, y) in enumerate(zip(a, b))]
    # nulls route through key_bucket_expr's \x00 marker
    rows += [(len(rows), None, "x"), (len(rows) + 1, "x", None), (len(rows) + 2, None, None)]
    df = spark.createDataFrame(rows, "i int, a string, b string")
    got = df.select(
        "i",
        F.xxhash64("a").alias("h"),
        key_bucket_expr(["a"], N_BUCKETS).alias("b1"),
        key_bucket_expr(["a", "b"], N_BUCKETS).alias("b2"),
    ).collect()
    assert len(got) == len(rows)
    for r in got:
        _, x, y = rows[r["i"]]
        if x is not None:
            assert xxh64(x.encode("utf-8")) == r["h"], repr(x)
        assert key_bucket([x], ["string"], N_BUCKETS) == r["b1"], repr(x)
        assert key_bucket([x, y], ["string", "string"], N_BUCKETS) == r["b2"]


def _chains(spark, values, col_type, k=4):
    df = spark.createDataFrame([(i, v) for i, v in enumerate(values)], f"i int, v {col_type}")
    return {
        r["i"]: [r[f"h{j}"] for j in range(k)]
        for r in df.select(
            "i", *[F.xxhash64("v", F.lit(j)).alias(f"h{j}") for j in range(k)]
        ).collect()
    }


@pytest.mark.parametrize(
    "col_type,bits", [("int", 32), ("bigint", 64), ("smallint", 16), ("tinyint", 8)]
)
def test_integral_probe_chains_match_spark(spark, col_type, bits):
    lo, hi = -(1 << (bits - 1)), (1 << (bits - 1)) - 1
    rng = random.Random(bits)
    values = [lo, lo + 1, -1, 0, 1, hi - 1, hi]
    values += [rng.randint(lo, hi) for _ in range(300)]
    want = _chains(spark, values, col_type)
    for i, v in enumerate(values):
        h = hash_value(v, col_type)
        assert [hash_int(j, h) for j in range(4)] == want[i], v
        assert probe_positions(v, col_type, 4096, 4) == [w % 4096 for w in want[i]]


def test_probe_rejects_what_spark_rejects():
    assert probe_positions(1 << 31, "int", 64, 2) is None  # out of range
    assert probe_positions(-(1 << 63) - 1, "bigint", 64, 2) is None
    assert probe_positions(128, "tinyint", 64, 2) is None
    assert probe_positions("5", "int", 64, 2) is None  # type mismatch
    assert probe_positions(True, "int", 64, 2) is None
    assert probe_positions(1.5, "string", 64, 2) is None
    assert probe_positions(1.0, "bigint", 64, 2) is None
    assert probe_positions(None, "string", 64, 2) is None
    assert probe_positions("x", "string", 64, 2) is not None


def test_string_column_takes_int_and_bool_as_spark_stores_them(spark):
    # createDataFrame stores an int or bool given for a string column as
    # its JVM string form; a "col=0" predicate on a string column probes so
    values = [0, -7, 1 << 40, True, False]
    want = _chains(spark, values, "string")
    for i, v in enumerate(values):
        h = hash_value(v, "string")
        assert [hash_int(j, h) for j in range(4)] == want[i], v


def test_typed_keys_render_like_spark_cast(spark):
    rows = [
        (True, 0, 0, -(1 << 31), -(1 << 63), datetime.date(1, 1, 1)),
        (False, -128, -32768, (1 << 31) - 1, (1 << 63) - 1, datetime.date(9999, 12, 31)),
        (True, 127, 32767, -5, 10**18, datetime.date(999, 3, 4)),
        (None, None, None, None, None, None),
    ]
    types = ["boolean", "tinyint", "smallint", "int", "bigint", "date"]
    names = [f"c{i}" for i in range(len(types))]
    df = spark.createDataFrame(
        rows, ", ".join(f"{n} {t}" for n, t in zip(names, types))
    )
    got = df.select(
        *[key_bucket_expr([n], N_BUCKETS).alias(f"b_{n}") for n in names],
        key_bucket_expr(names, N_BUCKETS).alias("b_all"),
    ).collect()
    for row, r in zip(rows, got):
        for n, t, v in zip(names, types, row):
            assert key_bucket([v], [t], N_BUCKETS) == r[f"b_{n}"], (t, v)
        assert key_bucket(list(row), types, N_BUCKETS) == r["b_all"]


def test_unsupported_or_mismatched_keys_raise():
    with pytest.raises(ValueError, match="supported key types"):
        key_bucket([1.5], ["double"], 4)
    with pytest.raises(ValueError, match="supported key types"):
        key_bucket([datetime.datetime(2024, 1, 1)], ["timestamp"], 4)
    with pytest.raises(ValueError, match="needs a int value"):
        key_bucket(["42"], ["bigint"], 4)
    with pytest.raises(ValueError, match="needs a bool value"):
        key_bucket([1], ["boolean"], 4)


def _write(spark, path, schema, keys, rows, properties=None):
    t = LakeTable.create(spark, str(path), schema, keys, n_buckets=4, properties=properties)
    df = spark.createDataFrame(
        rows, StructType.fromDDL(", ".join(f"`{n}` {ty}" for n, ty in schema))
    ).withColumn("__bucket", key_bucket_expr(keys, 4))
    files = t.write_data_files(df, "s2")
    t.commit_files("c1", list(files), files)
    return t


class TestLookupKeyTypes:
    def test_boolean_and_string_keys_all_found(self, spark, tmp_path):
        rows = [(i % 2 == 0, f"k{i}", i) for i in range(10)]
        t = _write(
            spark, tmp_path / "bool",
            [("flag", "boolean"), ("k", "string"), ("v", "long")], ["flag", "k"], rows,
        )
        for flag, k, v in rows:
            got = t.lookup({"flag": flag, "k": k}).collect()
            assert [r["v"] for r in got] == [v], (flag, k)

    def test_long_keys_all_found(self, spark, tmp_path):
        rows = [(v, f"p{v}") for v in (-(1 << 63), -7, 0, 1, 12345678901, (1 << 63) - 1)]
        rows += [(i * 7919, f"q{i}") for i in range(2, 32)]
        t = _write(
            spark, tmp_path / "long", [("id", "bigint"), ("payload", "string")], ["id"],
            rows, properties={"bloom.columns": "id", "bloom.bits": 1024},
        )
        for v, p in rows:
            got = t.lookup({"id": v}).collect()
            assert [r["payload"] for r in got] == [p], v

    def test_double_key_raises(self, spark, tmp_path):
        t = _write(spark, tmp_path / "dbl", [("x", "double"), ("v", "long")], ["x"], [(1e19, 1)])
        with pytest.raises(ValueError, match="supported key types"):
            t.lookup({"x": 1e19})


def test_lookup_planning_and_bloom_probing_run_no_spark_job(spark, tmp_path):
    rows = [(i, f"p{i}") for i in range(40)]
    t = _write(
        spark, tmp_path / "nojob", [("id", "bigint"), ("payload", "string")], ["id"],
        rows, properties={"bloom.columns": "id,payload", "bloom.bits": 1024},
    )
    entries = [e for b in t.snapshot().files for e in t.snapshot().files[b]]
    assert any(e.get("bloom") for e in entries)
    with job_group(spark) as jobs:
        df = t.lookup({"id": 7, "payload": "p7"})
        prober = BloomProber()
        for e in entries:
            prober.admits(e.get("bloom"), [("id", "=", 7)], {"id": "bigint"})
        assert jobs() == []
        # the detector itself sees a job started in the group
        assert [r["payload"] for r in df.collect()] == ["p7"]
        assert jobs() != []


def test_murmur3_int_matches_spark_hash(spark):
    rng = random.Random(20261019)
    values = [-(2**31), -(2**31) + 1, -1, 2**31 - 2, 2**31 - 1] + list(range(1024))
    values += [rng.randint(-(2**31), 2**31 - 1) for _ in range(500)]
    got = spark.createDataFrame([(v,) for v in values], "v int").select(
        "v", F.hash("v").alias("h")
    ).collect()
    assert len(got) == len(values)
    assert all(murmur3_int(r["v"]) == r["h"] for r in got)


@pytest.mark.parametrize("n_buckets", [1, 3, 8, 256])
def test_bucket_b_lands_on_task_b_mod_p(spark, n_buckets):
    p = min(n_buckets, spark.sparkContext.defaultParallelism, 256)
    df = spark.range(3 * n_buckets).select(
        (F.col("id") % n_buckets).cast("int").alias("__bucket")
    )
    placed = place_buckets(df, n_buckets)
    assert placed.rdd.getNumPartitions() == p
    got = placed.select("__bucket", F.spark_partition_id().alias("task")).distinct().collect()
    assert sorted(r["__bucket"] for r in got) == list(range(n_buckets))
    assert all(r["task"] == r["__bucket"] % p for r in got)


def test_merge_write_plan_has_one_exchange_and_one_sort(spark, tmp_path):
    """The single-pass merge hands write_data_files a plan with ONE shuffle
    (the bucket placement) and one sort (the bucket window's); the sort the
    partitionBy("b") writer needs is already satisfied, so planning one adds
    nothing."""
    from table2qb_spark.lake import merge

    t = LakeTable.create(
        spark, str(tmp_path / "plan"), [("repo", "string"), ("path", "string"),
                                        ("content", "string")], ["repo", "path"], n_buckets=8,
    )
    ev = spark.range(200).select(
        F.col("id").alias("seq"), F.lit("U").alias("op"),
        (F.col("id") % 7).cast("string").alias("repo"),
        F.col("id").cast("string").alias("path"), F.lit("x").alias("content"),
    )
    merge.merge_upsert(t, ev, "c1")
    handed = []
    write = LakeTable.write_data_files

    def capture(self, df, *args, **kwargs):
        handed.append(df)
        return write(self, df, *args, **kwargs)

    LakeTable.write_data_files = capture
    try:
        stats = merge.merge_upsert(t, ev.withColumn("seq", F.col("seq") + 1000), "c2")
    finally:
        LakeTable.write_data_files = write
    assert stats["strategy"] == "single-pass"

    def plan(df):
        return df._jdf.queryExecution().simpleString()

    (df,) = handed
    assert plan(df).count("Exchange ") == 1
    assert plan(df).count("Sort [") == 1
    assert plan(df.sortWithinPartitions("__bucket")).count("Sort [") == 1
