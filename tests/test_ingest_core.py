"""The one ingest core (cdc.apply.apply_change_batch): the seq-range replayer
and the streaming foreachBatch store the same rows, hashes and metrics rows,
and the benchmark tracer sees the merge and reconcile under both."""

import hashlib
import json
import os

import pytest
from pyspark.sql import functions as F

from table2qb_spark.cdc.apply import PHASES, ChangeLogReplayer
from table2qb_spark.cdc.streaming import create_stream_table, run_stream_to_completion
from table2qb_spark.cdc.verify import table_sha256
from table2qb_spark.datagen import changelog as gen
from table2qb_spark.lake.table import LakeTable, key_bucket_expr
from tests.conftest import job_group

SCHEMA = [
    ("repo", "string"),
    ("path", "string"),
    ("commit", "string"),
    ("lang", "string"),
    ("content", "string"),
]
KEYS = ["repo", "path"]
EV_DDL = (
    "seq long, op string, repo string, path string, commit string, lang string, "
    "content string"
)


def metrics_rows(table):
    with open(os.path.join(table.path, "_meta", "metrics.jsonl")) as f:
        return [json.loads(line) for line in f if line.strip()]


def write_log(spark, rows, path, n_files, ddl=EV_DDL):
    spark.createDataFrame(rows, ddl).repartition(
        n_files, F.xxhash64(F.coalesce("seq", F.lit(-1)))
    ).write.parquet(path)
    return path


def test_stream_stores_content_sha_of_content_not_the_logs(spark, tmp_path):
    """A log carrying a stale content_sha must not reach the table: the
    stored hash is sha256(content), as on the replay path."""
    schema = SCHEMA + [("content_sha", "string")]
    log = write_log(
        spark,
        [(1, "I", "r1", "a.py", "c1", "py", "v1", "stale"),
         (2, "I", "r1", "b.py", "c2", "py", "v2", "stale")],
        str(tmp_path / "events"), 1, EV_DDL + ", content_sha string",
    )
    t = create_stream_table(spark, str(tmp_path / "lake"), schema, KEYS, n_buckets=4)
    run_stream_to_completion(spark, t, log, str(tmp_path / "ckpt"))
    got = {r["path"]: r["content_sha"] for r in t.read_live().collect()}
    assert got == {
        p: hashlib.sha256(c.encode()).hexdigest() for p, c in (("a.py", "v1"), ("b.py", "v2"))
    }


def test_replay_events_per_sec_counts_applied_events(spark, tmp_path):
    """1,250 events in batches of 500: the partial last batch reports the
    throughput of its 250 events, not of the 500-wide seq range."""
    ev = spark.createDataFrame(
        [(i, "I", "r", f"p{i}", "c", "py", "x") for i in range(1, 1251)], EV_DDL
    )
    t = LakeTable.create(spark, str(tmp_path / "lake"), SCHEMA, KEYS, n_buckets=4)
    r = ChangeLogReplayer(spark, t, ev, batch_events=500)
    r.run()
    rows = r.metrics()
    assert [m["batch_events"] for m in rows] == [500, 500, 250]
    for m in rows:
        assert abs(m["events_per_sec"] * m["seconds"] - m["batch_events"]) <= 0.05 * m["batch_events"]


def test_replay_and_stream_write_one_metrics_schema(spark, tmp_path):
    """One log with malformed events, ingested by the replayer and by the
    stream, each with a DLQ: same live state, same quarantined total, and
    every metrics row has one key set, per-phase seconds included."""
    rows = [
        (1, "I", "r1", "a.py", "c1", "py", "v1"),
        (2, "X", "r1", "b.py", "c2", "py", "v1"),     # bad op
        (3, "I", None, "c.py", "c3", "py", "v1"),     # null key
        (None, "I", "r1", "d.py", "c4", "py", "v1"),  # null seq
        (4, "U", "r1", "a.py", "c5", "py", "v2"),
        (5, "I", "r2", "e.py", "c6", "go", "v1"),
        (6, "D", "r2", "e.py", "c7", "go", None),
        (7, "I", "r3", "f.py", "c8", "go", "v3"),
    ]
    log = write_log(spark, rows, str(tmp_path / "events"), 2)
    expected = {("r1", "a.py"): "v2", ("r3", "f.py"): "v3"}

    rt = LakeTable.create(spark, str(tmp_path / "replay"), SCHEMA, KEYS, n_buckets=4)
    ChangeLogReplayer(spark, rt, log, batch_events=4, dlq_dir=str(tmp_path / "dlq_r")).run()
    st = create_stream_table(spark, str(tmp_path / "stream"), SCHEMA, KEYS, n_buckets=4)
    run_stream_to_completion(
        spark, st, log, str(tmp_path / "ckpt"), max_files_per_trigger=1,
        dlq_dir=str(tmp_path / "dlq_s"),
    )
    assert {(r["repo"], r["path"]): r["content"] for r in rt.read().collect()} == expected
    assert {(r["repo"], r["path"]): r["content"] for r in st.read_live().collect()} == expected

    replay, stream = metrics_rows(rt), metrics_rows(st)
    assert len(replay) == 2 and stream
    assert len({frozenset(m) for m in replay + stream}) == 1
    assert {m["source"] for m in replay + stream} == {"replay", "stream"}
    assert sum(m["dlq_events"] for m in replay) == sum(m["dlq_events"] for m in stream) == 3
    assert [m["max_seq"] for m in replay] == [4, 7]
    assert all(m["strategy"] for m in replay + stream)
    assert all(m["seq_start"] is None and m["lag_events"] is None for m in stream)
    # per-phase seconds: null where the path skips the phase (the
    # replayer's one pre-pass sits on its first row)
    assert set(PHASES) <= set(replay[0])
    assert all(m[k] is not None for m in replay + stream for k in ("dlq_s", "reconcile_s", "merge_s"))
    assert [m["prepass_s"] is not None for m in replay] == [True, False]
    assert all(m["prepass_s"] is not None for m in stream)


def test_replayer_replays_a_key_bucketed_log(spark, tmp_path):
    """A log laid out by key bucket (``b=N/`` directories, the keyed-topic
    layout) replays through the one ingest core to the flat log's table:
    the seq range still comes from the parquet footers, found by walking
    the bucket directories, and the ``b`` partition column stays out of
    the table."""
    n_buckets = 4
    ev = gen.gen_change_log(
        spark, 2500, 10, 40, seed=5, dup_rate=0.04, schema_evolution_after=None
    )
    flat = str(tmp_path / "flat")
    gen.write_change_log(ev, flat, n_files=6)
    bucketed = str(tmp_path / "bucketed")
    spark.read.parquet(flat).withColumn("b", key_bucket_expr(KEYS, n_buckets)).write.partitionBy(
        "b"
    ).parquet(bucketed)
    assert {d for d in os.listdir(bucketed) if d.startswith("b=")} == {
        f"b={b}" for b in range(n_buckets)
    }

    cols = [c for c, _ in SCHEMA]
    bounds, shas = {}, {}
    for name, log in (("flat", flat), ("bucketed", bucketed)):
        t = LakeTable.create(spark, str(tmp_path / f"lake_{name}"), SCHEMA, KEYS, n_buckets=n_buckets)
        r = ChangeLogReplayer(spark, t, log, batch_events=800)
        bounds[name] = r._footer_bounds()
        assert bounds[name] is not None and r.seq_bounds() == bounds[name]
        assert len(r.run()) > 1
        assert [c["name"] for c in t.snapshot().current_schema()] == cols
        assert t.read().columns == cols
        shas[name] = table_sha256(t.read(), cols)
    assert bounds["bucketed"] == bounds["flat"]
    assert shas["bucketed"] == shas["flat"]


@pytest.mark.parametrize("partition_by", [None, "op"])
def test_replayer_construction_runs_no_job(spark, tmp_path, partition_by):
    """A parquet log's schema comes from one file's footer, read on the
    driver: building a replayer launches no Spark job (schema inference
    launched one), and the schema is the one inference gives, for a flat
    log and for a log partitioned by op."""
    ev = gen.gen_change_log(
        spark, 600, 5, 20, seed=9, dup_rate=0.04, schema_evolution_after=None
    )
    log = str(tmp_path / "log")
    writer = ev.coalesce(2).write
    (writer.partitionBy(partition_by) if partition_by else writer).parquet(log)
    t = LakeTable.create(spark, str(tmp_path / "lake"), SCHEMA, KEYS, n_buckets=4)
    with job_group(spark) as jobs:
        r = ChangeLogReplayer(spark, t, log, batch_events=250)
        assert jobs() == []
    assert r.events.schema == spark.read.parquet(log).schema
    r.run()
    cols = [c for c, _ in SCHEMA]
    oracle = LakeTable.create(spark, str(tmp_path / "oracle"), SCHEMA, KEYS, n_buckets=4)
    ChangeLogReplayer(spark, oracle, ev, batch_events=250).run()
    assert table_sha256(t.read(), cols) == table_sha256(oracle.read(), cols)


def test_tracer_sees_merge_and_reconcile_under_both_front_ends(spark, tmp_path):
    """perfbench/trace.py wraps merge_upsert and reconcile_and_flatten in
    cdc.apply and cdc.streaming; the spans must sit under the replay run
    and under the stream run."""
    from perfbench.trace import Tracer
    from table2qb_spark.cdc import apply, streaming

    rows = [(1, "I", "r1", "a.py", "c1", "py", "v1"), (2, "U", "r1", "a.py", "c2", "py", "v2")]
    log = write_log(spark, rows, str(tmp_path / "events"), 1)
    merge_upsert = apply.merge_upsert
    tracer = Tracer()
    tracer.install()
    try:
        rt = LakeTable.create(spark, str(tmp_path / "replay"), SCHEMA, KEYS, n_buckets=2)
        apply.ChangeLogReplayer(spark, rt, log, batch_events=10).run()
        st = streaming.create_stream_table(
            spark, str(tmp_path / "stream"), SCHEMA, KEYS, n_buckets=2
        )
        streaming.run_stream_to_completion(spark, st, log, str(tmp_path / "ckpt"))
    finally:
        tracer.restore()
    assert apply.merge_upsert is merge_upsert

    def under(span, name):
        while span is not None and span.name != name:
            span = span.parent
        return span is not None

    for run in ("cdc.apply.run", "cdc.streaming.run"):
        for leaf in ("lake.merge.merge_upsert", "cdc.schema_evolution.reconcile"):
            assert any(s.name == leaf and under(s, run) for s in tracer.spans), (run, leaf)
