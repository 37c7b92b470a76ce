"""The ingest pre-pass (cdc.apply.batch_prepass): one aggregate per batch
finds the payload keys, the rename directives and the merge's bucket stats.
Schema evolution through it lands the same schema and rows as the separate
discovery scans it replaced did (the expected values below are what those
scans produced on these logs), and each front-end runs it once — the
replayer once per run, the stream once per trigger."""

import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F

from table2qb_spark.cdc import apply
from table2qb_spark.cdc.apply import ChangeLogReplayer
from table2qb_spark.cdc.streaming import create_stream_table, run_stream_to_completion, start_stream
from table2qb_spark.lake.rebucket import rebucket
from table2qb_spark.lake.table import LakeTable
from tests.conftest import job_group

SCHEMA = [("repo", "string"), ("path", "string"), ("content", "string")]
KEYS = ["repo", "path"]
DDL = "seq long, op string, repo string, path string, content string, payload_json string"

# case -> (log DDL, with a DLQ, batches (one commit / trigger each),
#          expected column names, expected live rows)
CASES = {
    "rename_and_two_new_keys": (DDL, False, [
        [(1, "I", "r1", "a", "v1", '{"license": "mit"}'),
         (2, "I", "r1", "b", "v2", '{"license": "gpl"}'),
         (3, "I", "r2", "c", "v3", None),
         (4, "U", "r1", "a", "v1b", '{"license": "bsd"}')],
        [(5, "U", "r2", "c", "v3b", '{"__rename__": {"license": "licence"}}'),
         (6, "U", "r1", "a", "v1c", '{"licence": "apache", "stars": "5"}'),
         (7, "I", "r3", "d", "v4", '{"topic": "db"}'),
         (8, "U", "r1", "b", "v2b", '{"licence": "mit"}')],
    ], ["repo", "path", "content", "licence", "stars", "topic"], [
        ("r1", "a", "v1c", "apache", "5", None),
        ("r1", "b", "v2b", "mit", None, None),
        ("r2", "c", "v3b", None, None, None),
        ("r3", "d", "v4", None, None, "db"),
    ]),
    "malformed_payload": (DDL, False, [
        [(1, "I", "r1", "a", "v1", '{"ok": "1"'),
         (2, "I", "r1", "b", "v2", '{"ok2": "2"}'),
         (3, "I", "r2", "c", "v3", '{"__rename__": {"content": "body"'),
         (4, "U", "r1", "a", "v1b", "not json")],
    ], ["repo", "path", "content", "ok2"], [
        ("r1", "a", "v1b", None), ("r1", "b", "v2", "2"), ("r2", "c", "v3", None),
    ]),
    "no_payload_column": ("seq long, op string, repo string, path string, content string", False, [
        [(1, "I", "r1", "a", "v1"), (2, "I", "r1", "b", "v2"),
         (3, "D", "r1", "a", None), (4, "I", "r2", "c", "v3")],
    ], ["repo", "path", "content"], [("r1", "b", "v2"), ("r2", "c", "v3")]),
    "dlq_payload_never_evolves": (DDL, True, [
        [(1, "I", "r1", "a", "v1", '{"ok": "1"}'),
         (2, "I", None, "b", "v2", '{"secret": "x"}'),
         (3, "X", "r1", "c", "v3", '{"bad_op_key": "y"}'),
         (None, "I", "r2", "d", "v4", '{"null_seq_key": "z"}'),
         (4, "I", "r2", "e", "v5", None)],
    ], ["repo", "path", "content", "ok"], [("r1", "a", "v1", "1"), ("r2", "e", "v5", None)]),
}


def write_one_file(spark, rows, ddl, out):
    spark.createDataFrame(rows, ddl).coalesce(1).write.parquet(out)
    (part,) = glob.glob(os.path.join(out, "*.parquet"))
    return part


def ingest(spark, root, front, ddl, dlq, batches):
    """Apply ``batches`` as one replay commit / stream trigger each; return
    the table and its live rows."""
    dlq_dir = str(root / "dlq") if dlq else None
    if front == "replay":
        log = str(root / "log")
        spark.createDataFrame([r for b in batches for r in b], ddl).coalesce(1).write.parquet(log)
        t = LakeTable.create(spark, str(root / "lake"), SCHEMA, KEYS, n_buckets=4)
        ChangeLogReplayer(spark, t, log, batch_events=4, dlq_dir=dlq_dir).run()
        return t, t.read()
    watch = root / "watch"
    watch.mkdir()
    t = create_stream_table(spark, str(root / "lake"), SCHEMA, KEYS, n_buckets=4)
    for i, rows in enumerate(batches):
        shutil.copy(write_one_file(spark, rows, ddl, str(root / f"b{i}")), watch / f"b{i}.parquet")
        run_stream_to_completion(
            spark, t, str(watch), str(root / "ckpt"), schema_ddl=ddl, dlq_dir=dlq_dir
        )
    return t, t.read_live()


@pytest.mark.parametrize("front", ["replay", "stream"])
@pytest.mark.parametrize("case", sorted(CASES))
def test_schema_evolution_through_the_prepass(spark, tmp_path, case, front):
    ddl, dlq, batches, want_cols, want_rows = CASES[case]
    t, live = ingest(spark, tmp_path, front, ddl, dlq, batches)
    schema = [c for c in t.snapshot().current_schema() if c["name"] not in ("_seq", "_deleted")]
    assert [c["name"] for c in schema] == want_cols
    assert {c["type"] for c in schema} == {"string"}
    assert sorted(tuple(r[c] for c in want_cols) for r in live.collect()) == want_rows
    if case == "rename_and_two_new_keys":
        # a rename keeps the column id: licence is the column license was
        license_ids = {
            c["id"] for s in t.history() for c in s.current_schema() if c["name"] == "license"
        }
        assert license_ids == {c["id"] for c in schema if c["name"] == "licence"}


def one_aggregate_jobs(spark) -> int:
    """Jobs one grouped aggregate with a collect launches in this session."""
    with job_group(spark) as jobs:
        spark.range(10).groupBy((F.col("id") % 2).alias("g")).agg(F.count("*")).collect()
        return len(jobs())


def count_jobs_outside_merge(monkeypatch, jobs):
    """Wrap cdc.apply's merge_upsert; returns the list of job counts seen at
    each merge's entry and exit."""
    marks = []
    merge_upsert = apply.merge_upsert

    def wrapped(*args, **kwargs):
        marks.append(len(jobs()))
        try:
            return merge_upsert(*args, **kwargs)
        finally:
            marks.append(len(jobs()))

    monkeypatch.setattr(apply, "merge_upsert", wrapped)
    return marks


def test_replay_runs_one_prepass_for_all_commits(spark, tmp_path, monkeypatch):
    """A 2-commit replay with payloads launches the jobs of ONE aggregate
    outside its merges — not discovery scans per commit."""
    ddl, _, batches, _, _ = CASES["rename_and_two_new_keys"]
    log = str(tmp_path / "log")
    spark.createDataFrame([r for b in batches for r in b], ddl).coalesce(1).write.parquet(log)
    t = LakeTable.create(spark, str(tmp_path / "lake"), SCHEMA, KEYS, n_buckets=4)
    r = ChangeLogReplayer(spark, t, log, batch_events=4)
    expected = one_aggregate_jobs(spark)
    with job_group(spark) as jobs:
        marks = count_jobs_outside_merge(monkeypatch, jobs)
        results = r.run()
        total = len(jobs())
    assert [x.skipped for x in results] == [False, False]
    assert len(marks) == 4
    in_merges = (marks[1] - marks[0]) + (marks[3] - marks[2])
    assert total - in_merges == expected
    # the first commit's row carries the run's pre-pass seconds
    rows = r.metrics()
    assert rows[0]["prepass_s"] is not None and rows[1]["prepass_s"] is None


def test_stream_trigger_runs_one_prepass_before_its_merge(spark, tmp_path, monkeypatch):
    """A trigger into a populated table launches the jobs of one aggregate
    (the pre-pass) before its merge: reconcile and the merge's stats run
    none. The stream's jobs run in the query's runId job group."""
    ddl, _, batches, _, _ = CASES["rename_and_two_new_keys"]
    watch = tmp_path / "watch"
    watch.mkdir()
    t = create_stream_table(spark, str(tmp_path / "lake"), SCHEMA, KEYS, n_buckets=4)
    ckpt = str(tmp_path / "ckpt")
    shutil.copy(write_one_file(spark, batches[0], ddl, str(tmp_path / "b0")), watch / "b0.parquet")
    run_stream_to_completion(spark, t, str(watch), ckpt, schema_ddl=ddl)
    shutil.copy(write_one_file(spark, batches[1], ddl, str(tmp_path / "b1")), watch / "b1.parquet")
    expected = one_aggregate_jobs(spark)
    sc = spark.sparkContext
    groups = []

    def jobs():
        # foreachBatch runs under the query's job group
        groups.append(sc.getLocalProperty("spark.jobGroup.id"))
        return sc.statusTracker().getJobIdsForGroup(groups[-1])

    marks = count_jobs_outside_merge(monkeypatch, jobs)
    q = start_stream(spark, t, str(watch), ckpt, schema_ddl=ddl)
    q.awaitTermination()
    assert set(groups) == {str(q.runId)}
    assert marks[0] == expected
    assert {c["name"] for c in t.snapshot().current_schema()} >= {"licence", "stars", "topic"}


def rebucket_after_prepass(monkeypatch, prepass_owner, name, table, n_buckets):
    """Wrap ``prepass_owner.name`` so a rebucket commit lands right after
    each pre-pass, before the merge that uses its stats."""
    inner = getattr(prepass_owner, name)

    def wrapped(*args, **kwargs):
        out = inner(*args, **kwargs)
        rebucket(table, n_buckets)
        return out

    monkeypatch.setattr(prepass_owner, name, wrapped)


def test_replay_merge_after_a_rebucket_keeps_every_row(spark, tmp_path, monkeypatch):
    """A rebucket between the replayer's pre-pass and its pruned merge: the
    pre-pass buckets name the old layout, so the merge must not trust them
    (reading the old ids and replacing the new buckets would drop rows)."""
    rows = [(i, "I", "r", f"p{i:03d}", f"v{i}") for i in range(100)]
    rows += [(100 + i, "U", "r", f"p{i:03d}", f"w{i}") for i in range(0, 100, 25)]
    log = str(tmp_path / "log")
    spark.createDataFrame(rows, "seq long, op string, repo string, path string, content string") \
        .coalesce(1).write.parquet(log)
    t = LakeTable.create(spark, str(tmp_path / "lake"), SCHEMA, KEYS, n_buckets=4)
    ChangeLogReplayer(spark, t, log, batch_events=100).run(max_batches=1)
    rebucket_after_prepass(monkeypatch, ChangeLogReplayer, "prepass", t, 8)
    r = ChangeLogReplayer(spark, t, log, batch_events=100)
    (res,) = r.run()
    assert res.stats["strategy"] == "pruned"
    assert t.snapshot().n_buckets == 8
    got = {(x["path"], x["content"]) for x in t.read().collect()}
    want = {(f"p{i:03d}", f"w{i}" if i % 25 == 0 else f"v{i}") for i in range(100)}
    assert got == want


@pytest.mark.parametrize("engine", ["upsert", "patch", "mor"])
def test_stream_merge_after_a_rebucket_keeps_every_row(spark, tmp_path, monkeypatch, engine):
    """The same race on the stream's path, for each merge that prunes to the
    pre-pass buckets: a rebucket lands between the trigger's pre-pass and
    its merge."""
    t = create_stream_table(spark, str(tmp_path / "lake"), SCHEMA, KEYS, n_buckets=4)
    ddl = "seq long, op string, repo string, path string, content string"
    base = spark.createDataFrame([(i, "I", "r", f"p{i:03d}", f"v{i}") for i in range(100)], ddl)
    args = dict(source="stream", batch=0, summary_update={},
                merge_engine="patch" if engine == "patch" else "upsert",
                merge_on_read=engine == "mor")
    apply.apply_change_batch(t, base, "c0", **args)
    rebucket_after_prepass(monkeypatch, apply, "batch_prepass", t, 8)
    upd = spark.createDataFrame(
        [(100 + i, "U", "r", f"p{i:03d}", f"w{i}") for i in range(0, 100, 25)], ddl
    )
    apply.apply_change_batch(t, upd, "c1", **{**args, "batch": 1})
    assert t.snapshot().n_buckets == 8
    got = {(x["path"], x["content"]) for x in t.read_live().collect()}
    want = {(f"p{i:03d}", f"w{i}" if i % 25 == 0 else f"v{i}") for i in range(100)}
    assert got == want
