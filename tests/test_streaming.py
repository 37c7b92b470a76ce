"""Structured Streaming ingest: arrival-order-independent convergence via
seq-guarded merge + tombstones, exactly-once across stream restarts."""

import json
import os

import pytest
from pyspark.sql import functions as F

from table2qb_spark.cdc.streaming import create_stream_table, run_stream_to_completion
from table2qb_spark.cdc.verify import table_sha256
from table2qb_spark.datagen import changelog as gen
from table2qb_spark.datagen.oracle import replay_oracle, table_sha256 as oracle_sha

BASE_SCHEMA = [
    ("repo", "string"),
    ("path", "string"),
    ("commit", "string"),
    ("lang", "string"),
    ("content", "string"),
]
KEYS = ["repo", "path"]
COLS = [c for c, _ in BASE_SCHEMA]


@pytest.fixture(scope="module")
def stream_events(spark, tmp_path_factory):
    """Small change log written as MANY files in hash-shuffled order, so the
    file-source micro-batches deliver events wildly out of seq order."""
    root = tmp_path_factory.mktemp("stream")
    ev = gen.gen_change_log(
        spark, 2000, 10, 30, seed=7, dup_rate=0.05, schema_evolution_after=None
    )
    path = str(root / "events")
    ev.repartition(20, F.xxhash64("seq")).write.parquet(path)
    return path


def expected_sha(spark, events_path):
    rows = [r.asDict() for r in spark.read.parquet(events_path).collect()]
    seen, uniq = set(), []
    for e in sorted(rows, key=lambda x: x["seq"]):
        if e["seq"] in seen:
            continue
        seen.add(e["seq"])
        uniq.append(e)
    state = replay_oracle([], uniq)
    return oracle_sha(list(state.values()), COLS)


def test_streaming_converges_out_of_order(spark, tmp_path, stream_events):
    t = create_stream_table(spark, str(tmp_path / "lake"), BASE_SCHEMA, KEYS, n_buckets=4)
    # maxFilesPerTrigger=3 over 20 shuffled files -> ~7 arrival-ordered
    # micro-batches, each spanning arbitrary seq ranges
    run_stream_to_completion(
        spark, t, stream_events, str(tmp_path / "ckpt"), max_files_per_trigger=3
    )
    got = table_sha256(t.read_live(), COLS)
    assert got == expected_sha(spark, stream_events)
    # bookkeeping: _seq recorded per row
    assert t.read().where(F.col("_seq").isNull()).count() == 0


def test_streaming_restart_is_exactly_once(spark, tmp_path, stream_events):
    t = create_stream_table(spark, str(tmp_path / "lake"), BASE_SCHEMA, KEYS, n_buckets=4)
    ckpt = str(tmp_path / "ckpt")
    run_stream_to_completion(spark, t, stream_events, ckpt, max_files_per_trigger=5)
    sha1 = table_sha256(t.read_live(), COLS)
    n_snapshots = t.current_snapshot_id()
    # restart the stream over the same checkpoint: no new data, no new commits
    run_stream_to_completion(spark, t, stream_events, ckpt, max_files_per_trigger=5)
    assert table_sha256(t.read_live(), COLS) == sha1
    assert t.current_snapshot_id() == n_snapshots


def test_restart_reuses_the_persisted_source_schema(spark, tmp_path, stream_events, monkeypatch):
    """The first start infers the change log's schema and persists it in the
    checkpoint; a restart reads it back instead of the events' footers."""
    from pyspark.sql.readwriter import DataFrameReader
    from pyspark.sql.types import StructType

    parquet_paths = []
    real_parquet = DataFrameReader.parquet

    def recording_parquet(self, *paths, **options):
        parquet_paths.extend(paths)
        return real_parquet(self, *paths, **options)

    monkeypatch.setattr(DataFrameReader, "parquet", recording_parquet)
    t = create_stream_table(spark, str(tmp_path / "lake"), BASE_SCHEMA, KEYS, n_buckets=4)
    ckpt = str(tmp_path / "ckpt")
    run_stream_to_completion(spark, t, stream_events, ckpt, max_files_per_trigger=10)
    assert stream_events in parquet_paths
    with open(os.path.join(ckpt, "table2qb_source_schema")) as f:
        persisted = StructType.fromJson(json.load(f))
    assert persisted == spark.read.parquet(stream_events).schema
    parquet_paths.clear()
    run_stream_to_completion(spark, t, stream_events, ckpt, max_files_per_trigger=10)
    assert stream_events not in parquet_paths


def test_new_checkpoint_does_not_collide_with_old_commits(spark, tmp_path, stream_events):
    """Commit ids are namespaced per checkpoint (app id): restarting with a
    FRESH checkpoint re-delivers batch_id 0.. but mints new commit ids, so
    the batches are re-applied (seq-guard keeps the state converged) instead
    of being silently dropped as 'redelivered' — the data-loss mode when a
    checkpoint is lost or a second stream feeds the same table."""
    t = create_stream_table(spark, str(tmp_path / "lake"), BASE_SCHEMA, KEYS, n_buckets=4)
    run_stream_to_completion(spark, t, stream_events, str(tmp_path / "ckpt1"), max_files_per_trigger=5)
    sha1 = table_sha256(t.read_live(), COLS)
    n_snapshots = t.current_snapshot_id()
    run_stream_to_completion(spark, t, stream_events, str(tmp_path / "ckpt2"), max_files_per_trigger=5)
    assert t.current_snapshot_id() > n_snapshots  # re-applied, not skipped
    assert table_sha256(t.read_live(), COLS) == sha1  # and still converged


def test_app_id_first_writer_wins(tmp_path):
    """The app-id marker is created exclusively: once any writer persisted an
    id, later callers (including a racer that already minted its own uuid)
    must read THAT id back — the marker is never replaced."""
    from table2qb_spark.cdc.streaming import checkpoint_app_id

    cp = str(tmp_path / "cp")
    os.makedirs(cp, exist_ok=True)
    marker = os.path.join(cp, "table2qb_app_id")
    with open(marker, "w", encoding="utf-8") as f:
        f.write("first-writer")
    assert checkpoint_app_id(cp) == "first-writer"
    # simulate the loser's late attempt: marker exists -> link fails -> reread
    assert checkpoint_app_id(cp) == "first-writer"
    with open(marker) as f:
        assert f.read().strip() == "first-writer"
    # and a fresh checkpoint mints + persists exactly one stable id
    cp2 = str(tmp_path / "cp2")
    a = checkpoint_app_id(cp2)
    assert checkpoint_app_id(cp2) == a and len(a) == 12


class TestStatefulWatermarkFilter:
    def test_filters_duplicates_and_stale_events_across_microbatches(
        self, spark, tmp_path
    ):
        """applyInPandasWithState per-key high-watermark: duplicates and
        events at/below an already-emitted seq are dropped IN the stream;
        survivors reconstruct the exact per-key max-seq state."""
        from table2qb_spark.cdc.stateful import watermark_filter

        # two files -> two micro-batches (maxFilesPerTrigger=1), overlapping
        # seq ranges and duplicates across them
        f1 = [
            (1, "U", "k1", "v1"), (3, "U", "k1", "v3"), (3, "U", "k1", "v3"),
            (2, "U", "k2", "w2"),
        ]
        f2 = [
            (2, "U", "k1", "v2-late"),   # stale: below k1's watermark (3)
            (3, "U", "k1", "v3"),        # duplicate redelivery
            (5, "U", "k1", "v5"),        # genuinely new
            (1, "U", "k2", "w1-late"),   # stale for k2
            (4, "U", "k2", "w4"),
        ]
        src = str(tmp_path / "src")
        schema = "seq long, op string, repo string, content string"
        spark.createDataFrame(f1, schema).coalesce(1).write.mode("append").parquet(src)
        spark.createDataFrame(f2, schema).coalesce(1).write.mode("append").parquet(src)

        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        filtered = watermark_filter(stream, ["repo"], "seq")
        q = (
            filtered.writeStream.format("memory")
            .queryName("wmf_out")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = [
            (r["repo"], r["seq"], r["content"])
            for r in spark.sql("select * from wmf_out order by repo, seq").collect()
        ]
        # NOTE: file order within availableNow is deterministic (listing
        # order); whichever of f1/f2 lands first, duplicates and per-key
        # non-increasing seqs can never BOTH survive:
        per_key = {}
        for repo, seq, _ in got:
            per_key.setdefault(repo, []).append(seq)
        for seqs in per_key.values():
            assert seqs == sorted(set(seqs))  # strictly increasing, no dups
        assert ("k1", 3, "v3") in got and ("k1", 5, "v5") in got
        assert ("k1", 2, "v2-late") not in got or got.index(("k1", 2, "v2-late")) < got.index(("k1", 3, "v3"))
        # duplicates never emitted twice
        assert len(got) == len(set(got))


def test_stream_with_watermark_prefilter_converges_identically(
    spark, tmp_path, stream_events
):
    """End-to-end: the stateful prefilter composed with the merge sink
    converges to the same table state as the unfiltered stream."""
    t1 = create_stream_table(spark, str(tmp_path / "plain"), BASE_SCHEMA, KEYS)
    run_stream_to_completion(
        spark, t1, stream_events, str(tmp_path / "c1"), max_files_per_trigger=7
    )
    t2 = create_stream_table(spark, str(tmp_path / "filt"), BASE_SCHEMA, KEYS)
    run_stream_to_completion(
        spark, t2, stream_events, str(tmp_path / "c2"),
        max_files_per_trigger=7, watermark_prefilter=True,
    )
    assert table_sha256(t1.read_live(), COLS) == table_sha256(t2.read_live(), COLS)
    assert table_sha256(t2.read_live(), COLS) == expected_sha(spark, stream_events)


def test_stream_emits_per_micro_batch_metrics(spark, tmp_path, stream_events):
    """north_star: per-partition throughput/lag metrics per micro-batch —
    the streaming path appends to the same _meta/metrics.jsonl the batch
    replayer uses, one row per applied trigger."""
    import json as _json

    t = create_stream_table(spark, str(tmp_path / "lakeM"), BASE_SCHEMA, KEYS, n_buckets=4)
    run_stream_to_completion(
        spark, t, stream_events, str(tmp_path / "ckM"), max_files_per_trigger=7
    )
    with open(os.path.join(t.path, "_meta", "metrics.jsonl")) as fh:
        rows = [_json.loads(l) for l in fh if l.strip()]
    stream_rows = [r for r in rows if r.get("source") == "stream"]
    assert len(stream_rows) >= 2  # 20 files / 7 per trigger -> >= 3 triggers
    for r in stream_rows:
        assert r["commit_id"].startswith("stream-")
        assert r["seconds"] > 0 and r["buckets_touched"] > 0
    assert sum(r["upserts"] for r in stream_rows) >= t.read_live().count()


def test_small_stream_trigger_takes_pruned_strategy(spark, tmp_path):
    """Round-4 decoupling of stats from strategy: a small trigger into a
    populated table must rewrite only its touched buckets — streaming
    triggers carry no batch_size_hint, so before the fix they could never
    prune and every trigger rewrote the whole table. The trigger's stats
    come from the ingest pre-pass, as in foreachBatch."""
    from table2qb_spark.cdc.apply import batch_prepass
    from table2qb_spark.lake.merge import merge_upsert

    t = create_stream_table(spark, str(tmp_path / "lakeS"), BASE_SCHEMA, KEYS, n_buckets=16)
    rows = [(i, "U", f"r{i%8}", f"p{i}", "c", "py", f"v{i}") for i in range(1, 201)]
    big = spark.createDataFrame(
        rows, "seq long, op string, repo string, path string, commit string, lang string, content string"
    )
    merge_upsert(t, big, "b1", batch_stats=batch_prepass(t.snapshot(), big)[0].stats)
    # one-key update: far below the prune threshold
    small = spark.createDataFrame(
        [(1000, "U", "r1", "p1", "c", "py", "new")],
        "seq long, op string, repo string, path string, commit string, lang string, content string",
    )
    stats = merge_upsert(t, small, "b2", batch_stats=batch_prepass(t.snapshot(), small)[0].stats)
    assert stats["strategy"] == "pruned"
    assert stats["affected_buckets"] < 16
    got = {r["path"]: r["content"] for r in t.read_live().collect()}
    assert got["p1"] == "new" and len(got) == 200


def test_watermark_prefilter_requires_seq_guarded_table(
    spark, tmp_path, stream_events
):
    """The prefilter is only state-preserving on seq-guarded tables: on a
    plain table the merge unions current rows at seq=-1, so a late lower-seq
    event would normally overwrite the stored row — dropping it in-stream
    would change final state. start_stream must refuse rather than silently
    diverge."""
    from table2qb_spark.cdc.streaming import start_stream
    from table2qb_spark.lake.table import LakeTable

    plain = LakeTable.create(
        spark, str(tmp_path / "plain2"), BASE_SCHEMA, KEYS, n_buckets=4
    )
    with pytest.raises(ValueError, match="seq-guarded"):
        start_stream(
            spark, plain, stream_events, str(tmp_path / "c3"),
            watermark_prefilter=True,
        )


def test_stream_dlq_quarantines_malformed_per_micro_batch(spark, tmp_path):
    """Malformed events (bad op / null key / null seq) are written to
    dlq_dir/<commit_id>/ with reasons and excluded from the merged state;
    the metrics rows carry dlq_events."""
    import json

    ev = spark.createDataFrame(
        [
            (1, "I", "r1", "a.py", "c1", "py", "v1"),
            (2, "X", "r1", "b.py", "c2", "py", "v1"),
            (3, "I", None, "c.py", "c3", "py", "v1"),
            (None, "I", "r1", "d.py", "c4", "py", "v1"),
            (4, "U", "r1", "a.py", "c5", "py", "v2"),
        ],
        "seq long, op string, repo string, path string, commit string, lang string, content string",
    )
    events = str(tmp_path / "events")
    ev.repartition(2, F.xxhash64(F.coalesce("seq", F.lit(-1)))).write.parquet(events)
    t = create_stream_table(spark, str(tmp_path / "lake"), BASE_SCHEMA, KEYS, n_buckets=4)
    dlq = str(tmp_path / "dlq")
    run_stream_to_completion(
        spark, t, events, str(tmp_path / "ckpt"),
        max_files_per_trigger=1, dlq_dir=dlq,
    )
    state = {(r["repo"], r["path"]): r["content"] for r in t.read_live().collect()}
    assert state == {("r1", "a.py"): "v2"}
    bad = spark.read.parquet(os.path.join(dlq, "*"))
    reasons = {r["path"]: r["dlq_reason"] for r in bad.collect()}
    assert reasons == {
        "b.py": "bad_op",
        "c.py": "null_key:repo",
        "d.py": "null_seq",
    }
    metrics_path = os.path.join(t.path, "_meta", "metrics.jsonl")
    with open(metrics_path) as f:
        rows = [json.loads(l) for l in f if l.strip()]
    assert sum(r.get("dlq_events", 0) for r in rows) == 3
