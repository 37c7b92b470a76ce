"""The two workloads: set-up, timed ops, the read set and the final checks.

Both are closed loops with one client: timed ingest ops back to back, then
a read phase on the snapshot the last op committed (read sets of
``LOOKUPS`` point lookups and one lake-cube build to the noop sink).

- ``replay``: ``ChangeLogReplayer(...).run()`` of the whole generated log
  into a fresh, empty table with ``batch_events`` half the log, so every op
  makes the same two commits (a load into the empty table, then a merge
  into the non-empty one).
- ``stream_tail``: the table is preloaded through the streaming front-end;
  each op lands the next ``SLICE_EVENTS``-event seq slice (a twentieth of
  the preload) as one parquet file in the watched directory and runs
  ``run_stream_to_completion`` (availableNow, persisted checkpoint) until
  it commits.
"""

from __future__ import annotations

import os
import shutil
import time
from collections import Counter

from perfbench import oracle

N_BUCKETS = 8
PATHS_PER_REPO = 500
REPLAY_EVENTS = 10_000
STREAM_PRELOAD_EVENTS = 20_000
SLICE_EVENTS = 1_000
MAX_SLICES = 14
LOOKUPS = 2
N_KEYS = 64
LAKE_SCHEMA = [
    ("repo", "string"), ("path", "string"), ("commit", "string"),
    ("lang", "string"), ("content", "string"), ("content_sha", "string"),
]
KEYS = ["repo", "path"]


def cores() -> int:
    return len(os.sched_getaffinity(0))


def tree_bytes(root: str) -> dict[str, int]:
    """{path: size} of every parquet file under ``root``."""
    out = {}
    for d, _dirs, files in os.walk(root):
        for fn in files:
            if fn.endswith(".parquet"):
                p = os.path.join(d, fn)
                out[p] = os.path.getsize(p)
    return out


class Workload:
    """One workload's state in one run. Subclasses fill in set-up and op."""

    warmup_ops = 0

    def __init__(self, spark, workdir: str, seed: int):
        self.spark = spark
        self.workdir = workdir
        self.seed = seed
        self.con = oracle.connect()
        self.table = None
        self.keys: list[tuple[str, str]] = []
        self.log_glob = ""
        self.op_events = 0  # log rows one op ingests

    def setup(self) -> None:
        """Make the inputs and the state the first op starts from."""
        raise NotImplementedError

    def op(self) -> float:
        """Run one timed ingest op; return its write amplification."""
        raise NotImplementedError

    def ops_left(self) -> bool:
        return True

    def state_seq(self) -> int | None:
        """Highest seq the current table state has applied (None: all)."""
        return None

    def live_rows(self) -> Counter:
        """Live rows of the table as a multiset, so duplicates count."""
        from pyspark.sql import functions as F

        df = self.table.read_live()
        return Counter(
            tuple(r)
            for r in df.select(*[F.col(c) for c in oracle.STATE_COLUMNS]).collect()
        )

    def check(self) -> list[str]:
        """Final lake state against the DuckDB oracle; returns problems."""
        want = oracle.final_state(self.con, self.log_glob, self.state_seq())
        got = self.live_rows()
        if got == want:
            return []
        return [
            f"final state differs: {got.total()} lake rows vs {want.total()} oracle rows, "
            f"{(got - want).total()} lake-only, {(want - got).total()} oracle-only"
        ]

    def close(self) -> None:
        self.con.close()

    def _gen_log(self, n_events: int, out_dir: str, evolution_after: float) -> None:
        from table2qb_spark.datagen import changelog as gen

        ev = gen.gen_change_log(
            self.spark,
            n_events,
            max(64, n_events // 1000),
            PATHS_PER_REPO,
            seed=self.seed,
            schema_evolution_after=evolution_after,
            n_partitions=2 * cores(),
        )
        gen.write_change_log(ev, out_dir, n_files=2 * cores())


class Replay(Workload):
    # replay ops keep falling for about ten ops; four is what a run's
    # time allows (perfbench/LAYERS.md, "Full warm-up")
    warmup_ops = 4

    def __init__(self, spark, workdir, seed):
        super().__init__(spark, workdir, seed)
        self.n_ops = 0
        self.log_dir = ""
        self.log_bytes = 0

    def setup(self) -> None:
        self.log_dir = os.path.join(self.workdir, "log")
        self._gen_log(REPLAY_EVENTS, self.log_dir, 0.6)
        self.log_glob = os.path.join(self.log_dir, "*.parquet")
        self.log_bytes = sum(tree_bytes(self.log_dir).values())
        self.op_events = int(
            self.con.sql(f"SELECT count(*) FROM read_parquet('{self.log_glob}')").fetchone()[0]
        )
        self.keys = oracle.sample_keys(self.con, self.log_glob, N_KEYS, self.seed)

    def op(self) -> float:
        from table2qb_spark.cdc.apply import ChangeLogReplayer
        from table2qb_spark.lake.table import LakeTable

        old = self.table
        path = os.path.join(self.workdir, f"lake{self.n_ops}")
        self.n_ops += 1
        self.table = LakeTable.create(self.spark, path, LAKE_SCHEMA, KEYS, n_buckets=N_BUCKETS)
        if old is not None:
            shutil.rmtree(old.path)
        replayer = ChangeLogReplayer(
            self.spark, self.table, self.log_dir, batch_events=REPLAY_EVENTS // 2
        )
        t0 = time.perf_counter()
        results = replayer.run()
        self.last_op_s = time.perf_counter() - t0
        if len(results) != 2 or any(r.skipped for r in results):
            raise RuntimeError(f"replay made {len(results)} commits, expected 2")
        written = sum(tree_bytes(os.path.join(path, "data")).values())
        return written / self.log_bytes


class StreamTail(Workload):
    # ops level off after about four (perfbench/LAYERS.md, "Full warm-up")
    warmup_ops = 5

    def __init__(self, spark, workdir, seed):
        super().__init__(spark, workdir, seed)
        self.n_slices = 0
        self.landed = 0
        self.known: dict[str, int] = {}

    def setup(self) -> None:
        """Generate and slice the log, then preload a fresh table (and
        checkpoint) through the stream."""
        from table2qb_spark.cdc.streaming import create_stream_table, run_stream_to_completion

        d = {k: os.path.join(self.workdir, k) for k in ("src", "slices", "watch", "ckpt", "lake")}
        total = STREAM_PRELOAD_EVENTS + SLICE_EVENTS * MAX_SLICES
        # the license field appears at 60 % of the preload, so every timed
        # slice has the same schema and no op carries a schema change
        self._gen_log(total, d["src"], 0.6 * STREAM_PRELOAD_EVENTS / total)
        src = os.path.join(d["src"], "*.parquet")
        os.makedirs(d["slices"])
        preload = os.path.join(d["slices"], "preload.parquet")
        # a connection of its own, closed here, so the in-memory copy of the
        # log does not stay in this process's resident memory
        with oracle.connect() as con:
            con.execute(f"CREATE TEMP TABLE log AS SELECT * FROM read_parquet('{src}')")
            con.execute(
                f"COPY (SELECT * FROM log WHERE seq <= {STREAM_PRELOAD_EVENTS} ORDER BY seq) "
                f"TO '{preload}' (FORMAT PARQUET)"
            )
            for i in range(MAX_SLICES):
                lo = STREAM_PRELOAD_EVENTS + i * SLICE_EVENTS
                con.execute(
                    f"COPY (SELECT * FROM log WHERE seq > {lo} AND seq <= {lo + SLICE_EVENTS} "
                    f"ORDER BY seq) TO '{d['slices']}/slice-{i:05d}.parquet' (FORMAT PARQUET)"
                )
        self.keys = oracle.sample_keys(self.con, src, N_KEYS, self.seed)
        self.dirs = d
        os.makedirs(d["watch"])
        shutil.copy(preload, d["watch"])
        self.log_glob = os.path.join(d["watch"], "*.parquet")
        self.table = create_stream_table(
            self.spark, d["lake"], LAKE_SCHEMA, KEYS, n_buckets=N_BUCKETS
        )
        run_stream_to_completion(self.spark, self.table, d["watch"], d["ckpt"])
        self.landed = STREAM_PRELOAD_EVENTS
        self.known = tree_bytes(os.path.join(d["lake"], "data"))

    def state_seq(self) -> int:
        return self.landed

    def ops_left(self) -> bool:
        return self.n_slices < MAX_SLICES

    def op(self) -> float:
        from table2qb_spark.cdc import streaming

        name = f"slice-{self.n_slices:05d}.parquet"
        dst = os.path.join(self.dirs["watch"], name)
        shutil.copy(os.path.join(self.dirs["slices"], name), dst)
        self.n_slices += 1
        self.op_events = int(
            self.con.sql(f"SELECT count(*) FROM read_parquet('{dst}')").fetchone()[0]
        )
        before = self.table.current_snapshot_id()
        t0 = time.perf_counter()
        streaming.run_stream_to_completion(
            self.spark, self.table, self.dirs["watch"], self.dirs["ckpt"]
        )
        self.last_op_s = time.perf_counter() - t0
        if self.table.current_snapshot_id() == before:
            raise RuntimeError(f"{name} landed but no snapshot was committed")
        self.landed += SLICE_EVENTS
        files = tree_bytes(os.path.join(self.dirs["lake"], "data"))
        added = sum(v for k, v in files.items() if k not in self.known)
        self.known = files
        return added / os.path.getsize(dst)


WORKLOADS = {"replay": Replay, "stream_tail": StreamTail}
