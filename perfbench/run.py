"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload replay --seed 1 --seconds 6 --trace 0

Run from the repository root. Everything the run writes goes to a scratch
directory under ``.perfbench_work/`` in the current directory, removed at
the end. The last stdout line is ``{"correct", "attempted", "failed",
"metrics"}``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics (``perfbench/LAYERS.md``) with ``--trace 1``. The line before it
holds diagnostics: every op time, sample counts, the scratch filesystem
and whether the timed ops still trended down.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import nullcontext

T_START = time.time()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MIN_OPS = 3
READ_SETS = 5
READ_WARMUP = 2
MB = 1 << 20
DRIVER_MEMORY = "2g"
WORK_DIR = ".perfbench_work"


def log(msg: str) -> None:
    print(f"[perfbench {time.time() - T_START:7.1f}s] {msg}", file=sys.stderr, flush=True)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def fs_type(path: str) -> str:
    """Filesystem type of the mount holding ``path`` (from /proc/mounts)."""
    path = os.path.realpath(path)
    best, kind = "", "unknown"
    with open("/proc/mounts", encoding="utf-8") as f:
        for line in f:
            _dev, mnt, typ = line.split()[:3]
            if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) and len(mnt) > len(best):
                best, kind = mnt, typ
    return kind


def rss_mb() -> float:
    """Resident memory of this process."""
    with open("/proc/self/status", encoding="utf-8") as f:
        for line in f:
            if line.startswith("VmRSS:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def trending(xs: list[float]) -> bool:
    """True when the last third of the ops ran >10 % faster than the first
    third: warm-up was still going on while they were timed."""
    k = len(xs) // 3
    return k > 0 and median(xs[-k:]) < 0.9 * median(xs[:k])


def start_spark(workdir: str, trace: bool):
    from table2qb_spark import session

    local = os.path.join(workdir, "spark_local")
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = local
    os.environ["TMPDIR"] = tmp
    # a fixed, small heap: resident memory then tracks what the run keeps,
    # not how far the collector let an 8 GiB heap grow
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if trace:
        os.makedirs(os.path.join(workdir, "eventlog"))
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + os.path.join(workdir, "eventlog")
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    from perfbench.workloads import cores

    spark = session.get_spark(
        app_name="perfbench", master=f"local[{cores()}]", extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


class Samples:
    def __init__(self):
        self.op_s: list[float] = []
        self.op_events: list[int] = []
        self.write_amp: list[float] = []
        self.lookup_s: list[float] = []
        self.cube_s: list[float] = []
        # (state seq, key, content_sha of every live row found) of every
        # timed lookup
        self.lookups: list[tuple] = []
        self.attempted = 0
        self.failed = 0


def read_set(w, index: int, samples: Samples | None, tracer) -> None:
    """``LOOKUPS`` point lookups, then one cube build to the noop sink."""
    from table2qb_spark.pipelines import lake_cube
    from perfbench.workloads import LOOKUPS

    for j in range(LOOKUPS):
        key = w.keys[(index * LOOKUPS + j) % len(w.keys)]
        t0 = time.perf_counter()
        with span(tracer, "op:lookup"):
            rows = w.table.lookup(dict(zip(("repo", "path"), key))).collect()
        dt = time.perf_counter() - t0
        live = [r["content_sha"] for r in rows if not r.asDict().get("_deleted")]
        if samples is not None:
            samples.lookup_s.append(dt)
            samples.lookups.append((w.state_seq(), key, live))
    t0 = time.perf_counter()
    with span(tracer, "op:cube"):
        cube = lake_cube.build_lake_cube(w.spark, w.table)
        cube["observations"].write.format("noop").mode("overwrite").save()
    if samples is not None:
        samples.cube_s.append(time.perf_counter() - t0)


def span(tracer, name):
    return tracer.span(name) if tracer is not None else nullcontext()


def check_lookups(w, samples: Samples) -> list[str]:
    from perfbench import oracle

    problems = []
    by_state: dict = {}
    for seq, key, shas in samples.lookups:
        by_state.setdefault(seq, []).append((key, shas))
    for seq, got in by_state.items():
        want = oracle.key_states(w.con, w.log_glob, sorted({k for k, _ in got}), seq)
        # exactly one live row for a live key, none for a deleted one
        bad = [k for k, shas in got if shas != ([want[k]] if want[k] else [])]
        if bad:
            problems.append(f"{len(bad)} lookups at seq {seq} differ, e.g. {bad[0]}")
    return problems


def run(workload: str, seed: int, seconds: int, trace: bool) -> tuple[dict, dict]:
    from perfbench.workloads import LOOKUPS, WORKLOADS, cores

    workdir = os.path.join(os.getcwd(), WORK_DIR, f"{workload}-{seed}-{os.getpid()}")
    if os.path.exists(workdir):
        shutil.rmtree(workdir)
    os.makedirs(workdir)
    tracer = None
    if trace:
        from perfbench.trace import Tracer

        tracer = Tracer()
        tracer.install()
    spark = None
    w = None
    try:
        t0 = time.perf_counter()
        with span(tracer, "op:session"):
            spark = start_spark(workdir, trace)
        session_s = time.perf_counter() - t0
        log(f"session {session_s:.2f}s")
        w = WORKLOADS[workload](spark, workdir, seed)
        t0 = time.perf_counter()
        with span(tracer, "op:setup"):
            w.setup()
        workload_setup_s = time.perf_counter() - t0
        log(f"workload set-up {workload_setup_s:.2f}s")
        t0 = time.perf_counter()
        warm = []
        for _ in range(w.warmup_ops):
            with span(tracer, "op:warmup"):
                w.op()
            warm.append(w.last_op_s)
        warmup_s = time.perf_counter() - t0
        log(f"warm-up ops {[round(x, 2) for x in warm]}")

        # timed ingest ops: at least MIN_OPS, then only while the next op
        # (as long as the last one) still ends within ``seconds``
        s = Samples()
        t_loop = time.perf_counter()
        op_s = 0.0
        while w.ops_left() and (
            s.attempted < MIN_OPS or time.perf_counter() - t_loop + op_s <= seconds
        ):
            t_op = time.perf_counter()
            s.attempted += 1
            try:
                with span(tracer, "op:ingest"):
                    s.write_amp.append(w.op())
                s.op_s.append(w.last_op_s)
                s.op_events.append(w.op_events)
            except Exception:
                traceback.print_exc()
                s.failed += 1
            op_s = time.perf_counter() - t_op
        loop_s = time.perf_counter() - t_loop
        log(f"timed ops {[round(x, 2) for x in s.op_s]}")

        # the read phase, on the snapshot the last op committed. The first
        # read sets run slower (the first is JIT-cold), so READ_WARMUP
        # untimed ones come first.
        t0 = time.perf_counter()
        for i in range(READ_WARMUP):
            with span(tracer, "op:warmup"):
                read_set(w, i, None, None)
        read_warmup_s = time.perf_counter() - t0
        for i in range(READ_SETS):
            s.attempted += LOOKUPS + 1
            try:
                read_set(w, READ_WARMUP + i, s, tracer)
            except Exception:
                traceback.print_exc()
                s.failed += LOOKUPS + 1
        log(f"lookups {[round(x, 3) for x in s.lookup_s]} cubes {[round(x, 3) for x in s.cube_s]}")

        # memory the run retains: Python's resident set plus the JVM's heap
        # and non-heap in use after a full collection
        gc.collect()
        jvm = spark.sparkContext._jvm
        jvm.java.lang.System.gc()
        mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        retained = rss_mb() + (
            mx.getHeapMemoryUsage().getUsed() + mx.getNonHeapMemoryUsage().getUsed()
        ) / MB
        problems = w.check() + check_lookups(w, s)
        for p in problems:
            log(f"CHECK FAILED: {p}")
        if problems:
            s.failed = s.attempted
        stop_spark(spark)
        spark = None

        op_p50 = median(s.op_s)
        metrics = {
            "setup_s": (session_s + workload_setup_s + warmup_s, "s"),
            "op_p50_s": (op_p50, "s"),
            "events_per_s": (median(s.op_events) / op_p50 if op_p50 else 0.0, "events/s"),
            "lookup_p50_s": (median(s.lookup_s), "s"),
            "cube_p50_s": (median(s.cube_s), "s"),
            "write_amp": (median(s.write_amp), "ratio"),
            "retained_mb": (retained, "MB"),
        }
        diagnostics = {
            "workload": workload,
            "seed": seed,
            "ops": len(s.op_s),
            "timed_s": round(loop_s, 3),
            "lookups": len(s.lookup_s),
            "cube_builds": len(s.cube_s),
            "op_s": [round(x, 4) for x in s.op_s],
            "trending": trending(s.op_s),
            "session_s": round(session_s, 3),
            "workload_setup_s": round(workload_setup_s, 3),
            "warmup_s": round(warmup_s, 3),
            "warmup_op_s": [round(x, 4) for x in warm],
            "read_warmup_s": round(read_warmup_s, 3),
            "scratch_fs": fs_type(workdir),
            "cores": cores(),
            "problems": problems,
        }
        if trace:
            from perfbench.layers import layer_metrics

            metrics = layer_metrics(tracer, os.path.join(workdir, "eventlog"), s)
        result = {
            "correct": not problems and s.failed == 0,
            "attempted": s.attempted,
            "failed": s.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        return result, diagnostics
    finally:
        if tracer is not None:
            tracer.restore()
        if w is not None:
            w.close()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(workdir))
        except OSError:
            pass  # another run's scratch is still there


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["replay", "stream_tail"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    sys.path.insert(0, ROOT)
    if not os.path.isfile(os.path.join(ROOT, "table2qb_spark", "__init__.py")):
        print(f"perfbench: no table2qb_spark package under {ROOT}", file=sys.stderr)
        return 2
    result, diagnostics = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps({"diagnostics": diagnostics}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
