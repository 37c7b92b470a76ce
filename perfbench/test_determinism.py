"""Determinism self-test of the benchmark's inputs and counters.

    python3 -m pytest perfbench/test_determinism.py -q

Two set-ups from one seed give the same log, the same write
amplification (byte for byte) and the same final row count; another seed
gives another log. Takes about two minutes on four cores.
"""

from __future__ import annotations

import os
import shutil

import pytest

from perfbench import run as bench
from perfbench.workloads import WORKLOADS

SEED = 7


@pytest.fixture(scope="module")
def spark_and_dir():
    workdir = os.path.join(os.getcwd(), bench.WORK_DIR, f"selftest-{os.getpid()}")
    os.makedirs(workdir)
    spark = bench.start_spark(workdir, trace=False)
    try:
        yield spark, workdir
    finally:
        bench.stop_spark(spark)
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(workdir))
        except OSError:
            pass  # a benchmark run's scratch is still there


def one_op(spark, workdir: str, name: str, seed: int, tag: str) -> dict:
    sub = os.path.join(workdir, f"{name}-{tag}")
    os.makedirs(sub)
    w = WORKLOADS[name](spark, sub, seed)
    try:
        w.setup()
        digest = w.con.sql(
            "SELECT count(*), sum(hash(seq, op, repo, path, content, payload_json)) "
            f"FROM read_parquet('{w.log_glob}')"
        ).fetchone()
        write_amp = w.op()
        return {
            "log": digest,
            "write_amp": write_amp,
            "rows": w.table.read_live().count(),
            "problems": w.check(),
        }
    finally:
        w.close()
        shutil.rmtree(sub, ignore_errors=True)


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_same_seed_same_counters_other_seed_other_log(spark_and_dir, name):
    spark, workdir = spark_and_dir
    a = one_op(spark, workdir, name, SEED, "a")
    b = one_op(spark, workdir, name, SEED, "b")
    c = one_op(spark, workdir, name, SEED + 1, "c")
    assert a["problems"] == [] and b["problems"] == [] and c["problems"] == []
    assert a["log"] == b["log"]
    assert a["write_amp"] == b["write_amp"]
    assert a["rows"] == b["rows"]
    assert c["log"] != a["log"]
