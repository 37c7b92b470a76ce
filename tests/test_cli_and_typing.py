"""CLI entry point + typed-view tests."""

import json
import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from table2qb_spark.config.cube import get_cube_configuration
from table2qb_spark.config.typing import typed_view
from table2qb_spark.pipelines.cube import observation_records_df
from tests.conftest import example_csv

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_cli_list():
    out = subprocess.run(
        [sys.executable, "-m", "table2qb_spark.main", "list"],
        capture_output=True, text=True, cwd=REPO, check=True,
    ).stdout
    assert "cube-pipeline" in out and "codelist-pipeline" in out


def test_cli_datagen_and_replay(tmp_path):
    events = str(tmp_path / "ev")
    table = str(tmp_path / "lake")
    import os

    env = {**os.environ, "SPARK_GRAFT_CPUS": "4"}
    subprocess.run(
        [sys.executable, "-m", "table2qb_spark.main", "datagen",
         "--out", events, "--events-n", "2000", "--repos", "10",
         "--paths-per-repo", "30", "--files", "4"],
        capture_output=True, text=True, cwd=REPO, check=True, env=env,
    )
    subprocess.run(
        [sys.executable, "-m", "table2qb_spark.main", "cdc-init",
         "--table", table, "--buckets", "4"],
        capture_output=True, text=True, cwd=REPO, check=True, env=env,
    )
    out = subprocess.run(
        [sys.executable, "-m", "table2qb_spark.main", "cdc-replay",
         "--table", table, "--events", events, "--batch-events", "1000"],
        capture_output=True, text=True, cwd=REPO, check=True, env=env,
    ).stdout
    res = json.loads(out.strip().splitlines()[-1])
    assert res["batches_applied"] == 2 and res["rows"] > 0

    status = subprocess.run(
        [sys.executable, "-m", "table2qb_spark.main", "cdc-status", "--table", table],
        capture_output=True, text=True, cwd=REPO, check=True, env=env,
    ).stdout
    s = json.loads(status)
    assert s["summary"]["last_batch"] == 1

    # cdc-export: current state to parquet (footer-counted rows), then a
    # time-travel export at the first APPLIED snapshot (snapshot 1 is
    # cdc-init's empty table, so the first batch lands as snapshot 2) —
    # fewer or equal rows than current, proving the read resolves the OLD
    # manifest set.
    exp = str(tmp_path / "export")
    out = subprocess.run(
        [sys.executable, "-m", "table2qb_spark.main", "cdc-export",
         "--table", table, "--out", exp],
        capture_output=True, text=True, cwd=REPO, check=True, env=env,
    ).stdout
    e = json.loads(out.strip().splitlines()[-1])
    assert e["rows"] == res["rows"] and e["snapshot"] == res["snapshot"]

    exp_old = str(tmp_path / "export_old")
    out = subprocess.run(
        [sys.executable, "-m", "table2qb_spark.main", "cdc-export",
         "--table", table, "--out", exp_old, "--snapshot", "2",
         "--columns", "repo,path"],
        capture_output=True, text=True, cwd=REPO, check=True, env=env,
    ).stdout
    e_old = json.loads(out.strip().splitlines()[-1])
    assert e_old["snapshot"] == 2 and 0 < e_old["rows"] <= e["rows"]
    import pyarrow.parquet as pq
    import glob as _glob

    cols = pq.read_schema(
        _glob.glob(f"{exp_old}/*.parquet")[0]
    ).names
    assert cols == ["repo", "path"]

    # --shards: deterministic training-shard export — shard=K partition
    # dirs, every live row present exactly once, pos dense per shard
    exp_sh = str(tmp_path / "export_sharded")
    out = subprocess.run(
        [sys.executable, "-m", "table2qb_spark.main", "cdc-export",
         "--table", table, "--out", exp_sh, "--shards", "4",
         "--shard-key", "path"],
        capture_output=True, text=True, cwd=REPO, check=True, env=env,
    ).stdout
    e_sh = json.loads(out.strip().splitlines()[-1])
    assert e_sh["rows"] == e["rows"] and e_sh["shards"] == 4
    shard_dirs = sorted(
        p.split("=")[-1] for p in _glob.glob(f"{exp_sh}/shard=*")
    )
    assert set(shard_dirs) <= {"0", "1", "2", "3"} and len(shard_dirs) > 1

    # --shards without --shard-key fails loudly
    bad = subprocess.run(
        [sys.executable, "-m", "table2qb_spark.main", "cdc-export",
         "--table", table, "--out", str(tmp_path / "x"), "--shards", "4"],
        capture_output=True, text=True, cwd=REPO, env=env,
    )
    assert bad.returncode == 1 and "--shard-key" in bad.stderr

    # --as-of: time travel by timestamp — snapshot 2's commit time must
    # resolve back to snapshot 2 (ms-granularity commits: use its exact ts)
    ts2 = json.loads(
        open(f"{table}/_meta/v00000002.json").read()
    )["timestamp_ms"]
    out = subprocess.run(
        [sys.executable, "-m", "table2qb_spark.main", "cdc-export",
         "--table", table, "--out", str(tmp_path / "export_asof"),
         "--as-of", str(ts2)],
        capture_output=True, text=True, cwd=REPO, check=True, env=env,
    ).stdout
    e_asof = json.loads(out.strip().splitlines()[-1])
    assert e_asof["snapshot"] == 2 and e_asof["rows"] == e_old["rows"]

    # --as-of + --snapshot together fails loudly
    bad2 = subprocess.run(
        [sys.executable, "-m", "table2qb_spark.main", "cdc-export",
         "--table", table, "--out", str(tmp_path / "y"),
         "--as-of", str(ts2), "--snapshot", "2"],
        capture_output=True, text=True, cwd=REPO, env=env,
    )
    assert bad2.returncode == 1 and "mutually exclusive" in bad2.stderr

    # --where: predicate-pruned export (value outside every file's range
    # prunes ALL files at plan time and yields an empty, correct export)
    out = subprocess.run(
        [sys.executable, "-m", "table2qb_spark.main", "cdc-export",
         "--table", table, "--out", str(tmp_path / "export_none"),
         "--where", "repo=zzz-no-such-repo"],
        capture_output=True, text=True, cwd=REPO, check=True, env=env,
    ).stdout
    e_none = json.loads(out.strip().splitlines()[-1])
    assert e_none["rows"] == 0 and e_none["files_pruned"] == e_none["files_total"] > 0
    # a --where naming no column is an error message, not a traceback
    bad3 = subprocess.run(
        [sys.executable, "-m", "table2qb_spark.main", "cdc-export",
         "--table", table, "--out", str(tmp_path / "z"), "--where", "nope>=1"],
        capture_output=True, text=True, cwd=REPO, env=env,
    )
    assert bad3.returncode == 1 and "unknown column 'nope'" in bad3.stderr

    # --format jsonl: one JSON object per line, every live row exported
    exp_jl = str(tmp_path / "export_jsonl")
    out = subprocess.run(
        [sys.executable, "-m", "table2qb_spark.main", "cdc-export",
         "--table", table, "--out", exp_jl, "--format", "jsonl",
         "--columns", "repo,path"],
        capture_output=True, text=True, cwd=REPO, check=True, env=env,
    ).stdout
    e_jl = json.loads(out.strip().splitlines()[-1])
    assert e_jl["format"] == "jsonl" and e_jl["rows"] is None
    lines = []
    for p in _glob.glob(f"{exp_jl}/part-*"):
        with open(p, encoding="utf-8") as f:
            lines += [json.loads(l) for l in f if l.strip()]
    assert len(lines) == e["rows"]
    assert all(set(l) == {"repo", "path"} for l in lines)


def test_typed_view(spark, default_config, reference_available):
    src = example_csv("regional-trade", "input.csv")
    cfg = get_cube_configuration(src, default_config, spark=spark)
    raw = spark.read.option("header", True).option("inferSchema", False).csv(src)
    obs = observation_records_df(raw, cfg)
    typed = typed_view(obs, cfg)
    # Value declared number -> double; dimensions stay strings
    types = dict(typed.dtypes)
    assert types["value"] == "double"
    assert types["geography"] == "string"
    total = typed.agg(F.sum("value")).collect()[0][0]
    assert total and total > 0


def test_typed_view_strict_raises(spark, default_config):
    from table2qb_spark.config.columns import load_column_configuration

    cols = load_column_configuration(
        "title,name,component_attachment,property_template,datatype\n"
        "Date,date,qb:dimension,http://p/refPeriod,string\n"
        "Measure Type,measure_type,qb:dimension,http://purl.org/linked-data/cube#measureType,string\n"
        "Count,count,qb:measure,http://p/count,number\n"
        "Value,value,,http://p/{measure_type},number\n"
    )
    df = spark.createDataFrame(
        [("2011", "Count", "not_a_number")], ["Date", "Measure Type", "Value"]
    )
    cfg = get_cube_configuration(df, cols)
    obs = observation_records_df(df, cfg)
    with pytest.raises(Exception, match="cannot cast"):
        typed_view(obs, cfg).collect()


class TestCliErrorParity:
    """Reference main_test.clj:42-47 behavior: bad invocations print to
    stderr and exit non-zero (in-process: no Spark session is started on any
    of these paths, so they are fast)."""

    def _main(self, argv):
        from table2qb_spark.main import main

        return main(argv)

    def test_missing_required_argument(self, capsys):
        with pytest.raises(SystemExit) as e:
            self._main(["cube-pipeline", "--dataset-name", "X"])
        assert e.value.code == 2
        err = capsys.readouterr().err
        assert "Missing required argument" in err and "--input-csv" in err

    def test_unknown_task(self, capsys):
        with pytest.raises(SystemExit) as e:
            self._main(["no-such-task"])
        assert e.value.code == 2
        assert capsys.readouterr().err != ""

    def test_exec_missing_required_argument_parity(self, capsys):
        """main_test.clj:42-47: `exec cube-pipeline` with no args prints
        'Missing required argument' to stderr and exits non-zero."""
        rc = self._main(["exec", "cube-pipeline"])
        assert rc == 2
        err = capsys.readouterr().err
        assert "Missing required argument" in err and "--input-csv" in err
        assert "--output-file" in err

    def test_csvw_requires_output_directory(self, capsys):
        rc = self._main([
            "csvw", "components-pipeline", "--input-csv", "/nope.csv",
        ])
        assert rc == 2
        assert "--output-directory" in capsys.readouterr().err

    def test_exec_unknown_pipeline(self, capsys):
        rc = self._main(["exec", "bogus-pipeline", "--output-file", "/tmp/x.nt"])
        assert rc == 2
        assert "unknown pipeline" in capsys.readouterr().err

    def test_missing_input_file_fails_before_spark(self, capsys):
        with pytest.raises(SystemExit) as e:
            self._main([
                "cube-pipeline", "--input-csv", "/nope/missing.csv",
                "--dataset-name", "X", "--dataset-slug", "x",
                "--column-config", "/nope/columns.csv",
                "--output-directory", "/tmp/x",
            ])
        assert e.value.code == 1
        assert "not found" in capsys.readouterr().err

    def test_describe_unknown_pipeline(self, capsys):
        rc = self._main(["describe", "bogus-pipeline"])
        assert rc == 2
        assert "unknown pipeline" in capsys.readouterr().err


class TestExecTask:
    """Reference main_test.clj:52-105 re-encoded: `exec <pipeline>
    --output-file f` succeeds and f contains valid RDF (>1 statement);
    `csvw` writes CSVW artifacts only."""

    def _main(self, argv):
        from table2qb_spark.main import main

        return main(argv)

    def test_exec_codelist_writes_single_rdf_file(self, spark, reference_available, tmp_path, capsys):
        from table2qb_spark.pipelines.rdf import split_nquad

        out = str(tmp_path / "gender.nt")
        rc = self._main([
            "exec", "codelist-pipeline",
            "--codelist-csv", "/root/reference/examples/employment/csv/gender.csv",
            "--codelist-name", "gender", "--codelist-slug", "gender",
            "--base-uri", "http://base/uri/",
            "--output-file", out,
        ])
        assert rc == 0
        with open(out) as fh:
            stmts = [split_nquad(l.strip()) for l in fh if l.strip()]
        assert len(stmts) > 1  # "Contains valid RDF"
        assert all(s[0].startswith("<") and s[3] is None for s in stmts)

    def test_exec_with_graph_writes_trig(self, spark, reference_available, tmp_path):
        out = str(tmp_path / "gender.trig")
        rc = self._main([
            "exec", "codelist-pipeline",
            "--codelist-csv", "/root/reference/examples/employment/csv/gender.csv",
            "--codelist-name", "gender", "--codelist-slug", "gender",
            "--output-file", out, "--graph", "http://ex.org/g",
        ])
        assert rc == 0
        text = open(out).read()
        assert text.startswith("<http://ex.org/g> {")
        assert text.rstrip().endswith("}")

    def test_csvw_writes_artifacts_without_rdf(self, spark, reference_available, tmp_path):
        d = str(tmp_path / "csvw_out")
        rc = self._main([
            "csvw", "components-pipeline",
            "--input-csv", "/root/reference/examples/employment/csv/components.csv",
            "--output-directory", d,
        ])
        assert rc == 0
        files = os.listdir(d)
        assert "metadata.json" in files
        assert not any(f.startswith("_rdf") for f in files)


class TestUrisAndHelpTasks:
    """Reference-parity `uris` and `help` CLI tasks (cli/tasks.clj:50-84,
    311-328): the defaults table must carry exactly the templates of the
    reference's own EDN resources (resources/templates/*.edn), variable docs
    must match the integrant config's :template-vars/:csvw-vars, and an EDN
    overrides file must resolve with merge semantics (unknown keys ignored)."""

    REF_TEMPLATES = "/root/reference/resources/templates"

    def _run(self, *argv):
        from table2qb_spark.main import main
        return main(list(argv))

    @pytest.mark.parametrize("pipeline,edn", [
        ("codelist-pipeline", "codelist-pipeline-uris.edn"),
        ("components-pipeline", "components-pipeline-uris.edn"),
        ("cube-pipeline", "cube-pipeline-uris.edn"),
    ])
    def test_defaults_match_reference_edn(self, pipeline, edn, capsys, reference_available):
        from table2qb_spark.pipelines.templates import read_edn_uris

        ref = read_edn_uris(os.path.join(self.REF_TEMPLATES, edn))
        assert self._run("uris", pipeline) == 0
        out = capsys.readouterr().out
        assert "URIs:" in out and "Template variables:" in out and "CSVW variables:" in out
        for key, val in ref.items():
            assert f":{key}" in out
            if isinstance(val, str):
                assert json.dumps(val) in out  # pr-str form: quoted
            else:
                assert "[" + " ".join(json.dumps(v) for v in val) + "]" in out

    def test_template_and_csvw_vars_documented(self, capsys):
        assert self._run("uris", "codelist-pipeline") == 0
        out = capsys.readouterr().out
        assert "$(base-uri)" in out and "$(codelist-slug)" in out
        assert "{notation}" in out.split("CSVW variables:")[1]
        assert self._run("uris", "components-pipeline") == 0
        out = capsys.readouterr().out
        assert "{component_type_slug}" in out.split("CSVW variables:")[1]

    def test_overrides_resolve_with_merge_semantics(self, tmp_path, capsys):
        ov = tmp_path / "ov.edn"
        ov.write_text(
            '; comment line\n'
            '{:codelist-uri "https://x/$(codelist-slug)#id"\n'
            ' :bogus-key "must be ignored"}\n'
        )
        assert self._run("uris", "codelist-pipeline", str(ov)) == 0
        out = capsys.readouterr().out
        assert "https://x/$(codelist-slug)#id" in out
        assert "bogus-key" not in out and "must be ignored" not in out
        # non-overridden keys keep their defaults (raw, not pr-str, in the
        # resolved branch — reference prints the value object directly)
        assert "$(base-uri)/def/concept/$(codelist-slug)/{notation}" in out
        assert "Template" in out  # resolved-table header

    def test_uris_without_pipeline_prints_usage(self, capsys):
        assert self._run("uris") == 0
        out = capsys.readouterr().out
        assert "Usage: table2qb uris pipeline-name [uri-templates]" in out
        assert "cube-pipeline" in out

    def test_uris_unknown_pipeline_errors(self, capsys):
        assert self._run("uris", "nope-pipeline") == 2
        assert "Unknown pipeline" in capsys.readouterr().err

    def test_help_lists_tasks_and_describes(self, capsys):
        assert self._run("help") == 0
        out = capsys.readouterr().out
        for t in ("list", "describe", "csvw", "exec", "uris", "cdc-replay"):
            assert t in out
        assert self._run("help", "list") == 0
        assert "Lists the available pipelines" in capsys.readouterr().out
        assert self._run("help", "uris") == 0
        assert "Usage: table2qb uris pipeline-name" in capsys.readouterr().out
        assert self._run("help", "wat") == 2
        assert "Unknown task name wat" in capsys.readouterr().err


class TestCdcHotkeysCLI:
    def _main(self, argv):
        from table2qb_spark.main import main

        return main(argv)

    def test_hotkeys_reports_top_keys(self, spark, tmp_path, capsys):
        import json as _json

        ev = str(tmp_path / "events.parquet")
        rows = [(i, "hot", "a.py") for i in range(30)] + [(100, "cold", "b.py")]
        spark.createDataFrame(rows, "seq long, repo string, path string") \
            .write.parquet(ev)
        rc = self._main(["cdc-hotkeys", "--events", ev,
                         "--keys", "repo,path", "--top", "1"])
        assert rc == 0
        out = [_json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
        assert out == [{"repo": "hot", "path": "a.py", "n_events": 30,
                        "pct_of_batch": round(30 / 31 * 100, 4)}]

    def test_hotkeys_bad_key_column(self, spark, tmp_path, capsys):
        ev = str(tmp_path / "e.parquet")
        spark.createDataFrame([(1, "r")], "seq long, repo string").write.parquet(ev)
        rc = self._main(["cdc-hotkeys", "--events", ev, "--keys", "nope"])
        assert rc == 1
        assert "key columns not in events" in capsys.readouterr().err


class TestCdcSchemaCLI:
    def _main(self, argv):
        from table2qb_spark.main import main

        return main(argv)

    def test_schema_history_shows_rename_lineage(self, spark, tmp_path, capsys):
        import json as _json

        from table2qb_spark.lake.table import LakeTable

        t = LakeTable.create(
            spark, str(tmp_path / "t"),
            [("repo", "string"), ("path", "string"), ("license", "string")],
            ["repo", "path"], n_buckets=2,
        )
        t.evolve_schema(add_columns=[("lang", "string")])
        t.evolve_schema(rename_columns={"license": "licence"})

        rc = self._main(["cdc-schema", "--table", t.path, "--history"])
        assert rc == 0
        out = _json.loads(capsys.readouterr().out)
        assert out["schema_version"] == 3
        assert [c["name"] for c in out["columns"]] == [
            "repo", "path", "licence", "lang"
        ]
        assert sorted(out["versions"]) == ["1", "2", "3"]
        lineage = out["column_lineage"]
        renamed = [e for e in lineage.values() if e["renamed"]]
        assert len(renamed) == 1
        assert renamed[0]["names"] == ["license", "licence"]
        lang = [e for e in lineage.values() if e["names"] == ["lang"]]
        assert lang and lang[0]["first_version"] == 2
