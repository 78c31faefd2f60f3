"""CLI end-to-end through spark-submit (north rule: runs via
spark-submit --py-files; exit codes 0/1/2 like the reference CLI,
script/json-schema-eval:131,250-252)."""

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SPEC = {
    "type": "object",
    "required": ["doc_id", "tokens", "n_tok", "source"],
    "properties": {
        "tokens": {"type": "array",
                   "items": {"type": "integer", "minimum": 0, "maximum": 50256}},
        "source": {"$ref": "https://ex.org/lib#/$defs/known_source"},
    },
    "x-unique": ["doc_id"],
}

LIB = {"$id": "https://ex.org/lib",
       "$defs": {"known_source": {"enum": ["web", "books", "code", "wiki", "forums"]}}}


@pytest.fixture(scope="module")
def cli_data(spark, tmp_path_factory):
    from json_schema_modern_spark.sources.sequences import sequences_df

    d = tmp_path_factory.mktemp("cli")
    table = str(d / "tokens")
    sequences_df(spark, 800, seed=42, corrupt=True).write.parquet(table)
    spec_path = str(d / "spec.json")
    lib_path = str(d / "lib.json")
    with open(spec_path, "w") as f:
        json.dump(SPEC, f)
    with open(lib_path, "w") as f:
        json.dump(LIB, f)
    return d, table, spec_path, lib_path


def _run_cli(args, timeout=240):
    env = dict(os.environ, SPARK_GRAFT_CPUS="4", PYTHONPATH=REPO)
    return subprocess.run(
        [sys.executable, "-m", "json_schema_modern_spark.cli", *args],
        capture_output=True, text=True, timeout=timeout, env=env, cwd=REPO,
    )


def test_cli_exit_codes_and_output(cli_data):
    d, table, spec_path, lib_path = cli_data
    out_dir = str(d / "run1")
    r = _run_cli(["--spec", spec_path, "--add-schema", lib_path,
                  "--table", table, "--output", out_dir, "--n-buckets", "4",
                  "--contract-schema"])
    assert r.returncode == 1, r.stderr[-2000:]      # corrupt data → invalid
    line = [ln for ln in r.stdout.splitlines() if ln.startswith("{")][-1]
    payload = json.loads(line)
    assert payload["valid"] is False and payload["violations"] > 0
    assert payload["buckets_done"] == 4
    assert os.path.exists(os.path.join(out_dir, "violations"))
    assert os.path.exists(os.path.join(out_dir, "lineage"))

    # resume: same snapshot+spec → all buckets skipped, same count
    r2 = _run_cli(["--spec", spec_path, "--add-schema", lib_path,
                   "--table", table, "--output", out_dir, "--n-buckets", "4",
                   "--contract-schema", "--resume", "--snapshot-id", "unpinned"])
    p2 = json.loads([ln for ln in r2.stdout.splitlines() if ln.startswith("{")][-1])
    assert p2["buckets_skipped"] == 4 and p2["buckets_done"] == 0
    assert p2["violations"] == payload["violations"]


def test_cli_output_format(cli_data):
    d, table, spec_path, lib_path = cli_data
    out_dir = str(d / "fmt")
    r = _run_cli(["--spec", spec_path, "--add-schema", lib_path,
                  "--table", table, "--output", out_dir,
                  "--output-format", "basic"])
    assert r.returncode == 1, r.stderr[-2000:]
    payload = json.loads([ln for ln in r.stdout.splitlines()
                          if ln.startswith("{")][-1])
    # corrupt generator appends duplicate rows, so rows >= n requested
    assert payload["valid"] is False and payload["output_format"] == "basic"
    assert payload["rows"] >= 800
    assert os.path.exists(os.path.join(out_dir, "results_basic"))


def test_cli_flag_only_and_check_only(cli_data):
    d, table, spec_path, lib_path = cli_data
    r = _run_cli(["--spec", spec_path, "--add-schema", lib_path,
                  "--table", table, "--flag-only"])
    assert r.returncode == 1
    assert json.loads([ln for ln in r.stdout.splitlines()
                       if ln.startswith("{")][-1]) == {"valid": False}

    r = _run_cli(["--spec", spec_path, "--check-only"])
    # spec references https://ex.org/lib which is NOT registered in
    # check-only mode → traverse-phase error, exit 1
    assert r.returncode == 1

    r = _run_cli(["--spec", str(d / "nope.json"), "--table", table])
    assert r.returncode == 2                        # unreadable spec → exception


def test_cli_check_only_metaschema_tier(tmp_path):
    """--check-only runs validate_schema FIRST (Modern.pm:491-511): a spec
    that is not a valid schema document is rejected by the metaschema
    tier with errors, before any Spark work."""
    bad = tmp_path / "bad_spec.json"
    bad.write_text(json.dumps({"type": None}))
    r = _run_cli(["--spec", str(bad), "--check-only"])
    assert r.returncode == 1
    payload = json.loads([ln for ln in r.stdout.splitlines()
                          if ln.startswith("{")][-1])
    assert payload["valid"] is False
    assert any("metaschema" in e for e in payload["errors"])

    ok = tmp_path / "ok_spec.json"
    ok.write_text(json.dumps({"type": "object",
                              "properties": {"n_tok": {"minimum": 0}}}))
    r = _run_cli(["--spec", str(ok), "--check-only"])
    assert r.returncode == 0


def test_cli_json_col_tier(cli_data, spark, tmp_path_factory):
    """--json-col + --tier: the evaluate_json_string analogue through the
    CLI, hybrid routing between the typed plan and the executor-side
    python tier (the >int64 and null-property rows take the python
    path)."""
    d = tmp_path_factory.mktemp("cli_json")
    table = str(d / "docs")
    spark.createDataFrame(
        [("d1", '{"a": 5}'),
         ("d2", '{"a": null}'),
         ("d3", '{"a": 99999999999999999999}')],
        "doc_id string, payload string").write.parquet(table)
    spec_path = str(d / "spec.json")
    with open(spec_path, "w") as f:
        json.dump({"type": "object", "required": ["a"],
                   "properties": {"a": {"type": ["integer", "null"],
                                        "maximum": 80}}}, f)
    out_dir = str(d / "out")
    r = _run_cli(["--spec", spec_path, "--table", table,
                  "--json-col", "payload", "--tier", "hybrid",
                  "--id-col", "doc_id", "--output", out_dir])
    assert r.returncode == 1, r.stderr[-2000:]   # d3 exceeds maximum
    line = json.loads([ln for ln in r.stdout.splitlines()
                       if ln.startswith("{")][-1])
    assert line == {"valid": False, "tier": "hybrid", "violations": 1}
    import glob as _glob

    assert _glob.glob(os.path.join(out_dir, "violations_json", "*.parquet"))
    # the summary's violation count is the number of rows written
    assert spark.read.parquet(os.path.join(out_dir, "violations_json")).count() \
        == line["violations"]

    # all-valid input → exit 0 on the python tier
    table2 = str(d / "docs2")
    spark.createDataFrame([("d1", '{"a": 5}'), ("d2", '{"a": null}')],
                          "doc_id string, payload string").write.parquet(table2)
    r = _run_cli(["--spec", spec_path, "--table", table2,
                  "--json-col", "payload", "--tier", "python",
                  "--id-col", "doc_id", "--flag-only"])
    assert r.returncode == 0, r.stderr[-2000:]


def test_cli_via_spark_submit_py_files(cli_data, tmp_path):
    """The deployment path the north rule names, end-to-end for real:
    zip the package, copy cli.py OUTSIDE the repo (so the package can
    resolve ONLY from the --py-files zip), run `spark-submit --py-files
    jsms.zip cli.py ...` from a scrubbed cwd, assert the exit-code
    contract and the one-line JSON summary."""
    import shutil

    spark_submit = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"
    if not os.path.exists(spark_submit):
        pytest.skip("spark-submit not on this machine")

    d, table, spec_path, lib_path = cli_data
    zip_base = str(tmp_path / "jsms")
    shutil.make_archive(zip_base, "zip", root_dir=REPO,
                        base_dir="json_schema_modern_spark")
    launcher = str(tmp_path / "cli.py")
    shutil.copy(os.path.join(REPO, "json_schema_modern_spark", "cli.py"),
                launcher)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_CPUS"] = "2"
    out_dir = str(tmp_path / "run_submit")
    r = subprocess.run(
        [spark_submit, "--master", "local[2]",
         "--conf", "spark.driver.memory=4g",
         "--conf", "spark.sql.shuffle.partitions=4",
         "--conf", "spark.ui.enabled=false",
         "--py-files", zip_base + ".zip", launcher,
         "--spec", spec_path, "--add-schema", lib_path,
         "--table", table, "--output", out_dir, "--n-buckets", "2"],
        capture_output=True, text=True, timeout=420, env=env,
        cwd=str(tmp_path),
    )
    assert r.returncode == 1, (r.stdout[-2000:], r.stderr[-2000:])
    payload = json.loads([ln for ln in r.stdout.splitlines()
                          if ln.startswith("{")][-1])
    assert payload["valid"] is False and payload["violations"] > 0
    assert payload["buckets_done"] == 2
    assert os.path.exists(os.path.join(out_dir, "violations"))
    assert os.path.exists(os.path.join(out_dir, "lineage"))


def test_cli_spark_job_error_exits_2(spark, tmp_path, capsys):
    """A Spark job that fails inside the JVM (here: a data page overwritten
    in a parquet file whose footer still reads) keeps the exit-2 contract,
    and the summary carries the exception text — DataFrame origin tracking
    is off, which drops only the Python call site from JVM errors."""
    from json_schema_modern_spark import cli
    from json_schema_modern_spark.sources.sequences import sequences_df

    table = str(tmp_path / "tokens")
    sequences_df(spark, 400, seed=3).coalesce(1).write.parquet(table)
    part = next(f for f in os.listdir(table) if f.endswith(".parquet"))
    path = os.path.join(table, part)
    with open(path, "r+b") as f:
        f.seek(4)
        f.write(b"\xff" * (os.path.getsize(path) // 2))
    spec_path = str(tmp_path / "spec.json")
    with open(spec_path, "w") as f:
        json.dump(SPEC | {"properties": {}}, f)
    rc = cli.main(["--spec", spec_path, "--table", table,
                   "--output", str(tmp_path / "out"), "--n-buckets", "4"])
    payload = json.loads(capsys.readouterr().out.splitlines()[-1])
    assert rc == 2 and payload["valid"] is False
    assert part in payload["exception"]


def test_cli_json_hybrid_writes_once(spark, tmp_path, capsys, monkeypatch):
    """With --output the JSON branch's one action is the write: the
    summary count comes from the rows it writes, so no DataFrame.count
    runs, and the summary equals the rows written."""
    from pyspark.sql.classic.dataframe import DataFrame

    from json_schema_modern_spark import cli

    table = str(tmp_path / "docs")
    spark.createDataFrame(
        [("d1", '{"a": 5}'), ("d2", '{"a": null}'), ("d3", '{"a": 99}'),
         ("d4", '{"a": 99999999999999999999}'), ("d5", "garbage"), ("d6", None)],
        "doc_id string, payload string").write.parquet(table)
    spec_path = str(tmp_path / "spec.json")
    with open(spec_path, "w") as f:
        json.dump({"type": "object", "required": ["a"],
                   "properties": {"a": {"type": ["integer", "null"],
                                        "maximum": 80}}}, f)
    out_dir = str(tmp_path / "out")

    def no_count(self):
        raise AssertionError("DataFrame.count ran")

    with monkeypatch.context() as m:
        m.setattr(DataFrame, "count", no_count)
        rc = cli.main(["--spec", spec_path, "--table", table,
                       "--json-col", "payload", "--tier", "hybrid",
                       "--id-col", "doc_id", "--output", out_dir])
    line = json.loads(capsys.readouterr().out.splitlines()[-1])
    # d3 (maximum, typed tier), d4 (>int64, python tier), d5 and d6
    # (exceptions) fail
    assert rc == 1
    assert line == {"valid": False, "tier": "hybrid", "violations": 4}
    written = spark.read.parquet(os.path.join(out_dir, "violations_json"))
    assert written.count() == line["violations"]
    assert {r.doc_id for r in written.collect()} == {"d3", "d4", "d5", "d6"}


def test_cli_validate_formats(spark, tmp_path, capsys):
    """--validate-formats asserts ``format`` in every validator the CLI
    builds: the pipeline over typed columns and the python tier over JSON
    documents; without it ``format`` is an annotation."""
    from json_schema_modern_spark import cli

    table = str(tmp_path / "docs")
    spark.createDataFrame(
        [("d1", "2024-01-31", '{"day": "2024-01-31"}'),
         ("d2", "2024-02-30", '{"day": "2024-02-30"}')],
        "doc_id string, day string, payload string").write.parquet(table)
    spec_path = str(tmp_path / "spec.json")
    with open(spec_path, "w") as f:
        json.dump({"type": "object",
                   "properties": {"day": {"type": "string", "format": "date"}}}, f)

    def run(*extra):
        rc = cli.main(["--spec", spec_path, "--table", table, *extra])
        return rc, json.loads(capsys.readouterr().out.splitlines()[-1])

    json_tier = ["--json-col", "payload", "--tier", "python"]
    for tier in ([], json_tier):
        assert run(*tier)[0] == 0
        rc, line = run("--validate-formats", *tier)
        assert rc == 1 and line["violations"] == 1, line


def test_cli_max_depth(spark, tmp_path, capsys):
    """--max-depth bounds the compile's schema nesting: a spec deeper than
    it is an exception (exit 2), the default depth compiles it."""
    from json_schema_modern_spark import cli

    table = str(tmp_path / "docs")
    spark.createDataFrame([("d1", 5)], "doc_id string, n int").write.parquet(table)
    spec_path = str(tmp_path / "spec.json")
    with open(spec_path, "w") as f:
        json.dump({"type": "object", "properties": {"n": {"minimum": 0}}}, f)

    assert cli.main(["--spec", spec_path, "--table", table]) == 0
    capsys.readouterr()
    assert cli.main(["--spec", spec_path, "--table", table, "--max-depth", "1"]) == 2
    line = json.loads(capsys.readouterr().out.splitlines()[-1])
    assert "maximum evaluation depth 1 exceeded" in line["exception"]
