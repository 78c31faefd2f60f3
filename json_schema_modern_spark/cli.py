"""spark-submit entry point: the distributed analogue of the reference CLI
(/root/reference/script/json-schema-eval; options :23-43, eval loop
:96-136).

Same exit-code contract as the reference (:131,250-252): 0 valid, 1
invalid, 2 exception.  Instead of files/STDIN the instance data is a table
(parquet dir or Iceberg identifier), and the result is written as
violations / partition-results / metrics tables plus a one-line JSON
summary on stdout (the `flag`-format analogue, Result.pm:99).

Usage (single JVM or a real cluster — only --master differs):

    # jsms.zip = the json_schema_modern_spark package; cli.py may be a
    # copy of this file anywhere — the package resolves from the zip
    # (pinned end-to-end by tests/test_cli.py::test_cli_via_spark_submit_py_files)
    spark-submit --master local[8] --py-files jsms.zip cli.py \
        --spec spec.json --table /data/sequences \
        --source-dict /data/source_dict --output /runs/run1 \
        [--snapshot-id <id>] [--resume] [--n-buckets 256] \
        [--check-only] [--flag-only]

    --check-only  validates the SPEC itself (compile in check mode, no
                  data read) — the validate_schema analogue (Modern.pm:491-511).
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="json-schema-modern-spark")
    p.add_argument("--spec", required=True, help="constraint spec JSON file")
    p.add_argument("--add-schema", action="append", default=[],
                   help="extra schema JSON file registered for cross-document "
                        "$ref; repeatable (reference: --add-schema, "
                        "script/json-schema-eval:53-64)")
    p.add_argument("--table", help="input table: parquet path")
    p.add_argument("--source-dict", help="referential dictionary parquet path")
    p.add_argument("--output", help="output workdir (violations/metrics/lineage)")
    p.add_argument("--snapshot-id", default=None)
    p.add_argument("--resume", action="store_true")
    p.add_argument("--n-buckets", type=int, default=256)
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--flag-only", action="store_true",
                   help="short-circuit: report only global validity")
    p.add_argument("--output-format", default="violations",
                   choices=["violations", "basic", "strict_basic", "terse",
                            "data_only"],
                   help="result rendering (reference output_format, "
                        "Result.pm:99): 'violations' = the pipeline's "
                        "violation/metrics tables (default); the others "
                        "write per-row result documents")
    p.add_argument("--check-only", action="store_true",
                   help="validate the spec itself; no data read")
    p.add_argument("--json-col", default=None,
                   help="treat this column as JSON-encoded documents "
                        "(evaluate_json_string analogue, Modern.pm:268-293) "
                        "instead of validating the table's typed columns")
    p.add_argument("--tier", default="hybrid",
                   choices=["columns", "python", "hybrid"],
                   help="with --json-col: 'columns' = typed decode + "
                        "codegen'd plan, 'python' = exact per-document "
                        "evaluation in executors, 'hybrid' (default) = "
                        "per-row routing on canonical decode equality")
    p.add_argument("--max-depth", type=int, default=64)
    p.add_argument("--validate-formats", action="store_true")
    p.add_argument("--contract-schema", action="store_true",
                   help="read with the token-table contract schema "
                        "(tokens element containsNull=false → fully "
                        "codegen'd row pass); omit for unknown-provenance "
                        "data (exact null-aware path)")
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    try:
        with open(args.spec) as f:
            spec = json.load(f)
    except (OSError, json.JSONDecodeError) as e:
        print(json.dumps({"valid": False, "exception": str(e)}))
        return 2

    if args.check_only:
        extra = []
        for path in args.add_schema:
            try:
                with open(path) as f:
                    extra.append(json.load(f))
            except (OSError, json.JSONDecodeError) as e:
                print(json.dumps({"valid": False, "exception": str(e)}))
                return 2
        return check_spec(spec, extra)

    if not args.table:
        print(json.dumps({"valid": False, "exception": "--table is required"}))
        return 2

    try:
        return run_validation(spec, args)
    except Exception as e:  # exception contract: exit 2
        print(json.dumps({"valid": False, "exception": f"{type(e).__name__}: {e}"}))
        return 2


def check_spec(spec, extra_schemas=None) -> int:
    """Validate the SPEC itself — the reference's validate_schema flow
    (Modern.pm:491-511), two tiers:

    1. metaschema self-validation: the spec evaluated as instance data
       against its declared ($schema) or default draft2020-12 metaschema,
       driver-side through pyeval (no Spark needed — schemas are tiny);
    2. compile against a representative token-table schema so Spark-tier
       traverse errors (unsupported constructs, unresolvable $ref)
       surface without touching data (reference: traverse()-only path).
    """
    from pyspark.sql import types as T

    from json_schema_modern_spark.compiler.column_compiler import (
        CompileOptions, compile_spec,
    )
    from json_schema_modern_spark.pyeval.metaschema import validate_schema
    from json_schema_modern_spark.spec.resolver import SpecError

    meta_res = validate_schema(spec)
    if not meta_res.valid:
        print(json.dumps({"valid": False, "errors": meta_res.errors}))
        return 1

    schema = T.StructType([
        T.StructField("doc_id", T.StringType()),
        T.StructField("tokens", T.ArrayType(T.IntegerType())),
        T.StructField("n_tok", T.IntegerType()),
        T.StructField("source", T.StringType()),
    ])
    try:
        from json_schema_modern_spark.session import get_spark

        from json_schema_modern_spark.spec.resolver import SchemaRegistry

        get_spark(app_name="jsms-check")          # Column exprs need a JVM
        registry = None
        if extra_schemas:
            registry = SchemaRegistry()
            for s in extra_schemas:
                registry.add_schema(s)
        plan = compile_spec(spec, schema, CompileOptions(), registry)
        if plan.static_exceptions:
            # data validation defers unresolvable refs to eval-time
            # exception rows; --check-only is the traverse-style flow, so
            # they surface eagerly here (reference: evaluate dies with
            # "unable to find resource" the moment the ref is reached)
            print(json.dumps({"valid": False,
                              "errors": plan.static_exceptions}))
            return 1
    except SpecError as e:
        print(json.dumps({"valid": False, "errors": [str(e)]}))
        return 1
    print(json.dumps({"valid": True}))
    return 0


def run_validation(spec, args) -> int:
    from json_schema_modern_spark.compiler.column_compiler import CompileOptions
    from json_schema_modern_spark.plans.pipeline import ValidationPipeline
    from json_schema_modern_spark.session import get_spark
    from json_schema_modern_spark.validator import Validator

    spark = get_spark(app_name="jsms-validate")
    extra = []
    for path in args.add_schema:
        with open(path) as f:
            extra.append(json.load(f))
    # every validator of the run compiles under the same options
    options = CompileOptions(validate_formats=args.validate_formats,
                             max_depth=args.max_depth,
                             assume_dense_arrays=args.contract_schema)
    if args.contract_schema:
        from json_schema_modern_spark.sources.sequences import read_token_table

        df = read_token_table(spark, args.table)
    else:
        df = spark.read.parquet(args.table)

    if args.json_col:
        # JSON-document column (evaluate_json_string analogue): tier
        # routing decides per row between the codegen'd typed plan and
        # the exact executor-side python evaluator.  The one action is the
        # write, its rows counted by an Observation, or else a count()
        res = Validator(spec, options, extra_schemas=extra).validate_json_strings(
            df, args.json_col, id_cols=[args.id_col], tier=args.tier)
        if args.flag_only:
            valid = res.flag()
            print(json.dumps({"valid": bool(valid)}))
            return 0 if valid else 1
        if args.output:
            from pyspark.sql import Observation, functions as F

            obs = Observation()
            res.violations.observe(obs, F.count(F.lit(1)).alias("n")).write \
                .mode("overwrite").parquet(os.path.join(args.output, "violations_json"))
            n_viol = obs.get["n"]
        else:
            n_viol = res.violations.count()
        valid = n_viol == 0
        print(json.dumps({"valid": bool(valid), "tier": args.tier,
                          "violations": n_viol}))
        return 0 if valid else 1

    if args.flag_only:
        # short-circuit path (reference short_circuit mode, Modern.pm:69-74):
        # existence probe, no violation assembly, no writes
        valid = Validator(spec, options, extra_schemas=extra) \
            .validate(df, id_cols=[args.id_col]).flag()
        print(json.dumps({"valid": bool(valid)}))
        return 0 if valid else 1

    if args.output_format != "violations":
        res = Validator(spec, options, extra_schemas=extra) \
            .validate(df, id_cols=[args.id_col])
        # all three actions below (count, write, flag) derive from the
        # annotated DF — cache it so the validation computes once
        res.annotated.persist()
        try:
            out_df = {
                "basic": res.basic_output,
                "strict_basic": res.strict_basic_output,
                "terse": res.terse_output,
                "data_only": res.data_only_output,
            }[args.output_format]()
            n_rows = out_df.count()
            if args.output:
                # terse is a violation-rows table, not per-row result
                # documents — name the artifact accordingly
                artifact = ("violations_terse" if args.output_format == "terse"
                            else f"results_{args.output_format}")
                out_df.write.mode("overwrite").parquet(
                    os.path.join(args.output, artifact))
            valid = res.flag()
        finally:
            res.annotated.unpersist()
        print(json.dumps({"valid": bool(valid),
                          "output_format": args.output_format,
                          "rows": n_rows}))
        return 0 if valid else 1

    sd = spark.read.parquet(args.source_dict) if args.source_dict else None
    pipe = ValidationPipeline(spec, id_col=args.id_col, workdir=args.output,
                              n_buckets=args.n_buckets, options=options,
                              extra_schemas=extra)
    res = pipe.run(spark, df, source_dict=sd,
                   snapshot_id=args.snapshot_id or "unpinned",
                   resume=args.resume)
    # with --output the pipeline has already written violations/, stats/,
    # histogram/, partition_results/, violation_counts/, lineage/ under the
    # workdir, and counted the violations while doing so
    n_viol = res.counts.get("violations")
    if n_viol is None:
        n_viol = res.violations.count()
    print(json.dumps({
        "valid": n_viol == 0,
        "violations": n_viol,
        "run_id": res.run_id,
        "buckets_done": res.buckets_done,
        "buckets_skipped": res.buckets_skipped,
    }))
    return 0 if n_viol == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
