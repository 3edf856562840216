"""spark-submit entry point for a (resumable) validation run.

North-rule packaging requirement (SURVEY §7.2 step 8): the engine ships as a
zip for ``spark-submit --py-files``; all configuration arrives as job args —
no code changes between local smoke and the 1000-executor cluster.

Cluster:

    spark-submit \\
        --master yarn --deploy-mode cluster \\
        --py-files fhir_data_validation_spark.zip \\
        jobs/run_validation.py \\
        --input cat.db.token_sequences --input-format table \\
        --rules rules.json --output s3://bucket/validation/run42 \\
        --dim sources_dim=cat.db.sources --run-id run42

Local smoke:

    python jobs/run_validation.py --input /root/testdata/sf0.001 \\
        --output /tmp/fdv_smoke --synth 10000

Resume after failure: re-submit with the same ``--run-id`` and ``--output``;
completed partitions are skipped via the lineage table (see ``lineage.py``).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# local smoke: `python jobs/run_validation.py` from the repo — the package
# sits next to jobs/. On a cluster --py-files puts the zip on sys.path.
_repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if os.path.isdir(os.path.join(_repo_root, "fhir_data_validation_spark")):
    sys.path.insert(0, _repo_root)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", help="parquet path or catalog table of "
                   "(doc_id, tokens, n_tok, source) sequences")
    p.add_argument("--input-format", default="parquet",
                   choices=["parquet", "table", "pyiceberg"],
                   help="'table' reads an Iceberg/HMS catalog table "
                        "(snapshot scan, needs the runtime jar); "
                        "'pyiceberg' a path-based Iceberg table via the "
                        "built-in pure-Python v2 reader; 'parquet' a path")
    p.add_argument("--snapshot-id", default=None,
                   help="Iceberg snapshot id to validate (VERSION AS OF)")
    p.add_argument("--since-snapshot", default=None,
                   help="pyiceberg only: validate ONLY data appended after "
                        "this snapshot id (incremental/delta validation, "
                        "up to --snapshot-id or the current snapshot)")
    p.add_argument("--audit-branch", default=None, metavar="NAME",
                   help="pyiceberg WRITE-AUDIT-PUBLISH gate: validate the "
                        "named staging branch (read(ref=NAME)) instead of "
                        "main; combine with --publish-on-pass / "
                        "--drop-on-fail to gate visibility on the verdicts")
    p.add_argument("--publish-on-pass", action="store_true",
                   help="with --audit-branch: fast-forward main to the "
                        "branch when every verdict passes (and no "
                        "regression) — the PUBLISH step of WAP")
    p.add_argument("--drop-on-fail", action="store_true",
                   help="with --audit-branch: drop the branch when "
                        "verdicts fail — the staged batch never becomes "
                        "visible and expire_snapshots reclaims it")
    p.add_argument("--iceberg-lineage", action="store_true",
                   help="store lineage markers in a pyiceberg table with "
                        "MERGE-upsert semantics (under <output>/lineage_ice)"
                        " instead of parquet append")
    p.add_argument("--synth", type=int, default=0,
                   help="generate a seeded synthetic dirty token table of N "
                        "rows instead of reading --input")
    p.add_argument("--rules", default=None,
                   help="rules.json path (default: built-in token rule set)")
    p.add_argument("--questions", default=None,
                   help="questions.json path — per-answerType Contract "
                        "rules generated from the questions dim are ADDED "
                        "to the rule set")
    p.add_argument("--output", required=True,
                   help="output root: violations/, verdicts/, lineage/")
    p.add_argument("--dim", action="append", default=[],
                   metavar="NAME=PATH",
                   help="dimension table binding (repeatable)")
    p.add_argument("--run-id", default=None,
                   help="stable id for resume; omit for a fresh run")
    p.add_argument("--key-col", default="doc_id")
    p.add_argument("--group-col", default="source")
    p.add_argument("--groups-per-batch", type=int, default=4)
    p.add_argument("--no-resume", action="store_true",
                   help="single-shot validate (no lineage/checkpointing)")
    p.add_argument("--review", action="store_true",
                   help="governance pre-flight: review the rule set against "
                        "the input schema and refuse to run on BLOCKED "
                        "findings (RuleReviewEngine.cs analog)")
    p.add_argument("--lint", action="store_true",
                   help="advisory dataset lint before validating "
                        "(LintValidationService.cs analog); findings print "
                        "to stderr, never block")
    p.add_argument("--audit-details", action="store_true",
                   help="after validating, audit the emitted violations "
                        "against the frozen per-errorCode details contract "
                        "(ValidationErrorDetailsValidator analog); "
                        "non-compliant (code, key-set) combos print to "
                        "stderr and the job exits 4 — bounded by distinct "
                        "shapes, never row count")
    p.add_argument("--quarantine", action="store_true",
                   help="also write the INPUT rows split by verdict: rows "
                        "with error-severity violations to "
                        "<output>/quarantine, the rest to <output>/clean "
                        "(ValidationResult.split)")
    p.add_argument("--regression-baseline", default=None, metavar="RUN_ID",
                   help="after a resumable run, compare this run's per-rule "
                        "violation rates against RUN_ID's in the lineage "
                        "table (lineage.regression_report); regressions "
                        "print to stderr and the job exits 3")
    p.add_argument("--max-rate-increase", type=float, default=0.1,
                   help="relative slack for --regression-baseline "
                        "(default 0.1 = +10%%)")
    p.add_argument("--max-abs-increase", type=float, default=0.0,
                   help="absolute violation-rate slack for "
                        "--regression-baseline")
    p.add_argument("--cores", type=int, default=None,
                   help="local[N] master for smoke runs; on a cluster the "
                        "master comes from spark-submit")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    from pyspark.sql import SparkSession

    from fhir_data_validation_spark import (EngineConfig, RuleSet,
                                            ValidationEngine)
    from fhir_data_validation_spark.lineage import ResumableRun
    from fhir_data_validation_spark.rulesets import default_token_ruleset
    from fhir_data_validation_spark.sources.synth import (dirty_token_table,
                                                          sources_dim)

    session = SparkSession.getActiveSession()
    if session is None and args.cores:
        from fhir_data_validation_spark.session import get_spark
        session = get_spark("fdv-run", cores=args.cores)
    elif session is None:
        session = SparkSession.builder.getOrCreate()
    spark = session

    if not args.input and not args.synth:
        # usage errors exit 2 — an unhandled traceback exits 1, which the
        # contract reserves for failed verdicts, so an orchestrator
        # branching on the code would misread "no input given" as
        # "validation ran and failed" (round-5 review batch 9)
        print("--input (or --synth) is required", file=sys.stderr)
        return 2
    if args.audit_branch and args.input_format != "pyiceberg":
        print("--audit-branch requires --input-format pyiceberg",
              file=sys.stderr)
        return 2
    if args.audit_branch and args.synth:
        # --synth replaces the input entirely: the branch would be judged
        # on synthetic data and the publish/drop step would have no table
        print("--audit-branch is exclusive with --synth",
              file=sys.stderr)
        return 2

    if args.since_snapshot and args.input_format != "pyiceberg" \
            and args.input_format != "table":
        # a silently ignored delta request would validate the FULL table:
        # inflated counts, re-marked lineage, tripped regression gates
        print("--since-snapshot requires an Iceberg input format "
              "(pyiceberg or table)", file=sys.stderr)
        return 2
    if args.snapshot_id and args.input_format == "parquet" \
            and not args.synth:
        print("--snapshot-id requires an Iceberg input format",
              file=sys.stderr)
        return 2

    if args.synth:
        df = dirty_token_table(spark, args.synth).drop("_row_id")
    elif args.input_format == "table":
        reader = spark.read
        if args.since_snapshot:
            # the runtime jar's incremental read: appended data only,
            # optionally bounded by --snapshot-id as the end of the range
            reader = reader.option("start-snapshot-id",
                                   args.since_snapshot)
            if args.snapshot_id:
                reader = reader.option("end-snapshot-id",
                                       args.snapshot_id)
        elif args.snapshot_id:
            reader = reader.option("snapshot-id", args.snapshot_id)
        df = reader.table(args.input)
    elif args.input_format == "pyiceberg":
        from fhir_data_validation_spark.sources.iceberg_py import \
            PyIcebergTable
        wap_table = PyIcebergTable(spark, args.input)
        t = wap_table
        snap = int(args.snapshot_id) if args.snapshot_id else None
        if args.audit_branch:
            if snap or args.since_snapshot:
                print("--audit-branch is exclusive with --snapshot-id / "
                      "--since-snapshot", file=sys.stderr)
                return 2
            df = t.read(ref=args.audit_branch)
        elif args.since_snapshot:
            # delta validation: only files appended after --since-snapshot
            df = t.incremental(int(args.since_snapshot), snap)
        else:
            df = t.read(snap)
    else:
        df = spark.read.parquet(args.input)

    ruleset = (RuleSet.from_json(args.rules) if args.rules
               else default_token_ruleset())
    if args.questions:
        from fhir_data_validation_spark.questions import \
            question_rules_from_json
        qrs = question_rules_from_json(args.questions)
        # re-assert the unique-rule-id invariant the parse path enforces:
        # the raw constructor would let a questions-generated id silently
        # collide with a rules.json id and everything keyed by rule_id
        # (dedup, lineage, regression rates) would merge the two rules
        merged = ruleset.rules + qrs.rules
        seen_ids: set[str] = set()
        for r in merged:
            if r.id in seen_ids:
                print(f"duplicate rule id {r.id!r} between --rules and "
                      f"--questions", file=sys.stderr)
                return 2
            seen_ids.add(r.id)
        ruleset = RuleSet(version=ruleset.version, rules=merged)
    dims = {}
    for binding in args.dim:
        name, eq, path = binding.partition("=")
        if not eq or not name or not path:
            # a '='-less binding used to crash deep in spark.read with
            # exit 1 (the failed-verdicts code) — usage errors exit 2
            print(f"--dim must be name=path-or-table, got {binding!r}",
                  file=sys.stderr)
            return 2
        dims[name] = (spark.read.parquet(path) if "/" in path
                      else spark.read.table(path))
    if "sources_dim" not in dims and not args.rules:
        # the built-in rule set references sources_dim regardless of what
        # OTHER dims the caller bound — inject unless explicitly provided
        dims["sources_dim"] = sources_dim(spark)

    if args.review:
        from fhir_data_validation_spark.governance import (review_report,
                                                           review_ruleset)
        report = review_report(review_ruleset(ruleset, schema=df.schema))
        print(json.dumps(report, default=str), file=sys.stderr)
        if not report["canExport"]:
            print(f"governance review BLOCKED "
                  f"{report['blocked']} rule(s); refusing to run",
                  file=sys.stderr)
            return 2
    if args.lint:
        from fhir_data_validation_spark.lint import lint_dataset, lint_report
        print(json.dumps(lint_report(lint_dataset(df, ruleset)),
                         default=str), file=sys.stderr)

    if args.regression_baseline and args.no_resume:
        # reject the invalid combination BEFORE the validation runs, not
        # after the whole job + quarantine writes have completed
        print("--regression-baseline needs a resumable run "
              "(drop --no-resume)", file=sys.stderr)
        return 2

    config = EngineConfig(key_col=args.key_col, group_col=args.group_col)
    engine = ValidationEngine(ruleset, dims=dims, config=config)
    run = None
    if args.no_resume:
        res = engine.validate(df)
        res.violations.write.mode("overwrite").parquet(
            f"{args.output}/violations")
        res.verdicts.write.mode("overwrite").parquet(
            f"{args.output}/verdicts")
        # downstream counts read BACK the written parquet (footer
        # metadata, near-free): res.verdicts is lazy, and counting it
        # re-runs the rows-per-group aggregation over the ENTIRE
        # uncached input — one extra table-wide pass at the 100-TB
        # target (round-5 review batch 9; same rule as the quarantine
        # count below)
        res.unpersist()
        verdicts = spark.read.parquet(f"{args.output}/verdicts")
        violations = spark.read.parquet(f"{args.output}/violations")
    else:
        kwargs = dict(dims=dims, config=config,
                      groups_per_batch=args.groups_per_batch)
        if args.run_id:
            kwargs["run_id"] = args.run_id
        if args.iceberg_lineage:
            from fhir_data_validation_spark.sources.iceberg_py import \
                PyIcebergLineageStore
            kwargs["lineage_store"] = PyIcebergLineageStore(
                f"{args.output}/lineage_ice")
        run = ResumableRun(ruleset, args.output, **kwargs)
        metrics = run.run(df)
        verdicts = run.verdicts(spark)
        violations = run.violations(spark)
        print(json.dumps({"run_id": run.run_id,
                          "partitions": metrics.select("partition_key")
                                        .distinct().count()}))

    if args.quarantine:
        from fhir_data_validation_spark.engine import ValidationResult
        # the per-row rule ids let split() quarantine NULL-key rows whose
        # own violations carry a NULL doc_id
        clean, quar = ValidationResult(
            violations=violations, verdicts=verdicts,
            key_col=args.key_col,
            row_rule_ids=engine.compile(df).row_rule_ids).split(df)
        quar.write.mode("overwrite").parquet(f"{args.output}/quarantine")
        clean.write.mode("overwrite").parquet(f"{args.output}/clean")
        # count the WRITTEN parquet (footer metadata, near-free) — calling
        # .count() on quar/clean would re-execute the split join over the
        # full input, two extra table-wide passes at the 100-TB target
        print(json.dumps({
            "quarantined": spark.read.parquet(
                f"{args.output}/quarantine").count(),
            "clean": spark.read.parquet(f"{args.output}/clean").count()}))

    contract_fail = 0
    if args.audit_details:
        from fhir_data_validation_spark.details_contract import \
            contract_report
        for b in contract_report(violations):
            if b.get("unknown_code"):
                # reference semantics: unknown codes warn, never fail
                # (ValidationErrorDetailsValidator.cs:104-108) — a user
                # ruleset with a custom errorCode stays a valid run
                print(json.dumps({"details_contract_warning": b}),
                      file=sys.stderr)
            else:
                print(json.dumps({"details_contract_violation": b}),
                      file=sys.stderr)
                contract_fail += 1

    regressed = 0
    if args.regression_baseline:
        # (--regression-baseline + --no-resume already exited 2 before
        # validation ran, so `run` is always bound here)
        from fhir_data_validation_spark.lineage import regression_report
        rep = regression_report(
            run.lineage.read(spark), run.run_id,
            baseline_run=args.regression_baseline,
            max_abs_increase=args.max_abs_increase,
            max_rel_increase=args.max_rate_increase).collect()
        regressed = len(rep)
        for r in rep:
            print(json.dumps({"regression": r.asDict()}), file=sys.stderr)

    failed = verdicts.where(~verdicts.passed).count()
    print(json.dumps({"failed_verdicts": failed,
                      "regressions": regressed}))
    if args.audit_branch:
        # WRITE-AUDIT-PUBLISH: visibility is the verdict's to grant — a
        # details-contract failure is part of the verdict (publishing
        # then exiting 4 would make the exit code and the side effect
        # contradict each other)
        gate_failed = failed or regressed or contract_fail
        if not gate_failed and args.publish_on_pass:
            published = wap_table.fast_forward("main", args.audit_branch)
            print(json.dumps({"wap": "published",
                              "branch": args.audit_branch,
                              "snapshot_id": published}))
        elif gate_failed and args.drop_on_fail:
            wap_table.drop_branch(args.audit_branch)
            print(json.dumps({"wap": "dropped",
                              "branch": args.audit_branch}))
    if contract_fail:
        return 4
    if regressed:
        return 3
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
