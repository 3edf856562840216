"""Physical-plan regression tests (SURVEY §4.3): the engine's scale
properties are plan shapes, not constants — pin them.

* fused pass: rule conditions filter inside WholeStageCodegen BEFORE the
  exchange; explode only after (GenerateExec drops codegen when its child
  contains CodegenFallback HOFs — measured 10×).
* dataset plans: column pruning — Unique/Reference scans must not read
  ``tokens`` (the dominant bytes at corpus scale).
* Reference: broadcast (not sort-merge) anti-join for small dims, with
  no dedup of the dim keys.
* verdicts: one aggregation, no join.
* stats: partial (map-side) aggregation before the shuffle.
"""

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from fhir_data_validation_spark import ValidationEngine
from fhir_data_validation_spark.engine import predicate_violations
from fhir_data_validation_spark.rulesets import default_token_ruleset
from fhir_data_validation_spark.sources.synth import (sources_dim,
                                                      token_table)


# physical operators that start Python workers: pandas / Arrow UDF stages
# and the pickled-RDD scan of createDataFrame(list)
PYTHON_OPERATORS = ("FlatMapGroupsInPandas", "MapInPandas", "ArrowEvalPython",
                    "BatchEvalPython", "ExistingRDD")


def explain_str(df, mode="formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("plans") / "tokens")
    token_table(spark, 1000).write.parquet(out)
    return spark.read.parquet(out)


@pytest.fixture(scope="module")
def plan(spark, corpus):
    from fhir_data_validation_spark.sources.synth import stats_baseline
    engine = ValidationEngine(
        default_token_ruleset(with_drift=True),
        dims={"sources_dim": sources_dim(spark),
              "stats_baseline": stats_baseline(token_table(spark, 1000))})
    return engine.compile(corpus)


def test_fused_pass_filter_before_exchange(spark, corpus, plan):
    s = explain_str(predicate_violations(corpus, plan))
    # formatted explain prints ROOT first: Generate … Exchange … Filter …
    # Scan means execution order Scan → Filter → Exchange → Generate
    i_filter = s.index("Filter")
    i_exchange = s.index("Exchange")
    i_generate = s.index("Generate")
    assert i_generate < i_exchange < i_filter
    # the full-input Filter condition is pure native functions (codegen-able)
    # — no CASE WHEN: the fired-rule bitmask project runs AFTER the filter,
    # over violating rows only, and the violation structs live only in
    # Generate's arguments, after the exchange
    cond = s[s.index("(2) Filter"):s.index("(3) Project")]
    assert "CASE WHEN" not in cond
    assert "array_min" in cond and "array_max" in cond  # native token-domain
    proj = s[s.index("(3) Project"):s.index("(4) Exchange")]
    assert "_fdv_fired" in proj          # bitmask on violating rows
    assert "rule_id" not in proj         # ... but no violation structs yet
    gen = s[s.index("(5) Generate"):]
    assert "CASE WHEN" in gen and "_fdv_fired" in gen


def test_dataset_plans_prune_tokens_column(spark, corpus, plan):
    for dp in plan.dataset_plans:
        if dp.rule.type in ("Unique", "Reference", "RequiredResources"):
            s = explain_str(dp.execute(corpus, plan))
            read_schemas = [ln for ln in s.splitlines()
                            if "ReadSchema" in ln]
            assert read_schemas, s
            assert all("tokens" not in ln for ln in read_schemas), \
                (dp.rule.id, read_schemas)


def test_reference_uses_broadcast_join(spark, corpus, plan):
    ref = next(dp for dp in plan.dataset_plans if dp.rule.type == "Reference")
    s = explain_str(ref.execute(corpus, plan))
    assert "BroadcastHashJoin" in s or "BroadcastExchange" in s
    assert "SortMergeJoin" not in s


def test_reference_anti_join_skips_dim_dedup(spark, corpus, plan):
    """The exact lane's left-anti join takes the dim keys as they are:
    duplicates on the build side cannot change its output, so there is
    no aggregation (and no shuffle) to deduplicate them."""
    ref = next(dp for dp in plan.dataset_plans if dp.rule.type == "Reference")
    s = explain_str(ref.execute(corpus, plan), mode="simple")
    assert "LeftAnti" in s
    assert "HashAggregate" not in s and "Exchange hashpartitioning" not in s


def test_verdicts_plan_has_no_join(spark, corpus, plan, tmp_path):
    """Verdicts are one aggregation: the rows per group exploded over the
    rule ids, unioned with one row per violation, grouped once — no
    crossJoin against a rule-id frame and no outer join."""
    from fhir_data_validation_spark.engine import build_verdicts
    path = str(tmp_path / "violations")
    predicate_violations(corpus, plan).write.parquet(path)
    s = explain_str(build_verdicts(corpus, spark.read.parquet(path), plan),
                    mode="simple")
    assert "Join" not in s and "CartesianProduct" not in s, s
    assert "Generate" in s and "Union" in s


def test_drift_scan_reads_only_needed_columns(spark, corpus, plan):
    drift = [dp for dp in plan.dataset_plans if dp.rule.type == "Drift"]
    assert drift
    s = explain_str(drift[0].execute(corpus, plan))
    # the drift scan reads only (source, n_tok) — histograms reduce BEFORE
    # the comparison, which must see O(groups × buckets), not rows
    read = [ln for ln in s.splitlines() if "ReadSchema" in ln
            and "tokens" not in ln.split("ReadSchema")[1]]
    assert read
    assert not any(op in s for op in PYTHON_OPERATORS), s
    assert s.index("HashAggregate") < s.index("Scan parquet")  # agg below scan in root-first print means agg AFTER scan


def test_stats_partial_aggregation(spark, corpus):
    from fhir_data_validation_spark import stats
    s = explain_str(stats.histogram(corpus, "n_tok", 64, group_col="source"))
    # partial+final hash aggregation around one exchange
    assert s.count("HashAggregate") >= 2
    assert all("tokens" not in ln for ln in s.splitlines()
               if "ReadSchema" in ln)


def test_element_path_range_native_scan_filter(spark):
    """P5: a Range rule on a[*].b keeps the FULL-SCAN filter native —
    array_min/array_max over the GetArrayStructFields extraction, no
    higher-order-function (lambda) probe in the pre-exchange stage."""
    from fhir_data_validation_spark import RuleSet
    df = spark.createDataFrame(
        [("d1", [{"v": 1.0}], "g")],
        "doc_id string, items array<struct<v:double>>, source string")
    engine = ValidationEngine(RuleSet.parse({"rules": [
        {"id": "NPR", "type": "Range", "column": "items[*].v",
         "params": {"min": 0, "max": 10}}]}))
    plan = engine.compile(df)
    s = explain_str(predicate_violations(df, plan))
    cond = s[s.index("(2) Filter"):s.index("(3) Project")]
    assert "array_min" in cond and "array_max" in cond
    assert "lambdafunction" not in cond.lower()
    assert ".v" in cond  # GetArrayStructFields extraction, not a transform
    # the bitmask project between filter and exchange stays lambda-free too
    # (per-element detail lambdas live after the exchange)
    proj = s[s.index("(3) Project"):s.index("(4) Exchange")]
    assert "lambdafunction" not in proj.lower()


def test_codesystem_plan_broadcasts_codeset(spark):
    from fhir_data_validation_spark import RuleSet
    df = spark.createDataFrame(
        [("d1", "sysA", "c1", "g")],
        "doc_id string, sys string, code string, source string")
    dim = spark.createDataFrame([("sysA", "c1")], "s string, code string")
    engine = ValidationEngine(RuleSet.parse({"rules": [
        {"id": "CSP", "type": "CodeSystem", "column": "code",
         "params": {"system": "sysA", "systemColumn": "sys",
                    "dim": "codes", "dimSystemColumn": "s"}}]}),
        dims={"codes": dim})
    plan = engine.compile(df)
    s = explain_str(plan.dataset_plans[0].execute(df, plan))
    assert "BroadcastHashJoin" in s or "BroadcastExchange" in s
    assert "SortMergeJoin" not in s


def test_multi_column_reference_single_scan(spark):
    """J3 sweep: one scan feeds the whole extraction — the plan contains
    exactly one parquet scan regardless of how many columns are swept."""
    import tempfile
    out = tempfile.mkdtemp() + "/refs"
    spark.createDataFrame(
        [("d1", "u1", ["u2"], "g")],
        "doc_id string, owner string, members array<string>, source string"
    ).write.parquet(out)
    df = spark.read.parquet(out)
    from fhir_data_validation_spark import RuleSet
    dim = spark.createDataFrame([("u1",)], "uid string")
    engine = ValidationEngine(RuleSet.parse({"rules": [
        {"id": "REFM", "type": "Reference",
         "params": {"columns": ["owner", "members"], "dim": "users",
                    "on": "uid"}}]}), dims={"users": dim})
    plan = engine.compile(df)
    s = explain_str(plan.dataset_plans[0].execute(df, plan), mode="simple")
    assert s.count("FileScan parquet") == 1


def test_dedupe_is_aggregate_not_window(spark, corpus):
    """A5 dedup compiles to a min_by aggregation with map-side partial
    combine (SortAggregate — struct buffers aren't hash-aggregable) — no
    Window, whose full-width shuffle + sort it replaces."""
    from fhir_data_validation_spark import RuleSet
    from fhir_data_validation_spark.engine import dedupe_violations
    engine = ValidationEngine(RuleSet.parse({"rules": [
        {"id": "A", "type": "Required", "column": "tokens"},
        {"id": "B", "type": "Required", "column": "tokens",
         "errorCode": "FIELD_REQUIRED"}]}))
    plan = engine.compile(corpus)
    s = explain_str(dedupe_violations(predicate_violations(corpus, plan)),
                    mode="simple")
    assert "Window" not in s
    # partial + final aggregation around the exchange
    assert s.count("Aggregate") >= 2


def test_codemaster_two_level_fused_scan_count(spark):
    """Two-level CodeMaster compiles to TWO input scans total (fused
    scalar lanes + the per-element answer lane) — not one scan per error
    code — and every dim join is broadcast."""
    import tempfile
    out = tempfile.mkdtemp() + "/cm"
    spark.createDataFrame(
        [("d1", "bp", "sys", "high", "g")],
        "doc_id string, scr string, q string, ans string, source string"
    ).write.parquet(out)
    df = spark.read.parquet(out)
    from fhir_data_validation_spark import RuleSet
    dim = spark.createDataFrame([("bp", "sys", ["high"], True)],
                                "s string, q string, a array<string>, "
                                "m boolean")
    engine = ValidationEngine(RuleSet.parse({"rules": [
        {"id": "CMP", "type": "CodeMaster", "column": "ans",
         "params": {"dim": "cm", "keyColumn": "q", "dimKey": "q",
                    "allowedColumn": "a", "multiValueColumn": "m",
                    "screeningColumn": "scr", "dimScreening": "s"}}]}),
        dims={"cm": dim})
    plan = engine.compile(df)
    s = explain_str(plan.dataset_plans[0].execute(df, plan), mode="simple")
    assert s.count("FileScan parquet") <= 2, s
    assert "SortMergeJoin" not in s


def test_bucketed_table_unique_has_no_exchange(spark):
    """Co-located aggregation: a table bucketed by the PK aggregates with
    ZERO shuffle (Exchange absent) — the bucketing story for 100-TB
    uniqueness checks, and why unique_plan groups on the raw column
    (casting first would discard the bucketing)."""
    from fhir_data_validation_spark import RuleSet, ValidationEngine
    from fhir_data_validation_spark.sources.synth import token_table
    tbl = "bt_unique_probe"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    (token_table(spark, 500).write
     .bucketBy(4, "doc_id").sortBy("doc_id")
     .mode("overwrite").saveAsTable(tbl))
    try:
        df = spark.table(tbl)
        engine = ValidationEngine(RuleSet.parse({"rules": [
            {"id": "U", "type": "Unique", "column": "doc_id"}]}))
        plan = engine.compile(df)
        s = explain_str(plan.dataset_plans[0].execute(df, plan),
                        mode="simple")
        assert "Exchange" not in s, s
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_bucketed_reference_join_no_fact_exchange(spark):
    """Co-located referential integrity: fact table bucketed on the
    reference column joins its bucketed dim with NO fact-side exchange
    (broadcast disabled to expose the shuffle join path)."""
    from fhir_data_validation_spark import RuleSet, ValidationEngine
    from fhir_data_validation_spark.sources.synth import token_table
    for t in ("bt_fact_probe", "bt_dim_probe"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    (token_table(spark, 500).write.bucketBy(4, "source").sortBy("source")
     .mode("overwrite").saveAsTable("bt_fact_probe"))
    (token_table(spark, 100).select("source").distinct()
     .write.bucketBy(4, "source").sortBy("source")
     .mode("overwrite").saveAsTable("bt_dim_probe"))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760b")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = spark.table("bt_fact_probe")
        engine = ValidationEngine(RuleSet.parse({"rules": [
            {"id": "R", "type": "Reference", "column": "source",
             "params": {"dim": "d", "on": "source", "broadcast": False}}]}),
            dims={"d": spark.table("bt_dim_probe")})
        plan = engine.compile(df)
        s = explain_str(plan.dataset_plans[0].execute(df, plan),
                        mode="simple")
        assert "SortMergeJoin" in s or "ShuffledHashJoin" in s, s
        # the fact-side subtree (above the scan of bt_fact_probe) carries
        # no Exchange; only the (reduced) dim side may shuffle
        fact_part = s[:s.index("bt_fact_probe")]
        left_subtree = fact_part[fact_part.index("Join"):]
        assert "Exchange" not in left_subtree, s
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        for t in ("bt_fact_probe", "bt_dim_probe"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_parquet_filter_pushdown(spark, corpus):
    s = explain_str(corpus.where(F.col("n_tok") > 100).select("doc_id"))
    pushed = [ln for ln in s.splitlines() if "PushedFilters" in ln]
    assert pushed and "GreaterThan(n_tok,100)" in pushed[0]

def test_monotonic_single_exchange_window(spark, corpus):
    """Monotonic: per-key ordered semantics cost exactly ONE Exchange (the
    key co-location) followed by one Window — no self-join, no second
    shuffle of the data."""
    from fhir_data_validation_spark.model import RuleSet
    rs = RuleSet.parse({"rules": [
        {"id": "M-1", "type": "Monotonic", "column": "n_tok",
         "params": {"keyColumn": "source", "orderBy": "doc_id"}}]})
    v = ValidationEngine(rs).validate(corpus).violations
    import re
    s = explain_str(v)
    assert "Window" in s
    # the whole plan holds exactly ONE exchange (unique node ids — the
    # formatted details section repeats each node): the key co-location
    # shuffle feeding the window; no join, no second data shuffle
    assert len(set(re.findall(r"Exchange \((\d+)\)", s))) == 1
    assert "Join" not in s


def test_functional_dependency_partial_distinct_agg(spark, corpus):
    """FunctionalDependency: Spark's two-phase distinct aggregation with
    map-side partial min/max/count — no join, no window, no third pass."""
    from fhir_data_validation_spark.model import RuleSet
    rs = RuleSet.parse({"rules": [
        {"id": "FD-1", "type": "FunctionalDependency", "column": "source",
         "params": {"determinants": ["n_tok"]}}]})
    v = ValidationEngine(rs).validate(corpus).violations
    s = explain_str(v)
    assert "partial_min" in s and "partial_count" in s
    assert "Join" not in s and "Window" not in s


def test_heavy_hitters_shuffle_bounded_by_summary(spark, corpus):
    """The MG pass's 100×-scale property: the only wide exchange folds
    ≤ k×partitions summary rows (hash on the group key AFTER the
    MapInPandas summarizer) — the plan must NOT shuffle or sort the raw
    input before the summarizer."""
    from fhir_data_validation_spark import stats
    out = stats.heavy_hitters(corpus, "doc_id", k=10)
    s = explain_str(out)
    assert "MapInPandas" in s and "Scan " in s
    # formatted explain prints root-first, so everything BETWEEN the
    # summarizer and the leaf scan is the summarizer's input pipeline:
    # it must contain no Exchange/Sort (the raw rows flow straight in)
    below_map = s[s.index("MapInPandas"): s.index("Scan ")]
    assert "Exchange" not in below_map and "Sort" not in below_map


def test_validate_path_runs_no_python(spark, corpus):
    """validate() with the drift rule runs without a Python worker: the
    executed plans of the violations and the verdicts hold no pandas /
    Arrow UDF operator and no pickled-RDD scan, and the built-in source
    dim is a LocalRelation."""
    from fhir_data_validation_spark.sources.synth import stats_baseline
    dim = sources_dim(spark)
    s = explain_str(dim, mode="extended")
    assert "LocalRelation" in s and "LocalTableScan" in s
    assert not any(op in s for op in PYTHON_OPERATORS), s
    engine = ValidationEngine(
        default_token_ruleset(with_drift=True),
        dims={"sources_dim": dim,
              "stats_baseline": stats_baseline(token_table(spark, 1000))})
    res = engine.validate(corpus)
    try:
        for df in (res.violations, res.verdicts):
            df.collect()
            s = df._jdf.queryExecution().executedPlan().toString()
            assert "isFinalPlan=true" in s or "AdaptiveSparkPlan" not in s
            assert not any(op in s for op in PYTHON_OPERATORS), s
    finally:
        res.unpersist()
