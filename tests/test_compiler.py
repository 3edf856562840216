"""Compile-time rejection of malformed rules — the RULE_CONFIGURATION_ERROR /
INVALID_FIELD_PATH contract (FhirPathRuleEngineTests.cs:147-176,
FhirPathRuleEngine.cs:94-124)."""

import pytest

from fhir_data_validation_spark import (ErrorCode, RuleConfigurationError,
                                        RuleSet, compile_ruleset)
from fhir_data_validation_spark.sources.synth import token_table


@pytest.fixture(scope="module")
def schema(spark):
    return token_table(spark, 10).schema


def _compile_one(schema, rule):
    return compile_ruleset(RuleSet.parse({"rules": [rule]}), schema)


@pytest.mark.parametrize("rule,code", [
    ({"id": "R1", "type": "FixedValue", "column": "source"},
     ErrorCode.RULE_CONFIGURATION_ERROR),                      # missing value
    ({"id": "R2", "type": "ArrayLength", "column": "tokens"},
     ErrorCode.RULE_CONFIGURATION_ERROR),                      # no min/max
    ({"id": "R3", "type": "Regex", "column": "doc_id",
      "params": {"pattern": "["}},
     ErrorCode.RULE_CONFIGURATION_ERROR),                      # bad regex
    ({"id": "R4", "type": "Required", "column": "nope"},
     ErrorCode.INVALID_FIELD_PATH),                            # unknown column
    ({"id": "R5", "type": "NoSuchType", "column": "source"},
     ErrorCode.RULE_CONFIGURATION_ERROR),                      # unknown type
    ({"id": "R6", "type": "Required", "column": "source",
      "scope": {"kind": "filter"}},
     ErrorCode.RULE_CONFIGURATION_ERROR),                      # filter w/o cond
    ({"id": "R7", "type": "CustomExpr", "expr": "size(("},
     ErrorCode.RULE_CONFIGURATION_ERROR),                      # unparsable expr
    ({"id": "R8", "type": "ArrayLength", "column": "n_tok",
      "params": {"min": 1}},
     ErrorCode.RULE_CONFIGURATION_ERROR),                      # non-array col
    ({"id": "R9", "type": "Reference", "column": "source",
      "params": {"dim": "missing_dim"}},
     ErrorCode.RULE_CONFIGURATION_ERROR),                      # unknown dim
    ({"id": "R10", "type": "Required", "column": "source",
      "severity": "fatal"},
     ErrorCode.RULE_CONFIGURATION_ERROR),                      # bad severity
])
def test_bad_rules_rejected(schema, rule, code):
    with pytest.raises(RuleConfigurationError) as exc:
        _compile_one(schema, rule)
    assert exc.value.code == code


def test_duplicate_rule_id_rejected(schema):
    with pytest.raises(RuleConfigurationError):
        RuleSet.parse({"rules": [
            {"id": "X", "type": "Required", "column": "tokens"},
            {"id": "X", "type": "Required", "column": "source"}]})


def test_good_ruleset_compiles(spark, schema):
    from fhir_data_validation_spark.rulesets import default_token_ruleset
    from fhir_data_validation_spark.sources.synth import sources_dim
    plan = compile_ruleset(default_token_ruleset(), schema,
                           dims={"sources_dim": sources_dim(spark)})
    assert len(plan.rule_ids) == 11
    assert len(plan.predicates) == 8
    assert len(plan.dataset_plans) == 3


def test_severity_override_business_rule(spark):
    """Governance downgrade: Business rules may be downgraded
    (Models/RuleSet.cs:93-100); the violation carries the new severity."""
    from fhir_data_validation_spark import EngineConfig, ValidationEngine
    from fhir_data_validation_spark.model import RuleSet
    from fhir_data_validation_spark.sources.synth import dirty_token_table
    df = dirty_token_table(spark, 1000).drop("_row_id")
    rs = RuleSet.parse({"rules": [
        {"id": "REQ-X", "type": "Required", "column": "tokens"}]})
    res = ValidationEngine(rs, config=EngineConfig(
        severity_overrides=(("REQ-X", "warning"),))).validate(df)
    sev = [r["severity"] for r in
           res.violations.select("severity").distinct().collect()]
    assert sev == ["warning"]
    assert res.passed() is True  # warnings never block
    # downgrade provenance rides the detail map
    # (Models/ValidationError.cs:20-47 original-severity record)
    rows = res.violations.limit(3).collect()
    assert all(r["detail"]["downgradedFrom"] == "error" for r in rows)


def test_severity_override_provenance_dataset_rule(spark):
    """Dataset-plan violations carry downgradedFrom too."""
    from fhir_data_validation_spark import EngineConfig, ValidationEngine
    from fhir_data_validation_spark.model import RuleSet
    from fhir_data_validation_spark.sources.synth import dirty_token_table
    df = dirty_token_table(spark, 1000).drop("_row_id")
    rs = RuleSet.parse({"rules": [
        {"id": "UNQ-X", "type": "Unique", "column": "doc_id"}]})
    res = ValidationEngine(rs, config=EngineConfig(
        severity_overrides=(("UNQ-X", "warning"),))).validate(df)
    rows = res.violations.collect()
    assert rows and all(r["severity"] == "warning"
                        and r["detail"]["downgradedFrom"] == "error"
                        for r in rows)


def test_severity_override_contract_rule_refused(spark):
    from fhir_data_validation_spark import EngineConfig, ValidationEngine
    from fhir_data_validation_spark.errors import RuleConfigurationError
    from fhir_data_validation_spark.model import RuleSet
    from fhir_data_validation_spark.sources.synth import token_table
    df = token_table(spark, 10)
    rs = RuleSet.parse({"rules": [
        {"id": "CON-1", "type": "Range", "column": "n_tok",
         "validationClass": "Contract", "params": {"min": 1}}]})
    with pytest.raises(RuleConfigurationError):
        ValidationEngine(rs, config=EngineConfig(
            severity_overrides=(("CON-1", "warning"),))).validate(df)


def test_severity_override_unknown_rule_refused(spark):
    from fhir_data_validation_spark import EngineConfig, ValidationEngine
    from fhir_data_validation_spark.errors import RuleConfigurationError
    from fhir_data_validation_spark.model import RuleSet
    from fhir_data_validation_spark.sources.synth import token_table
    df = token_table(spark, 10)
    rs = RuleSet.parse({"rules": [
        {"id": "A", "type": "Required", "column": "tokens"}]})
    with pytest.raises(RuleConfigurationError):
        ValidationEngine(rs, config=EngineConfig(
            severity_overrides=(("NOPE", "warning"),))).validate(df)


@pytest.mark.parametrize("rule", [
    {"id": "B0a", "type": "Range", "column": "n_tok",
     "params": {"min": "abc"}},                   # string bound, numeric col
    {"id": "B0b", "type": "ArrayLength", "column": "tokens",
     "params": {"min": "abc"}},
    {"id": "B0c", "type": "TokenDomain", "column": "tokens",
     "params": {"min": 0, "maxExclusive": "big"}},
    {"id": "B0d", "type": "FixedValue", "column": "n_tok",
     "params": {"value": "abc"}},                 # string literal, int col
    {"id": "B0e", "type": "AllowedValues", "column": "tokens",
     "params": {"values": ["x", "y"]}},           # string values, int array
    {"id": "B0f", "type": "AllowedValues", "column": "source",
     "params": {"values": [1, 2]}},               # int values, string col
    {"id": "B1", "type": "MaxLength", "column": "doc_id",
     "params": {"maxLength": "xy"}},
    {"id": "B2", "type": "Precision", "column": "n_tok",
     "params": {"precision": "zz"}},
    {"id": "B3", "type": "Drift", "column": "n_tok",
     "params": {"baseline": "b", "bucketWidth": "wide"}},
    {"id": "B4", "type": "Drift", "column": "n_tok",
     "params": {"baseline": "b", "mode": "sideways"}},
])
def test_non_numeric_params_are_config_errors(spark, schema, rule):
    """The pre-flight contract is total: int()/float() coercion failures
    surface as RuleConfigurationError, never raw ValueError/TypeError."""
    dims = {"b": spark.createDataFrame(
        [("w", "n_tok", 1, 1)],
        "source string, column_name string, bucket int, count long")}
    with pytest.raises(RuleConfigurationError):
        compile_ruleset(RuleSet.parse({"rules": [rule]}), schema, dims=dims)


def test_range_bool_bound_rejected_on_string_column(spark, schema):
    """bool/list bounds on ANY column type are compile errors, not runtime
    scan aborts (regression: the numeric/string classification let them
    through on string columns)."""
    for bad in (True, [1, 2]):
        with pytest.raises(RuleConfigurationError):
            _compile_one(schema, {"id": "RB", "type": "Range",
                                  "column": "source",
                                  "params": {"min": bad}})


def test_scope_misuse_is_loud(spark):
    """round-5 review regressions (batch 10): (a) a condition on a
    non-filter scope kind used to be silently dropped (the author's row
    filter never ran); (b) dataset rules silently ignored instance
    scopes (Unique would flag keys duplicated only across filtered-out
    rows). Both must raise at parse/compile."""
    import pytest

    from fhir_data_validation_spark import (EngineConfig,
                                            RuleConfigurationError,
                                            ValidationEngine)
    from fhir_data_validation_spark.model import RuleDefinition, RuleSet
    with pytest.raises(RuleConfigurationError):
        RuleDefinition.parse(
            {"id": "S1", "type": "Required", "column": "c",
             "scope": {"kind": "all", "condition": "status = 'final'"}})
    df = spark.createDataFrame([("d1", "w")],
                               "doc_id string, source string")
    rs = RuleSet(rules=(RuleDefinition.parse(
        {"id": "U1", "type": "Unique", "column": "doc_id",
         "scope": {"kind": "filter", "condition": "source = 'w'"}}),))
    with pytest.raises(RuleConfigurationError):
        ValidationEngine(rs, config=EngineConfig(
            key_col="doc_id", group_col="source")).validate(df)


def test_plan_memo_builds_once_under_contention():
    """CompiledPlan.memo under more threads than cores and a short switch
    interval: every key is built exactly once and every caller gets the
    same object (a lost check-then-act would build twice)."""
    import sys
    import threading
    import time

    from pyspark.sql.types import StructType

    from fhir_data_validation_spark.compiler import CompiledPlan, EngineConfig
    from fhir_data_validation_spark.model import RuleSet
    plan = CompiledPlan(ruleset=RuleSet(version="1", rules=()),
                        config=EngineConfig(), schema=StructType())
    builds: dict[int, int] = {}
    got: list[tuple[int, object]] = []

    def build(key):
        builds[key] = builds.get(key, 0) + 1
        time.sleep(0.001)            # widen the check-then-act window
        return object()

    def worker():
        for key in range(20):
            got.append((key, plan.memo(key, lambda k=key: build(k))))
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker) for _ in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert builds == {k: 1 for k in range(20)}
    assert len(got) == 16 * 20
    first = dict(got)
    assert all(v is first[k] for k, v in got)
