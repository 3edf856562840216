"""Golden issue-list tests: exact expected violation counts per rule on the
seeded-corruption table (FIXTURES.md F2) — the reference's exact-assertion
pattern (FhirPathRuleEngineTests.cs:76-114) over the Spark engine."""

import json
from collections import Counter

import pytest
from pyspark.sql import functions as F

from fhir_data_validation_spark import ValidationEngine
from fhir_data_validation_spark.rulesets import default_token_ruleset
from fhir_data_validation_spark.sources.synth import (dirty_token_table,
                                                      sources_dim,
                                                      stats_baseline,
                                                      token_table)

N_ROWS = 2000
BLOCKS = N_ROWS // 1000

# per-1000-row block expectations derived from the injection bands
EXPECTED_PER_BLOCK = {
    "REQ-001": 10,   # empty tokens
    "REQ-002": 2,    # null source
    "LEN-001": 15,   # size 0 (10) + size>max (5)
    "INV-001": 10,   # n_tok mismatch
    "RGX-001": 5,    # doc_id grammar
    "ALW-001": 5,    # source='junk'
    "DOM-001": 10,   # out-of-vocab token
    "FIX-001": 0,
    "UNQ-001": 1,    # one duplicated key per block
    "REF-001": 5,    # junk rows miss the dim
}


@pytest.fixture(scope="module")
def result(spark):
    df = dirty_token_table(spark, N_ROWS).drop("_row_id")
    engine = ValidationEngine(default_token_ruleset(),
                              dims={"sources_dim": sources_dim(spark)})
    res = engine.validate(df)
    res.violations.cache()
    return res


def test_exact_violation_counts(result):
    counts = {r["rule_id"]: r["n"] for r in
              result.violations.groupBy("rule_id")
              .agg(F.count(F.lit(1)).alias("n")).collect()}
    for rule_id, per_block in EXPECTED_PER_BLOCK.items():
        assert counts.get(rule_id, 0) == per_block * BLOCKS, rule_id
    assert counts.get("CRD-001", 0) == 1  # undeclared 'junk' → one consolidated


def test_error_codes(result):
    codes = {r["rule_id"]: r["error_code"] for r in
             result.violations.select("rule_id", "error_code")
             .distinct().collect()}
    assert codes["REQ-001"] == "FIELD_REQUIRED"
    assert codes["LEN-001"] == "ARRAY_LENGTH_OUT_OF_RANGE"
    assert codes["INV-001"] == "ARRAY_LENGTH_VIOLATION"
    assert codes["RGX-001"] == "PATTERN_MISMATCH"
    assert codes["ALW-001"] == "INVALID_ENUM_VALUE"
    assert codes["DOM-001"] == "VALUE_NOT_ALLOWED"
    assert codes["UNQ-001"] == "DUPLICATE_KEY"
    assert codes["REF-001"] == "REFERENCE_NOT_FOUND"
    assert codes["CRD-001"] == "RESOURCE_REQUIREMENT_VIOLATION"


def test_duplicate_key_detail(result):
    rows = result.violations.where(F.col("rule_id") == "UNQ-001").collect()
    assert len(rows) == BLOCKS
    for r in rows:
        assert r["detail"]["count"] == "6"  # 1 original + 5 dup rows


def test_unexpected_source_detail(result):
    row = result.violations.where(F.col("rule_id") == "CRD-001").collect()[0]
    assert "junk" in row["detail"]["unexpected"]
    assert row["doc_id"] is None


def test_verdicts(result, spark):
    v = {(r["partition_key"], r["rule_id"]): r
         for r in result.verdicts.collect()}
    # junk partition fails the enum rule; web partition passes it
    assert v[("junk", "ALW-001")]["passed"] is False
    assert v[("web", "ALW-001")]["passed"] is True
    # dataset-level verdict for the cardinality rule
    assert v[("<dataset>", "CRD-001")]["passed"] is False
    # NULL-source rows form a real partition and their violations are counted
    # (regression: NULL join keys silently dropped these)
    assert v[("<null>", "REQ-002")]["violations"] == 2 * BLOCKS
    assert v[("<null>", "REQ-002")]["passed"] is False
    assert ("<dataset>", "REQ-002") not in v
    # rows accounting: web partition row count matches the data
    web_rows = v[("web", "REQ-001")]["rows"]
    assert web_rows > 0


def test_clean_table_passes(spark):
    df = token_table(spark, 1000)
    engine = ValidationEngine(default_token_ruleset(),
                              dims={"sources_dim": sources_dim(spark)})
    res = engine.validate(df)
    assert res.violations.count() == 0
    assert res.passed() is True
    # every verdict row passes
    assert res.verdicts.where(~F.col("passed")).count() == 0


def test_zero_mutation_invariant(spark):
    """Token-array equality: validation must not mutate input rows
    (docs/01_architecture_spec.md:28-29 zero-mutation guarantee)."""
    df = dirty_token_table(spark, 500).drop("_row_id")
    fingerprint = F.bit_xor(F.xxhash64("doc_id", "tokens", "n_tok", "source"))
    before = df.select(fingerprint.alias("h")).collect()[0]["h"]
    engine = ValidationEngine(default_token_ruleset(),
                              dims={"sources_dim": sources_dim(spark)})
    engine.validate(df).violations.count()
    after = df.select(fingerprint.alias("h")).collect()[0]["h"]
    assert before == after


def test_severity_downgrade_reference(spark):
    """allowExternal policy downgrades REFERENCE_NOT_FOUND to warning
    (ReferenceResolver.cs:116-126)."""
    from fhir_data_validation_spark.model import RuleSet
    df = dirty_token_table(spark, 1000).drop("_row_id")
    rs = RuleSet.parse({"rules": [
        {"id": "REF-W", "type": "Reference", "column": "source",
         "params": {"dim": "sources_dim", "on": "source",
                    "allowExternal": True}}]})
    res = ValidationEngine(rs, dims={"sources_dim": sources_dim(spark)}).validate(df)
    sev = res.violations.select("severity").distinct().collect()
    assert [r["severity"] for r in sev] == ["warning"]
    assert res.passed() is True  # warnings never block


def test_drift_detects_shift(spark):
    from fhir_data_validation_spark.model import RuleSet
    clean = token_table(spark, 20000, seed=42)
    base = stats_baseline(clean, "n_tok", 512)
    rs = RuleSet.parse({"rules": [
        {"id": "DRF-001", "type": "Drift", "column": "n_tok",
         "params": {"baseline": "stats_baseline", "psiMax": 0.2,
                    "ksAlpha": 0.01, "bucketWidth": 512}}]})
    # same distribution, different seed → no drift
    same = token_table(spark, 20000, seed=777)
    res = ValidationEngine(rs, dims={"stats_baseline": base}).validate(same)
    assert res.violations.count() == 0
    # shifted distribution (n_tok quadrupled) → drift fires per source
    shifted = clean.withColumn("n_tok", F.least(F.col("n_tok") * 4, F.lit(8192)))
    res2 = ValidationEngine(rs, dims={"stats_baseline": base}).validate(shifted)
    assert res2.violations.count() > 0
    row = res2.violations.collect()[0]
    assert float(row["detail"]["psi"]) > 0.2 or \
        float(row["detail"]["ks"]) > float(row["detail"]["ksCrit"])


def test_drift_token_frequency_mode(spark):
    """North-star token-frequency drift: PSI over per-token histograms
    (KS is skipped — token ids are categorical, their order means
    nothing)."""
    from fhir_data_validation_spark.model import RuleSet
    from fhir_data_validation_spark.sources.synth import \
        token_frequency_baseline
    clean = token_table(spark, 5000, vocab=256)
    base = token_frequency_baseline(clean)
    rs = RuleSet.parse({"rules": [
        {"id": "DRF-T", "type": "Drift", "column": "tokens",
         "params": {"baseline": "tok_base", "mode": "tokenFrequency",
                    "psiMax": 0.2}}]})
    # same generator, different seed → same token distribution → no drift
    same = token_table(spark, 5000, seed=9, vocab=256)
    res = ValidationEngine(rs, dims={"tok_base": base}).validate(same)
    assert res.violations.count() == 0
    # vocabulary collapse (all mass on 16 ids) → PSI fires per source
    shifted = clean.withColumn(
        "tokens", F.transform("tokens", lambda t: F.pmod(t, F.lit(16))))
    res2 = ValidationEngine(rs, dims={"tok_base": base}).validate(shifted)
    rows = res2.violations.collect()
    assert rows and all(float(r["detail"]["psi"]) > 0.2 for r in rows)


def test_first_scope(spark):
    """InstanceScope 'first' (P3): rule applies only to the first row per
    group (ResourceSelector.cs:80-89)."""
    from fhir_data_validation_spark.model import RuleSet
    df = token_table(spark, 100)
    rs = RuleSet.parse({"rules": [
        {"id": "FIRST-1", "type": "CustomExpr", "expr": "false",
         "scope": {"kind": "first"}}]})
    res = ValidationEngine(rs).validate(df)
    n_groups = df.select("source").distinct().count()
    assert res.violations.count() == n_groups


def test_concurrent_validates_share_one_engine(spark):
    """ResumableRun submits batches from threads against ONE engine: the
    schema-keyed plan cache and validate() must be thread-safe and produce
    identical results per thread."""
    from concurrent.futures import ThreadPoolExecutor
    from fhir_data_validation_spark.model import RuleSet
    from fhir_data_validation_spark.sources.synth import dirty_token_table
    df = dirty_token_table(spark, 2000).drop("_row_id")
    rs = RuleSet.parse({"rules": [
        {"id": "REQ-C", "type": "Required", "column": "tokens"},
        {"id": "DOM-C", "type": "TokenDomain", "column": "tokens",
         "params": {"min": 0, "maxExclusive": 50257}}]})
    engine = ValidationEngine(rs)

    def one(i):
        sub = df.where(F.pmod(F.xxhash64("doc_id"), F.lit(4)) == i)
        res = engine.validate(sub)
        n = res.violations.count()
        res.unpersist()
        return n

    with ThreadPoolExecutor(4) as ex:
        counts = list(ex.map(one, range(4)))
    # the four disjoint slices cover the whole input exactly once
    full = engine.validate(df)
    assert sum(counts) == full.violations.count()
    full.unpersist()


def test_response_assembly(result):
    """S5: the reference's ValidationResponse payload shape
    (Models/ValidationResponse.cs:9-85) — bounded error list, exact
    summary counts, metadata."""
    resp = result.response(max_errors=7, rules_version="1.0",
                           processing_time_ms=42)
    assert resp["isValid"] is False
    assert len(resp["errors"]) == 7 and resp["errorsTruncated"] is True
    s = resp["summary"]
    assert s["totalErrors"] == s["errorCount"] + s["warningCount"] + \
        s["infoCount"]
    assert s["totalErrors"] == result.violations.count()
    assert s["referenceErrorCount"] > 0  # REF-001 fires on junk rows
    # stage buckets (ValidationResponse.cs:53-66): lint (Ingest), fhir
    # (STRUCTURE-stage rule types) and business partition totalErrors
    # together with the dedicated Reference/CodeMaster keys
    assert {"lintErrorCount", "fhirErrorCount"} <= set(s)
    assert (s["lintErrorCount"] + s["fhirErrorCount"]
            + s["businessErrorCount"] + s["referenceErrorCount"]
            + s["codeMasterErrorCount"]) == s["totalErrors"]
    e = resp["errors"][0]
    assert {"resourceId", "ruleId", "ruleType", "errorCode", "severity",
            "source", "fieldPath", "details"} <= set(e)
    assert resp["metadata"] == {"rulesVersion": "1.0",
                                "processingTimeMs": 42}
    # authoring-mode explanations (ValidationError.Explanation analog):
    # opt-in, structured, attached to every returned error
    assert "explanation" not in e
    explained = result.response(max_errors=3, explain=True)
    for err in explained["errors"]:
        exp = err["explanation"]
        assert exp["what"] and exp["how"]
        assert exp["confidence"] in ("high", "medium", "low")


def test_drift_jsd_chi2_statistics_and_gate(spark):
    """JSD (bits, bounded [0,1]) and chi-square ride the same reduced
    histograms; jsdMax is an order-free gate that fires even when the
    eps-clamped PSI stays under its threshold."""
    from fhir_data_validation_spark.model import RuleSet
    clean = token_table(spark, 20000, seed=42)
    base = stats_baseline(clean, "n_tok", 512)
    shifted = clean.withColumn("n_tok",
                               F.least(F.col("n_tok") * 4, F.lit(8192)))
    # psiMax set unreachably high: only the jsdMax gate can fire
    rs = RuleSet.parse({"rules": [
        {"id": "DRF-J", "type": "Drift", "column": "n_tok",
         "params": {"baseline": "stats_baseline", "psiMax": 1e9,
                    "ksAlpha": 1e-12, "bucketWidth": 512,
                    "jsdMax": 0.05}}]})
    res = ValidationEngine(rs, dims={"stats_baseline": base}).validate(shifted)
    rows = res.violations.collect()
    assert rows
    for r in rows:
        jsd = float(r["detail"]["jsd"])
        assert 0.05 < jsd <= 1.0
        assert float(r["detail"]["chi2"]) > 0.0
    # identical distribution: jsd ~ 0 → no violation under the same gate
    same = token_table(spark, 20000, seed=777)
    res2 = ValidationEngine(rs, dims={"stats_baseline": base}).validate(same)
    assert res2.violations.count() == 0


def test_expectation_rule_end_to_end(spark):
    """Failing checks consolidate into ONE violation row keyed <dataset>;
    group-scoped rules aggregate only their group; passing rules emit
    nothing."""
    import json

    from fhir_data_validation_spark.model import RuleSet
    df = spark.createDataFrame(
        [("a", 5, "web"), ("b", 10, "web"), ("c", None, "api")],
        "doc_id string, n_tok int, source string")
    rs = RuleSet.parse({"rules": [
        {"id": "EXP-1", "type": "Expectation",
         "params": {"checks": [
             {"metric": "row_count", "min": 2},
             {"metric": "null_fraction", "column": "n_tok", "max": 0.2},
             {"metric": "mean", "column": "n_tok", "min": 5, "max": 9}]}},
        {"id": "EXP-2", "type": "Expectation", "source": "web",
         "params": {"checks": [{"metric": "row_count", "min": 3}]}},
        {"id": "EXP-3", "type": "Expectation",
         "params": {"checks": [{"metric": "distinct_count",
                                "column": "doc_id", "min": 3}]}},
    ]})
    res = ValidationEngine(rs).validate(df)
    viol = {r["rule_id"]: r for r in res.violations.collect()}
    assert set(viol) == {"EXP-1", "EXP-2"}          # EXP-3 passes
    failed = json.loads(viol["EXP-1"]["detail"]["failed"])
    assert [f["metric"] for f in failed] == ["null_fraction"]
    assert abs(failed[0]["observed"] - 1 / 3) < 1e-9
    assert viol["EXP-1"]["error_code"] == "EXPECTATION_VIOLATION"
    # scoped rule observed only the 2 web rows
    f2 = json.loads(viol["EXP-2"]["detail"]["failed"])
    assert f2[0]["observed"] == 2.0 and viol["EXP-2"]["source"] == "web"
    verdicts = {(r["partition_key"], r["rule_id"]): r["passed"]
                for r in res.verdicts.collect()}
    assert verdicts[("<dataset>", "EXP-1")] is False
    # passing dataset rules verdict per group — no <dataset> row
    assert ("<dataset>", "EXP-3") not in verdicts
    assert verdicts[("web", "EXP-3")] is True


def test_expectation_closed_world_on_empty_input(spark):
    """0 rows → null observed for value metrics → the check FAILS
    (closed world, RequiredResources convention); the engine must not
    crash."""
    import json

    from fhir_data_validation_spark.model import RuleSet
    df = spark.createDataFrame(
        [], "doc_id string, n_tok int, source string")
    rs = RuleSet.parse({"rules": [
        {"id": "EXP-E", "type": "Expectation",
         "params": {"checks": [
             {"metric": "mean", "column": "n_tok", "min": 0},
             {"metric": "row_count", "min": 0}]}}]})
    res = ValidationEngine(rs).validate(df)
    rows = res.violations.collect()
    assert len(rows) == 1
    failed = json.loads(rows[0]["detail"]["failed"])
    assert [f["metric"] for f in failed] == ["mean"]
    assert failed[0]["observed"] is None


def test_expectation_compile_rejections(spark):
    from fhir_data_validation_spark import RuleConfigurationError
    from fhir_data_validation_spark.model import RuleSet
    df = spark.createDataFrame([("a", 1, "s")],
                               "doc_id string, n_tok int, source string")
    bad_checks = [
        [{"metric": "median", "column": "n_tok", "min": 1}],   # unknown
        [{"metric": "mean", "column": "doc_id", "min": 1}],    # non-numeric
        [{"metric": "mean", "column": "missing", "min": 1}],   # no column
        [{"metric": "null_count", "min": 0}],                  # col required
        [{"metric": "mean", "column": "n_tok"}],               # no bounds
        [{"metric": "mean", "column": "n_tok", "min": "x"}],   # non-numeric
        [],
    ]
    for checks in bad_checks:
        rs = RuleSet.parse({"rules": [
            {"id": "EXP-B", "type": "Expectation",
             "params": {"checks": checks}}]})
        with pytest.raises(RuleConfigurationError):
            ValidationEngine(rs).validate(df)


def test_outlier_rule_zscore_and_iqr(spark):
    """Two-pass fences: per-group z-score flags only the planted anomaly;
    dataset-wide IQR with Tukey fences agrees; details carry
    observed/lo/hi/side."""
    from fhir_data_validation_spark.model import RuleSet
    rows = ([("w%d" % i, 100 + (i % 5), "web") for i in range(40)]
            + [("spike", 10_000, "web")]
            + [("a%d" % i, 50 + (i % 3), "api") for i in range(40)])
    df = spark.createDataFrame(rows, "doc_id string, n_tok int, source string")
    # two rulesets: both rules hit the same (doc, column), so in one set
    # A5 dedup would — correctly — keep only one of them
    rs = RuleSet.parse({"rules": [
        {"id": "OUT-Z", "type": "Outlier", "column": "n_tok",
         "params": {"method": "zscore", "k": 3}}]})
    rs_iqr = RuleSet.parse({"rules": [
        {"id": "OUT-I", "type": "Outlier", "column": "n_tok",
         "params": {"method": "iqr", "perGroup": False}}]})
    res = ValidationEngine(rs).validate(df)
    by_rule = {"OUT-I": ValidationEngine(rs_iqr).validate(df)
                                                .violations.collect()}
    by_rule["OUT-Z"] = res.violations.collect()
    assert [r["doc_id"] for r in by_rule["OUT-Z"]] == ["spike"]
    z = by_rule["OUT-Z"][0]
    assert z["error_code"] == "OUTLIER_VALUE" and z["source"] == "web"
    assert z["detail"]["side"] == "above"
    assert float(z["detail"]["observed"]) == 10000.0
    assert float(z["detail"]["lo"]) < 110 < 10000
    # dataset-wide IQR also catches the spike (api lows stay inside fences)
    assert "spike" in [r["doc_id"] for r in by_rule["OUT-I"]]
    verdicts = {(r["partition_key"], r["rule_id"]): r["passed"]
                for r in res.verdicts.collect()}
    assert verdicts[("web", "OUT-Z")] is False
    assert verdicts[("api", "OUT-Z")] is True


def test_outlier_quantile_and_small_groups(spark):
    """quantile method fences at approx percentiles; groups with <2 rows
    emit nothing (open world); NULL values are never outliers."""
    from fhir_data_validation_spark.model import RuleSet
    rows = ([("d%d" % i, i, "web") for i in range(1000)]
            + [("solo", 999_999, "lonely"), ("nul", None, "web")])
    df = spark.createDataFrame(rows, "doc_id string, n_tok int, source string")
    rs = RuleSet.parse({"rules": [
        {"id": "OUT-Q", "type": "Outlier", "column": "n_tok",
         "params": {"method": "quantile", "lower": 0.01, "upper": 0.99}}]})
    viol = ValidationEngine(rs).validate(df).violations.collect()
    ids = {r["doc_id"] for r in viol}
    assert "solo" not in ids and "nul" not in ids
    # ~1% tails of the web uniform ramp get flagged, small count both sides
    assert 0 < len(ids) < 60
    sides = {r["detail"]["side"] for r in viol}
    assert sides == {"below", "above"}


def test_outlier_zscore_fences_bit_identical_across_partitionings(spark):
    """Round-5 determinism promotion (round-4 verdict item 4): for
    integral columns the zscore fences derive from exact DECIMAL
    ``(n, Σx, Σx²)`` reductions, so lo/hi are BIT-identical regardless
    of input partitioning — and equal the closed-form
    ``sqrt((Σx² − Σx·Σx/n)/(n−1))`` chain computed on the same doubles
    in plain Python. ``avg``/``stddev`` merge partial moments in a
    partition-dependent order and can differ in the last ulp."""
    import math

    from fhir_data_validation_spark.plans import outlier_bounds
    rows = [("d%d" % i, (i * 37) % 997 + (7 if i % 3 else 1), "web")
            for i in range(5000)]
    df = spark.createDataFrame(rows, "doc_id string, n_tok int, source string")
    fences = {}
    for parts in (1, 7, 32):
        f = outlier_bounds(df.repartition(parts), "n_tok",
                           method="zscore", k=1.5).collect()[0]
        fences[parts] = (f["lo"], f["hi"])
    assert fences[1] == fences[7] == fences[32]
    xs = [r[1] for r in rows]
    ni = len(xs)
    s1i, s2i = sum(xs), sum(x * x for x in xs)
    n, s1 = float(ni), float(s1i)
    mu = s1 / n
    # exact integer variance numerator, ONE cast to double — the chain
    # the engine and the oracles state
    sd = math.sqrt(float(ni * s2i - s1i * s1i) / (n * (n - 1.0)))
    assert fences[1] == (mu - 1.5 * sd, mu + 1.5 * sd)
    # floating-point columns keep the documented avg/stddev fallback:
    # same fences within double noise, no exact-path decimal cast
    dbl = df.withColumn("n_tok", F.col("n_tok").cast("double") + 0.25)
    fb = outlier_bounds(dbl, "n_tok", method="zscore", k=1.5).collect()[0]
    assert abs(fb["lo"] - (mu + 0.25 - 1.5 * sd)) < 1e-6
    assert abs(fb["hi"] - (mu + 0.25 + 1.5 * sd)) < 1e-6


def test_outlier_zscore_exact_path_survives_huge_values_and_nulls(spark):
    """round-5 review regressions: (a) epoch-nanosecond-scale bigints
    must not crash the exact decimal path under ANSI (try_sum degrades
    the group to the avg/stddev moments computed in the same pass);
    (b) NULL values are excluded from n AND the sums — fences with NULLs
    present equal the closed-form over the non-null values only."""
    import math

    from fhir_data_validation_spark.plans import outlier_bounds
    # (a) epoch-nanosecond-scale values (1.7e18) spread by i·1e12:
    # Σx² needs ~39 digits → try_sum NULLs → the group falls back to
    # the STABLE central-moment stddev computed in the same pass (the
    # old double textbook formula could cancel catastrophically —
    # review batch 2); fences must reflect the true ~14.58e12 spread,
    # not 0, not garbage, and never an ANSI overflow crash
    big = [("b%d" % i, 1_700_000_000_000_000_000 + i * 10 ** 12, "big")
           for i in range(50)]
    over = [("o%d" % i, 9_000_000_000_000_000_000, "over")
            for i in range(200)]
    df = spark.createDataFrame(big + over,
                               "doc_id string, v long, source string")
    rows = {r["group"]: r for r in outlier_bounds(
        df, "v", method="zscore", k=3.0, group_col="source").collect()}
    assert rows["big"]["n"] == 50 and rows["big"]["lo"] is not None
    assert math.isfinite(rows["big"]["lo"])
    true_sd = 1e12 * math.sqrt(
        sum((i - 24.5) ** 2 for i in range(50)) / 49.0)
    width = rows["big"]["hi"] - rows["big"]["lo"]
    assert abs(width - 6.0 * true_sd) / (6.0 * true_sd) < 1e-3, width
    # the overflow group degrades (stddev of a constant = 0) not crashes
    assert rows["over"]["n"] == 200
    assert rows["over"]["hi"] is not None
    # (b) NULLs excluded from n and sums, fences = closed form over
    # non-null values; still bit-identical across partitionings
    vals = [(i * 13) % 101 for i in range(400)]
    rows2 = ([("d%d" % i, v, "web") for i, v in enumerate(vals)]
             + [("n%d" % i, None, "web") for i in range(37)])
    dfn = spark.createDataFrame(rows2, "doc_id string, v int, source string")
    got = {}
    for parts in (1, 11):
        f = outlier_bounds(dfn.repartition(parts), "v",
                           method="zscore", k=2.0).collect()[0]
        got[parts] = (f["n"], f["lo"], f["hi"])
    assert got[1] == got[11]
    ni, s1i = len(vals), sum(vals)
    s2i = sum(v * v for v in vals)
    n = float(ni)
    mu = float(s1i) / n
    sd = math.sqrt(float(ni * s2i - s1i * s1i) / (n * (n - 1.0)))
    assert got[1] == (len(vals), mu - 2.0 * sd, mu + 2.0 * sd)


def test_outlier_compile_rejections(spark):
    from fhir_data_validation_spark import RuleConfigurationError
    from fhir_data_validation_spark.model import RuleSet
    df = spark.createDataFrame([("a", 1, "s")],
                               "doc_id string, n_tok int, source string")
    bad = [
        {"column": "doc_id", "params": {}},                       # non-numeric
        {"column": "missing", "params": {}},                      # no column
        {"params": {}},                                           # col required
        {"column": "n_tok", "params": {"method": "mad"}},         # unknown
        {"column": "n_tok", "params": {"k": -1}},                 # k <= 0
        {"column": "n_tok", "params": {"k": "x"}},                # non-numeric
        {"column": "n_tok", "params": {"method": "quantile",
                                       "lower": 0.9, "upper": 0.1}},
    ]
    for spec in bad:
        rs = RuleSet.parse({"rules": [
            {"id": "OUT-B", "type": "Outlier", **spec}]})
        with pytest.raises(RuleConfigurationError):
            ValidationEngine(rs).validate(df)


def test_vector_check_lanes(spark):
    """VectorCheck: dim / finite / norm lanes with lane priority in the
    detail, null vectors skipped, NaN/±Inf/null-element all caught by
    native expressions, empty vector norm = 0."""
    from fhir_data_validation_spark import EngineConfig
    from fhir_data_validation_spark.model import RuleSet
    rows = [
        ("ok", "g", [1.0, 2.0, 2.0]),            # norm 3 — clean
        ("short", "g", [1.0, 2.0]),              # dim lane
        ("nan", "g", [float("nan"), 0.0, 1.0]),  # finite lane
        ("inf", "g", [float("inf"), 0.0, 1.0]),
        ("ninf", "g", [float("-inf"), 0.0, 1.0]),
        ("nullel", "g", [1.0, None, 1.0]),
        ("zero", "g", [0.0, 0.0, 0.0]),          # norm 0 < normMin
        ("big", "g", [100.0, 0.0, 0.0]),         # norm 100 > normMax
        ("absent", "g", None),                   # null vector — skipped
    ]
    df = spark.createDataFrame(
        rows, "id string, grp string, vec array<double>")
    rs = RuleSet.parse({"rules": [
        {"id": "VC-1", "type": "VectorCheck", "column": "vec",
         "params": {"dim": 3, "normMin": 0.5, "normMax": 50}}]})
    res = ValidationEngine(rs, config=EngineConfig(
        key_col="id", group_col="grp")).validate(df)
    viol = {r["doc_id"]: r for r in res.violations.collect()}
    lanes = {k: v["detail"]["check"] for k, v in viol.items()}
    assert lanes == {"short": "dim", "nan": "finite", "inf": "finite",
                     "ninf": "finite", "nullel": "finite",
                     "zero": "norm", "big": "norm"}
    assert viol["big"]["error_code"] == "VECTOR_CHECK_FAILED"
    assert float(viol["big"]["detail"]["norm"]) == 100.0
    assert viol["short"]["detail"]["size"] == "2"
    # norm-less VectorCheck has no HOF and stays codegen-friendly
    from fhir_data_validation_spark.compiler import compile_ruleset
    rs2 = RuleSet.parse({"rules": [
        {"id": "VC-2", "type": "VectorCheck", "column": "vec",
         "params": {"dim": 3}}]})
    plan2 = compile_ruleset(rs2, df.schema,
                            EngineConfig(key_col="id", group_col="grp"), {})
    assert plan2.predicates[0].hof is False
    plan1 = compile_ruleset(rs, df.schema,
                            EngineConfig(key_col="id", group_col="grp"), {})
    assert plan1.predicates[0].hof is True


def test_vector_check_compile_rejections(spark):
    from fhir_data_validation_spark import EngineConfig, RuleConfigurationError
    from fhir_data_validation_spark.model import RuleSet
    df = spark.createDataFrame(
        [("a", "g", [1.0], "x")],
        "id string, grp string, vec array<double>, s string")
    bad = [
        {"column": "s", "params": {"dim": 3}},           # not an array
        {"column": "missing", "params": {"dim": 3}},     # no column
        {"column": "vec", "params": {"dim": "x"}},       # non-numeric dim
        {"column": "vec", "params": {"requireFinite": False}},  # no lane
        {"column": "vec", "params": {"normMin": "x"}},
    ]
    for spec in bad:
        rs = RuleSet.parse({"rules": [
            {"id": "VC-B", "type": "VectorCheck", **spec}]})
        with pytest.raises(RuleConfigurationError):
            ValidationEngine(rs, config=EngineConfig(
                key_col="id", group_col="grp")).validate(df)


def test_sequence_shape_lanes(spark):
    """SequenceShape: bos / eos / trailing-pad lanes. EOS is judged at the
    last NON-pad position when a pad id is declared (a padded sequence ends
    `… eos pad pad`); interior pads break the trailing-run equality; empty
    and all-pad sequences cannot carry their markers."""
    from fhir_data_validation_spark import EngineConfig
    from fhir_data_validation_spark.model import RuleSet
    rows = [
        ("ok_pad", "g", [1, 10, 11, 2, 0, 0]),
        ("ok_nopad", "g", [1, 10, 11, 2]),
        ("no_bos", "g", [10, 11, 2]),
        ("no_eos", "g", [1, 10, 11, 7]),
        ("interior_pad", "g", [1, 10, 0, 11, 2]),
        ("empty", "g", []),
        ("absent", "g", None),            # null sequence — skipped
        ("all_pad", "g", [0, 0, 0]),
        ("eos_not_last_content", "g", [1, 2, 10, 0]),
    ]
    df = spark.createDataFrame(rows, "id string, grp string, tokens array<int>")
    rs = RuleSet.parse({"rules": [
        {"id": "SEQ-1", "type": "SequenceShape", "column": "tokens",
         "params": {"bos": 1, "eos": 2, "pad": 0}}]})
    res = ValidationEngine(rs, config=EngineConfig(
        key_col="id", group_col="grp")).validate(df)
    viol = {r["doc_id"]: r for r in res.violations.collect()}
    lanes = {k: v["detail"]["check"] for k, v in viol.items()}
    assert lanes == {"no_bos": "bos", "no_eos": "eos",
                     "interior_pad": "eos",   # last content before pad ≠ eos
                     "empty": "bos", "all_pad": "bos",
                     "eos_not_last_content": "eos"}
    assert viol["no_bos"]["error_code"] == "SEQUENCE_SHAPE_VIOLATION"
    assert viol["no_bos"]["detail"]["first"] == "10"
    assert viol["interior_pad"]["detail"]["padStart"] == "3"
    # an interior pad where the content DOES end in eos fires the pad lane
    df2 = spark.createDataFrame(
        [("x", "g", [1, 2, 0, 10, 0])], "id string, grp string, tokens array<int>")
    res2 = ValidationEngine(rs, config=EngineConfig(
        key_col="id", group_col="grp")).validate(df2)
    v2 = res2.violations.collect()
    assert len(v2) == 1 and v2[0]["detail"]["check"] == "pad"
    # marker lanes are independent: pad-only rule ignores bos/eos framing
    rs_pad = RuleSet.parse({"rules": [
        {"id": "SEQ-2", "type": "SequenceShape", "column": "tokens",
         "params": {"pad": 0}}]})
    res3 = ValidationEngine(rs_pad, config=EngineConfig(
        key_col="id", group_col="grp")).validate(df)
    assert {r["doc_id"] for r in res3.violations.collect()} == {"interior_pad"}


def test_sequence_shape_stays_codegen(spark):
    """No HOF: SequenceShape predicates fuse into the shared codegen scan."""
    from fhir_data_validation_spark import EngineConfig
    from fhir_data_validation_spark.compiler import compile_ruleset
    from fhir_data_validation_spark.model import RuleSet
    df = spark.createDataFrame(
        [("a", "g", [1, 2])], "id string, grp string, tokens array<int>")
    rs = RuleSet.parse({"rules": [
        {"id": "SEQ-1", "type": "SequenceShape", "column": "tokens",
         "params": {"bos": 1, "eos": 2, "pad": 0}}]})
    plan = compile_ruleset(rs, df.schema,
                           EngineConfig(key_col="id", group_col="grp"), {})
    assert plan.predicates[0].hof is False


def test_sequence_shape_compile_rejections(spark):
    from fhir_data_validation_spark import EngineConfig, RuleConfigurationError
    from fhir_data_validation_spark.model import RuleSet
    df = spark.createDataFrame(
        [("a", "g", [1], "x", [1.5])],
        "id string, grp string, tokens array<int>, s string, f array<double>")
    bad = [
        {"column": "s", "params": {"bos": 1}},       # not an array
        {"column": "f", "params": {"bos": 1}},       # not integral elements
        {"column": "tokens", "params": {}},          # no lane at all
        {"column": "tokens", "params": {"bos": "x"}},   # non-int marker
        {"column": "tokens", "params": {"pad": True}},  # bool is not a token
    ]
    for spec in bad:
        rs = RuleSet.parse({"rules": [
            {"id": "SEQ-B", "type": "SequenceShape", **spec}]})
        with pytest.raises(RuleConfigurationError):
            ValidationEngine(rs, config=EngineConfig(
                key_col="id", group_col="grp")).validate(df)


def test_json_path_ops(spark):
    """JsonPath: exists / equals / range / regex / inValues over a JSON
    string column via VARIANT; malformed JSON and JSON-null are their own
    lanes; rules on the same column but different paths never dedup
    against each other."""
    from fhir_data_validation_spark import EngineConfig
    from fhir_data_validation_spark.model import RuleSet
    rows = [
        ("ok", "g", '{"k": 50, "tag": "en", "meta": {"v": 1}}'),
        ("low", "g", '{"k": 3, "tag": "en", "meta": {"v": 1}}'),
        ("badtag", "g", '{"k": 50, "tag": "xx", "meta": {"v": 1}}'),
        ("nometa", "g", '{"k": 50, "tag": "en"}'),
        ("jnull", "g", '{"k": null, "tag": "en", "meta": {"v": 1}}'),
        ("malformed", "g", '{not json'),
        ("absent", "g", None),        # null column — skipped entirely
    ]
    df = spark.createDataFrame(rows, "id string, grp string, props string")
    rs = RuleSet.parse({"rules": [
        {"id": "JP-RANGE", "type": "JsonPath", "column": "props",
         "params": {"path": "$.k", "op": "range", "asType": "long",
                    "min": 10, "max": 80}},
        {"id": "JP-IN", "type": "JsonPath", "column": "props",
         "params": {"path": "$.tag", "op": "inValues",
                    "values": ["en", "de"]}},
        {"id": "JP-EXISTS", "type": "JsonPath", "column": "props",
         "params": {"path": "$.meta.v", "op": "exists"}},
    ]})
    res = ValidationEngine(rs, config=EngineConfig(
        key_col="id", group_col="grp")).validate(df)
    got = {(r["doc_id"], r["rule_id"]): r["detail"]["check"]
           for r in res.violations.collect()}
    assert got == {
        ("low", "JP-RANGE"): "range",
        ("jnull", "JP-RANGE"): "missing",      # JSON null = not present
        ("badtag", "JP-IN"): "inValues",
        ("nometa", "JP-EXISTS"): "missing",
        ("malformed", "JP-RANGE"): "malformed",
        ("malformed", "JP-IN"): "malformed",
        ("malformed", "JP-EXISTS"): "malformed",
    }
    assert all(r["error_code"] == "JSON_PATH_VIOLATION"
               for r in res.violations.collect())


def test_json_path_variant_column_and_more_ops(spark):
    """A pre-parsed VARIANT column binds directly (parse once, probe many);
    equals and regex ops."""
    from pyspark.sql import functions as F
    from fhir_data_validation_spark import EngineConfig
    from fhir_data_validation_spark.model import RuleSet
    rows = [("a", "g", '{"st": "active", "code": "AB-12"}'),
            ("b", "g", '{"st": "done", "code": "AB-12"}'),
            ("c", "g", '{"st": "active", "code": "nope"}')]
    df = (spark.createDataFrame(rows, "id string, grp string, props string")
          .withColumn("v", F.parse_json("props")).drop("props"))
    rs = RuleSet.parse({"rules": [
        {"id": "JP-EQ", "type": "JsonPath", "column": "v",
         "params": {"path": "$.st", "op": "equals", "value": "active"}},
        {"id": "JP-RE", "type": "JsonPath", "column": "v",
         "params": {"path": "$.code", "op": "regex",
                    "pattern": "^[A-Z]{2}-[0-9]+$"}},
    ]})
    res = ValidationEngine(rs, config=EngineConfig(
        key_col="id", group_col="grp")).validate(df)
    got = {(r["doc_id"], r["rule_id"]) for r in res.violations.collect()}
    assert got == {("b", "JP-EQ"), ("c", "JP-RE")}


def test_json_path_compile_rejections(spark):
    from fhir_data_validation_spark import EngineConfig, RuleConfigurationError
    from fhir_data_validation_spark.model import RuleSet
    df = spark.createDataFrame(
        [("a", "g", "{}", 1)], "id string, grp string, props string, n int")
    bad = [
        {"column": "n", "params": {"path": "$.k"}},          # not json-able
        {"column": "props", "params": {"path": "k"}},        # no $ prefix
        {"column": "props", "params": {}},                   # no path
        {"column": "props", "params": {"path": "$.k", "op": "nope"}},
        {"column": "props", "params": {"path": "$.k", "op": "range"}},  # no bounds
        {"column": "props", "params": {"path": "$.k", "op": "range",
                                       "min": 1}},           # string asType
        {"column": "props", "params": {"path": "$.k", "op": "equals",
                                       "asType": "long", "value": "x"}},
        {"column": "props", "params": {"path": "$.k", "op": "regex",
                                       "pattern": "["}},
        {"column": "props", "params": {"path": "$.k", "op": "inValues",
                                       "values": []}},
        {"column": "props", "params": {"path": "$.k", "asType": "date"}},
    ]
    for spec in bad:
        rs = RuleSet.parse({"rules": [
            {"id": "JP-B", "type": "JsonPath", **spec}]})
        with pytest.raises(RuleConfigurationError):
            ValidationEngine(rs, config=EngineConfig(
                key_col="id", group_col="grp")).validate(df)


def test_agg_consistency_sum_and_lanes(spark):
    """AggConsistency: child-sum reconciles against the parent's stored
    rollup; noChildren lane gated by requireChildren; null parent value
    can never reconcile."""
    from fhir_data_validation_spark import EngineConfig
    from fhir_data_validation_spark.model import RuleSet
    parent = spark.createDataFrame(
        [("p1", 60.0, "g"), ("p2", 10.0, "g"), ("p3", 5.0, "g"),
         ("p4", None, "g"), ("p5", 7.0, "g")],
        "pid string, total double, grp string")
    child = spark.createDataFrame(
        [("p1", 20.0), ("p1", 40.0), ("p2", 5.0), ("p4", 1.0)],
        "cid string, amt double")
    rule = {"id": "AGG-1", "type": "AggConsistency", "column": "total",
            "params": {"dim": "child", "on": "pid", "dimKey": "cid",
                       "agg": "sum", "valueColumn": "amt",
                       "tolerance": 0.01, "requireChildren": True,
                       "broadcast": True}}
    res = ValidationEngine(
        RuleSet.parse({"rules": [rule]}), dims={"child": child},
        config=EngineConfig(key_col="pid", group_col="grp")).validate(parent)
    got = {r["doc_id"]: r["detail"]["check"] for r in res.violations.collect()}
    assert got == {"p2": "mismatch", "p3": "noChildren",
                   "p4": "mismatch", "p5": "noChildren"}
    # without requireChildren the childless parents are skipped
    rule2 = {**rule, "params": {**rule["params"], "requireChildren": False}}
    res2 = ValidationEngine(
        RuleSet.parse({"rules": [rule2]}), dims={"child": child},
        config=EngineConfig(key_col="pid", group_col="grp")).validate(parent)
    assert {r["doc_id"] for r in res2.violations.collect()} == {"p2", "p4"}
    # relative tolerance: 10 vs 5 is within 100% band
    rule3 = {**rule2, "params": {**rule2["params"], "tolerance": 0,
                                 "relTolerance": 1.0}}
    res3 = ValidationEngine(
        RuleSet.parse({"rules": [rule3]}), dims={"child": child},
        config=EngineConfig(key_col="pid", group_col="grp")).validate(parent)
    assert {r["doc_id"] for r in res3.violations.collect()} == {"p4"}


def test_agg_consistency_null_child_aggregate_fails(spark):
    """Children present but every child value NULL → the aggregate is
    NULL, which can never reconcile against a non-null parent (regression:
    abs(actual - NULL) > tol evaluated to NULL and where() silently
    PASSED the row)."""
    from fhir_data_validation_spark import EngineConfig
    from fhir_data_validation_spark.model import RuleSet
    parent = spark.createDataFrame([("p1", 100.0, "g"), ("p2", 5.0, "g")],
                                   "pid string, total double, grp string")
    child = spark.createDataFrame([("p1", None), ("p1", None), ("p2", 5.0)],
                                  "cid string, amt double")
    rule = {"id": "AGG-N", "type": "AggConsistency", "column": "total",
            "params": {"dim": "child", "on": "pid", "dimKey": "cid",
                       "agg": "sum", "valueColumn": "amt",
                       "tolerance": 0.01}}
    res = ValidationEngine(
        RuleSet.parse({"rules": [rule]}), dims={"child": child},
        config=EngineConfig(key_col="pid", group_col="grp")).validate(parent)
    got = {r["doc_id"]: r["detail"]["check"] for r in res.violations.collect()}
    assert got == {"p1": "mismatch"}          # p2 reconciles (5 == 5)


def test_agg_consistency_count_never_misses(spark):
    """agg='count': an absent child group counts 0 — never a noChildren
    lane, zero-count parents reconcile against a stored 0."""
    from fhir_data_validation_spark import EngineConfig
    from fhir_data_validation_spark.model import RuleSet
    parent = spark.createDataFrame(
        [("p1", 2, "g"), ("p2", 0, "g"), ("p3", 3, "g")],
        "pid string, n_items int, grp string")
    child = spark.createDataFrame(
        [("p1", 1.0), ("p1", 2.0), ("p3", 1.0)], "cid string, amt double")
    rs = RuleSet.parse({"rules": [
        {"id": "AGG-C", "type": "AggConsistency", "column": "n_items",
         "params": {"dim": "child", "on": "pid", "dimKey": "cid",
                    "agg": "count", "requireChildren": True}}]})
    res = ValidationEngine(
        rs, dims={"child": child},
        config=EngineConfig(key_col="pid", group_col="grp")).validate(parent)
    got = {r["doc_id"]: r["detail"] for r in res.violations.collect()}
    assert set(got) == {"p3"}
    assert got["p3"]["check"] == "mismatch"
    assert float(got["p3"]["expected"]) == 1.0


def test_agg_consistency_compile_rejections(spark):
    from fhir_data_validation_spark import EngineConfig, RuleConfigurationError
    from fhir_data_validation_spark.model import RuleSet
    parent = spark.createDataFrame(
        [("p1", 1.0, "s", "g")], "pid string, total double, name string, grp string")
    child = spark.createDataFrame([("p1", 1.0, "x")],
                                  "cid string, amt double, txt string")
    base = {"dim": "child", "on": "pid", "dimKey": "cid",
            "agg": "sum", "valueColumn": "amt"}
    bad = [
        {"column": "name", "params": base},                      # non-numeric parent
        {"column": "total", "params": {**base, "agg": "median"}},
        {"column": "total", "params": {**base, "valueColumn": "txt"}},
        {"column": "total", "params": {**base, "dimKey": "nope"}},
        {"column": "total", "params": {**base, "on": "nope"}},
        {"column": "total", "params": {**base, "tolerance": -1}},
        {"column": "total", "params": {**base, "dim": "ghost"}},
        {"column": "total", "params": {k: v for k, v in base.items()
                                       if k != "valueColumn"}},  # sum needs value
    ]
    for spec in bad:
        rs = RuleSet.parse({"rules": [
            {"id": "AGG-B", "type": "AggConsistency", **spec}]})
        with pytest.raises(RuleConfigurationError):
            ValidationEngine(rs, dims={"child": child},
                             config=EngineConfig(
                                 key_col="pid", group_col="grp")).validate(parent)


def test_group_share_bands(spark):
    """GroupShare: per-group row-share bands; declared-but-absent groups
    fail their min (closed world); undeclared groups judged by
    defaultMax; minRows gates the whole check."""
    from fhir_data_validation_spark import EngineConfig
    from fhir_data_validation_spark.model import RuleSet
    rows = ([(f"d{i}", "web", "g") for i in range(6)]
            + [(f"w{i}", "wiki", "g") for i in range(3)]
            + [(f"f{i}", "forum", "g") for i in range(1)])
    df = spark.createDataFrame(rows, "doc_id string, src string, grp string")
    params = {"shares": {"web": {"min": 0.3, "max": 0.5},
                         "wiki": {"min": 0.25},
                         "books": {"min": 0.05}},
              "defaultMax": 0.05}
    rs = RuleSet.parse({"rules": [
        {"id": "SHR-1", "type": "GroupShare", "column": "src",
         "params": params}]})
    res = ValidationEngine(rs, config=EngineConfig(
        key_col="doc_id", group_col="grp")).validate(df)
    got = {r["doc_id"]: r["detail"]["check"] for r in res.violations.collect()}
    assert got == {"web": "aboveMax", "books": "belowMin",
                   "forum": "aboveMax"}
    web = [r for r in res.violations.collect() if r["doc_id"] == "web"][0]
    assert float(web["detail"]["share"]) == 0.6
    assert web["error_code"] == "GROUP_SHARE_VIOLATION"
    # minRows above the total suppresses everything
    rs2 = RuleSet.parse({"rules": [
        {"id": "SHR-2", "type": "GroupShare", "column": "src",
         "params": {**params, "minRows": 100}}]})
    res2 = ValidationEngine(rs2, config=EngineConfig(
        key_col="doc_id", group_col="grp")).validate(df)
    assert res2.violations.count() == 0


def test_group_share_compile_rejections(spark):
    from fhir_data_validation_spark import EngineConfig, RuleConfigurationError
    from fhir_data_validation_spark.model import RuleSet
    df = spark.createDataFrame([("a", "web", "g")],
                               "doc_id string, src string, grp string")
    bad = [
        {"column": "src", "params": {}},                          # no bounds
        {"column": "src", "params": {"shares": {"web": {"min": 2}}}},
        {"column": "src", "params": {"shares": {"web": {"min": "x"}}}},
        {"column": "src", "params": {"shares": ["web"]}},
        {"column": "nope", "params": {"defaultMax": 0.5}},
    ]
    for spec in bad:
        rs = RuleSet.parse({"rules": [
            {"id": "SHR-B", "type": "GroupShare", **spec}]})
        with pytest.raises(RuleConfigurationError):
            ValidationEngine(rs, config=EngineConfig(
                key_col="doc_id", group_col="grp")).validate(df)


def test_unique_composite_key(spark):
    """Unique params.columns: composite-key uniqueness in one raw-column
    groupBy; the violation names every key part (JSON doc_id, joined
    column list); single-column behavior unchanged."""
    from fhir_data_validation_spark import EngineConfig, RuleConfigurationError
    from fhir_data_validation_spark.model import RuleSet
    rows = [("o1", 1, "g"), ("o1", 2, "g"), ("o1", 2, "g"),
            ("o2", 1, "g"), ("o2", 1, "g"), ("o2", 1, "g")]
    df = spark.createDataFrame(rows, "okey string, line int, grp string")
    rs = RuleSet.parse({"rules": [
        {"id": "UNQ-C", "type": "Unique",
         "params": {"columns": ["okey", "line"]}}]})
    res = ValidationEngine(rs, config=EngineConfig(
        key_col="okey", group_col="grp")).validate(df)
    viol = {r["doc_id"]: r for r in res.violations.collect()}
    assert set(viol) == {'{"okey":"o1","line":2}', '{"okey":"o2","line":1}'}
    assert viol['{"okey":"o2","line":1}']["detail"]["count"] == "3"
    assert viol['{"okey":"o1","line":2}']["column"] == "okey,line"
    # rejections: empty list, unknown column, map-typed part
    df2 = df.withColumn("m", F.create_map(F.lit("a"), F.lit(1)))
    for cols in ([], ["okey", "nope"], ["okey", "m"]):
        rs_b = RuleSet.parse({"rules": [
            {"id": "UNQ-B", "type": "Unique", "params": {"columns": cols}}]})
        with pytest.raises(RuleConfigurationError):
            ValidationEngine(rs_b, config=EngineConfig(
                key_col="okey", group_col="grp")).validate(df2)


def test_split_quarantine(spark):
    """split(): error-severity violations quarantine their rows; warnings
    don't; dataset-level rollups (null doc_id) never quarantine anything;
    clean ∪ quarantined = input exactly."""
    from fhir_data_validation_spark import EngineConfig
    from fhir_data_validation_spark.model import RuleSet
    rows = [("a", 5, "g"), ("b", -1, "g"), ("c", 200, "g"), ("d", 7, "g")]
    df = spark.createDataFrame(rows, "id string, v int, grp string")
    rs = RuleSet.parse({"rules": [
        {"id": "RNG-E", "type": "Range", "column": "v",
         "params": {"min": 0}},                          # b errors
        {"id": "RNG-W", "type": "Range", "column": "v",
         "params": {"max": 100}, "severity": "warning"},  # c warns
        {"id": "CRD-D", "type": "RequiredResources",
         "params": {"requirements": [{"source": "ghost", "min": 1}]}},
    ]})
    res = ValidationEngine(rs, config=EngineConfig(
        key_col="id", group_col="grp")).validate(df)
    clean, quar = res.split(df)
    assert {r["id"] for r in quar.collect()} == {"b"}
    assert {r["id"] for r in clean.collect()} == {"a", "c", "d"}
    # warnings included when asked
    clean2, quar2 = res.split(df, severities=("error", "warning"))
    assert {r["id"] for r in quar2.collect()} == {"b", "c"}
    assert clean2.count() + quar2.count() == df.count()
    # key_col not recorded (hand-built result) -> explicit required
    from fhir_data_validation_spark.engine import ValidationResult
    bare = ValidationResult(violations=res.violations, verdicts=res.verdicts)
    with pytest.raises(ValueError):
        bare.split(df)
    c3, q3 = bare.split(df, key_col="id")
    assert q3.count() == 1


def test_monotonic_rule_directions_and_null_skip(spark):
    """Monotonic: per-key lag-window ordering check — rewinds flagged with
    (prev, observed) detail, direction variants invert the comparison,
    NULL metric/order rows are skipped (open world)."""
    from fhir_data_validation_spark import EngineConfig
    from fhir_data_validation_spark.model import RuleSet
    df = spark.createDataFrame(
        [("d1", "u1", 1, 10.0, "g"),
         ("d2", "u1", 2, 12.0, "g"),
         ("d3", "u1", 3, 9.0, "g"),        # rewind after 12.0
         ("d4", "u1", 4, None, "g"),       # null metric: skipped
         ("d5", "u1", 5, 9.0, "g"),        # equal to prev surviving value
         ("d6", "u2", 1, 7.0, "g"),        # other key: fresh window
         ("d7", "u2", None, 0.0, "g")],    # null order: skipped
        "doc_id string, user string, seq int, total double, grp string")
    cfg = EngineConfig(key_col="doc_id", group_col="grp")

    rs = RuleSet.parse({"rules": [
        {"id": "M-1", "type": "Monotonic", "column": "total",
         "params": {"keyColumn": "user", "orderBy": "seq"}}]})
    v = ValidationEngine(rs, config=cfg).validate(df).violations.collect()
    assert {r["doc_id"] for r in v} == {"d3"}
    det = v[0]["detail"]
    assert det["prev"] == "12.0" and det["observed"] == "9.0"
    assert v[0]["error_code"] == "MONOTONICITY_VIOLATION"

    # strict increasing: the d5 plateau (9.0 after 9.0) now violates too
    rs2 = RuleSet.parse({"rules": [
        {"id": "M-2", "type": "Monotonic", "column": "total",
         "params": {"keyColumn": "user", "orderBy": "seq",
                    "direction": "increasing"}}]})
    v2 = ValidationEngine(rs2, config=cfg).validate(df).violations.collect()
    assert {r["doc_id"] for r in v2} == {"d3", "d5"}

    # nonIncreasing flags the climbs instead
    rs3 = RuleSet.parse({"rules": [
        {"id": "M-3", "type": "Monotonic", "column": "total",
         "params": {"keyColumn": "user", "orderBy": "seq",
                    "direction": "nonIncreasing"}}]})
    v3 = ValidationEngine(rs3, config=cfg).validate(df).violations.collect()
    assert {r["doc_id"] for r in v3} == {"d2"}


def test_monotonic_max_step_gap_lane(spark):
    """maxStep adds a gap lane in the same window pass: consecutive values
    jumping more than maxStep (either direction) violate alongside the
    direction check; detail.check says which lane fired."""
    from fhir_data_validation_spark import EngineConfig
    from fhir_data_validation_spark.model import RuleSet
    df = spark.createDataFrame(
        [("d1", "u1", 1, 10.0, "g"),
         ("d2", "u1", 2, 12.0, "g"),       # +2: fine
         ("d3", "u1", 3, 50.0, "g"),       # +38 > maxStep: gap
         ("d4", "u1", 4, 45.0, "g"),       # rewind (direction lane)
         ("d5", "u2", 1, 0.0, "g"),
         ("d6", "u2", 2, 5.0, "g")],       # +5 = maxStep: fine
        "doc_id string, user string, seq int, total double, grp string")
    cfg = EngineConfig(key_col="doc_id", group_col="grp")
    rs = RuleSet.parse({"rules": [
        {"id": "M-G", "type": "Monotonic", "column": "total",
         "params": {"keyColumn": "user", "orderBy": "seq",
                    "maxStep": 5}}]})
    v = {r["doc_id"]: r["detail"]["check"]
         for r in ValidationEngine(rs, config=cfg).validate(df)
                                   .violations.collect()}
    assert v == {"d3": "step > 5", "d4": "decreased"}

    # compile rejections: non-positive / non-numeric maxStep, string column
    from fhir_data_validation_spark import RuleConfigurationError
    df2 = df.withColumn("name", F.col("doc_id"))
    for spec in (
            {"column": "total", "params": {"keyColumn": "user",
                                           "orderBy": "seq", "maxStep": 0}},
            {"column": "total", "params": {"keyColumn": "user",
                                           "orderBy": "seq",
                                           "maxStep": "big"}},
            {"column": "name", "params": {"keyColumn": "user",
                                          "orderBy": "seq", "maxStep": 1}}):
        rs_bad = RuleSet.parse({"rules": [
            {"id": "M-GB", "type": "Monotonic", **spec}]})
        with pytest.raises(RuleConfigurationError):
            ValidationEngine(rs_bad, config=cfg).validate(df2)


def test_monotonic_compile_rejections(spark):
    from fhir_data_validation_spark import EngineConfig, RuleConfigurationError
    from fhir_data_validation_spark.model import RuleSet
    df = spark.createDataFrame(
        [("a", "u", 1, 1.0, [1], "g")],
        "doc_id string, user string, seq int, total double, "
        "toks array<int>, grp string")
    cfg = EngineConfig(key_col="doc_id", group_col="grp")
    bad = [
        {"column": "total", "params": {"keyColumn": "user"}},  # no orderBy
        {"column": "total", "params": {"orderBy": "seq"}},     # no keyColumn
        {"column": "toks",                                     # not orderable
         "params": {"keyColumn": "user", "orderBy": "seq"}},
        {"column": "total",                                    # bad direction
         "params": {"keyColumn": "user", "orderBy": "seq",
                    "direction": "sideways"}},
        {"column": "total",                                    # unknown col
         "params": {"keyColumn": "nope", "orderBy": "seq"}},
    ]
    for i, spec in enumerate(bad):
        rs = RuleSet.parse({"rules": [
            {"id": f"M-B{i}", "type": "Monotonic", **spec}]})
        with pytest.raises(RuleConfigurationError):
            ValidationEngine(rs, config=cfg).validate(df)


def test_functional_dependency_rule(spark):
    """FunctionalDependency: determinant groups disagreeing on the
    dependent flagged once per group with count + min/max witnesses; NULL
    dependents don't count; maxValues relaxes the bound; composite
    determinants render as a JSON key."""
    from fhir_data_validation_spark import EngineConfig
    from fhir_data_validation_spark.model import RuleSet
    df = spark.createDataFrame(
        [("d1", "o1", "US", "alice", "g"),
         ("d2", "o1", "US", "bob", "g"),      # o1 -> two owners
         ("d3", "o2", "US", "carol", "g"),
         ("d4", "o2", "US", "carol", "g"),    # o2 consistent
         ("d5", "o3", "DE", None, "g"),       # null dependent ignored
         ("d6", "o3", "DE", "dave", "g")],
        "doc_id string, order_id string, country string, owner string, "
        "grp string")
    cfg = EngineConfig(key_col="doc_id", group_col="grp")
    rs = RuleSet.parse({"rules": [
        {"id": "FD-1", "type": "FunctionalDependency", "column": "owner",
         "params": {"determinants": ["order_id"]}}]})
    v = ValidationEngine(rs, config=cfg).validate(df).violations.collect()
    assert {r["doc_id"] for r in v} == {"o1"}
    det = v[0]["detail"]
    assert det["nValues"] == "2" and det["minValue"] == "alice" \
        and det["maxValue"] == "bob"

    # maxValues=2 tolerates the split
    rs2 = RuleSet.parse({"rules": [
        {"id": "FD-2", "type": "FunctionalDependency", "column": "owner",
         "params": {"determinants": ["order_id"], "maxValues": 2}}]})
    assert ValidationEngine(rs2, config=cfg).validate(df) \
        .violations.count() == 0

    # composite determinants -> JSON doc_id naming every key part
    rs3 = RuleSet.parse({"rules": [
        {"id": "FD-3", "type": "FunctionalDependency", "column": "owner",
         "params": {"determinants": ["order_id", "country"]}}]})
    v3 = ValidationEngine(rs3, config=cfg).validate(df).violations.collect()
    assert [r["doc_id"] for r in v3] == \
        ['{"order_id":"o1","country":"US"}']


def test_functional_dependency_compile_rejections(spark):
    from fhir_data_validation_spark import EngineConfig, RuleConfigurationError
    from fhir_data_validation_spark.model import RuleSet
    df = spark.createDataFrame([("a", "o", "x", "g")],
                               "doc_id string, oid string, v string, "
                               "grp string")
    cfg = EngineConfig(key_col="doc_id", group_col="grp")
    bad = [
        {"column": "v", "params": {}},                       # no determinants
        {"column": "v", "params": {"determinants": []}},     # empty
        {"column": "v", "params": {"determinants": ["v"]}},  # self
        {"column": "v", "params": {"determinants": ["nope"]}},
        {"column": "v", "params": {"determinants": ["oid"],
                                   "maxValues": 0}},
    ]
    for i, spec in enumerate(bad):
        rs = RuleSet.parse({"rules": [
            {"id": f"FD-B{i}", "type": "FunctionalDependency", **spec}]})
        with pytest.raises(RuleConfigurationError):
            ValidationEngine(rs, config=cfg).validate(df)


def test_outlier_null_group_rows_checked(spark):
    """Rows whose group is NULL still get outlier-checked against their
    own group's fences (keyed '<null>') — an equi-join on the raw group
    would silently skip them."""
    from fhir_data_validation_spark import EngineConfig
    from fhir_data_validation_spark.model import RuleSet
    rows = ([(f"g{i}", 10.0 + i * 0.1, "g") for i in range(10)]
            + [(f"n{i}", 5.0 + i * 0.1, None) for i in range(10)]
            + [("nx", 50000.0, None)])          # outlier in the NULL group
    df = spark.createDataFrame(rows, "doc_id string, v double, grp string")
    rs = RuleSet.parse({"rules": [
        {"id": "OUT-N", "type": "Outlier", "column": "v",
         "params": {"method": "zscore", "k": 3, "perGroup": True}}]})
    v = (ValidationEngine(rs, config=EngineConfig(key_col="doc_id",
                                                  group_col="grp"))
         .validate(df).violations.collect())
    assert {r["doc_id"] for r in v} == {"nx"}


def test_distinct_band_bands(spark):
    """DistinctBand: per-group distinct-count bands; declared-but-absent
    groups count 0 distinct and fail their min (closed world);
    undeclared groups judged by the default min/max; all-null columns
    count 0 distinct."""
    from fhir_data_validation_spark import EngineConfig
    from fhir_data_validation_spark.model import RuleSet
    rows = ([(f"d{i}", "web", f"u{i % 4}", "g") for i in range(6)]       # 4
            + [(f"w{i}", "wiki", "u0", "g") for i in range(3)]           # 1
            + [(f"f{i}", "forum", None, "g") for i in range(2)])         # 0
    df = spark.createDataFrame(
        rows, "doc_id string, src string, author string, grp string")
    params = {"by": "src",
              "bands": {"web": {"min": 2, "max": 3},
                        "wiki": {"min": 1},
                        "books": {"min": 1}},
              "min": 1}
    rs = RuleSet.parse({"rules": [
        {"id": "DST-1", "type": "DistinctBand", "column": "author",
         "params": params}]})
    res = ValidationEngine(rs, config=EngineConfig(
        key_col="doc_id", group_col="grp")).validate(df)
    got = {r["doc_id"]: (r["detail"]["check"], int(r["detail"]["distinct"]))
           for r in res.violations.collect()}
    assert got == {"web": ("aboveMax", 4),       # 4 distinct > max 3
                   "books": ("belowMin", 0),     # declared, absent
                   "forum": ("belowMin", 0)}     # all-null, default min 1
    v = [r for r in res.violations.collect() if r["doc_id"] == "web"][0]
    assert v["error_code"] == "DISTINCT_BAND_VIOLATION"
    assert v["detail"]["mode"] == "exact"
    # dataset-wide band (no by): one <dataset> row
    rs2 = RuleSet.parse({"rules": [
        {"id": "DST-2", "type": "DistinctBand", "column": "author",
         "params": {"min": 10}}]})
    res2 = ValidationEngine(rs2, config=EngineConfig(
        key_col="doc_id", group_col="grp")).validate(df)
    rows2 = res2.violations.collect()
    assert len(rows2) == 1 and rows2[0]["doc_id"] == "<dataset>"
    assert int(rows2[0]["detail"]["distinct"]) == 4  # u0..u3 (wiki reuses u0)
    # approx mode flags itself in detail
    rs3 = RuleSet.parse({"rules": [
        {"id": "DST-3", "type": "DistinctBand", "column": "author",
         "params": {"min": 10, "approxRsd": 0.02}}]})
    res3 = ValidationEngine(rs3, config=EngineConfig(
        key_col="doc_id", group_col="grp")).validate(df)
    assert res3.violations.collect()[0]["detail"]["mode"] == "approx"


def test_distinct_band_compile_rejections(spark):
    from fhir_data_validation_spark import (EngineConfig,
                                            RuleConfigurationError)
    from fhir_data_validation_spark.model import RuleSet
    df = spark.createDataFrame([("a", "web", "g")],
                               "doc_id string, src string, grp string")
    bad = [
        {"column": "src", "params": {}},                          # no bounds
        {"column": "src", "params": {"min": -1}},                 # negative
        {"column": "src", "params": {"min": 1.5}},                # not int
        {"column": "src", "params": {"bands": {"web": {"min": 1}}}},  # no by
        {"column": "src", "params": {"by": "nope", "min": 1}},
        {"column": "nope", "params": {"min": 1}},
        {"column": "src", "params": {"min": 1, "approxRsd": 2.0}},
    ]
    for spec in bad:
        rs = RuleSet.parse({"rules": [
            {"id": "DST-B", "type": "DistinctBand", **spec}]})
        with pytest.raises(RuleConfigurationError):
            ValidationEngine(rs, config=EngineConfig(
                key_col="doc_id", group_col="grp")).validate(df)


def test_heavy_hitters_rule_dominance_and_guards(spark):
    """HeavyHitters: a value exceeding maxShare of rows is flagged once
    (judged on the sketch's LOWER bound — exact here since k covers the
    domain); maxCount lane; scope filtering; malformed params raise at
    compile."""
    from fhir_data_validation_spark import EngineConfig
    from fhir_data_validation_spark.model import RuleSet
    rows = ([("dup", "web")] * 30
            + [(f"u{i}", "web") for i in range(60)]
            + [("bookdup", "book")] * 10)
    df = spark.createDataFrame(rows, "url string, src string")
    df = df.withColumn("doc_id", F.monotonically_increasing_id()
                       .cast("string"))
    cfg = EngineConfig(key_col="doc_id", group_col="src")
    rs = RuleSet.parse({"rules": [
        {"id": "HH-1", "type": "HeavyHitters", "column": "url",
         "params": {"maxShare": 0.2, "k": 200}}]})
    v = ValidationEngine(rs, config=cfg).validate(df).violations.collect()
    assert {r["doc_id"] for r in v} == {"dup"}      # 30/100 > 0.2
    det = v[0]["detail"]
    assert det["check"] == "maxShare" and det["countLo"] == "30"
    assert det["shareLo"] == "0.3" and det["errorBound"] == "0"

    # maxCount lane + source scoping: within book, bookdup has 10 rows
    rs2 = RuleSet.parse({"rules": [
        {"id": "HH-2", "type": "HeavyHitters", "column": "url",
         "source": "book", "params": {"maxCount": 9, "k": 50}}]})
    v2 = ValidationEngine(rs2, config=cfg).validate(df).violations.collect()
    assert {r["doc_id"] for r in v2} == {"bookdup"}
    assert v2[0]["detail"]["check"] == "maxCount"
    assert v2[0]["source"] == "book"

    from fhir_data_validation_spark.errors import RuleConfigurationError
    for bad in ({"k": 50},                        # no bound at all
                {"maxShare": 1.5},                # share out of range
                {"maxShare": 0.2, "k": 0},        # bad k
                {"maxCount": 0}):                 # bad count
        with pytest.raises(RuleConfigurationError):
            ValidationEngine(RuleSet.parse({"rules": [
                {"id": "HH-X", "type": "HeavyHitters", "column": "url",
                 "params": bad}]}), config=cfg).compile(df)


# --------------------------------------------- round-3 review regressions ---

def test_split_ignores_value_keyed_violations(spark):
    """Quarantine routing must use only ROW-keyed violations: a Unique
    rule on a non-key column emits the duplicated VALUE as doc_id — it
    must not quarantine a row whose key happens to equal that value."""
    from fhir_data_validation_spark import EngineConfig, RuleSet, validate
    df = spark.createDataFrame(
        # doc 7's n_tok value 7 collides with doc_id 7; n_tok 7 is
        # duplicated (docs 7 and 8) so Unique(n_tok) fires on value '7'
        [(7, 7, "web"), (8, 7, "web"), (9, 3, "web")],
        "doc_id long, n_tok long, source string")
    rs = RuleSet.from_json(json.dumps({"rules": [
        {"id": "U-NONKEY", "type": "Unique", "column": "n_tok"}]}))
    res = validate(df, rs, config=EngineConfig(
        key_col="doc_id", group_col="source"))
    assert res.passed() is False          # the run still fails
    clean, quarantined = res.split(df)
    assert quarantined.count() == 0       # no row identity -> no routing
    assert clean.count() == 3
    # Unique ON the key column routes normally
    df2 = spark.createDataFrame(
        [(1, 5, "web"), (1, 6, "web"), (2, 7, "web")],
        "doc_id long, n_tok long, source string")
    rs2 = RuleSet.from_json(json.dumps({"rules": [
        {"id": "U-KEY", "type": "Unique", "column": "doc_id"}]}))
    res2 = validate(df2, rs2, config=EngineConfig(
        key_col="doc_id", group_col="source"))
    clean2, quarantined2 = res2.split(df2)
    assert quarantined2.count() == 2 and clean2.count() == 1


def test_verdicts_keep_value_keyed_violations(spark):
    """A value-keyed rule with source='*' emits violations with a null
    source; the verdict join must surface them (a left join silently
    dropped the '<null>' partition row and reported the rule passed)."""
    from fhir_data_validation_spark import EngineConfig, RuleSet, validate
    rows = [(i, "dominant" if i < 90 else f"v{i}", "web")
            for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, val string, source string")
    rs = RuleSet.from_json(json.dumps({"rules": [
        {"id": "HH-1", "type": "HeavyHitters", "column": "val",
         "params": {"maxShare": 0.5, "k": 16}}]}))
    res = validate(df, rs, config=EngineConfig(
        key_col="doc_id", group_col="source"))
    assert res.violations.count() == 1
    v = {(r["partition_key"], r["rule_id"]): r
         for r in res.verdicts.collect()}
    flagged = [r for (pk, rid), r in v.items()
               if rid == "HH-1" and r["violations"] > 0]
    assert flagged and flagged[0]["passed"] is False
    assert res.passed() is False


def test_drift_rule_compile_validation(spark):
    """Drift pre-flights its column and knobs at COMPILE: a typo'd or
    non-numeric column, a zero bucketWidth and a non-numeric jsdMax must
    all raise RuleConfigurationError before any job runs."""
    from fhir_data_validation_spark import EngineConfig, RuleSet, ValidationEngine
    from fhir_data_validation_spark.errors import RuleConfigurationError
    df = token_table(spark, 100)
    base = stats_baseline(df, "n_tok", 64)
    cfg = EngineConfig(key_col="doc_id", group_col="source")

    def compile_with(params, column="n_tok"):
        rs = RuleSet.from_json(json.dumps({"rules": [
            {"id": "DR-X", "type": "Drift", "column": column,
             "params": {"baseline": "b", **params}}]}))
        ValidationEngine(rs, dims={"b": base}, config=cfg).compile(df)

    compile_with({})                                      # valid
    with pytest.raises(RuleConfigurationError):
        compile_with({}, column="n_tok_typo")
    with pytest.raises(RuleConfigurationError):
        compile_with({}, column="doc_id")                 # non-numeric
    with pytest.raises(RuleConfigurationError):
        compile_with({"bucketWidth": 0})
    with pytest.raises(RuleConfigurationError):
        compile_with({"jsdMax": "lots"})
    with pytest.raises(RuleConfigurationError):
        compile_with({"mode": "tokenFrequency"}, column="n_tok")


def test_arithmetic_round_chain_matches_duckdb_on_halfway_doubles(spark):
    """round-5 review regressions (batch 6): Spark's F.round is
    repr-based HALF_UP while DuckDB's round() works on the binary
    double, so they disagree on repr-halfway values (405.80105 →
    405.8011 vs 405.801). The o1/c10 contract queries therefore round
    via the arithmetic floor(x·10⁴ + 0.5)/10⁴ chain — pin that the
    chain is bit-identical across the two engines on exactly the
    values where the built-ins split."""
    import duckdb
    vals = [405.80105, 954.0809499999999, 443.93514999999996,
            473.86424999999997, -8.66815, 0.00005, 123.45678]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got = [r["r"] for r in df.select(
        (F.floor(F.col("x") * F.lit(10000.0) + F.lit(0.5)).cast("double")
         / F.lit(10000.0)).alias("r")).collect()]
    con = duckdb.connect()
    want = [con.execute(
        "SELECT CAST(floor(CAST(? AS DOUBLE) * 10000.0 + 0.5) AS DOUBLE)"
        " / 10000.0", [v]).fetchone()[0] for v in vals]
    assert got == want
    # and at least one of these is a value where the built-ins disagree
    spark_round = [r["r"] for r in df.select(
        F.round("x", 4).alias("r")).collect()]
    duck_round = [con.execute("SELECT round(CAST(? AS DOUBLE), 4)",
                              [v]).fetchone()[0] for v in vals]
    assert spark_round != duck_round


def test_null_key_rows_quarantine_and_verdict_attribution(spark):
    """round-5 review regressions (batch 9): a NULL-key row failing a
    per-row rule must (a) land in quarantine — null keys never
    equi-match, so it used to ship as clean — and (b) count under ITS
    group's verdict, not drift to <dataset> while the group reports
    passed."""
    from fhir_data_validation_spark.model import RuleSet
    df = spark.createDataFrame(
        [("d1", 5, "web"), (None, 0, "web"), ("d3", 7, "web")],
        "doc_id string, n_tok int, source string")
    rs = RuleSet.parse({"rules": [
        {"id": "R1", "type": "Range", "column": "n_tok",
         "params": {"min": 1}}]})
    res = ValidationEngine(rs).validate(df)
    clean, quar = res.split(df)
    assert [r["n_tok"] for r in quar.collect()] == [0]
    assert sorted(r["doc_id"] for r in clean.collect()) == ["d1", "d3"]
    verd = {(r["partition_key"], r["rule_id"]): r
            for r in res.verdicts.collect()}
    assert verd[("web", "R1")]["errors"] == 1
    assert verd[("web", "R1")]["passed"] is False
    assert ("<dataset>", "R1") not in verd
    res.unpersist()


def test_unique_params_columns_routes_like_column(spark):
    """round-5 review regressions (batch 9): Unique authored as
    params.columns=['doc_id'] must quarantine duplicates exactly like
    the identical rule authored as column='doc_id' (the violation's
    column field names the deduplicated columns)."""
    from fhir_data_validation_spark.model import RuleSet
    df = spark.createDataFrame(
        [("d1", "web"), ("d1", "web"), ("d2", "web")],
        "doc_id string, source string")
    rs_cols = RuleSet.parse({"rules": [
        {"id": "U1", "type": "Unique",
         "params": {"columns": ["doc_id"]}}]})
    rs_col = RuleSet.parse({"rules": [
        {"id": "U1", "type": "Unique", "column": "doc_id"}]})
    outs = []
    for rs in (rs_cols, rs_col):
        res = ValidationEngine(rs).validate(df)
        v = res.violations.collect()
        assert v and all(r["column"] == "doc_id" for r in v)
        clean, quar = res.split(df)
        outs.append((sorted(r["doc_id"] for r in quar.collect()),
                     sorted(r["doc_id"] for r in clean.collect())))
        res.unpersist()
    assert outs[0] == outs[1] == (["d1", "d1"], ["d2"])


def test_ingest_violations_pass_details_contract(spark, tmp_path):
    """round-5 review regressions (batch 9): the lenient-ingest lane's
    {raw} detail must satisfy the frozen INVALID_PRIMITIVE contract —
    a run whose only defect is a malformed input line used to fail
    --audit-details."""
    from fhir_data_validation_spark import validate_details
    from fhir_data_validation_spark.sources.ingest import (
        corrupt_record_violations, read_json_lenient)
    p = str(tmp_path / "in.jsonl")
    with open(p, "w") as f:
        f.write('{"doc_id": "d1", "source": "web"}\n')
        f.write('{bad json\n')
    from pyspark.sql.types import StructType
    df = read_json_lenient(
        spark, p, StructType.fromDDL("doc_id string, source string"))
    viols = corrupt_record_violations(df).collect()
    assert len(viols) == 1
    assert viols[0]["error_code"] == "INVALID_PRIMITIVE"
    assert validate_details(viols[0]["error_code"],
                            dict(viols[0]["detail"])) == []


def _verdict_table(res) -> Counter:
    """The verdict rows as a multiset, so a duplicated row shows."""
    return Counter((r["partition_key"], r["rule_id"], r["rows"],
                    r["violations"], r["errors"], r["passed"])
                   for r in res.verdicts.collect())


def test_verdicts_match_hand_computed_tables(spark):
    """The one-aggregation verdicts against hand-computed tables: a NULL
    group, a data group literally named <dataset> next to the run-level
    <dataset> row, a violation whose source is absent from the input
    (GroupShare, closed world), a rule set with zero per-row predicates,
    and one with zero rules at all (only a compile-time notice)."""
    from pyspark.sql.types import (BooleanType, LongType, StringType,
                                   StructField, StructType)
    from fhir_data_validation_spark.model import RuleSet
    df = spark.createDataFrame(
        [("a", "web", 1), ("b", None, -1), ("c", "<dataset>", -2),
         ("d", "<dataset>", 3)],
        "doc_id string, source string, n int")
    rs = RuleSet.parse({"rules": [
        {"id": "R1", "type": "Range", "column": "n", "params": {"min": 0}},
        {"id": "CRD", "type": "RequiredResources",
         "params": {"requirements": [{"source": "books", "min": 1}]}}]})
    res = ValidationEngine(rs).validate(df)
    assert _verdict_table(res) == Counter({
        ("web", "R1", 1, 0, 0, True), ("web", "CRD", 1, 0, 0, True),
        ("<null>", "R1", 1, 1, 1, False), ("<null>", "CRD", 1, 0, 0, True),
        # the data group named <dataset> and the run-level row stay apart
        ("<dataset>", "R1", 2, 1, 1, False),
        ("<dataset>", "CRD", 2, 0, 0, True),
        ("<dataset>", "CRD", None, 1, 1, False)})
    # the verdict schema, nullability included, is part of the contract
    assert res.verdicts.schema == StructType([
        StructField("partition_key", StringType(), True),
        StructField("rule_id", StringType(), True),
        StructField("rows", LongType(), True),
        StructField("violations", LongType(), False),
        StructField("errors", LongType(), False),
        StructField("passed", BooleanType(), False)])
    res.unpersist()

    # GroupShare flags the declared but absent group 'books' with a NULL
    # source: its row has no input rows behind it; a warning counts as a
    # violation but not as an error
    df2 = spark.createDataFrame(
        [("a", "web", 1), ("b", "web", 5), ("c", "wiki", 5)],
        "doc_id string, source string, n int")
    rs2 = RuleSet.parse({"rules": [
        {"id": "W", "type": "Range", "column": "n", "severity": "warning",
         "params": {"min": 2}},
        {"id": "SHR", "type": "GroupShare", "column": "source",
         "params": {"shares": {"books": {"min": 0.1}}, "defaultMax": 1.0}}]})
    res2 = ValidationEngine(rs2).validate(df2)
    assert _verdict_table(res2) == Counter({
        ("web", "W", 2, 1, 0, True), ("web", "SHR", 2, 0, 0, True),
        ("wiki", "W", 1, 0, 0, True), ("wiki", "SHR", 1, 0, 0, True),
        ("<null>", "SHR", None, 1, 1, False)})
    res2.unpersist()

    # zero per-row predicates: only dataset plans
    df3 = spark.createDataFrame(
        [("a", "web"), ("a", "web"), ("c", None)],
        "doc_id string, source string")
    rs3 = RuleSet.parse({"rules": [
        {"id": "U", "type": "Unique", "column": "doc_id"},
        {"id": "CRD", "type": "RequiredResources",
         "params": {"requirements": [{"source": "web", "min": 3}]}}]})
    res3 = ValidationEngine(rs3).validate(df3)
    assert _verdict_table(res3) == Counter({
        ("web", "U", 2, 1, 1, False), ("web", "CRD", 2, 0, 0, True),
        ("<null>", "U", 1, 0, 0, True), ("<null>", "CRD", 1, 0, 0, True),
        ("<dataset>", "CRD", None, 1, 1, False)})
    res3.unpersist()

    # zero rules: an unresolvable value set compiles to a notice only
    rs4 = RuleSet.parse({"rules": [
        {"id": "ENUM", "type": "Enum", "column": "source",
         "params": {"valueSet": "http://x/vs", "binding": "required"}}]})
    res4 = ValidationEngine(rs4).validate(df3)
    assert _verdict_table(res4) == Counter(
        {("<dataset>", "ENUM", None, 1, 0, True)})
    res4.unpersist()


def _memo_recorder(plan):
    """Wrap ``plan.memo`` to record every value it hands out and count the
    builds per key."""
    import threading
    handed: list[tuple[object, object]] = []
    builds: dict[object, int] = {}
    inner = plan.memo
    lock = threading.Lock()

    def memo(key, build):
        def counted():
            with lock:
                builds[key] = builds.get(key, 0) + 1
            return build()
        value = inner(key, counted)
        with lock:
            handed.append((key, value))
        return value
    plan.memo = memo
    return handed, builds


def test_validate_reuses_cached_columns(spark):
    """A second validate() on the same engine reuses the very Column
    objects the first one built: the fused-pass chunks, the verdict
    expressions and the RequiredResources and Drift plans'
    expressions. Two threads validating at once share them too, and
    each is built once."""
    import threading
    engine_args = dict(
        ruleset=default_token_ruleset(with_drift=True),
        dims={"sources_dim": sources_dim(spark),
              "stats_baseline": stats_baseline(token_table(spark, 500))})
    df = dirty_token_table(spark, 500).drop("_row_id")
    engine = ValidationEngine(**engine_args)
    handed, builds = _memo_recorder(engine.compile(df))
    engine.validate(df).unpersist()
    first = dict(handed)
    assert {"engine.fused_chunks", "engine.verdicts",
            ("plans.RequiredResources", "CRD-001"),
            ("plans.Drift", "DRF-001")} <= set(first)
    handed.clear()
    engine.validate(df).unpersist()
    assert handed and all(v is first[k] for k, v in handed)
    assert set(builds.values()) == {1}
    # a compiled plan never builds these trees itself
    assert ValidationEngine(**engine_args).compile(df)._memo == {}

    fresh = ValidationEngine(**engine_args)
    handed2, builds2 = _memo_recorder(fresh.compile(df))
    errors = []

    def run():
        try:
            fresh.validate(df).unpersist()
        except Exception as exc:  # surfaced below
            errors.append(exc)
    threads = [threading.Thread(target=run) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not any(t.is_alive() for t in threads) and not errors
    by_key: dict = {}
    for k, v in handed2:
        by_key.setdefault(k, []).append(v)
    assert "engine.fused_chunks" in by_key
    assert all(len(vs) == 2 and vs[0] is vs[1] for vs in by_key.values())
    assert set(builds2.values()) == {1}


def test_passed_and_response_share_one_aggregation(spark):
    """passed() and response() read one memoized (severity, rule_type)
    aggregation; response() on a result with no violations runs no
    Spark job at all, and the payload matches a dirty run's counts."""
    tracker = spark.sparkContext.statusTracker()

    def jobs():
        return set(tracker.getJobIdsForGroup(None))
    engine = ValidationEngine(default_token_ruleset(),
                              dims={"sources_dim": sources_dim(spark)})
    clean = engine.validate(token_table(spark, 300))
    assert clean.passed() is True
    before = jobs()
    resp = clean.response(max_errors=5)
    assert jobs() == before
    assert resp["isValid"] is True and resp["errors"] == []
    assert resp["summary"]["totalErrors"] == 0
    clean.unpersist()

    dirty = engine.validate(dirty_token_table(spark, 1000).drop("_row_id"))
    resp = dirty.response(max_errors=5)
    before = jobs()
    assert dirty.passed() is False
    assert jobs() == before
    assert resp["summary"]["totalErrors"] == dirty.violations.count()
    assert len(resp["errors"]) == 5 and resp["errorsTruncated"] is True
    dirty.unpersist()


def test_reference_dim_with_duplicate_keys(spark):
    """A dim that repeats its keys: the exact and the Bloom-prefilter
    Reference lanes (no dim-side dedup) report each missing reference
    once, and the expectedTypes lane (which keeps its dedup) does not
    multiply rows either."""
    from fhir_data_validation_spark.model import RuleSet
    df = spark.createDataFrame(
        [("a", "web"), ("b", "wiki"), ("c", "junk"), ("d", "junk"),
         ("e", "web")], "doc_id string, source string")
    dim = spark.createDataFrame(
        [("web", "site"), ("web", "site"), ("wiki", "site"),
         ("wiki", "site"), ("wiki", "site")], "source string, kind string")
    for params in ({}, {"bloom": True},
                   {"expectedTypes": ["site"], "typeColumn": "kind"}):
        rs = RuleSet.parse({"rules": [
            {"id": "REF", "type": "Reference", "column": "source",
             "params": {"dim": "d", "on": "source", **params}}]})
        res = ValidationEngine(rs, dims={"d": dim}).validate(df)
        got = sorted((r["doc_id"], r["error_code"])
                     for r in res.violations.collect())
        assert got == [("c", "REFERENCE_NOT_FOUND"),
                       ("d", "REFERENCE_NOT_FOUND")], params
        res.unpersist()


@pytest.mark.parametrize("resume", [False, True])
def test_cli_quarantine_routes_null_key_rows(spark, tmp_path, resume):
    """--quarantine must ship a NULL-key row with a per-row error to
    quarantine/, not clean/, on the one-shot and the resumable path (the
    CLI used to rebuild the result without the per-row rule ids)."""
    from jobs.run_validation import main
    src = str(tmp_path / "in")
    spark.createDataFrame(
        [("d1", 5, "web"), (None, 0, "web"), ("d3", 7, "web")],
        "doc_id string, n_tok int, source string").write.parquet(src)
    rules = tmp_path / "rules.json"
    rules.write_text(json.dumps({"rules": [
        {"id": "R1", "type": "Range", "column": "n_tok",
         "params": {"min": 1}}]}))
    out = tmp_path / "out"
    rc = main(["--input", src, "--rules", str(rules), "--quarantine",
               "--output", str(out)] + ([] if resume else ["--no-resume"]))
    assert rc == 1
    quar = spark.read.parquet(str(out / "quarantine")).collect()
    clean = spark.read.parquet(str(out / "clean")).collect()
    assert [(r["doc_id"], r["n_tok"]) for r in quar] == [(None, 0)]
    assert sorted(r["doc_id"] for r in clean) == ["d1", "d3"]
