"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry exercises one operator family from SURVEY.md §2
through the public engine API over the driver's testdata tables, and the
matching ``oracle_sql()`` entry states the same semantics in ANSI SQL for the
DuckDB cross-check. Column names/aliases are identical on both sides.

Keys map to SURVEY §2 operator ids (r1=Required … j1=Reference anti-join,
a1=group cardinality, c1-c4 stats, a4 summary, a5 dedup, p3 first-scope).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fhir_data_validation_spark import EngineConfig, RuleSet, ValidationEngine
from fhir_data_validation_spark.sources.tables import load_table

SF_SMOKE = "/root/testdata/sf0.001"

_VIOL_COLS = ("doc_id", "rule_id", "error_code", "source")


_SCRATCH_DIRS: list[str] = []


def _scratch_dir(prefix: str) -> str:
    """Tracked scratch dir for the Iceberg-lifecycle queries. Sweeps any
    dir a PREVIOUSLY FAILED query left behind (its rmtree sits after the
    collect, so an error strands the dir) before allocating a new one,
    and registers an atexit sweep for the last query of a process —
    repeated bench iterations must not accrete /tmp debris."""
    import atexit
    import shutil
    import tempfile
    while _SCRATCH_DIRS:
        shutil.rmtree(_SCRATCH_DIRS.pop(), ignore_errors=True)
    d = tempfile.mkdtemp(prefix=prefix)
    _SCRATCH_DIRS.append(d)
    if not getattr(_scratch_dir, "_hooked", False):
        _scratch_dir._hooked = True
        atexit.register(lambda: [shutil.rmtree(p, ignore_errors=True)
                                 for p in _SCRATCH_DIRS])
    return d


def _viol(res) -> DataFrame:
    """Deterministic violations projection (detail map omitted: DuckDB map
    hashing differs; details are covered by unit tests)."""
    return res.violations.select(*_VIOL_COLS).orderBy(*_VIOL_COLS)


def _validate(spark, df, rules, key_col, group_col, dims=None, dedupe=True):
    # dedupe=False where key_col is not unique in the testdata (lineitem's
    # (l_orderkey, l_linenumber) repeats), so per-physical-row violations
    # match the oracle 1:1.
    engine = ValidationEngine(RuleSet.parse({"rules": rules}), dims=dims,
                              config=EngineConfig(key_col=key_col,
                                                  group_col=group_col,
                                                  dedupe=dedupe))
    return engine.validate(df)


# --------------------------------------------------------------- queries ----

def _grouped_orders(li: DataFrame, item) -> "DataFrame":
    """lineitem → one row per order with the two-level nested structure
    the repeated-element queries share: groups = [{name: lo, items:
    [item where linenumber<=3]}, {name: hi, items: [the rest]}], sorted
    for determinism. ONE definition — p5b/p5c/nav1 all validate against
    this same shape and must never drift from their common oracle
    convention."""
    return (li.groupBy("l_orderkey")
            .agg(F.sort_array(F.collect_list(
                     F.when(F.col("l_linenumber") <= 3, item)))
                 .alias("_lo"),
                 F.sort_array(F.collect_list(
                     F.when(F.col("l_linenumber") > 3, item)))
                 .alias("_hi"),
                 F.min("l_returnflag").alias("rflag"))
            .select("l_orderkey", "rflag",
                    F.array(F.struct(F.lit("lo").alias("name"),
                                     F.col("_lo").alias("items")),
                            F.struct(F.lit("hi").alias("name"),
                                     F.col("_hi").alias("items")))
                    .alias("groups")))


def q_r1_required(spark: SparkSession, sf: str) -> DataFrame:
    df = load_table(spark, sf, "events")
    res = _validate(spark, df,
                    [{"id": "REQ-1", "type": "Required", "column": "props"}],
                    key_col="event_id", group_col="event_type")
    return _viol(res)


def q_r2_fixed_value(spark: SparkSession, sf: str) -> DataFrame:
    df = (load_table(spark, sf, "lineitem")
          .withColumn("li_id", F.concat_ws("-", "l_orderkey", "l_linenumber")))
    res = _validate(spark, df,
                    [{"id": "FIX-1", "type": "FixedValue",
                      "column": "l_returnflag",
                      "scope": {"kind": "filter",
                                "condition": "l_linestatus = 'O'"},
                      "params": {"value": "N"}}],
                    key_col="li_id", group_col="l_linestatus", dedupe=False)
    return _viol(res)


def q_r3_allowed_values(spark: SparkSession, sf: str) -> DataFrame:
    df = load_table(spark, sf, "orders")
    res = _validate(spark, df,
                    [{"id": "ALW-1", "type": "AllowedValues",
                      "column": "o_orderpriority",
                      "params": {"values": ["1-URGENT", "2-HIGH", "3-MEDIUM"]}}],
                    key_col="o_orderkey", group_col="o_orderstatus")
    return _viol(res)


def q_r4_regex(spark: SparkSession, sf: str) -> DataFrame:
    df = load_table(spark, sf, "customer")
    res = _validate(spark, df,
                    [{"id": "RGX-1", "type": "Regex", "column": "c_name",
                      "params": {"pattern": "^Customer#0000000[0-9]{2}$"}}],
                    key_col="c_custkey", group_col="c_mktsegment")
    return _viol(res)


def q_r5_range(spark: SparkSession, sf: str) -> DataFrame:
    df = (load_table(spark, sf, "lineitem")
          .withColumn("li_id", F.concat_ws("-", "l_orderkey", "l_linenumber")))
    res = _validate(spark, df,
                    [{"id": "RNG-1", "type": "Range", "column": "l_quantity",
                      "params": {"min": 1, "max": 45}}],
                    key_col="li_id", group_col="l_returnflag", dedupe=False)
    return _viol(res)


def q_r7_custom_expr(spark: SparkSession, sf: str) -> DataFrame:
    df = load_table(spark, sf, "documents")
    res = _validate(spark, df,
                    [{"id": "EXP-1", "type": "CustomExpr",
                      "expr": "n_chars <= 400"}],
                    key_col="doc_id", group_col="lang")
    return _viol(res)


def q_p3_first_scope(spark: SparkSession, sf: str) -> DataFrame:
    """`first` instance scope: flag the first order per status (P3)."""
    df = load_table(spark, sf, "orders")
    res = _validate(spark, df,
                    [{"id": "FST-1", "type": "CustomExpr", "expr": "false",
                      "scope": {"kind": "first"}}],
                    key_col="o_orderkey", group_col="o_orderstatus")
    return res.violations.select("doc_id", "source").orderBy("source")


def q_p5_nested_elements(spark: SparkSession, sf: str) -> DataFrame:
    """P5 array-of-struct element paths: lineitems rolled up per order into
    a sorted array<struct>, then a perElement Range rule on
    ``items[*].l_quantity`` — one violation per bad element with its index
    (native GetArrayStructFields extraction, no higher-order function in
    the full-scan filter)."""
    li = load_table(spark, sf, "lineitem")
    orders = (li.groupBy("l_orderkey")
              .agg(F.sort_array(F.collect_list(F.struct(
                       "l_linenumber", "l_quantity", "l_returnflag")))
                   .alias("items"),
                   F.min("l_returnflag").alias("rflag")))
    res = _validate(spark, orders,
                    [{"id": "NST-1", "type": "Range",
                      "column": "items[*].l_quantity",
                      "params": {"min": 1, "max": 45, "perElement": True}}],
                    key_col="l_orderkey", group_col="rflag")
    return (res.violations.select(
                "doc_id", "rule_id", "error_code",
                F.col("detail")["index"].alias("idx"),
                F.col("detail")["value"].alias("value"))
            .orderBy("doc_id", "idx"))


def q_p5b_nested_repetition(spark: SparkSession, sf: str) -> DataFrame:
    """P5b nested repetition ``a[*].b[*].c``: lineitems rolled into TWO
    array levels per order (groups split at linenumber 3, items sorted
    within), then a perElement Range rule on
    ``groups[*].items[*].l_quantity`` — one violation per bad element with
    the composite (index, innerIndex) detail."""
    li = load_table(spark, sf, "lineitem")
    item = F.struct("l_linenumber", "l_quantity")
    orders = _grouped_orders(li, item)
    res = _validate(spark, orders,
                    [{"id": "NST-2", "type": "Range",
                      "column": "groups[*].items[*].l_quantity",
                      "params": {"min": 1, "max": 45, "perElement": True}}],
                    key_col="l_orderkey", group_col="rflag")
    return (res.violations.select(
                "doc_id", "rule_id", "error_code",
                F.col("detail")["index"].alias("idx"),
                F.col("detail")["innerIndex"].alias("inner_idx"),
                F.col("detail")["value"].alias("value"))
            .orderBy("doc_id", "idx", "inner_idx"))


def q_p5c_deep_repetition(spark: SparkSession, sf: str) -> DataFrame:
    """P5c arbitrary-depth repetition ``a[*].b[*].c[*].d``: three array
    levels (groups → items → per-item leaf array, empty for even line
    numbers) with a perElement Range rule on
    ``groups[*].items[*].q[*].v``. The composite detail is (index =
    outermost group, innerIndex = ordinal within the flattened remainder
    under that group) — the reference's arbitrary-depth navigation
    (``FhirPathRuleEngine.cs:648-723``) beyond the two-level case."""
    li = load_table(spark, sf, "lineitem")
    leaf = F.when(F.col("l_linenumber") % 2 == 1,
                  F.array(F.struct(F.col("l_quantity").alias("v")))) \
            .otherwise(F.array().cast("array<struct<v:double>>"))
    item = F.struct("l_linenumber", "l_quantity", leaf.alias("q"))
    orders = _grouped_orders(li, item)
    res = _validate(spark, orders,
                    [{"id": "NST-3", "type": "Range",
                      "column": "groups[*].items[*].q[*].v",
                      "params": {"min": 1, "max": 45, "perElement": True}}],
                    key_col="l_orderkey", group_col="rflag")
    return (res.violations.select(
                "doc_id", "rule_id", "error_code",
                F.col("detail")["index"].alias("idx"),
                F.col("detail")["innerIndex"].alias("inner_idx"),
                F.col("detail")["value"].alias("value"))
            .orderBy("doc_id", "idx", "inner_idx"))


def q_nav1_json_pointer(spark: SparkSession, sf: str) -> DataFrame:
    """Violation navigation (SmartPathNavigationService.cs:29-406 analog):
    RFC 6901 JSON pointers + breadcrumbs over the nested-repetition
    violations of p5b, computed by ``navigation.with_pointer`` — a pure
    codegen projection over (column, detail) with zero extra shuffle."""
    from fhir_data_validation_spark.navigation import with_pointer
    li = load_table(spark, sf, "lineitem")
    item = F.struct("l_linenumber", "l_quantity")
    orders = _grouped_orders(li, item)
    res = _validate(spark, orders,
                    [{"id": "NAV-1", "type": "Range",
                      "column": "groups[*].items[*].l_quantity",
                      "params": {"min": 1, "max": 45, "perElement": True}}],
                    key_col="l_orderkey", group_col="rflag")
    out = with_pointer(res.violations, breadcrumb_col="crumb")
    return (out.select("doc_id",
                       F.col("detail")["index"].alias("idx"),
                       F.col("detail")["innerIndex"].alias("inner_idx"),
                       "json_pointer", "crumb")
            .orderBy("doc_id", "idx", "inner_idx"))


def q_sh1_spec_hints(spark: SparkSession, sf: str) -> DataFrame:
    """Spec hints (SpecHintService.cs analog, ``spechints.scan``): one
    fused advisory aggregation — presence counts + bounded min-key witness
    per (group, hint), plus a conditional hint gated on a SQL expression.
    ``seg_note`` is null exactly for the BUILDING segment, so the missing
    counts are non-trivial without mutating testdata."""
    from fhir_data_validation_spark.spechints import SpecHint, scan
    cust = (load_table(spark, sf, "customer")
            .withColumn("seg_note",
                        F.expr("nullif(c_mktsegment, 'BUILDING')")))
    out = scan(cust, [
        SpecHint(path="seg_note", reason="segment note expected"),
        SpecHint(path="c_acctbal", reason="positive balances audited",
                 condition="c_acctbal > 0"),
    ], key_col="c_custkey", group_col="c_mktsegment")
    return (out.select("source", "path", "reason", "severity",
                       "conditional", "n_missing", "n_checked", "witness")
            .orderBy("source", "path"))


def q_a1_group_cardinality(spark: SparkSession, sf: str) -> DataFrame:
    """RequiredResources closed-world cardinality: nations per region (A1),
    routed through the engine's ``group_cardinality_counts`` (the shared
    ``_requirement_counts`` conditional-aggregation core of
    ``required_resources_plan``)."""
    from fhir_data_validation_spark.plans import group_cardinality_counts
    region = load_table(spark, sf, "region")
    nation = load_table(spark, sf, "nation")
    joined = (region.join(F.broadcast(nation),
                          region.r_regionkey == nation.n_regionkey, "left")
              .withColumn("has_nation", F.col("n_nationkey").isNotNull()))
    reqs = [{"source": r, "min": 5,
             "where": [{"column": "has_nation", "op": "=", "value": True}]}
            for r in ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")]
    return (group_cardinality_counts(joined, "r_name", reqs)
            .select(F.col("source").alias("r_name"),
                    F.col("actual").alias("n_nations"),
                    "passed")
            .orderBy("r_name"))


def q_c3_unique(spark: SparkSession, sf: str) -> DataFrame:
    df = load_table(spark, sf, "orders")
    res = _validate(spark, df,
                    [{"id": "UNQ-1", "type": "Unique", "column": "o_orderkey"}],
                    key_col="o_orderkey", group_col="o_orderstatus")
    return res.violations.select("doc_id", "rule_id", "error_code")


def q_j1_reference(spark: SparkSession, sf: str) -> DataFrame:
    df = load_table(spark, sf, "orders")
    customer = load_table(spark, sf, "customer")
    res = _validate(spark, df,
                    [{"id": "REF-1", "type": "Reference", "column": "o_custkey",
                      "params": {"dim": "customer", "on": "c_custkey"}}],
                    key_col="o_orderkey", group_col="o_orderstatus",
                    dims={"customer": customer})
    return _viol(res)


def q_j1_reference_seeded(spark: SparkSession, sf: str) -> DataFrame:
    """Anti-join that actually fires: lineitems referencing suppliers outside
    the declared (non-negative balance) closed world."""
    df = (load_table(spark, sf, "lineitem")
          .withColumn("li_id", F.concat_ws("-", "l_orderkey", "l_linenumber")))
    good_suppliers = (load_table(spark, sf, "supplier")
                      .where(F.col("s_acctbal") >= 0))
    res = _validate(spark, df,
                    [{"id": "REF-2", "type": "Reference", "column": "l_suppkey",
                      "params": {"dim": "supplier", "on": "s_suppkey"}}],
                    key_col="li_id", group_col="l_returnflag",
                    dims={"supplier": good_suppliers}, dedupe=False)
    return _viol(res)


def q_j5_bloom_prefilter(spark: SparkSession, sf: str) -> DataFrame:
    """Same referential check as ``j1_reference_seeded`` but through the
    split-block Bloom lane (``params.bloom``, prefilter mode): bloom-negative
    refs short-circuit as definite violations, bloom-positives confirm via
    the exact anti-join — the RESULT must be bit-identical to the exact
    lane, which is exactly what this oracle asserts."""
    df = (load_table(spark, sf, "lineitem")
          .withColumn("li_id", F.concat_ws("-", "l_orderkey", "l_linenumber")))
    good_suppliers = (load_table(spark, sf, "supplier")
                      .where(F.col("s_acctbal") >= 0))
    res = _validate(spark, df,
                    [{"id": "REF-5", "type": "Reference", "column": "l_suppkey",
                      "params": {"dim": "supplier", "on": "s_suppkey",
                                 "bloom": {"mode": "prefilter"},
                                 "broadcast": False}}],
                    key_col="li_id", group_col="l_returnflag",
                    dims={"supplier": good_suppliers}, dedupe=False)
    return _viol(res)


def q_c5_heavy_hitters(spark: SparkSession, sf: str) -> DataFrame:
    """Distributed Misra-Gries heavy hitters (stats.heavy_hitters): with
    ``k`` covering the domain no counter subtraction fires, so the MG
    summary IS the exact per-value count — the oracle; the approximate
    regime's [n_lo, n_hi] bound + guaranteed-presence rule are pinned by
    unit tests (no SQL twin)."""
    from fhir_data_validation_spark import stats
    docs = load_table(spark, sf, "documents")
    return (stats.heavy_hitters(docs, "lang", k=100, group_col="source")
            .select("group", "value",
                    "n_lo", "n_hi")
            .orderBy("group", F.desc("n_lo"), "value"))


def q_hh1_dominance(spark: SparkSession, sf: str) -> DataFrame:
    """HeavyHitters RULE through the engine (plans.heavy_hitters_plan):
    values of ``lang`` holding > 20% of documents are dominance
    violations. k=1000 covers the domain, so the Misra-Gries judgment is
    exact and the oracle is a plain GROUP BY ... HAVING share check."""
    from fhir_data_validation_spark import EngineConfig, ValidationEngine
    from fhir_data_validation_spark.model import RuleSet
    docs = load_table(spark, sf, "documents")
    rs = RuleSet.parse({"rules": [
        {"id": "HH-1", "type": "HeavyHitters", "column": "lang",
         "params": {"maxShare": 0.2, "k": 1000}}]})
    cfg = EngineConfig(key_col="doc_id", group_col="source")
    v = ValidationEngine(rs, config=cfg).validate(docs).violations
    return (v.select(F.col("doc_id").alias("value"),
                     F.col("detail")["countLo"].cast("long").alias("n"))
            .orderBy("value"))


def q_c1_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Per-group column stats via the library's one-pass profiler
    (``stats.profile`` — C1 min/max/mean/null-rate + C2 cardinality).
    Exact distinct for oracle parity; at scale pass
    ``exact_distinct=False`` for HLL."""
    from fhir_data_validation_spark import stats
    df = load_table(spark, sf, "lineitem")
    prof = stats.profile(df, ["l_quantity", "l_partkey"],
                         group_col="l_returnflag", exact_distinct=True)
    return (prof.select(
                F.col("group").alias("l_returnflag"),
                F.round(F.col("l_quantity.min"), 4).alias("min_qty"),
                F.round(F.col("l_quantity.max"), 4).alias("max_qty"),
                F.round(F.col("l_quantity.mean"), 4).alias("avg_qty"),
                F.round(F.col("l_quantity.null_rate"), 4)
                 .alias("null_rate_qty"),
                F.col("l_partkey.n_distinct").alias("n_parts"),
                "n_rows")
            .orderBy("l_returnflag"))


def q_c2_cardinality(spark: SparkSession, sf: str) -> DataFrame:
    """Per-group cardinality via ``stats.profile`` (C2)."""
    from fhir_data_validation_spark import stats
    df = load_table(spark, sf, "customer")
    prof = stats.profile(df, ["c_nationkey"], group_col="c_mktsegment",
                         exact_distinct=True)
    return (prof.select(F.col("group").alias("c_mktsegment"),
                        F.col("c_nationkey.n_distinct").alias("n_nations"),
                        F.col("n_rows").alias("n_customers"))
            .orderBy("c_mktsegment"))


def q_c4_histogram(spark: SparkSession, sf: str) -> DataFrame:
    """Width-bucketed histogram via ``stats.histogram`` (C4)."""
    from fhir_data_validation_spark import stats
    df = load_table(spark, sf, "lineitem")
    return (stats.histogram(df, "l_quantity", 5.0)
            .select("bucket", "cnt")
            .orderBy("bucket"))


def q_a4_summary(spark: SparkSession, sf: str) -> DataFrame:
    """Full engine run + severity×rule summary aggregation (A4)."""
    df = load_table(spark, sf, "orders")
    res = _validate(spark, df, [
        {"id": "ALW-1", "type": "AllowedValues", "column": "o_orderpriority",
         "params": {"values": ["1-URGENT", "2-HIGH", "3-MEDIUM"]}},
        {"id": "RNG-1", "type": "Range", "column": "o_totalprice",
         "params": {"min": 0}, "severity": "warning"},
        {"id": "UNQ-1", "type": "Unique", "column": "o_orderkey"},
    ], key_col="o_orderkey", group_col="o_orderstatus")
    return res.summary()


def q_a5_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Stage-priority dedup (A5): two rules emit the same
    (doc_id, error_code, column); the earlier rule id wins, the duplicate is
    suppressed."""
    df = load_table(spark, sf, "orders")
    res = _validate(spark, df, [
        {"id": "ALW-1", "type": "AllowedValues", "column": "o_orderpriority",
         "errorCode": "VALUE_NOT_ALLOWED",
         "params": {"values": ["1-URGENT", "2-HIGH", "3-MEDIUM"]}},
        {"id": "ALW-2", "type": "AllowedValues", "column": "o_orderpriority",
         "errorCode": "VALUE_NOT_ALLOWED",
         "params": {"values": ["1-URGENT", "2-HIGH", "3-MEDIUM", "5-LOW"]}},
    ], key_col="o_orderkey", group_col="o_orderstatus")
    return (res.violations.groupBy("rule_id")
            .agg(F.count(F.lit(1)).alias("n")).orderBy("rule_id"))


def q_r6_membership(spark: SparkSession, sf: str) -> DataFrame:
    """Closed-world membership (R6): customer nation keys must exist in the
    nation dim — per-element broadcast anti-join lane (CODE_NOT_IN_VALUESET
    error model), distinct from the Reference row lane."""
    df = load_table(spark, sf, "customer")
    nation = load_table(spark, sf, "nation").where(F.col("n_nationkey") < 20)
    res = _validate(spark, df,
                    [{"id": "MEM-1", "type": "Membership",
                      "column": "c_nationkey",
                      "params": {"dim": "nation", "on": "n_nationkey"}}],
                    key_col="c_custkey", group_col="c_mktsegment",
                    dims={"nation": nation})
    return (res.violations.select("doc_id", "rule_id", "error_code", "source",
                                  F.col("detail")["value"].alias("value"))
            .orderBy("doc_id"))


def q_r6b_codesystem_pair(spark: SparkSession, sf: str) -> DataFrame:
    """(system, code) pair lane (R6b): rows whose system column deviates
    from the expected system get CODESYSTEM_MISMATCH (code unchecked);
    rows on the expected system with a code outside the CodeSet get
    CODE_NOT_IN_VALUESET — two distinct codes from one broadcast join
    (FhirPathRuleEngine.cs:1527-1698 re-expressed)."""
    df = load_table(spark, sf, "customer")
    nation = load_table(spark, sf, "nation").where(F.col("n_nationkey") < 20)
    res = _validate(spark, df,
                    [{"id": "CS-1", "type": "CodeSystem",
                      "column": "c_nationkey",
                      "params": {"system": "BUILDING",
                                 "systemColumn": "c_mktsegment",
                                 "dim": "nation", "on": "n_nationkey"}}],
                    key_col="c_custkey", group_col="c_mktsegment",
                    dims={"nation": nation})
    return (res.violations.select("doc_id", "rule_id", "error_code", "source")
            .orderBy("doc_id", "error_code"))


def q_q1_question_rules(spark: SparkSession, sf: str) -> DataFrame:
    """Q1: questions[] dim ingest → per-answerType generated Contract rules
    (QuestionAnswerValidator.cs:458-490 dispatch re-expressed as driver-time
    rule generation; the generated set fuses into the one-scan pass)."""
    from fhir_data_validation_spark import question_rules
    df = load_table(spark, sf, "part")
    rs = question_rules([
        {"id": "Q-SIZE", "column": "p_size", "answerType": "integer",
         "required": True, "constraints": {"min": 1, "max": 40}},
        {"id": "Q-NAME", "column": "p_name", "answerType": "string",
         "constraints": {"maxLength": 25}},
        {"id": "Q-BRAND", "column": "p_brand", "answerType": "code",
         "valueSet": ["Brand#11", "Brand#12", "Brand#13", "Brand#21",
                      "Brand#22", "Brand#23"]},
    ])
    engine = ValidationEngine(rs, config=EngineConfig(
        key_col="p_partkey", group_col="p_type"))
    res = engine.validate(df)
    return _viol(res)


def q_j4_codemaster(spark: SparkSession, sf: str) -> DataFrame:
    """CodeMaster constraint dim (J4/J5): per-status allowed order
    priorities; violations are per-value INVALID_ANSWER_VALUE plus
    INVALID_QUESTION_CODE for statuses missing from the dim."""
    df = load_table(spark, sf, "orders")
    dim = spark.createDataFrame(
        [("O", ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                "5-LOW"], True),
         ("F", ["1-URGENT", "2-HIGH"], True)],
        "status string, allowed array<string>, multi boolean")
    res = _validate(spark, df,
                    [{"id": "CM-1", "type": "CodeMaster",
                      "column": "o_orderpriority",
                      "params": {"dim": "cm", "keyColumn": "o_orderstatus",
                                 "dimKey": "status",
                                 "allowedColumn": "allowed",
                                 "multiValueColumn": "multi"}}],
                    key_col="o_orderkey", group_col="o_orderstatus",
                    dims={"cm": dim})
    return (res.violations.select("doc_id", "rule_id", "error_code", "source")
            .orderBy("doc_id", "error_code"))


def q_gr1_code_grammar(spark: SparkSession, sf: str) -> DataFrame:
    """T2 code grammar with the portable Unicode classes end-to-end: a
    synthesized value column carries a deterministic space (every 7th
    doc) or a control character (every 11th), then the registry's
    ``code`` grammar (``^[^\\p{Z}\\p{Cc}]+\\z``) judges it — the oracle
    runs the IDENTICAL pattern in DuckDB's RE2, so the row only matches
    if Java regex and RE2 agree on the class semantics."""
    from fhir_data_validation_spark.grammars import grammar_rule
    from fhir_data_validation_spark.model import RuleSet as _RS

    docs = (load_table(spark, sf, "documents")
            .withColumn("v", F.concat(
                F.col("lang"),
                F.when(F.col("n_chars") % 7 == 0, F.lit(" "))
                 .otherwise(F.lit("")),
                F.when(F.col("n_chars") % 11 == 0, F.expr("chr(1)"))
                 .otherwise(F.lit("")),
                F.lit("x"))))
    res = ValidationEngine(
        _RS(rules=(grammar_rule("code", "v", rule_id="GR-CODE"),)),
        config=EngineConfig(key_col="doc_id",
                            group_col="lang")).validate(docs)
    return (res.violations
            .select(F.col("doc_id"), "rule_id", "error_code",
                    F.col("source"))
            .orderBy("doc_id"))


def q_en1_enum_binding(spark: SparkSession, sf: str) -> DataFrame:
    """Phase B enum semantics end-to-end: an Enum rule with
    binding=extensible demotes its violations to warning severity, and a
    second Enum rule whose valueSet has no resolvable values emits ONE
    dataset-level ENUM_VALIDATION_SKIPPED notice with the frozen
    {valueSet, bindingStrength, reason} details."""
    from fhir_data_validation_spark.model import RuleSet as _RS

    nation = load_table(spark, sf, "nation")
    res = ValidationEngine(
        _RS.parse({"rules": [
            {"id": "EN-1", "type": "Enum", "column": "n_name",
             "params": {"values": ["NATION_0", "NATION_1"],
                        "binding": "extensible"}},
            {"id": "EN-2", "type": "Enum", "column": "n_name",
             "params": {"valueSet": "http://example.org/vs/nations",
                        "binding": "preferred"}},
        ]}),
        config=EngineConfig(key_col="n_nationkey",
                            group_col="n_name")).validate(nation)
    return (res.violations
            .select("doc_id", "rule_id", "error_code", "severity",
                    F.col("detail")["bindingStrength"].alias("binding"),
                    F.col("detail")["valueSet"].alias("value_set"))
            .orderBy("rule_id", "doc_id"))


def q_ext1_extension_grammar(spark: SparkSession, sf: str) -> DataFrame:
    """T7 extension grammar end-to-end: lineitems synthesized into one
    extension struct each (url missing on linenumber 7, value[x] fields
    driven by quantity bands, nested extensions on small quantities),
    rolled up per order, then ``grammars.extension_rules`` — per-element
    FHIR_EXTENSION_MISSING_URL with the element index, doc-level
    value[x]-XOR-nested shape and multi-value[x] exclusivity
    (JsonNodeStructuralValidator.cs:1087-1208 semantics)."""
    from fhir_data_validation_spark.grammars import extension_rules

    li = load_table(spark, sf, "lineitem")
    ext = F.struct(
        F.col("l_linenumber"),
        F.when(F.col("l_linenumber") != 7,
               F.concat(F.lit("http://x/"),
                        F.col("l_linenumber").cast("string"))).alias("url"),
        F.when(F.col("l_quantity") >= 25,
               F.col("l_returnflag")).alias("valueString"),
        F.when(F.col("l_quantity") >= 45,
               F.col("l_linestatus")).alias("valueCode"),
        F.when(F.col("l_quantity") <= 5,
               F.array(F.struct(F.lit("u").alias("url"),
                                F.lit("v").alias("valueString"))))
         .alias("extension"),
    )
    orders = (li.groupBy("l_orderkey")
              .agg(F.sort_array(F.collect_list(ext)).alias("exts"),
                   F.min("l_returnflag").alias("rflag")))
    engine = ValidationEngine(
        RuleSet(rules=extension_rules("exts",
                                      ["valueString", "valueCode"])),
        config=EngineConfig(key_col="l_orderkey", group_col="rflag"))
    res = engine.validate(orders)
    return (res.violations
            .select("doc_id", "rule_id", "error_code",
                    F.col("detail")["index"].alias("idx"))
            .orderBy("doc_id", "rule_id", "idx"))


def _round4_arith(c):
    """Arithmetic half-up 4-decimal rounding ``floor(x·10⁴ + 0.5)/10⁴``
    — the SINGLE Spark-side statement of the cross-engine rounding
    convention (round-5 review batches 6-7). Spark's repr-based
    ``F.round`` and DuckDB's binary ``round()`` disagree on
    repr-halfway doubles (405.80105 → 405.8011 vs 405.801); this chain
    is plain IEEE ops, so stating the same
    ``CAST(floor(x * 10000.0 + 0.5) AS DOUBLE) / 10000.0`` in an
    oracle reproduces it bit-for-bit. Parity pinned in
    tests/test_engine.py::test_arithmetic_round_chain_matches_duckdb…"""
    return (F.floor(c * F.lit(10000.0) + F.lit(0.5)).cast("double")
            / F.lit(10000.0))


def _md5_token_table(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic (doc_id, tokens, n_tok, source) token table derived
    from documents: each word hashes to a 0..49999 token id via the md5_60
    trick (top-60 md5 bits mod 50000), bit-for-bit reproducible in the
    oracle dialect. A real token table carries tokenizer output; this
    one only has to be deterministic.

    CONVENTION PIN: ``words`` below (lower-cased alphanumeric words,
    empty strings removed) has the oracle-side twin
    ``list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
    x -> x <> '')`` — inlined (shaped per context) in the o1, e1 and
    seq1 oracle_sql entries. Changing the word-split convention means
    updating ``words`` AND those three sites;
    ``tools/oracle_check.py --exact`` catches a missed one."""
    def words(col):
        return F.filter(F.split(F.lower(col), "[^a-z0-9]+"),
                        lambda w: w != "")

    docs = load_table(spark, sf, "documents")
    w = words(F.col("text"))
    toks = F.transform(w, lambda x: F.pmod(
        F.conv(F.substring(F.md5(x), 1, 15), 16, 10).cast("long"),
        F.lit(50000)).cast("int"))
    return docs.select("doc_id", "source", toks.alias("tokens"),
                       F.size(w).alias("n_tok"))


def q_v1_vector_check(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-column conformance (VectorCheck rule via ValidationEngine
    rebound onto the embeddings table): dim/finite lanes are native
    codegen expressions; the L2-norm lane (HOF) is isolated in its own
    fused chunk. The view seeds deterministic corruption — ×3-scaled
    (norm), 32-dim truncated (dim) and NaN-tail (finite) vectors.

    Float determinism: the rounded norm is a left-to-right Σx² over the
    same literal array in both engines — one fixed IEEE chain, bit-exact
    (tools/oracle_check.py --exact green).
    """
    from fhir_data_validation_spark import EngineConfig, ValidationEngine
    from fhir_data_validation_spark.model import RuleSet
    emb = load_table(spark, sf, "embeddings")
    vid = F.col("vec_id")
    corrupted = (
        F.when(vid % 50 == 0,
               F.transform("embedding",
                           lambda x: (x * F.lit(3.0)).cast("float")))
        .when(vid % 97 == 0, F.slice("embedding", 1, 32))
        .when(vid % 83 == 0,
              F.concat(F.slice("embedding", 1, 63),
                       F.array(F.lit(float("nan")).cast("float"))))
        .otherwise(F.col("embedding")))
    df = emb.select("vec_id", "label", corrupted.alias("embedding"))
    rs = RuleSet.parse({"rules": [
        {"id": "VEC-1", "type": "VectorCheck", "column": "embedding",
         "params": {"dim": 64, "normMin": 0.5, "normMax": 2.0}}]})
    v = ValidationEngine(rs, config=EngineConfig(
        key_col="vec_id", group_col="label")).validate(df).violations
    d = F.col("detail")
    return (v.select(F.col("doc_id").cast("long").alias("vec_id"),
                     "source", "error_code",
                     d["check"].alias("check"),
                     d["size"].cast("int").alias("size"),
                     # NULL doubles become NaN through the Arrow/pandas
                     # hop (same sentinel convention as e1)
                     F.coalesce(
                         F.when(d["check"] == "norm",
                                F.round(d["norm"].cast("double"), 4)),
                         F.lit(-1.0)).alias("norm"))
             .orderBy("vec_id"))


def q_o1_outliers(spark: SparkSession, sf: str) -> DataFrame:
    """Statistical outlier rule (plans.outlier_plan, via ValidationEngine):
    per-source z-score fences (μ ± 1.5σ) over n_tok, rows outside the fences
    become violations. Two-pass: one fence aggregation, broadcast join
    back. Output value-checks observed value, side, and the fences.

    Float determinism: fences derive from exact DECIMAL (n, Σx, Σx²)
    through the identical IEEE chain in the oracle (round-5 fix), and
    even the final 4-decimal rounding is the arithmetic half-up chain
    floor(x·10⁴ + 0.5)/10⁴ stated in both engines — F.round/DuckDB
    round() disagree on repr-halfway doubles (e.g. 405.80105), review
    batch 6 — so the whole output is bit-exact by construction.
    """
    from fhir_data_validation_spark import ValidationEngine
    from fhir_data_validation_spark.model import RuleSet
    rs = RuleSet.parse({"rules": [
        {"id": "OUT-1", "type": "Outlier", "column": "n_tok",
         "params": {"method": "zscore", "k": 1.5}}]})
    v = ValidationEngine(rs).validate(_md5_token_table(spark, sf)).violations
    d = F.col("detail")
    # doc_id back to long like every sibling query: the oracle orders by
    # BIGINT, and a string doc_id would sort '110' before '8' (round-5
    # review batch 5 — type/order parity for the one-shot driver check)
    return (v.select(F.col("doc_id").cast("long").alias("doc_id"),
                     "source", "rule_id", "error_code",
                     d["observed"].cast("double").cast("long")
                      .alias("n_tok"),
                     d["side"].alias("side"),
                     _round4_arith(d["lo"].cast("double")).alias("lo"),
                     _round4_arith(d["hi"].cast("double")).alias("hi"))
             .orderBy("doc_id"))


def q_mono1_monotonic(spark: SparkSession, sf: str) -> DataFrame:
    """Per-key ordered-sequence validation (plans.monotonic_plan, via
    ValidationEngine): within each user's event stream ordered by
    event_id, `value` must be non-decreasing; every rewind is a violation
    carrying (prev, observed). One shuffle on the key, one codegen lag
    window — the event-stream invariant (counters never drop).

    Float determinism: prev/observed are integer-valued doubles —
    round(·,4) is identity; bit-exact (oracle_check --exact green).
    """
    df = load_table(spark, sf, "events")
    res = _validate(
        spark, df,
        [{"id": "MONO-1", "type": "Monotonic", "column": "value",
          "severity": "error",
          "params": {"keyColumn": "user_id", "orderBy": "event_id"}}],
        key_col="event_id", group_col="event_type")
    d = F.col("detail")
    return (res.violations.select(
        F.col("doc_id").cast("long").alias("event_id"),
        "rule_id", "error_code",
        d["key"].cast("long").alias("user_id"),
        F.round(d["prev"].cast("double"), 4).alias("prev_value"),
        F.round(d["observed"].cast("double"), 4).alias("value"))
        .orderBy("event_id"))


def q_mono2_sequence_gap(spark: SparkSession, sf: str) -> DataFrame:
    """Gap detection (Monotonic params.maxStep, via ValidationEngine):
    within each user's stream, consecutive event ids must not jump by
    more than 500 — the missing-sequence-number / skipped-window check.
    The gap lane rides the SAME single-shuffle lag window as mono1;
    detail.check names the lane. Oracle: the identical LAG + CASE.

    Float determinism: integer-valued event ids — rounding is identity;
    bit-exact (oracle_check --exact green).
    """
    df = load_table(spark, sf, "events")
    res = _validate(
        spark, df,
        [{"id": "MONO-2", "type": "Monotonic", "column": "event_id",
          "severity": "error",
          "params": {"keyColumn": "user_id", "orderBy": "event_id",
                     "direction": "increasing", "maxStep": 500}}],
        key_col="event_id", group_col="event_type")
    d = F.col("detail")
    return (res.violations.select(
        F.col("doc_id").cast("long").alias("event_id"),
        "rule_id", "error_code",
        d["key"].cast("long").alias("user_id"),
        d["prev"].cast("long").alias("prev_event_id"),
        d["check"].alias("check"))
        .orderBy("event_id"))


def q_fd1_functional_dependency(spark: SparkSession, sf: str) -> DataFrame:
    """Functional-dependency validation (plans.functional_dependency_plan,
    via ValidationEngine): c_nationkey → c_mktsegment must be single-valued;
    every nation mapping to >1 segment is one violation (bounded by bad
    keys) with the distinct count and min/max witness values. ONE
    partial-distinct groupBy pass."""
    df = load_table(spark, sf, "customer")
    res = _validate(
        spark, df,
        [{"id": "FD-1", "type": "FunctionalDependency",
          "column": "c_mktsegment", "severity": "error",
          "params": {"determinants": ["c_nationkey"]}}],
        key_col="c_custkey", group_col="c_mktsegment")
    d = F.col("detail")
    return (res.violations.select(
        F.col("doc_id").cast("long").alias("c_nationkey"),
        "rule_id", "error_code",
        d["nValues"].cast("long").alias("n_values"),
        d["rows"].cast("long").alias("n_rows"),
        d["minValue"].alias("min_segment"),
        d["maxValue"].alias("max_segment"))
        .orderBy("c_nationkey"))


def q_e1_expectations(spark: SparkSession, sf: str) -> DataFrame:
    """Dataset-level statistical expectations (plans.expectation_report —
    the Deequ/Great-Expectations analog, one map-side-combined aggregation
    pass): row count, null fraction, mean/stddev/min/max/sum bounds, exact
    distinct counts over the token table; one check (mean ≤ 10) fails so
    both verdict polarities are value-checked."""
    from fhir_data_validation_spark import expectation_report
    checks = [
        {"metric": "row_count", "min": 100},
        {"metric": "null_fraction", "column": "n_tok", "max": 0.0},
        {"metric": "mean", "column": "n_tok", "min": 5, "max": 10},
        {"metric": "stddev", "column": "n_tok", "min": 0},
        {"metric": "min", "column": "n_tok", "min": 0},
        {"metric": "max", "column": "n_tok", "max": 100000},
        {"metric": "sum", "column": "n_tok", "min": 1},
        {"metric": "distinct_count", "column": "source", "min": 2,
         "max": 10},
        {"metric": "distinct_count", "column": "doc_id", "min": 1},
    ]
    rep = expectation_report(_md5_token_table(spark, sf), checks)
    # absent bounds → -1.0 sentinel: NULL doubles become NaN through the
    # Arrow/pandas hop and would hash-mismatch the oracle's NULLs
    return (rep.select("metric", "column",
                       F.round("observed", 4).alias("observed"),
                       F.coalesce("expected_min", F.lit(-1.0))
                        .alias("expected_min"),
                       F.coalesce("expected_max", F.lit(-1.0))
                        .alias("expected_max"),
                       "passed")
            .orderBy("metric", "column"))


def q_c6_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Hierarchical ROLLUP report (stats.rollup_counts): doc counts and
    total chars per (lang, source), per lang, and grand total — one
    Expand + hash aggregate, no per-level re-scan. level = grouping_id;
    rolled-up dims labelled '<all>' so the oracle never compares NULL
    group keys."""
    from fhir_data_validation_spark import stats
    docs = load_table(spark, sf, "documents")
    out = stats.rollup_counts(docs, ["lang", "source"],
                              value_col="n_chars")
    return out.orderBy("level", "lang", "source")


def q_c8_cube(spark: SparkSession, sf: str) -> DataFrame:
    """CUBE report (stats.cube_counts): every (lang × source) subset
    combination — adds the (source-only) slices ROLLUP lacks; same
    one-Expand single-aggregation plan."""
    from fhir_data_validation_spark import stats
    docs = load_table(spark, sf, "documents")
    out = stats.cube_counts(docs, ["lang", "source"], value_col="n_chars")
    return out.orderBy("level", "lang", "source")


def q_sk1_skew_report(spark: SparkSession, sf: str) -> DataFrame:
    """Pre-join skew diagnosis (skew.skew_report): the 10 heaviest
    user_ids in the event stream with row counts and exact corpus share —
    one count aggregation + TakeOrderedAndProject top-k (plan pinned in
    unit tests), total via 1-row agg cross join. Oracle: window-rank
    restatement.

    Float determinism: share = exact-int / exact-int one division both
    sides — bit-exact (oracle_check --exact green).
    """
    from fhir_data_validation_spark.skew import skew_report
    df = load_table(spark, sf, "events")
    return skew_report(df, "user_id", top_k=10).orderBy("rank")


def q_c9_data_card(spark: SparkSession, sf: str) -> DataFrame:
    """Dataset datasheet (stats.data_card): per-source doc count, char and
    whitespace-token volume, and exact R-7 length quantiles plus the
    corpus <all> rollup row — ONE rollup aggregation pass. Oracle:
    GROUP BY source UNION ALL the corpus totals, quantile_cont on the
    same double-cast lengths.

    Float determinism: R-7 quantiles interpolate exact integer order
    statistics with the identical formula as DuckDB quantile_cont —
    bit-exact (oracle_check --exact green).
    """
    from fhir_data_validation_spark import stats
    docs = load_table(spark, sf, "documents")
    return stats.data_card(docs).orderBy("source")


def q_c7_pivot(spark: SparkSession, sf: str) -> DataFrame:
    """PIVOT / crosstab (stats.pivot_counts): doc counts per language ×
    a fixed source subset as wide columns. The explicit value list keeps
    it ONE aggregation pass (value-less pivot would first run a blocking
    distinct job to discover columns) and a static schema."""
    from fhir_data_validation_spark import stats
    docs = load_table(spark, sf, "documents")
    out = stats.pivot_counts(docs, "lang", "source",
                             ["src0", "src1", "src2", "src3"])
    return out.orderBy("lang")


def q_x7_table_diff(spark: SparkSession, sf: str) -> DataFrame:
    """Snapshot reconciliation (stats.diff_tables): version b removes
    docs < 5, edits the text of docs 5–9, and adds copies at id+20000;
    the diff reports exactly those keys as removed/changed/added via one
    full-outer join with null-safe column comparison."""
    from fhir_data_validation_spark import stats
    base = load_table(spark, sf, "documents").select("doc_id", "text",
                                                     "n_chars")
    b = (base.where(F.col("doc_id") >= 5)
         .withColumn("text", F.when(F.col("doc_id") < 10,
                                    F.concat("text", F.lit(" mod")))
                     .otherwise(F.col("text"))))
    added = (base.where(F.col("doc_id") < 3)
             .select((F.col("doc_id") + 20000).alias("doc_id"), "text",
                     "n_chars"))
    out = stats.diff_tables(base, b.unionByName(added), ["doc_id"],
                            ["text", "n_chars"])
    return out.orderBy("doc_id")


def q_j2_reference_type(spark: SparkSession, sf: str) -> DataFrame:
    """J2 target-type check: the reference EXISTS but its target's type is
    outside expectedTypes — one left join emits both miss and mismatch
    lanes; here every order whose customer sits in a non-allowed market
    segment is a REFERENCE_TYPE_MISMATCH with the actual type named."""
    df = load_table(spark, sf, "orders")
    customer = load_table(spark, sf, "customer")
    res = _validate(spark, df,
                    [{"id": "REF-T", "type": "Reference",
                      "column": "o_custkey",
                      "params": {"dim": "customer", "on": "c_custkey",
                                 "typeColumn": "c_mktsegment",
                                 "expectedTypes": ["BUILDING",
                                                   "AUTOMOBILE"]}}],
                    key_col="o_orderkey", group_col="o_orderstatus",
                    dims={"customer": customer})
    return (res.violations.select(
                "doc_id", "rule_id", "error_code",
                F.col("detail")["actualType"].alias("actual_type"))
            .orderBy("doc_id"))


def q_a3_where_counting(spark: SparkSession, sf: str) -> DataFrame:
    """A3 where-filtered requirement counting through the library's
    ``group_cardinality_counts``: nations-per-region counted under a
    `contains` where-filter (only names containing 'A' count toward the
    minimum)."""
    from fhir_data_validation_spark.plans import group_cardinality_counts
    region = load_table(spark, sf, "region")
    nation = load_table(spark, sf, "nation")
    joined = region.join(F.broadcast(nation),
                         region.r_regionkey == nation.n_regionkey, "left")
    reqs = [{"source": r, "min": 2,
             "where": [{"column": "n_name", "op": "contains",
                        "value": "A"}]}
            for r in ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")]
    return (group_cardinality_counts(joined, "r_name", reqs)
            .select("source", "actual", "expected_min", "passed")
            .orderBy("source"))


def q_c5_drift(spark: SparkSession, sf: str) -> DataFrame:
    """C5 value-oracled: PSI + two-sample KS per returnflag between the
    early-linenumber and late-linenumber quantity distributions, via the
    engine's ``drift_compare`` (JVM histogram reduce → one Catalyst
    aggregation and ``aggregate`` fold over the sorted buckets). The
    oracle recomputes both statistics in SQL (full-outer bucket join,
    eps-clamped PSI, windowed-cumsum KS).

    Float determinism: all four statistics reduce exact integer bucket
    counts in bucket order through identical chains (ordered fold vs SQL
    cumsum), and the outputs are rounded to 4 dp (oracle_check --exact
    green).
    """
    from fhir_data_validation_spark.plans import drift_compare
    li = load_table(spark, sf, "lineitem")

    def hist(cond):
        return (li.where(cond)
                .groupBy(F.col("l_returnflag").alias("source"),
                         F.floor(F.col("l_quantity") / 8).cast("bigint")
                         .alias("bucket"))
                .agg(F.count(F.lit(1)).alias("cnt")))

    cur = hist(F.col("l_linenumber") > 3)
    base = hist(F.col("l_linenumber") <= 3)
    return (drift_compare(cur, base, ks_alpha=0.01)
            .select("source",
                    F.round("psi", 4).alias("psi"),
                    F.round("ks", 4).alias("ks"),
                    F.round("ks_crit", 4).alias("ks_crit"),
                    F.round("jsd", 4).alias("jsd"),
                    F.round("chi2", 4).alias("chi2"),
                    "n_current", "n_baseline")
            .orderBy("source"))


def q_i1_iceberg_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """S1 executed: documents flow through the pure-Python Iceberg v2 table
    (``sources/iceberg_py.py`` — real metadata JSON + Avro manifests) in
    two append snapshots; the query returns the INCREMENTAL read between
    them (the changelog a delta validation consumes). The oracle recomputes
    the second batch straight from parquet — values match only if the
    snapshot log, manifests and file-level change tracking are all
    correct."""
    import shutil
    from fhir_data_validation_spark.sources.iceberg_py import PyIcebergTable

    docs = (load_table(spark, sf, "documents")
            .where(F.col("doc_id") < 500)
            .select("doc_id", "lang", "source", "n_chars"))
    loc = _scratch_dir(prefix="fdv_ice_") + "/docs"
    t = PyIcebergTable.create(spark, loc, docs.schema, partition_by="source")
    s1 = t.append(docs.where(F.col("doc_id") < 250))
    t.append(docs.where(F.col("doc_id") >= 250))
    out = (t.incremental(s1)
           .select("doc_id", "lang", "source", "n_chars")
           .orderBy("doc_id"))
    rows = out.collect()          # materialize before the scratch dir dies
    shutil.rmtree(loc.rsplit("/", 1)[0], ignore_errors=True)
    _SCRATCH_DIRS.clear()
    return spark.createDataFrame(rows, out.schema)


def q_i2_delete_rows(spark: SparkSession, sf: str) -> DataFrame:
    """S1 lifecycle: copy-on-write row-level DELETE
    (``PyIcebergTable.delete_rows`` — the GDPR/takedown primitive). Two
    append snapshots, then a predicate delete that rewrites ONLY the files
    containing matches (the other file is carried as an EXISTING manifest
    entry); the query returns the post-delete snapshot read. The oracle is
    the same rows with the predicate negated — values match only if the
    rewrite dropped exactly the matching rows and the carried file kept
    its data intact."""
    import shutil
    from fhir_data_validation_spark.sources.iceberg_py import PyIcebergTable

    docs = (load_table(spark, sf, "documents")
            .where(F.col("doc_id") < 400)
            .select("doc_id", "lang", "source", "n_chars"))
    loc = _scratch_dir(prefix="fdv_icedel_") + "/docs"
    t = PyIcebergTable.create(spark, loc, docs.schema)
    t.append(docs.where(F.col("doc_id") < 200).coalesce(1))
    t.append(docs.where(F.col("doc_id") >= 200).coalesce(1))
    # the predicate touches only batch 2, and the stats_filter proves it
    # at planning time — batch 1's file is never probed, only carried
    res = t.delete_rows("doc_id >= 200 AND lang = 'en'",
                        stats_filter={"doc_id": (200, None)})
    out = (t.read()
           .select("doc_id", "lang", "source", "n_chars")
           .withColumn("files_carried", F.lit(res["files_carried"]))
           .orderBy("doc_id"))
    rows = out.collect()          # materialize before the scratch dir dies
    shutil.rmtree(loc.rsplit("/", 1)[0], ignore_errors=True)
    _SCRATCH_DIRS.clear()
    return spark.createDataFrame(rows, out.schema)


def q_i4_merge_rows(spark: SparkSession, sf: str) -> DataFrame:
    """S1 lifecycle: copy-on-write MERGE upsert
    (``PyIcebergTable.merge_rows``). Two one-file appends; a batch keyed
    on doc_id updates every row of the second file and inserts new keys —
    the first file must be carried untouched (files_carried=1 in the
    oracle), matched rows replaced, inserts appended."""
    import shutil
    from fhir_data_validation_spark.sources.iceberg_py import PyIcebergTable

    docs = (load_table(spark, sf, "documents")
            .select("doc_id", "lang", "source", "n_chars"))
    loc = _scratch_dir(prefix="fdv_icemg_") + "/docs"
    t = PyIcebergTable.create(spark, loc, docs.schema)
    t.append(docs.where(F.col("doc_id") < 100).coalesce(1))
    t.append(docs.where((F.col("doc_id") >= 100)
                        & (F.col("doc_id") < 200)).coalesce(1))
    upd = (docs.where((F.col("doc_id") >= 100) & (F.col("doc_id") < 300))
           .withColumn("n_chars", F.col("n_chars") + 1000))
    res = t.merge_rows(upd, key="doc_id")
    out = (t.read()
           .select("doc_id", "lang", "source", "n_chars")
           .withColumn("files_carried", F.lit(res["files_carried"]))
           .orderBy("doc_id"))
    rows = out.collect()          # materialize before the scratch dir dies
    shutil.rmtree(loc.rsplit("/", 1)[0], ignore_errors=True)
    _SCRATCH_DIRS.clear()
    return spark.createDataFrame(rows, out.schema)


def q_i3_schema_evolution(spark: SparkSession, sf: str) -> DataFrame:
    """S1 lifecycle: metadata-only schema evolution
    (``PyIcebergTable.add_column``). Batch 1 commits under the original
    schema; the column is added (zero files rewritten); batch 2 carries
    it. The current read must surface pre-evolution rows with NULL and
    post-evolution rows with their value — name-based parquet resolution
    against the snapshot-pinned schema."""
    import shutil
    from fhir_data_validation_spark.sources.iceberg_py import PyIcebergTable

    docs = (load_table(spark, sf, "documents")
            .where(F.col("doc_id") < 300)
            .select("doc_id", "lang", "source"))
    loc = _scratch_dir(prefix="fdv_icev_") + "/docs"
    t = PyIcebergTable.create(spark, loc, docs.schema)
    t.append(docs.where(F.col("doc_id") < 150))
    t.add_column("n_chars", T.LongType())
    t.append(load_table(spark, sf, "documents")
             .where((F.col("doc_id") >= 150) & (F.col("doc_id") < 300))
             .select("doc_id", "lang", "source", "n_chars"))
    out = (t.read()
           .select("doc_id", "lang", "source",
                   # null-sentinel: toPandas() would NaN the nulls and
                   # break the value compare
                   F.coalesce(F.col("n_chars"), F.lit(-1))
                    .alias("n_chars"))
           .orderBy("doc_id"))
    rows = out.collect()          # materialize before the scratch dir dies
    shutil.rmtree(loc.rsplit("/", 1)[0], ignore_errors=True)
    _SCRATCH_DIRS.clear()
    return spark.createDataFrame(rows, out.schema)


def q_i5_hidden_partition(spark: SparkSession, sf: str) -> DataFrame:
    """S1 layout: HIDDEN PARTITIONING (Iceberg partition transforms).
    Documents land in a ``bucket[8]``-partitioned table — the partition
    value is the spec's Murmur3 hash of the LONG doc_id, computed in a
    pure-Catalyst expression chain — and the query filters the SOURCE
    column; pruning happens at the manifest level on the derived bucket.
    ``pruned`` attests that the filtered read planned strictly fewer
    files than the full scan (the oracle pins it TRUE). Values match only
    if the bucket routing is consistent between write and read — a wrong
    hash on either side loses rows."""
    import shutil
    from fhir_data_validation_spark.sources.iceberg_py import PyIcebergTable

    docs = (load_table(spark, sf, "documents")
            .where(F.col("doc_id") < 600)
            .select("doc_id", "lang", "source", "n_chars"))
    loc = _scratch_dir(prefix="fdv_icehp_") + "/docs"
    t = PyIcebergTable.create(spark, loc, docs.schema,
                              partition_by=("doc_id", "bucket[8]"))
    t.append(docs.repartition(8))
    want = list(range(40, 60))
    sel = t.read(partition_filter={"doc_id": want})
    pruned = len(sel.inputFiles()) < len(t.read().inputFiles())
    out = (sel.where(F.col("doc_id").isin(want))
           .withColumn("pruned", F.lit(bool(pruned)))
           .orderBy("doc_id"))
    rows = out.collect()          # materialize before the scratch dir dies
    shutil.rmtree(loc.rsplit("/", 1)[0], ignore_errors=True)
    _SCRATCH_DIRS.clear()
    return spark.createDataFrame(rows, out.schema)


def q_i13_multi_partition(spark: SparkSession, sf: str) -> DataFrame:
    """S1 layout: MULTI-FIELD hidden partitioning — the canonical 100-TB
    shape partitions on two dimensions in ONE spec
    (``["source", ("doc_id", "bucket[4]")]`` →
    ``source=web/doc_id_bucket=2/``). The query filters BOTH dimensions;
    pruning composes (strictly fewer files than either filter alone
    plans, pinned by ``pruned``). Values match only if rows route to the
    right (source, bucket) leaf on write and both matchers compose on
    read."""
    import shutil
    from fhir_data_validation_spark.sources.iceberg_py import PyIcebergTable

    # table content restricted to the two queried sources: the result set
    # (want ∩ srcs) is identical, but the write stages 2×4 instead of
    # 20×4 leaf files (the documents table has 20 sources) — the bench
    # then times partition routing + composed pruning, not 72 never-read
    # parquet footers
    docs = (load_table(spark, sf, "documents")
            .where(F.col("doc_id") < 600)
            .where(F.col("source").isin("src1", "src2"))
            .select("doc_id", "lang", "source", "n_chars"))
    loc = _scratch_dir(prefix="fdv_icemp_") + "/docs"
    t = PyIcebergTable.create(
        spark, loc, docs.schema,
        partition_by=["source", ("doc_id", "bucket[4]")])
    t.append(docs.repartition(8))
    # ids chosen to land in bucket 1 of 4 under the spec murmur3 AND to
    # belong to the filtered sources, so the bucket matcher composes real
    # pruning on top of the source matcher and the result is non-empty
    want = [21, 22, 62, 161, 181, 281, 282, 301, 402]
    srcs = ["src1", "src2"]
    sel = t.read(partition_filter={"source": srcs, "doc_id": want})
    pruned = (len(sel.inputFiles())
              < len(t.read(partition_filter={"source": srcs})
                    .inputFiles()))
    out = (sel.where(F.col("doc_id").isin(want)
                     & F.col("source").isin(srcs))
           .withColumn("pruned", F.lit(bool(pruned)))
           .orderBy("doc_id"))
    rows = out.collect()          # materialize before the scratch dir dies
    shutil.rmtree(loc.rsplit("/", 1)[0], ignore_errors=True)
    _SCRATCH_DIRS.clear()
    return spark.createDataFrame(rows, out.schema)


def q_i6_time_partition(spark: SparkSession, sf: str) -> DataFrame:
    """S1 layout: time-transform hidden partitioning. Events cluster into
    ``("ts", "day")`` partitions (epoch-day ordinals derived with exact
    integer-µs arithmetic); a (lo, hi) range on the SOURCE timestamp
    opens only the days it touches. The returned per-day rollup matches
    the oracle only if day boundaries land exactly (a µs-precision error
    on either edge moves rows across days)."""
    import shutil
    from fhir_data_validation_spark.sources.iceberg_py import PyIcebergTable

    # one WEEK of events: the query rolls up Jan 10-12 and the pruning
    # pin only needs >1 day staged — the corpus spans all of January, so
    # staging it whole would write ~30 day partitions of which only 3 are
    # ever read (the testdata covers 2024-01-01..01-30 exactly; a
    # full-month filter trims nothing)
    ev = (load_table(spark, sf, "events")
          .select("event_id", F.col("ts").cast("timestamp").alias("ts"),
                  "event_type")
          .where((F.col("ts") >= F.lit("2024-01-08"))
                 & (F.col("ts") < F.lit("2024-01-15"))))
    loc = _scratch_dir(prefix="fdv_icetp_") + "/ev"
    t = PyIcebergTable.create(spark, loc, ev.schema,
                              partition_by=("ts", "day"))
    t.append(ev.repartition(8))
    import datetime as dt
    sel = t.read(partition_filter={
        "ts": (dt.datetime(2024, 1, 10), dt.datetime(2024, 1, 12,
                                                     23, 59, 59, 999999))})
    pruned = len(sel.inputFiles()) < len(t.read().inputFiles())
    out = (sel.where((F.col("ts") >= F.lit("2024-01-10"))
                     & (F.col("ts") < F.lit("2024-01-13")))
           .groupBy(F.to_date("ts").cast("string").alias("day"))
           .agg(F.count(F.lit(1)).alias("n_events"),
                F.countDistinct("event_id").alias("n_ids"))
           .withColumn("pruned", F.lit(bool(pruned)))
           .orderBy("day"))
    rows = out.collect()          # materialize before the scratch dir dies
    shutil.rmtree(loc.rsplit("/", 1)[0], ignore_errors=True)
    _SCRATCH_DIRS.clear()
    return spark.createDataFrame(rows, out.schema)


def q_i7_changelog(spark: SparkSession, sf: str) -> DataFrame:
    """S1 CDC: net changelog between snapshots (``PyIcebergTable.changes``
    — the ``create_changelog_view`` analog). Snapshot 1 holds docs <200;
    then docs 200-299 append and every doc_id divisible by 10 is
    COW-deleted. The changelog from s1 must show exactly: the surviving
    second batch as inserts and the first batch's deleted rows as
    deletes — rows carried through the delete's file rewrites cancel via
    EXCEPT ALL, so any carry error surfaces as phantom rows."""
    import shutil
    from fhir_data_validation_spark.sources.iceberg_py import PyIcebergTable

    docs = (load_table(spark, sf, "documents")
            .where(F.col("doc_id") < 300)
            .select("doc_id", "lang", "source", "n_chars"))
    loc = _scratch_dir(prefix="fdv_icecl_") + "/docs"
    t = PyIcebergTable.create(spark, loc, docs.schema)
    s1 = t.append(docs.where(F.col("doc_id") < 200).coalesce(2))
    t.append(docs.where(F.col("doc_id") >= 200).coalesce(1))
    t.delete_rows("doc_id % 10 = 0")
    out = t.changes(s1).orderBy("_change_type", "doc_id")
    rows = out.collect()          # materialize before the scratch dir dies
    shutil.rmtree(loc.rsplit("/", 1)[0], ignore_errors=True)
    _SCRATCH_DIRS.clear()
    return spark.createDataFrame(rows, out.schema)


def q_i8_partition_evolution(spark: SparkSession, sf: str) -> DataFrame:
    """S1 layout: PARTITION EVOLUTION (``update_partition_spec`` — the
    metadata-only layout change). Even events commit under a ``day(ts)``
    spec; the table evolves to ``bucket[8](event_id)`` WITHOUT rewriting
    a byte; odd events commit under the new spec. A source-timestamp
    range then prunes the day-partitioned generation at the manifest
    level while conservatively keeping the bucketed generation (its spec
    never transformed ts) — losing either generation's rows breaks the
    per-day rollup. ``bucket_roundtrip`` pins that an event_id filter
    finds every key across BOTH generations (each spec hashes with its
    own transform)."""
    import datetime as dt
    import shutil
    from fhir_data_validation_spark.sources.iceberg_py import PyIcebergTable

    ev = (load_table(spark, sf, "events")
          .select("event_id", F.col("ts").cast("timestamp").alias("ts"),
                  "event_type"))
    loc = _scratch_dir(prefix="fdv_icepe_") + "/ev"
    t = PyIcebergTable.create(spark, loc, ev.schema,
                              partition_by=("ts", "day"))
    t.append(ev.where(F.col("event_id") % 2 == 0).repartition(4))
    t.update_partition_spec(("event_id", "bucket[8]"))
    t.append(ev.where(F.col("event_id") % 2 == 1).repartition(4))
    sel = t.read(partition_filter={
        "ts": (dt.datetime(2024, 1, 10), dt.datetime(2024, 1, 12,
                                                     23, 59, 59, 999999))})
    pruned = len(sel.inputFiles()) < len(t.read().inputFiles())
    want = list(range(100, 120))
    rt = (t.read(partition_filter={"event_id": want})
           .where(F.col("event_id").isin(want)).count()
          == ev.where(F.col("event_id").isin(want)).count())
    out = (sel.where((F.col("ts") >= F.lit("2024-01-10"))
                     & (F.col("ts") < F.lit("2024-01-13")))
           .groupBy(F.to_date("ts").cast("string").alias("day"))
           .agg(F.count(F.lit(1)).alias("n_events"),
                F.countDistinct("event_id").alias("n_ids"))
           .withColumn("pruned", F.lit(bool(pruned)))
           .withColumn("bucket_roundtrip", F.lit(bool(rt)))
           .orderBy("day"))
    rows = out.collect()          # materialize before the scratch dir dies
    shutil.rmtree(loc.rsplit("/", 1)[0], ignore_errors=True)
    _SCRATCH_DIRS.clear()
    return spark.createDataFrame(rows, out.schema)


def q_i9_mor_delete(spark: SparkSession, sf: str) -> DataFrame:
    """S1 row-level ops: MERGE-ON-READ position deletes
    (``delete_rows(mode='mor')``). Docs <300 commit in three appends;
    doc_id % 7 = 0 is deleted as position-delete files — ZERO data files
    rewritten (pinned by the ``zero_rewrite`` column, asserted from the
    commit result). The read-back must show exactly the survivors (the
    scan anti-joins the delete positions only for files a delete
    references), and a follow-up COW delete of doc_id % 7 = 1 must
    compose without resurrecting MOR-deleted rows — the carried delete
    manifest keeps applying to untouched files."""
    import shutil
    from fhir_data_validation_spark.sources.iceberg_py import PyIcebergTable

    docs = (load_table(spark, sf, "documents")
            .where(F.col("doc_id") < 300)
            .select("doc_id", "lang", "source", "n_chars"))
    loc = _scratch_dir(prefix="fdv_icemor_") + "/docs"
    t = PyIcebergTable.create(spark, loc, docs.schema)
    t.append(docs.where(F.col("doc_id") < 100).coalesce(2))
    t.append(docs.where((F.col("doc_id") >= 100)
                        & (F.col("doc_id") < 200)).coalesce(2))
    t.append(docs.where(F.col("doc_id") >= 200).coalesce(1))
    res = t.delete_rows("doc_id % 7 = 0", mode="mor")
    zero_rewrite = (res["files_rewritten"] == 0
                    and t.delete_files().count() >= 1)
    t.delete_rows("doc_id % 7 = 1")       # COW on top of MOR
    out = (t.read()
           .withColumn("zero_rewrite", F.lit(bool(zero_rewrite)))
           .orderBy("doc_id"))
    rows = out.collect()          # materialize before the scratch dir dies
    shutil.rmtree(loc.rsplit("/", 1)[0], ignore_errors=True)
    _SCRATCH_DIRS.clear()
    return spark.createDataFrame(rows, out.schema)


def q_i10_mor_upsert(spark: SparkSession, sf: str) -> DataFrame:
    """S1 streaming CDC: MERGE-ON-READ upsert (``merge_rows(mode='mor')``
    — one row-delta commit per batch: appended updates + an equality
    delete of their keys, ZERO table scans and zero rewrites). Docs <200
    commit; batch 1 bumps n_chars by 1000 for doc_id % 5 = 0 and inserts
    200-204; batch 2 re-bumps doc_id % 10 = 0 (the NEWER version must
    win). The read-back equals the SQL of the final state; zero_rewrite
    pins that neither batch rewrote a data file."""
    import shutil
    from fhir_data_validation_spark.sources.iceberg_py import PyIcebergTable

    docs = (load_table(spark, sf, "documents")
            .where(F.col("doc_id") < 205)
            .select("doc_id", "source", "n_chars"))
    loc = _scratch_dir(prefix="fdv_iceup_") + "/docs"
    t = PyIcebergTable.create(spark, loc, docs.schema)
    t.append(docs.where(F.col("doc_id") < 200).coalesce(2))
    b1 = (docs.where((F.col("doc_id") % 5 == 0) | (F.col("doc_id") >= 200))
          .withColumn("n_chars",
                      F.when(F.col("doc_id") < 200,
                             F.col("n_chars") + 1000)
                      .otherwise(F.col("n_chars"))))
    r1 = t.merge_rows(b1, key="doc_id", mode="mor")
    b2 = (docs.where((F.col("doc_id") % 10 == 0) & (F.col("doc_id") < 200))
          .withColumn("n_chars", F.col("n_chars") + 5000))
    r2 = t.merge_rows(b2, key="doc_id", mode="mor")
    zero = r1["files_rewritten"] == 0 and r2["files_rewritten"] == 0
    out = (t.read()
           .withColumn("zero_rewrite", F.lit(bool(zero)))
           .orderBy("doc_id"))
    rows = out.collect()          # materialize before the scratch dir dies
    shutil.rmtree(loc.rsplit("/", 1)[0], ignore_errors=True)
    _SCRATCH_DIRS.clear()
    return spark.createDataFrame(rows, out.schema)


def q_i11_wap_publish(spark: SparkSession, sf: str) -> DataFrame:
    """S1 governance: WRITE-AUDIT-PUBLISH over BRANCH refs
    (``PyIcebergTable.branch`` / ``fast_forward`` — the staging pattern a
    validation engine exists for). Batch 1 commits to main; batch 2
    stages on an ``audit`` branch (main readers must NOT see it), is
    audited via ``read(ref='audit')``, and fast-forward publishes; batch
    3 stages on a second branch, fails its audit (doc_id >= 900 rows are
    'bad') and the branch is dropped — its rows must never reach main.
    The result is the final main read, with ``staged_invisible`` pinning
    that main's row count while batch 2 was staged was still batch 1's.
    Values match only if branch commits never leak into main, publish is
    exactly the branch head, and the rejected branch left no trace."""
    import shutil
    from fhir_data_validation_spark.sources.iceberg_py import PyIcebergTable

    docs = (load_table(spark, sf, "documents")
            .select("doc_id", "lang", "source", "n_chars"))
    loc = _scratch_dir(prefix="fdv_icewap_") + "/docs"
    t = PyIcebergTable.create(spark, loc, docs.schema)
    t.append(docs.where(F.col("doc_id") < 200))
    n_main_before = t.read().count()
    t.branch("audit")
    t.append(docs.where((F.col("doc_id") >= 200)
                        & (F.col("doc_id") < 400)), branch="audit")
    staged_invisible = t.read().count() == n_main_before
    # audit passes (the staged batch has no doc_id >= 900) -> publish;
    # an if/raise (not assert) so the audited read survives python -O
    if t.read(ref="audit").where(F.col("doc_id") >= 900).count() != 0:
        raise AssertionError("audit batch unexpectedly dirty")
    t.fast_forward("main", "audit")
    # a second staged batch FAILS its audit and is rejected
    t.branch("audit2")
    t.append(docs.where(F.col("doc_id") >= 900), branch="audit2")
    if t.read(ref="audit2").where(F.col("doc_id") >= 900).count() > 0:
        t.drop_branch("audit2")
    out = (t.read()
           .withColumn("staged_invisible", F.lit(bool(staged_invisible)))
           .orderBy("doc_id"))
    rows = out.collect()          # materialize before the scratch dir dies
    shutil.rmtree(loc.rsplit("/", 1)[0], ignore_errors=True)
    _SCRATCH_DIRS.clear()
    return spark.createDataFrame(rows, out.schema)


def q_i12_rename_widen(spark: SparkSession, sf: str) -> DataFrame:
    """S1 evolution: metadata-only column RENAME + TYPE WIDENING
    (``rename_column`` / ``widen_column`` — zero files rewritten). Batch 1
    commits under ``(doc_id, lang, source, n_chars:long)``; ``n_chars``
    renames to ``char_count``; batch 2 carries the new name. The read
    reconstructs ONE column from the mixed-name files (coalesce over the
    field's name history); values match only if no row lost its value to
    the rename and new files resolve under the new name."""
    import shutil
    from fhir_data_validation_spark.sources.iceberg_py import PyIcebergTable

    docs = (load_table(spark, sf, "documents")
            .where(F.col("doc_id") < 400)
            .select("doc_id", "lang", "source", "n_chars"))
    loc = _scratch_dir(prefix="fdv_iceren_") + "/docs"
    t = PyIcebergTable.create(spark, loc, docs.schema)
    t.append(docs.where(F.col("doc_id") < 200))
    t.rename_column("n_chars", "char_count")
    t.append(docs.where(F.col("doc_id") >= 200)
             .withColumnRenamed("n_chars", "char_count"))
    out = (t.read()
           .select("doc_id", "lang", "source", "char_count")
           .orderBy("doc_id"))
    rows = out.collect()          # materialize before the scratch dir dies
    shutil.rmtree(loc.rsplit("/", 1)[0], ignore_errors=True)
    _SCRATCH_DIRS.clear()
    return spark.createDataFrame(rows, out.schema)


def q_c10_incremental_profile(spark: SparkSession, sf: str) -> DataFrame:
    """C1/C2 maintained INCREMENTALLY (``IncrementalProfiler``): docs
    commit in three appends; each ``update()`` scans only that delta and
    appends mergeable partials (count/null/min/max/sum + HLL binary) to a
    stats store; ``profile()`` folds the partials with ZERO data IO. The
    merged exact fields must equal a one-shot full-table aggregation —
    the oracle computes exactly that. ``modes_ok`` pins that the folds
    really were rebuild→delta→delta (not silent full scans).

    Float determinism: nc_mean = exactly-merged Σx / non-null count, the
    oracle states the same sum/count division (round-5 fix), and the
    4-decimal rounding is the arithmetic floor(x·10⁴ + 0.5)/10⁴ chain
    both sides (F.round/DuckDB round() split on repr-halfway doubles) —
    bit-exact by construction.
    """
    import shutil
    from fhir_data_validation_spark import IncrementalProfiler
    from fhir_data_validation_spark.sources.iceberg_py import PyIcebergTable

    docs = (load_table(spark, sf, "documents")
            .select("doc_id", "source", "n_chars", "lang"))
    base = _scratch_dir(prefix="fdv_incprof_")
    t = PyIcebergTable.create(spark, base + "/docs", docs.schema)
    prof = IncrementalProfiler(t, ["n_chars", "lang"], base + "/stats",
                               group_col="source")
    modes = []
    for cond in (F.col("doc_id") % 3 == 0, F.col("doc_id") % 3 == 1,
                 F.col("doc_id") % 3 == 2):
        t.append(docs.where(cond).coalesce(2))
        modes.append(prof.update()["mode"])
    modes_ok = modes == ["rebuild", "delta", "delta"]
    p = prof.profile(with_distinct=False)
    nc = (p.where(F.col("column") == "n_chars")
          .select("group", "n_rows",
                  F.col("n_nulls").alias("nc_nulls"),
                  F.col("min_num").alias("nc_min"),
                  F.col("max_num").alias("nc_max"),
                  # arithmetic half-up: F.round/DuckDB round() disagree
                  # on repr-halfway doubles (round-5 review batch 6)
                  _round4_arith(F.col("mean")).alias("nc_mean")))
    lg = (p.where(F.col("column") == "lang")
          .select("group", F.col("min_str").alias("lang_min"),
                  F.col("max_str").alias("lang_max")))
    out = (nc.join(lg, "group")
           .withColumn("modes_ok", F.lit(bool(modes_ok)))
           .orderBy("group"))
    rows = out.collect()          # materialize before the scratch dir dies
    shutil.rmtree(base, ignore_errors=True)
    _SCRATCH_DIRS.clear()
    return spark.createDataFrame(rows, out.schema)


def q_c11_merged_quantiles(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental quantiles (``IncrementalProfiler.merged_quantiles``):
    docs commit in three appends; per-delta HISTOGRAM partials fold by
    summing bucket counts, and the quantile estimate inverts the merged
    histogram (cumulative walk + in-bucket linear interpolation) with
    ZERO data IO. The inversion is deterministic arithmetic over exact
    merged counts, so it must equal the oracle running the identical
    bucket/cumsum/interpolation chain on a full scan — value-exact, not
    just within tolerance.

    Float determinism: histogram inversion over exact merged counts with
    the identical interpolation chain — bit-exact (oracle_check --exact
    green).
    """
    import shutil
    from fhir_data_validation_spark import IncrementalProfiler
    from fhir_data_validation_spark.sources.iceberg_py import PyIcebergTable

    width = 250.0
    probs = (0.25, 0.5, 0.75, 0.99)
    docs = load_table(spark, sf, "documents").select(
        "doc_id", "source", "n_chars")
    base = _scratch_dir(prefix="fdv_incq_")
    t = PyIcebergTable.create(spark, base + "/docs", docs.schema)
    prof = IncrementalProfiler(t, ["n_chars"], base + "/stats",
                               group_col="source",
                               histograms={"n_chars": width})
    modes = []
    # two batches suffice to attest the fold (rebuild seeds, delta
    # merges); each append+update is ~8 fixed-cost Spark jobs, so batch
    # count dominates this query's wall
    for cond in (F.col("doc_id") % 2 == 0, F.col("doc_id") % 2 == 1):
        t.append(docs.where(cond).coalesce(2))
        modes.append(prof.update()["mode"])
    out = (prof.merged_quantiles("n_chars", probs)
           .withColumn("value", F.round("value", 4))
           .withColumn("modes_ok", F.lit(
               modes == ["rebuild", "delta"]))
           .orderBy("group", "p"))
    rows = out.collect()          # materialize before the scratch dir dies
    shutil.rmtree(base, ignore_errors=True)
    _SCRATCH_DIRS.clear()
    return spark.createDataFrame(rows, out.schema)


def q_i14_schema_diff(spark: SparkSession, sf: str) -> DataFrame:
    """Metadata-only schema diff between snapshots: fields pair by
    FIELD-ID, so a rename+widen reports as renamed/retyped rows (never a
    spurious drop+add), adds/drops as themselves. The oracle enumerates
    the expected change rows literally — the evolution steps are fixed."""
    import shutil
    from pyspark.sql import types as T
    from fhir_data_validation_spark.sources.iceberg_py import PyIcebergTable

    sch = T.StructType([T.StructField("a", T.IntegerType()),
                        T.StructField("v", T.StringType())])
    base = _scratch_dir(prefix="fdv_sd_")
    t = PyIcebergTable.create(spark, base + "/t", sch)
    s1 = t.append(spark.createDataFrame([(1, "x")], sch))
    t.rename_column("a", "b")
    t.widen_column("b", T.LongType())
    t.add_column("c", T.StringType())
    t.drop_column("v")
    s2 = t.append(spark.createDataFrame([(2, "y")], "b long, c string"))
    out = (t.schema_diff(s1, s2)
           .orderBy("field_id", "change"))
    rows = out.collect()
    shutil.rmtree(base, ignore_errors=True)
    _SCRATCH_DIRS.clear()
    return spark.createDataFrame(rows, out.schema)


def q_seq1_sequence_shape(spark: SparkSession, sf: str) -> DataFrame:
    """Token-sequence framing validation (SequenceShape rule, STRUCTURE
    stage): BOS at position 0, EOS closing the content, pad only as a
    trailing run — the structural invariants a dataloader assumes of a
    pre-tokenized table. Runs over a deterministically framed token table
    where doc_id mod 7 selects the corruption (0 → BOS dropped, 1 → EOS
    dropped, 2 → a non-pad token inside the pad run); every lane is a
    native codegen expression (F.get / slice-vs-array_repeat equality, no
    HOF)."""
    base = _md5_token_table(spark, sf)
    body = F.transform(F.col("tokens"), lambda x: x + F.lit(10))
    bos, eos = F.array(F.lit(1)), F.array(F.lit(2))
    m = F.pmod(F.col("doc_id"), F.lit(7))
    framed = (
        F.when(m == 0, F.concat(body, eos))
         .when(m == 1, F.concat(bos, body))
         .when(m == 2, F.concat(bos, body,
                                F.array(F.lit(2), F.lit(0), F.lit(42),
                                        F.lit(0))))
         .otherwise(F.concat(bos, body, F.array(F.lit(2), F.lit(0),
                                                F.lit(0)))))
    df = base.select("doc_id", "source", framed.alias("tokens"))
    res = _validate(spark, df,
                    [{"id": "SEQ-1", "type": "SequenceShape",
                      "column": "tokens",
                      "params": {"bos": 1, "eos": 2, "pad": 0}}],
                    key_col="doc_id", group_col="source")
    return (res.violations
            .select(F.col("doc_id").cast("long").alias("doc_id"),
                    "error_code",
                    F.col("detail")["check"].alias("lane"),
                    F.col("detail")["padStart"].cast("long")
                     .alias("pad_start"))
            .orderBy("doc_id"))


def q_jp1_jsonpath(spark: SparkSession, sf: str) -> DataFrame:
    """Semi-structured validation over Spark 4 VARIANT (JsonPath rule):
    events.props is parsed ONCE into a variant column (`parse_json` —
    native binary variant, no schema-inference job over the corpus), then
    a range probe on $.k runs via `try_variant_get`. Malformed JSON and
    JSON-null are their own detail lanes; the engine never aborts the
    scan (S2 strict→lenient contract)."""
    df = (load_table(spark, sf, "events")
          .withColumn("props_v", F.parse_json("props")))
    res = _validate(spark, df,
                    [{"id": "JP-1", "type": "JsonPath", "column": "props_v",
                      "params": {"path": "$.k", "op": "range",
                                 "asType": "long", "min": 10, "max": 80}}],
                    key_col="event_id", group_col="event_type")
    return (res.violations
            .select(F.col("doc_id").cast("long").alias("event_id"),
                    "error_code",
                    F.col("detail")["check"].alias("lane"),
                    F.col("detail")["actual"].cast("long").alias("k"))
            .orderBy("event_id"))


def q_ac1_agg_consistency(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-table aggregate reconciliation (AggConsistency rule): every
    order's o_totalprice must match sum(l_extendedprice) over its
    lineitems within a 25% relative band; orders with no lineitems at all
    violate on the noChildren lane. One map-side-combined child
    aggregation + one equi-join back — the star-schema consistency gate a
    denormalized rollup column needs."""
    orders = load_table(spark, sf, "orders")
    lineitem = load_table(spark, sf, "lineitem")
    res = _validate(spark, orders,
                    [{"id": "AGG-1", "type": "AggConsistency",
                      "column": "o_totalprice",
                      "params": {"dim": "lineitem", "on": "o_orderkey",
                                 "dimKey": "l_orderkey", "agg": "sum",
                                 "valueColumn": "l_extendedprice",
                                 "tolerance": 0.01, "relTolerance": 0.25,
                                 "requireChildren": True}}],
                    key_col="o_orderkey", group_col="o_orderstatus",
                    dims={"lineitem": lineitem})
    return (res.violations
            .select(F.col("doc_id").cast("long").alias("o_orderkey"),
                    "error_code",
                    F.col("detail")["check"].alias("lane"),
                    F.col("detail")["nChildren"].cast("long")
                     .alias("n_children"))
            .orderBy("o_orderkey"))


def q_gs1_group_share(spark: SparkSession, sf: str) -> DataFrame:
    """Mix-balance validation (GroupShare rule): event-type shares must
    sit inside declared bands — click ≤ 15% and error ≥ 25% both fail at
    the generator's ~20% uniform mix, the declared-but-absent 'refund'
    type fails its min (closed world), purchase passes its band. One
    count aggregation; every band check runs on the |groups|-row reduced
    frame."""
    df = load_table(spark, sf, "events")
    res = _validate(spark, df,
                    [{"id": "SHR-1", "type": "GroupShare",
                      "column": "event_type",
                      "params": {"shares": {
                          "click": {"max": 0.15},
                          "error": {"min": 0.25},
                          "purchase": {"min": 0.15, "max": 0.25},
                          "refund": {"min": 0.01}}}}],
                    key_col="event_id", group_col="event_type")
    return (res.violations
            .select(F.col("doc_id").alias("event_type"),
                    "error_code",
                    F.col("detail")["check"].alias("lane"),
                    F.col("detail")["n"].cast("long").alias("n"),
                    F.col("detail")["share"].cast("double").alias("share"))
            .orderBy("event_type"))


def q_db1_distinct_band(spark: SparkSession, sf: str) -> DataFrame:
    """Cardinality validation (DistinctBand rule): distinct users per
    event_type must sit inside declared bands — click's user base is
    capped at 100 (fails at sf>=0.01 where all 150 users click), the
    declared-but-absent 'refund' type fails its min=1 (closed world),
    undeclared types pass the default min=1. One partial-distinct
    aggregation; band checks on the |groups|-row reduced frame."""
    df = load_table(spark, sf, "events")
    res = _validate(spark, df,
                    [{"id": "DST-1", "type": "DistinctBand",
                      "column": "user_id",
                      "params": {"by": "event_type",
                                 "bands": {"click": {"max": 100},
                                           "refund": {"min": 1}},
                                 "min": 1}}],
                    key_col="event_id", group_col="event_type")
    return (res.violations
            .select(F.col("doc_id").alias("event_type"), "error_code",
                    F.col("detail")["check"].alias("lane"),
                    F.col("detail")["distinct"].cast("long")
                    .alias("n_distinct"))
            .orderBy("event_type"))


def q_c3b_unique_composite(spark: SparkSession, sf: str) -> DataFrame:
    """Composite-key uniqueness (Unique params.columns): lineitem's
    natural (l_orderkey, l_linenumber) key has seeded duplicates; one
    raw-column groupBy emits one violation per duplicated key pair."""
    df = load_table(spark, sf, "lineitem")
    res = _validate(spark, df,
                    [{"id": "UNQ-C", "type": "Unique",
                      "params": {"columns": ["l_orderkey",
                                             "l_linenumber"]}}],
                    key_col="l_orderkey", group_col="l_returnflag")
    return (res.violations
            .select(F.col("doc_id").alias("dup_key"), "error_code",
                    F.col("detail")["count"].cast("long").alias("n_dup"))
            .orderBy("dup_key"))


def q_sp1_quarantine_split(spark: SparkSession, sf: str) -> DataFrame:
    """Quarantine split (ValidationResult.split): error rows route to the
    quarantine side, the clean side flows on — per-status counts of both
    sides value-check the partition. The bad-key set is reduced data;
    both sides join against it (AQE broadcast)."""
    df = load_table(spark, sf, "orders")
    res = _validate(spark, df,
                    [{"id": "ALW-1", "type": "AllowedValues",
                      "column": "o_orderpriority",
                      "params": {"values": ["1-URGENT", "2-HIGH",
                                            "3-MEDIUM"]}},
                     {"id": "RNG-1", "type": "Range",
                      "column": "o_totalprice",
                      "params": {"max": 300000}, "severity": "warning"}],
                    key_col="o_orderkey", group_col="o_orderstatus")
    clean, quar = res.split(df)   # error severity only: warnings stay clean
    c = clean.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_clean"))
    q = quar.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_quarantined"))
    return (c.join(q, "o_orderstatus", "full")
             .select("o_orderstatus",
                     F.coalesce("n_clean", F.lit(0)).alias("n_clean"),
                     F.coalesce("n_quarantined", F.lit(0))
                      .alias("n_quarantined"))
             .orderBy("o_orderstatus"))


def q_rg1_regression_gate(spark: SparkSession, sf: str) -> DataFrame:
    """Run-over-run metric regression gate (lineage.regression_report):
    TWO real engine runs — baseline over a deterministic 2/3 slice of
    orders, current over the full table plus one rule the baseline never
    ran — produce lineage-schema metrics; the gate flags rules whose
    violation rate strictly increased (zero slack) and the baseline-less
    rule on the newRule lane. The oracle re-derives both runs' rates from
    orders directly."""
    from fhir_data_validation_spark.lineage import regression_report
    orders = load_table(spark, sf, "orders")
    base_df = orders.where(F.pmod(F.col("o_orderkey"), F.lit(3)) != 0)
    alw = {"id": "ALW-1", "type": "AllowedValues",
           "column": "o_orderpriority",
           "params": {"values": ["1-URGENT", "2-HIGH", "3-MEDIUM"]}}
    rng = {"id": "RNG-NEW", "type": "Range", "column": "o_totalprice",
           "params": {"max": 300000}}

    def metrics(df, rules, run_id, ts):
        res = _validate(spark, df, rules, key_col="o_orderkey",
                        group_col="o_orderstatus")
        return res.verdicts.select(
            F.lit(run_id).alias("run_id"), "partition_key", "rule_id",
            "rows", "violations", "errors", "passed",
            F.lit(0).cast("long").alias("wall_ms"),
            F.lit(ts).cast("double").alias("completed_at"))

    m = metrics(base_df, [alw], "base", 100.0).unionByName(
        metrics(orders, [alw, rng], "cur", 200.0))
    rep = regression_report(m, "cur", baseline_run="base")
    # newRule rows carry null base_rate/allowed; -1.0 sentinel on both
    # sides (toPandas would read a null double back as NaN)
    return (rep.select("rule_id",
                       F.coalesce("base_rate", F.lit(-1.0))
                        .alias("base_rate"),
                       "cur_rate",
                       F.coalesce("allowed", F.lit(-1.0)).alias("allowed"),
                       "rows_base", "rows_cur", "check")
            .orderBy("rule_id"))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full validation of the orders table at sf0.001 → summary."""
    return q_a4_summary(spark, SF_SMOKE)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # Ordering contract: the driver checks a prefix window of this
        # registry (~50 wide). The 21 ids without a green CORRECTNESS
        # row after rounds 3+4 are placed FIRST — the two
        # repaired float-hash ids (c10/o1, now derived from exact integer
        # sums on both engines), then the 19 ids that sat just past round
        # 4's window. The remaining window slots re-confirm the oldest
        # (round-3) greens; every id after the first 21 has a green row
        # in CORRECTNESS_r03/r04.json.
        "c10_incremental_profile": q_c10_incremental_profile,
        "o1_outliers": q_o1_outliers,
        "a3_where_counting": q_a3_where_counting,
        "c5_drift": q_c5_drift,
        "mono1_monotonic": q_mono1_monotonic,
        "mono2_sequence_gap": q_mono2_sequence_gap,
        "fd1_functional_dependency": q_fd1_functional_dependency,
        "v1_vector_check": q_v1_vector_check,
        "seq1_sequence_shape": q_seq1_sequence_shape,
        "jp1_jsonpath": q_jp1_jsonpath,
        "ac1_agg_consistency": q_ac1_agg_consistency,
        "gs1_group_share": q_gs1_group_share,
        "db1_distinct_band": q_db1_distinct_band,
        "c3b_unique_composite": q_c3b_unique_composite,
        "sp1_quarantine_split": q_sp1_quarantine_split,
        "rg1_regression_gate": q_rg1_regression_gate,
        "sk1_skew_report": q_sk1_skew_report,
        "c6_rollup": q_c6_rollup,
        "c7_pivot": q_c7_pivot,
        "c8_cube": q_c8_cube,
        "c9_data_card": q_c9_data_card,
        # --- 23 re-confirmation slots: oldest (round-3) greens ---
        "r1_required": q_r1_required,
        "r2_fixed_value": q_r2_fixed_value,
        "r3_allowed_values": q_r3_allowed_values,
        "r4_regex": q_r4_regex,
        "r5_range": q_r5_range,
        "r7_custom_expr": q_r7_custom_expr,
        "p3_first_scope": q_p3_first_scope,
        "p5_nested_elements": q_p5_nested_elements,
        "p5b_nested_repetition": q_p5b_nested_repetition,
        "nav1_json_pointer": q_nav1_json_pointer,
        "p5c_deep_repetition": q_p5c_deep_repetition,
        "a1_group_cardinality": q_a1_group_cardinality,
        "a4_summary": q_a4_summary,
        "a5_dedup": q_a5_dedup,
        "c1_stats": q_c1_stats,
        "c2_cardinality": q_c2_cardinality,
        "c3_unique": q_c3_unique,
        "c4_histogram": q_c4_histogram,
        "c5_heavy_hitters": q_c5_heavy_hitters,
        "hh1_dominance": q_hh1_dominance,
        "j1_reference": q_j1_reference,
        "j1_reference_seeded": q_j1_reference_seeded,
        "j5_bloom_prefilter": q_j5_bloom_prefilter,
        # --- below here: driver-green in CORRECTNESS_r03/r04.json ---
        "i1_iceberg_roundtrip": q_i1_iceberg_roundtrip,
        "i2_delete_rows": q_i2_delete_rows,
        "i3_schema_evolution": q_i3_schema_evolution,
        "i4_merge_rows": q_i4_merge_rows,
        "i5_hidden_partition": q_i5_hidden_partition,
        "i6_time_partition": q_i6_time_partition,
        "i7_changelog": q_i7_changelog,
        "i8_partition_evolution": q_i8_partition_evolution,
        "i9_mor_delete": q_i9_mor_delete,
        "i10_mor_upsert": q_i10_mor_upsert,
        "i11_wap_publish": q_i11_wap_publish,
        "i12_rename_widen": q_i12_rename_widen,
        "i13_multi_partition": q_i13_multi_partition,
        "i14_schema_diff": q_i14_schema_diff,
        "c11_merged_quantiles": q_c11_merged_quantiles,
        "sh1_spec_hints": q_sh1_spec_hints,
        "ext1_extension_grammar": q_ext1_extension_grammar,
        "gr1_code_grammar": q_gr1_code_grammar,
        "en1_enum_binding": q_en1_enum_binding,
        "x7_table_diff": q_x7_table_diff,
        "e1_expectations": q_e1_expectations,
        "j2_reference_type": q_j2_reference_type,
        "r6_membership": q_r6_membership,
        "r6b_codesystem_pair": q_r6b_codesystem_pair,
        "j4_codemaster": q_j4_codemaster,
        "q1_question_rules": q_q1_question_rules,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "gr1_code_grammar": """
            WITH d AS (
              SELECT doc_id, lang,
                     lang || CASE WHEN n_chars % 7 = 0 THEN ' '
                                  ELSE '' END
                          || CASE WHEN n_chars % 11 = 0 THEN chr(1)
                                  ELSE '' END
                          || 'x' AS v
              FROM documents)
            SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                   'GR-CODE' AS rule_id,
                   'INVALID_PRIMITIVE' AS error_code, lang AS source
            FROM d
            WHERE v IS NOT NULL AND trim(v) <> ''
              AND NOT regexp_matches(v, '^[^\p{Z}\p{Cc}]+\z')
            ORDER BY doc_id""",
        "en1_enum_binding": """
            SELECT CAST(n_nationkey AS VARCHAR) AS doc_id,
                   'EN-1' AS rule_id,
                   'INVALID_ENUM_VALUE' AS error_code,
                   'warning' AS severity,
                   CAST(NULL AS VARCHAR) AS binding,
                   CAST(NULL AS VARCHAR) AS value_set
            FROM nation
            WHERE n_name IS NOT NULL AND trim(n_name) <> ''
              AND n_name NOT IN ('NATION_0', 'NATION_1')
            UNION ALL
            SELECT CAST(NULL AS VARCHAR), 'EN-2',
                   'ENUM_VALIDATION_SKIPPED', 'info', 'preferred',
                   'http://example.org/vs/nations'
            ORDER BY rule_id, doc_id""",
        "ext1_extension_grammar": """
            WITH e AS (
              SELECT l_orderkey,
                     row_number() OVER (PARTITION BY l_orderkey
                                        ORDER BY l_linenumber) - 1 AS idx,
                     (l_linenumber = 7) AS no_url,
                     (l_quantity >= 25 OR l_quantity >= 45) AS has_value,
                     (l_quantity >= 25 AND l_quantity >= 45) AS two_values,
                     (l_quantity <= 5) AS has_nested
              FROM lineitem)
            SELECT CAST(l_orderkey AS VARCHAR) AS doc_id,
                   'EXT-URL' AS rule_id,
                   'FHIR_EXTENSION_MISSING_URL' AS error_code,
                   CAST(idx AS VARCHAR) AS idx
            FROM e WHERE no_url
            UNION ALL
            SELECT CAST(l_orderkey AS VARCHAR), 'EXT-SHAPE',
                   'FHIR_EXTENSION_INVALID_SHAPE', CAST(NULL AS VARCHAR)
            FROM e GROUP BY l_orderkey
            HAVING bool_or(has_value = has_nested)
            UNION ALL
            SELECT CAST(l_orderkey AS VARCHAR), 'EXT-VALUEX',
                   'VALUE_EXCLUSIVITY_VIOLATION', CAST(NULL AS VARCHAR)
            FROM e GROUP BY l_orderkey
            HAVING bool_or(two_values)
            ORDER BY doc_id, rule_id, idx""",
        "r1_required": """
            SELECT CAST(event_id AS VARCHAR) AS doc_id, 'REQ-1' AS rule_id,
                   'FIELD_REQUIRED' AS error_code, event_type AS source
            FROM events WHERE props IS NULL OR trim(props) = ''
            ORDER BY doc_id""",
        "r2_fixed_value": """
            SELECT CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR)
                     AS doc_id,
                   'FIX-1' AS rule_id, 'FIXED_VALUE_MISMATCH' AS error_code,
                   l_linestatus AS source
            FROM lineitem
            WHERE l_linestatus = 'O' AND l_returnflag IS NOT NULL
              AND trim(l_returnflag) <> '' AND l_returnflag <> 'N'
            ORDER BY doc_id, rule_id, error_code, source""",
        "r3_allowed_values": """
            SELECT CAST(o_orderkey AS VARCHAR) AS doc_id, 'ALW-1' AS rule_id,
                   'VALUE_NOT_ALLOWED' AS error_code, o_orderstatus AS source
            FROM orders
            WHERE o_orderpriority IS NOT NULL AND trim(o_orderpriority) <> ''
              AND o_orderpriority NOT IN ('1-URGENT', '2-HIGH', '3-MEDIUM')
            ORDER BY doc_id, rule_id, error_code, source""",
        "r4_regex": """
            SELECT CAST(c_custkey AS VARCHAR) AS doc_id, 'RGX-1' AS rule_id,
                   'PATTERN_MISMATCH' AS error_code, c_mktsegment AS source
            FROM customer
            WHERE c_name IS NOT NULL AND trim(c_name) <> ''
              AND NOT regexp_matches(c_name, '^Customer#0000000[0-9]{2}$')
            ORDER BY doc_id, rule_id, error_code, source""",
        "r5_range": """
            SELECT CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR)
                     AS doc_id,
                   'RNG-1' AS rule_id, 'ANSWER_OUT_OF_RANGE' AS error_code,
                   l_returnflag AS source
            FROM lineitem
            WHERE l_quantity IS NOT NULL AND (l_quantity < 1 OR l_quantity > 45)
            ORDER BY doc_id, rule_id, error_code, source""",
        "r7_custom_expr": """
            SELECT CAST(doc_id AS VARCHAR) AS doc_id, 'EXP-1' AS rule_id,
                   'CUSTOM_CONDITION_FAILED' AS error_code, lang AS source
            FROM documents
            WHERE NOT coalesce(n_chars <= 400, FALSE)
            ORDER BY doc_id, rule_id, error_code, source""",
        "p3_first_scope": """
            SELECT CAST(min(o_orderkey) AS VARCHAR) AS doc_id,
                   o_orderstatus AS source
            FROM orders GROUP BY o_orderstatus ORDER BY source""",
        "p5_nested_elements": """
            WITH it AS (
              SELECT l_orderkey, l_quantity,
                     row_number() OVER (
                       PARTITION BY l_orderkey
                       ORDER BY l_linenumber, l_quantity, l_returnflag) - 1
                       AS i
              FROM lineitem)
            SELECT CAST(l_orderkey AS VARCHAR) AS doc_id,
                   'NST-1' AS rule_id, 'ANSWER_OUT_OF_RANGE' AS error_code,
                   CAST(i AS VARCHAR) AS idx,
                   CAST(l_quantity AS VARCHAR) AS value
            FROM it WHERE l_quantity < 1 OR l_quantity > 45
            ORDER BY doc_id, idx""",
        "sh1_spec_hints": """
            WITH c AS (
              SELECT c_mktsegment AS source, c_custkey, c_acctbal,
                     nullif(c_mktsegment, 'BUILDING') AS seg_note
              FROM customer)
            SELECT source, 'seg_note' AS path,
                   'segment note expected' AS reason,
                   'warning' AS severity, FALSE AS conditional,
                   CAST(sum(CASE WHEN seg_note IS NULL OR trim(seg_note) = ''
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_missing,
                   CAST(count(*) AS BIGINT) AS n_checked,
                   CAST(min(CASE WHEN seg_note IS NULL OR
                                      trim(seg_note) = ''
                                 THEN c_custkey END) AS VARCHAR) AS witness
            FROM c GROUP BY source
            UNION ALL
            SELECT source, 'c_acctbal', 'positive balances audited',
                   'warning', TRUE,
                   CAST(sum(CASE WHEN c_acctbal > 0 AND c_acctbal IS NULL
                            THEN 1 ELSE 0 END) AS BIGINT),
                   CAST(sum(CASE WHEN c_acctbal > 0 THEN 1 ELSE 0 END) AS BIGINT),
                   NULL
            FROM c GROUP BY source
            HAVING sum(CASE WHEN c_acctbal > 0 THEN 1 ELSE 0 END) > 0
            ORDER BY source, path""",
        "nav1_json_pointer": """
            WITH it AS (
              SELECT l_orderkey, l_quantity,
                     CASE WHEN l_linenumber <= 3 THEN 0 ELSE 1 END AS gi,
                     row_number() OVER (
                       PARTITION BY l_orderkey, (l_linenumber <= 3)
                       ORDER BY l_linenumber, l_quantity) - 1 AS j
              FROM lineitem)
            SELECT CAST(l_orderkey AS VARCHAR) AS doc_id,
                   CAST(gi AS VARCHAR) AS idx,
                   CAST(j AS VARCHAR) AS inner_idx,
                   '/groups/' || gi || '/items/' || j || '/l_quantity'
                     AS json_pointer,
                   'groups[' || gi || '] > items[' || j ||
                     '] > l_quantity' AS crumb
            FROM it WHERE l_quantity < 1 OR l_quantity > 45
            ORDER BY doc_id, idx, inner_idx""",
        "p5b_nested_repetition": """
            WITH it AS (
              SELECT l_orderkey, l_quantity,
                     CASE WHEN l_linenumber <= 3 THEN 0 ELSE 1 END AS gi,
                     row_number() OVER (
                       PARTITION BY l_orderkey, (l_linenumber <= 3)
                       ORDER BY l_linenumber, l_quantity) - 1 AS j
              FROM lineitem)
            SELECT CAST(l_orderkey AS VARCHAR) AS doc_id,
                   'NST-2' AS rule_id, 'ANSWER_OUT_OF_RANGE' AS error_code,
                   CAST(gi AS VARCHAR) AS idx,
                   CAST(j AS VARCHAR) AS inner_idx,
                   CAST(l_quantity AS VARCHAR) AS value
            FROM it WHERE l_quantity < 1 OR l_quantity > 45
            ORDER BY doc_id, idx, inner_idx""",
        # p5c: only odd line numbers carry a depth-3 leaf; innerIndex is
        # the ordinal within the group's FLATTENED leaf sequence, i.e.
        # rank among leaf-carrying items in (linenumber, quantity) order
        # (ties are value-identical, so ordering among them is immaterial)
        "p5c_deep_repetition": """
            WITH it AS (
              SELECT l_orderkey, l_quantity,
                     CASE WHEN l_linenumber <= 3 THEN 0 ELSE 1 END AS gi,
                     row_number() OVER (
                       PARTITION BY l_orderkey, (l_linenumber <= 3)
                       ORDER BY l_linenumber, l_quantity) - 1 AS j
              FROM lineitem
              WHERE l_linenumber % 2 = 1)
            SELECT CAST(l_orderkey AS VARCHAR) AS doc_id,
                   'NST-3' AS rule_id, 'ANSWER_OUT_OF_RANGE' AS error_code,
                   CAST(gi AS VARCHAR) AS idx,
                   CAST(j AS VARCHAR) AS inner_idx,
                   CAST(l_quantity AS VARCHAR) AS value
            FROM it WHERE l_quantity < 1 OR l_quantity > 45
            ORDER BY doc_id, idx, inner_idx""",
        "a1_group_cardinality": """
            SELECT r.r_name, count(n.n_nationkey) AS n_nations,
                   count(n.n_nationkey) >= 5 AS passed
            FROM region r LEFT JOIN nation n ON r.r_regionkey = n.n_regionkey
            GROUP BY r.r_name ORDER BY r.r_name""",
        "a4_summary": """
            WITH v AS (
              SELECT 'error' AS severity, 'ALW-1' AS rule_id FROM orders
              WHERE o_orderpriority IS NOT NULL AND trim(o_orderpriority) <> ''
                AND o_orderpriority NOT IN ('1-URGENT', '2-HIGH', '3-MEDIUM')
              UNION ALL
              SELECT 'warning', 'RNG-1' FROM orders
              WHERE o_totalprice IS NOT NULL AND o_totalprice < 0
              UNION ALL
              SELECT 'error', 'UNQ-1' FROM (
                SELECT o_orderkey FROM orders GROUP BY o_orderkey
                HAVING count(*) > 1)
            )
            SELECT severity, rule_id, count(*) AS n FROM v
            GROUP BY severity, rule_id ORDER BY severity, rule_id""",
        "a5_dedup": """
            SELECT 'ALW-1' AS rule_id, count(*) AS n FROM orders
            WHERE o_orderpriority IS NOT NULL AND trim(o_orderpriority) <> ''
              AND o_orderpriority NOT IN ('1-URGENT', '2-HIGH', '3-MEDIUM')
            ORDER BY rule_id""",
        "c1_stats": """
            SELECT l_returnflag,
                   round(min(l_quantity), 4) AS min_qty,
                   round(max(l_quantity), 4) AS max_qty,
                   round(avg(l_quantity), 4) AS avg_qty,
                   round(avg(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END), 4)
                     AS null_rate_qty,
                   count(DISTINCT l_partkey) AS n_parts,
                   count(*) AS n_rows
            FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
        "c2_cardinality": """
            SELECT c_mktsegment, count(DISTINCT c_nationkey) AS n_nations,
                   count(*) AS n_customers
            FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""",
        "c3_unique": """
            SELECT CAST(o_orderkey AS VARCHAR) AS doc_id, 'UNQ-1' AS rule_id,
                   'DUPLICATE_KEY' AS error_code
            FROM orders GROUP BY o_orderkey HAVING count(*) > 1""",
        "c4_histogram": """
            SELECT CAST(floor(l_quantity / 5) AS BIGINT) AS bucket,
                   count(*) AS cnt
            FROM lineitem GROUP BY bucket ORDER BY bucket""",
        # c5: exact-regime Misra-Gries == plain GROUP BY counts
        "c5_heavy_hitters": """
            SELECT source AS "group", lang AS value,
                   COUNT(*) AS n_lo, COUNT(*) AS n_hi
            FROM documents WHERE lang IS NOT NULL
            GROUP BY source, lang
            ORDER BY "group", n_lo DESC, value""",
        # hh1: engine-path dominance rule, exact regime
        "hh1_dominance": """
            SELECT lang AS value, COUNT(*) AS n
            FROM documents WHERE lang IS NOT NULL
            GROUP BY lang
            HAVING COUNT(*) > 0.2 * (SELECT COUNT(*) FROM documents
                                     WHERE lang IS NOT NULL)
            ORDER BY value""",
        "j1_reference": """
            SELECT CAST(o.o_orderkey AS VARCHAR) AS doc_id, 'REF-1' AS rule_id,
                   'REFERENCE_NOT_FOUND' AS error_code,
                   o.o_orderstatus AS source
            FROM orders o
            WHERE o.o_custkey IS NOT NULL AND NOT EXISTS (
              SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
            ORDER BY doc_id""",
        "j1_reference_seeded": """
            SELECT CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR)
                     AS doc_id,
                   'REF-2' AS rule_id, 'REFERENCE_NOT_FOUND' AS error_code,
                   l_returnflag AS source
            FROM lineitem
            WHERE l_suppkey IS NOT NULL AND l_suppkey NOT IN (
              SELECT s_suppkey FROM supplier WHERE s_acctbal >= 0)
            ORDER BY doc_id, rule_id, error_code, source""",
        "j5_bloom_prefilter": """
            SELECT CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR)
                     AS doc_id,
                   'REF-5' AS rule_id, 'REFERENCE_NOT_FOUND' AS error_code,
                   l_returnflag AS source
            FROM lineitem
            WHERE l_suppkey IS NOT NULL AND l_suppkey NOT IN (
              SELECT s_suppkey FROM supplier WHERE s_acctbal >= 0)
            ORDER BY doc_id, rule_id, error_code, source""",
        "r6_membership": """
            SELECT CAST(c_custkey AS VARCHAR) AS doc_id, 'MEM-1' AS rule_id,
                   'CODE_NOT_IN_VALUESET' AS error_code,
                   c_mktsegment AS source,
                   CAST(c_nationkey AS VARCHAR) AS value
            FROM customer
            WHERE c_nationkey IS NOT NULL AND c_nationkey NOT IN (
              SELECT n_nationkey FROM nation WHERE n_nationkey < 20)
            ORDER BY doc_id""",
        "r6b_codesystem_pair": """
            SELECT * FROM (
              SELECT CAST(c_custkey AS VARCHAR) AS doc_id, 'CS-1' AS rule_id,
                     'CODESYSTEM_MISMATCH' AS error_code,
                     c_mktsegment AS source
              FROM customer WHERE c_mktsegment IS DISTINCT FROM 'BUILDING'
              UNION ALL
              SELECT CAST(c_custkey AS VARCHAR), 'CS-1',
                     'CODE_NOT_IN_VALUESET', c_mktsegment
              FROM customer WHERE c_mktsegment = 'BUILDING'
                AND c_nationkey NOT IN (
                  SELECT n_nationkey FROM nation WHERE n_nationkey < 20))
            ORDER BY doc_id, error_code""",
        "j4_codemaster": """
            SELECT * FROM (
              SELECT CAST(o_orderkey AS VARCHAR) AS doc_id,
                     'CM-1' AS rule_id,
                     'INVALID_QUESTION_CODE' AS error_code,
                     o_orderstatus AS source
              FROM orders WHERE o_orderstatus NOT IN ('O', 'F')
              UNION ALL
              SELECT CAST(o_orderkey AS VARCHAR), 'CM-1',
                     'INVALID_ANSWER_VALUE', o_orderstatus
              FROM orders WHERE o_orderstatus = 'F'
                AND o_orderpriority NOT IN ('1-URGENT', '2-HIGH'))
            ORDER BY doc_id, error_code""",
        "q1_question_rules": """
            SELECT * FROM (
              SELECT CAST(p_partkey AS VARCHAR) AS doc_id,
                     'Q-SIZE-RNG' AS rule_id,
                     'ANSWER_OUT_OF_RANGE' AS error_code, p_type AS source
              FROM part WHERE p_size IS NOT NULL
                AND (p_size < 1 OR p_size > 40)
              UNION ALL
              SELECT CAST(p_partkey AS VARCHAR), 'Q-NAME-LEN',
                     'MAX_LENGTH_EXCEEDED', p_type
              FROM part WHERE p_name IS NOT NULL AND length(p_name) > 25
              UNION ALL
              SELECT CAST(p_partkey AS VARCHAR), 'Q-BRAND-VS',
                     'ANSWER_NOT_IN_VALUESET', p_type
              FROM part WHERE p_brand IS NOT NULL AND trim(p_brand) <> ''
                AND p_brand NOT IN ('Brand#11', 'Brand#12', 'Brand#13',
                                    'Brand#21', 'Brand#22', 'Brand#23'))
            ORDER BY doc_id, rule_id, error_code, source""",
        "i1_iceberg_roundtrip": """
            SELECT doc_id, lang, source, n_chars
            FROM documents WHERE doc_id >= 250 AND doc_id < 500
            ORDER BY doc_id""",
        # i3: add_column evolution — pre-evolution rows read NULL for the
        # added column, post-evolution rows carry their value
        "i3_schema_evolution": """
            SELECT doc_id, lang, source,
                   CASE WHEN doc_id >= 150 THEN n_chars
                        ELSE -1 END AS n_chars
            FROM documents WHERE doc_id < 300
            ORDER BY doc_id""",
        # i4: COW merge — rows <100 untouched (their file carried:
        # files_carried=1), 100-199 updated in place, 200-299 inserted
        "i4_merge_rows": """
            SELECT doc_id, lang, source,
                   CASE WHEN doc_id >= 100 THEN n_chars + 1000
                        ELSE n_chars END AS n_chars,
                   1 AS files_carried
            FROM documents WHERE doc_id < 300
            ORDER BY doc_id""",
        # i2: copy-on-write delete — survivors are simply the predicate
        # negation; files_carried = 1 states that batch 1's file (no
        # matches possible: doc_id < 200) was carried, never rewritten
        "i2_delete_rows": """
            SELECT doc_id, lang, source, n_chars, 1 AS files_carried
            FROM documents
            WHERE doc_id < 400
              AND NOT (doc_id >= 200 AND lang = 'en')
            ORDER BY doc_id""",
        # i5: hidden bucket partitioning — the data must round-trip the
        # bucket layout losslessly; pruned=TRUE pins that the filtered
        # read planned fewer files than the full scan
        "i5_hidden_partition": """
            SELECT doc_id, lang, source, n_chars, TRUE AS pruned
            FROM documents WHERE doc_id >= 40 AND doc_id < 60
            ORDER BY doc_id""",
        # i7: net changelog — inserts = surviving second batch, deletes =
        # first batch's removed rows; COW-carried rows must cancel
        "i7_changelog": """
            SELECT doc_id, lang, source, n_chars,
                   'insert' AS _change_type
            FROM documents
            WHERE doc_id >= 200 AND doc_id < 300 AND doc_id % 10 <> 0
            UNION ALL
            SELECT doc_id, lang, source, n_chars, 'delete'
            FROM documents WHERE doc_id < 200 AND doc_id % 10 = 0
            ORDER BY _change_type, doc_id""",
        # c10: incremental profiling — merged snapshot-delta partials must
        # equal a one-shot full aggregation on every exact field (long
        # format: numeric n_chars row + lexicographic lang row per source)
        "c10_incremental_profile": """
            -- nc_mean from the exact BIGINT sum divided once (the
            -- engine's profile() divides an exactly-merged Σx by the
            -- non-null count — identical chain, bit-identical result);
            -- DuckDB's avg() streams partial means in its own order and
            -- can differ in the last ulp, flipping round(·,4)
            SELECT source AS "group", count(*) AS n_rows,
                   sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END)
                       AS nc_nulls,
                   CAST(min(n_chars) AS DOUBLE) AS nc_min,
                   CAST(max(n_chars) AS DOUBLE) AS nc_max,
                   CAST(floor(CAST(sum(CAST(n_chars AS BIGINT)) AS DOUBLE)
                              / count(n_chars) * 10000.0 + 0.5) AS DOUBLE)
                       / 10000.0 AS nc_mean,
                   min(lang) AS lang_min, max(lang) AS lang_max,
                   TRUE AS modes_ok
            FROM documents GROUP BY source ORDER BY "group" """,
        # c11: incremental quantiles — the oracle states the identical
        # histogram-inversion chain (floor-bucket counts → cumulative walk
        # → in-bucket linear interpolation) over a full scan; merged
        # bucket counts are exact, so the estimates agree to the digit
        "c11_merged_quantiles": """
            WITH h AS (
              SELECT source AS grp,
                     CAST(floor(n_chars / 250.0) AS INT) AS bucket,
                     COUNT(*) AS cnt
              FROM documents WHERE n_chars IS NOT NULL
              GROUP BY 1, 2
            ), c AS (
              SELECT grp, bucket, cnt,
                     SUM(cnt) OVER (PARTITION BY grp ORDER BY bucket)
                         AS cum,
                     SUM(cnt) OVER (PARTITION BY grp) AS tot
              FROM h
            ), p AS (SELECT UNNEST([0.25, 0.5, 0.75, 0.99]) AS p),
            hits AS (
              SELECT c.grp, p.p, c.bucket, c.cnt, c.cum, c.tot,
                     ROW_NUMBER() OVER (PARTITION BY c.grp, p.p
                                        ORDER BY c.bucket) AS rk
              FROM c JOIN p
                ON c.cum >= GREATEST(p.p * c.tot, 1e-12)
            )
            SELECT grp AS "group", CAST(p AS DOUBLE) AS p,
                   round((bucket + LEAST(
                       (GREATEST(p * tot, 1e-12) - (cum - cnt))
                           / cnt, 1.0)) * 250.0, 4) AS value,
                   TRUE AS modes_ok
            FROM hits WHERE rk = 1
            ORDER BY "group", p""",
        # i14: metadata-only schema diff — the evolution steps are fixed,
        # so the oracle enumerates the expected field-id-paired change
        # rows literally (types render as the Iceberg type JSON strings)
        "i14_schema_diff": """
            SELECT * FROM (VALUES
              ('renamed', 1, 'a', 'b', '"int"', '"long"'),
              ('retyped', 1, 'a', 'b', '"int"', '"long"'),
              ('dropped', 2, 'v', NULL, '"string"', NULL),
              ('added',   3, NULL, 'c', NULL, '"string"'))
            AS t(change, field_id, from_name, to_name, from_type, to_type)
            ORDER BY field_id, change""",
        # i10: merge-on-read upsert — final state after two row-delta
        # batches (doc_id%5 bumped +1000, then doc_id%10 re-bumped +5000:
        # the newer version wins), inserts 200-204 appended
        # i11: write-audit-publish — main ends with batch 1 + the
        # published audit batch (doc_id < 400); the rejected branch's
        # rows (doc_id >= 900) never reach main; staged_invisible pins
        # that staging did not leak into main pre-publish
        "i11_wap_publish": """
            SELECT doc_id, lang, source, n_chars,
                   TRUE AS staged_invisible
            FROM documents WHERE doc_id < 400
            ORDER BY doc_id""",
        # i13: multi-field hidden partitioning — rows must route to the
        # right (source, bucket) leaf and both partition matchers must
        # compose; pruned pins that the two-dimensional filter planned
        # fewer files than the source filter alone
        "i13_multi_partition": """
            SELECT doc_id, lang, source, n_chars, TRUE AS pruned
            FROM documents
            WHERE doc_id IN (21, 22, 62, 161, 181, 281, 282, 301, 402)
              AND source IN ('src1', 'src2')
            ORDER BY doc_id""",
        # i12: metadata-only rename (+ the widened long type) — one
        # logical column reconstructed across mixed-name files
        "i12_rename_widen": """
            SELECT doc_id, lang, source, n_chars AS char_count
            FROM documents WHERE doc_id < 400
            ORDER BY doc_id""",
        "i10_mor_upsert": """
            SELECT doc_id, source,
                   CASE WHEN doc_id % 10 = 0 AND doc_id < 200
                             THEN n_chars + 5000
                        WHEN doc_id % 5 = 0 AND doc_id < 200
                             THEN n_chars + 1000
                        ELSE n_chars END AS n_chars,
                   TRUE AS zero_rewrite
            FROM documents WHERE doc_id < 205
            ORDER BY doc_id""",
        # i9: merge-on-read position deletes — survivors of the MOR
        # delete (doc_id % 7 = 0) composed with a COW delete on top
        # (doc_id % 7 = 1); zero_rewrite pins that the MOR commit touched
        # no data files
        "i9_mor_delete": """
            SELECT doc_id, lang, source, n_chars, TRUE AS zero_rewrite
            FROM documents
            WHERE doc_id < 300 AND doc_id % 7 NOT IN (0, 1)
            ORDER BY doc_id""",
        # i6: day-transform partitioning — per-day rollup of a 3-day
        # source-timestamp range; exact day edges prove the epoch-day
        # derivation (µs-exact, UTC)
        "i6_time_partition": """
            SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
                   COUNT(*) AS n_events,
                   COUNT(DISTINCT event_id) AS n_ids,
                   TRUE AS pruned
            FROM events
            WHERE ts >= TIMESTAMP '2024-01-10'
              AND ts < TIMESTAMP '2024-01-13'
            GROUP BY 1 ORDER BY day""",
        # i8: partition evolution — the day rollup must see BOTH
        # generations (day-partitioned evens + bucketed odds); pruned and
        # bucket_roundtrip pin per-spec manifest pruning
        "i8_partition_evolution": """
            SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
                   COUNT(*) AS n_events,
                   COUNT(DISTINCT event_id) AS n_ids,
                   TRUE AS pruned,
                   TRUE AS bucket_roundtrip
            FROM events
            WHERE ts >= TIMESTAMP '2024-01-10'
              AND ts < TIMESTAMP '2024-01-13'
            GROUP BY 1 ORDER BY day""",
        # seq1: the same framing CASE as the Spark side; lane priority
        # bos > eos > pad;
        # EOS is judged at the last content position (before the pad run)
        "seq1_sequence_shape": """
            WITH w AS (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(lower(text),
                                                       '[^a-z0-9]+'),
                                 x -> x <> '') AS ws
              FROM documents),
            tok AS (
              SELECT doc_id,
                     [CAST(CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)
                           % 50000 + 10 AS INTEGER) FOR x IN ws] AS body
              FROM w),
            fr AS (
              SELECT doc_id,
                     CASE CAST(doc_id % 7 AS INTEGER)
                       WHEN 0 THEN body || [2]
                       WHEN 1 THEN [1] || body
                       WHEN 2 THEN [1] || body || [2, 0, 42, 0]
                       ELSE [1] || body || [2, 0, 0]
                     END AS toks
              FROM tok),
            ev AS (
              SELECT doc_id, toks, len(toks) AS n,
                     coalesce(list_position(toks, 0), 0) AS p
              FROM fr),
            lanes AS (
              SELECT doc_id, p,
                     (toks[1] IS NULL OR toks[1] <> 1) AS bad_bos,
                     coalesce(CASE WHEN p > 0
                                   THEN (CASE WHEN p > 1 THEN toks[p - 1]
                                         END)
                                   ELSE toks[n] END <> 2, TRUE) AS bad_eos,
                     (p > 0 AND len(list_filter(toks[p + 1:n],
                                                x -> x <> 0)) > 0) AS bad_pad
              FROM ev)
            SELECT doc_id,
                   'SEQUENCE_SHAPE_VIOLATION' AS error_code,
                   CASE WHEN bad_bos THEN 'bos'
                        WHEN bad_eos THEN 'eos'
                        ELSE 'pad' END AS lane,
                   CAST(p AS BIGINT) AS pad_start
            FROM lanes
            WHERE bad_bos OR bad_eos OR bad_pad
            ORDER BY doc_id""",
        # two runs re-derived from orders; strict-increase gate, zero slack
        "rg1_regression_gate": """
            WITH b AS (
              SELECT count(*) AS rows_base,
                     count(*) FILTER (WHERE o_orderpriority IS NOT NULL
                       AND trim(o_orderpriority) <> ''
                       AND o_orderpriority NOT IN
                           ('1-URGENT', '2-HIGH', '3-MEDIUM')) AS viol_base
              FROM orders WHERE o_orderkey % 3 <> 0),
            c AS (
              SELECT count(*) AS rows_cur,
                     count(*) FILTER (WHERE o_orderpriority IS NOT NULL
                       AND trim(o_orderpriority) <> ''
                       AND o_orderpriority NOT IN
                           ('1-URGENT', '2-HIGH', '3-MEDIUM')) AS viol_alw,
                     count(*) FILTER (WHERE o_totalprice IS NOT NULL
                       AND o_totalprice > 300000) AS viol_rng
              FROM orders)
            SELECT * FROM (
              SELECT 'ALW-1' AS rule_id,
                     round(viol_base * 1.0 / rows_base, 6) AS base_rate,
                     round(viol_alw * 1.0 / rows_cur, 6) AS cur_rate,
                     round(viol_base * 1.0 / rows_base, 6) AS allowed,
                     rows_base, rows_cur,
                     'rateJump' AS "check"
              FROM b, c
              WHERE viol_alw * 1.0 / rows_cur > viol_base * 1.0 / rows_base
              UNION ALL
              SELECT 'RNG-NEW', CAST(-1.0 AS DOUBLE),
                     round(viol_rng * 1.0 / rows_cur, 6),
                     CAST(-1.0 AS DOUBLE),
                     CAST(0 AS BIGINT), rows_cur, 'newRule'
              FROM c)
            ORDER BY rule_id""",
        # quarantine = rows with an error-severity violation (warnings stay)
        "sp1_quarantine_split": """
            WITH bad AS (
              SELECT DISTINCT o_orderkey FROM orders
              WHERE o_orderpriority IS NOT NULL
                AND trim(o_orderpriority) <> ''
                AND o_orderpriority NOT IN
                    ('1-URGENT', '2-HIGH', '3-MEDIUM'))
            SELECT o_orderstatus,
                   count(*) FILTER (WHERE bad.o_orderkey IS NULL)
                     AS n_clean,
                   count(*) FILTER (WHERE bad.o_orderkey IS NOT NULL)
                     AS n_quarantined
            FROM orders o LEFT JOIN bad USING (o_orderkey)
            GROUP BY o_orderstatus
            ORDER BY o_orderstatus""",
        # doc_id is Spark's to_json(struct(...)) of the composite key
        "c3b_unique_composite": """
            SELECT '{"l_orderkey":' || l_orderkey
                   || ',"l_linenumber":' || l_linenumber || '}' AS dup_key,
                   'DUPLICATE_KEY' AS error_code,
                   count(*) AS n_dup
            FROM lineitem
            GROUP BY l_orderkey, l_linenumber
            HAVING count(*) > 1
            ORDER BY dup_key""",
        # declared ∪ observed shares; closed world for declared groups
        "gs1_group_share": """
            WITH c AS (
              SELECT event_type AS g, count(*) AS n FROM events
              GROUP BY event_type),
            t AS (SELECT sum(n) AS tot FROM c),
            d AS (SELECT * FROM (VALUES
                    ('click', NULL, 0.15),
                    ('error', 0.25, NULL),
                    ('purchase', 0.15, 0.25),
                    ('refund', 0.01, NULL))
                  AS v(g, mn, mx)),
            m AS (
              SELECT coalesce(c.g, d.g) AS g,
                     coalesce(c.n, 0) AS n,
                     CAST(coalesce(c.n, 0) AS DOUBLE) / tot AS share,
                     CAST(mn AS DOUBLE) AS mn, CAST(mx AS DOUBLE) AS mx
              FROM c FULL JOIN d ON c.g = d.g CROSS JOIN t)
            SELECT g AS event_type,
                   'GROUP_SHARE_VIOLATION' AS error_code,
                   CASE WHEN mn IS NOT NULL AND share < mn
                        THEN 'belowMin' ELSE 'aboveMax' END AS lane,
                   n, round(share, 6) AS share
            FROM m
            WHERE (mn IS NOT NULL AND share < mn)
               OR (mx IS NOT NULL AND share > mx)
            ORDER BY event_type""",
        # db1: per-group distinct-count bands — declared bands judge
        # only themselves (closed world for absent groups), undeclared
        # groups take the default min
        "db1_distinct_band": """
            WITH c AS (
              SELECT event_type AS g, count(DISTINCT user_id) AS d
              FROM events GROUP BY event_type),
            b AS (SELECT * FROM (VALUES
                    ('click', NULL, 100),
                    ('refund', 1, NULL))
                  AS v(g, mn, mx)),
            m AS (
              SELECT coalesce(c.g, b.g) AS g,
                     coalesce(c.d, 0) AS d,
                     CASE WHEN b.g IS NOT NULL THEN mn ELSE 1 END AS lo,
                     CASE WHEN b.g IS NOT NULL THEN mx
                          ELSE NULL END AS hi
              FROM c FULL JOIN b ON c.g = b.g)
            SELECT g AS event_type,
                   'DISTINCT_BAND_VIOLATION' AS error_code,
                   CASE WHEN lo IS NOT NULL AND d < lo
                        THEN 'belowMin' ELSE 'aboveMax' END AS lane,
                   d AS n_distinct
            FROM m
            WHERE (lo IS NOT NULL AND d < lo)
               OR (hi IS NOT NULL AND d > hi)
            ORDER BY event_type""",
        # parent rollup vs child-sum within max(0.01, 0.25·|sum|)
        "ac1_agg_consistency": """
            WITH agg AS (
              SELECT l_orderkey, sum(l_extendedprice) AS s,
                     count(*) AS n
              FROM lineitem GROUP BY l_orderkey)
            SELECT o_orderkey,
                   'AGGREGATE_MISMATCH' AS error_code,
                   CASE WHEN n IS NULL THEN 'noChildren'
                        ELSE 'mismatch' END AS lane,
                   coalesce(n, 0) AS n_children
            FROM orders LEFT JOIN agg ON o_orderkey = l_orderkey
            WHERE n IS NULL
               OR o_totalprice IS NULL
               OR abs(o_totalprice - s) > greatest(0.01, 0.25 * abs(s))
            ORDER BY o_orderkey""",
        # JSON path range probe; JSON null / absent key → 'missing' lane
        "jp1_jsonpath": """
            WITH x AS (
              SELECT event_id,
                     CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
              FROM events)
            SELECT event_id,
                   'JSON_PATH_VIOLATION' AS error_code,
                   CASE WHEN k IS NULL THEN 'missing' ELSE 'range' END
                     AS lane,
                   k
            FROM x
            WHERE k IS NULL OR k < 10 OR k > 80
            ORDER BY event_id""",
        # v1: the same seeded corruption + lane logic recomputed with
        # DuckDB list functions (lane priority dim > finite > norm)
        "v1_vector_check": """
            WITH e AS (
              SELECT vec_id, CAST(label AS VARCHAR) AS source,
                     CASE WHEN vec_id % 50 = 0 THEN
                            list_transform(embedding,
                                           x -> CAST(x * 3.0 AS FLOAT))
                          WHEN vec_id % 97 = 0 THEN embedding[1:32]
                          WHEN vec_id % 83 = 0 THEN
                            list_append(embedding[1:63],
                                        CAST('NaN' AS FLOAT))
                          ELSE embedding END AS v
              FROM embeddings),
            lanes AS (
              SELECT vec_id, source, len(v) AS sz,
                     len(v) <> 64 AS bad_dim,
                     len(list_filter(v, x -> x IS NULL OR isnan(x)
                                             OR isinf(x))) > 0 AS bad_fin,
                     sqrt(list_sum(list_transform(
                          v, x -> CAST(x AS DOUBLE) * x))) AS nrm
              FROM e)
            SELECT vec_id, source,
                   'VECTOR_CHECK_FAILED' AS error_code,
                   CASE WHEN bad_dim THEN 'dim'
                        WHEN bad_fin THEN 'finite'
                        ELSE 'norm' END AS "check",
                   CAST(sz AS INTEGER) AS size,
                   coalesce(CASE WHEN NOT bad_dim AND NOT bad_fin
                                 THEN round(nrm, 4) END, -1.0) AS norm
            FROM lanes
            WHERE bad_dim OR bad_fin
               OR (NOT isnan(nrm) AND (nrm < 0.5 OR nrm > 2.0))
            ORDER BY vec_id""",
        # o1: z-score outlier fences recomputed independently per source
        # mono1: the lag-window twin — same key partition, same
        # (orderBy, key) order, same null skip
        "mono1_monotonic": """
            WITH w AS (
              SELECT event_id, user_id, value,
                     LAG(value) OVER (PARTITION BY user_id
                                      ORDER BY event_id, event_id) AS prev
              FROM events WHERE value IS NOT NULL AND event_id IS NOT NULL)
            SELECT event_id, 'MONO-1' AS rule_id,
                   'MONOTONICITY_VIOLATION' AS error_code, user_id,
                   ROUND(prev, 4) AS prev_value, ROUND(value, 4) AS value
            FROM w WHERE prev IS NOT NULL AND value < prev
            ORDER BY event_id""",
        # mono2: the gap lane — same LAG window, CASE names the lane
        "mono2_sequence_gap": """
            WITH w AS (
              SELECT event_id, user_id,
                     LAG(event_id) OVER (PARTITION BY user_id
                                         ORDER BY event_id, event_id)
                       AS prev
              FROM events WHERE event_id IS NOT NULL)
            SELECT event_id, 'MONO-2' AS rule_id,
                   'MONOTONICITY_VIOLATION' AS error_code, user_id,
                   prev AS prev_event_id,
                   CASE WHEN event_id <= prev THEN 'did not increase'
                        ELSE 'step > 500' END AS "check"
            FROM w WHERE prev IS NOT NULL
              AND (event_id <= prev OR abs(event_id - prev) > 500)
            ORDER BY event_id""",
        # fd1: GROUP BY + HAVING count(distinct) restatement with min/max
        # witnesses
        "fd1_functional_dependency": """
            SELECT c_nationkey, 'FD-1' AS rule_id,
                   'FUNCTIONAL_DEPENDENCY_VIOLATION' AS error_code,
                   COUNT(DISTINCT c_mktsegment) AS n_values,
                   COUNT(*) AS n_rows,
                   MIN(c_mktsegment) AS min_segment,
                   MAX(c_mktsegment) AS max_segment
            FROM customer GROUP BY c_nationkey
            HAVING COUNT(DISTINCT c_mktsegment) > 1
            ORDER BY c_nationkey""",
        "o1_outliers": """
            -- fences from exact integer sums (n, Σx, Σx²) through the
            -- IDENTICAL double chain the engine states (outlier_bounds
            -- zscore exact path): every double op is IEEE correctly
            -- rounded on identical inputs, so lo/hi match Spark to the
            -- last ulp — avg/stddev would merge partial moments in an
            -- engine-specific order. The 4-decimal rounding is the
            -- arithmetic floor(x*1e4 + 0.5)/1e4 chain on BOTH sides:
            -- Spark's repr-based F.round and DuckDB's binary round()
            -- disagree on repr-halfway doubles like 405.80105
            WITH w AS (
              SELECT doc_id, source,
                     len(list_filter(regexp_split_to_array(lower(text),
                                                           '[^a-z0-9]+'),
                                     x -> x <> '')) AS n_tok
              FROM documents),
            f AS (
              -- count(n_tok), not count(*): the engine's n is the
              -- NON-NULL count (F.count of the cast column), and the
              -- sums skip NULLs on both sides (round-5 review). Sums
              -- stay in exact integer arithmetic (hugeint here, decimal
              -- in the engine) and the variance numerator n*s2 - s1*s1
              -- is computed exactly BEFORE the one cast to double — no
              -- catastrophic cancellation, identical chain both engines
              SELECT source, count(n_tok) AS n,
                     sum(CAST(n_tok AS BIGINT)) AS s1,
                     sum(CAST(n_tok AS BIGINT)
                         * CAST(n_tok AS BIGINT)) AS s2
              FROM w GROUP BY source),
            g AS (
              SELECT source, n,
                     CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
                     CASE WHEN n >= 2 THEN
                       sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE)
                            / (CAST(n AS DOUBLE)
                               * (CAST(n AS DOUBLE) - 1.0)))
                     END AS sd
              FROM f),
            b AS (
              SELECT source, n, mu - 1.5 * sd AS lo, mu + 1.5 * sd AS hi
              FROM g)
            SELECT w.doc_id, w.source,
                   'OUT-1' AS rule_id, 'OUTLIER_VALUE' AS error_code,
                   CAST(w.n_tok AS BIGINT) AS n_tok,
                   CASE WHEN w.n_tok < b.lo THEN 'below'
                        ELSE 'above' END AS side,
                   CAST(floor(b.lo * 10000.0 + 0.5) AS DOUBLE)
                       / 10000.0 AS lo,
                   CAST(floor(b.hi * 10000.0 + 0.5) AS DOUBLE)
                       / 10000.0 AS hi
            FROM w JOIN b USING (source)
            WHERE b.n >= 2 AND (w.n_tok < b.lo OR w.n_tok > b.hi)
            ORDER BY w.doc_id""",
        # e1: dataset-level expectations — independent SQL aggregates
        # compared against the same declared bounds
        "e1_expectations": """
            WITH w AS (
              SELECT doc_id, source,
                     list_filter(regexp_split_to_array(lower(text),
                                                       '[^a-z0-9]+'),
                                 x -> x <> '') AS ws
              FROM documents),
            tok AS (SELECT doc_id, source, len(ws) AS n_tok FROM w),
            a AS (
              SELECT CAST(count(*) AS DOUBLE) AS rc,
                     sum(CASE WHEN n_tok IS NULL THEN 1 ELSE 0 END)
                       / CAST(count(*) AS DOUBLE) AS nf,
                     avg(CAST(n_tok AS DOUBLE)) AS mu,
                     stddev(CAST(n_tok AS DOUBLE)) AS sd,
                     CAST(min(n_tok) AS DOUBLE) AS mn,
                     CAST(max(n_tok) AS DOUBLE) AS mx,
                     CAST(sum(n_tok) AS DOUBLE) AS sm,
                     CAST(count(DISTINCT source) AS DOUBLE) AS ds,
                     CAST(count(DISTINCT doc_id) AS DOUBLE) AS dd
              FROM tok)
            SELECT * FROM (
              SELECT 'row_count' AS metric, CAST(NULL AS VARCHAR) AS "column",
                     round(rc, 4) AS observed,
                     CAST(100 AS DOUBLE) AS expected_min,
                     CAST(-1.0 AS DOUBLE) AS expected_max,
                     rc >= 100 AS passed FROM a
              UNION ALL
              SELECT 'null_fraction', 'n_tok', round(nf, 4),
                     -1.0, 0.0, nf <= 0.0 FROM a
              UNION ALL
              SELECT 'mean', 'n_tok', round(mu, 4),
                     5.0, 10.0, mu >= 5.0 AND mu <= 10.0 FROM a
              UNION ALL
              SELECT 'stddev', 'n_tok', round(sd, 4),
                     0.0, -1.0, sd >= 0.0 FROM a
              UNION ALL
              SELECT 'min', 'n_tok', round(mn, 4),
                     0.0, -1.0, mn >= 0.0 FROM a
              UNION ALL
              SELECT 'max', 'n_tok', round(mx, 4),
                     -1.0, 100000.0, mx <= 100000.0 FROM a
              UNION ALL
              SELECT 'sum', 'n_tok', round(sm, 4),
                     1.0, -1.0, sm >= 1.0 FROM a
              UNION ALL
              SELECT 'distinct_count', 'source', round(ds, 4),
                     2.0, 10.0, ds >= 2.0 AND ds <= 10.0 FROM a
              UNION ALL
              SELECT 'distinct_count', 'doc_id', round(dd, 4),
                     1.0, -1.0, dd >= 1.0 FROM a)
            ORDER BY metric, "column" """,
        # c6: ROLLUP — GROUPING(lang, source) is the same bit vector as
        # Spark's grouping_id (first dim = high bit)
        "c6_rollup": """
            SELECT coalesce(lang, '<all>') AS lang,
                   coalesce(source, '<all>') AS source,
                   CAST(GROUPING(lang, source) AS BIGINT) AS level,
                   count(*) AS n_rows,
                   round(sum(n_chars), 4) AS total
            FROM documents
            GROUP BY ROLLUP (lang, source)
            ORDER BY level, lang, source""",
        # c8: CUBE — all grouping-set combinations
        "c8_cube": """
            SELECT coalesce(lang, '<all>') AS lang,
                   coalesce(source, '<all>') AS source,
                   CAST(GROUPING(lang, source) AS BIGINT) AS level,
                   count(*) AS n_rows,
                   round(sum(n_chars), 4) AS total
            FROM documents
            GROUP BY CUBE (lang, source)
            ORDER BY level, lang, source""",
        # sk1: window-rank restatement of the heavy-hitter report
        "sk1_skew_report": """
            WITH c AS (
              SELECT CAST(user_id AS VARCHAR) AS key, count(*) AS cnt
              FROM events GROUP BY 1),
            t AS (SELECT sum(cnt) AS total FROM c),
            r AS (
              SELECT key, cnt,
                     row_number() OVER (ORDER BY cnt DESC, key ASC)
                       AS "rank"
              FROM c)
            -- CAST rank to INT: Spark's skew_report emits int32 and the
            -- file's convention width-matches (round-5 review batch 5)
            SELECT CAST("rank" AS INT) AS "rank", key, cnt,
                   cnt / total AS share
            FROM r, t WHERE "rank" <= 10 ORDER BY "rank" """,
        # c9: data card — per-source stats UNION ALL the corpus totals;
        # quantile_cont = Spark's exact R-7 percentile
        "c9_data_card": """
            WITH s AS (
              SELECT source, count(*) AS n_docs,
                     sum(length(text)) AS n_chars,
                     sum(len(list_filter(
                         regexp_split_to_array(text,
                         '[ \t\n\x0B\f\r]+'),
                         x -> x <> ''))) AS n_tokens,
                     quantile_cont(CAST(length(text) AS DOUBLE), 0.5)
                       AS p50_len,
                     quantile_cont(CAST(length(text) AS DOUBLE), 0.9)
                       AS p90_len,
                     quantile_cont(CAST(length(text) AS DOUBLE), 0.99)
                       AS p99_len
              FROM documents GROUP BY source
              UNION ALL
              SELECT '<all>', count(*), sum(length(text)),
                     sum(CASE WHEN trim(text) = '' THEN 0
                         ELSE len(regexp_split_to_array(trim(text),
                                                        '[ \t\n]+'))
                         END),
                     quantile_cont(CAST(length(text) AS DOUBLE), 0.5),
                     quantile_cont(CAST(length(text) AS DOUBLE), 0.9),
                     quantile_cont(CAST(length(text) AS DOUBLE), 0.99)
              FROM documents)
            SELECT * FROM s ORDER BY source""",
        # c7: pivot = per-column conditional counts
        "c7_pivot": """
            SELECT lang,
                   count(*) FILTER (WHERE source = 'src0') AS src0,
                   count(*) FILTER (WHERE source = 'src1') AS src1,
                   count(*) FILTER (WHERE source = 'src2') AS src2,
                   count(*) FILTER (WHERE source = 'src3') AS src3
            FROM documents GROUP BY lang ORDER BY lang""",
        # x7: snapshot diff — full outer join + IS DISTINCT FROM
        "x7_table_diff": """
            WITH a AS (SELECT doc_id, text, n_chars FROM documents),
            b AS (
              SELECT doc_id,
                     CASE WHEN doc_id < 10 THEN text || ' mod'
                          ELSE text END AS text,
                     n_chars
              FROM documents WHERE doc_id >= 5
              UNION ALL
              SELECT doc_id + 20000, text, n_chars
              FROM documents WHERE doc_id < 3)
            SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
                   CASE WHEN a.doc_id IS NULL THEN 'added'
                        WHEN b.doc_id IS NULL THEN 'removed'
                        WHEN a.text IS DISTINCT FROM b.text
                          OR a.n_chars IS DISTINCT FROM b.n_chars
                          THEN 'changed'
                   END AS status
            FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
            WHERE CASE WHEN a.doc_id IS NULL THEN 'added'
                       WHEN b.doc_id IS NULL THEN 'removed'
                       WHEN a.text IS DISTINCT FROM b.text
                         OR a.n_chars IS DISTINCT FROM b.n_chars
                         THEN 'changed'
                  END IS NOT NULL
            ORDER BY doc_id""",
        "j2_reference_type": """
            SELECT CAST(o_orderkey AS VARCHAR) AS doc_id,
                   'REF-T' AS rule_id,
                   'REFERENCE_TYPE_MISMATCH' AS error_code,
                   c_mktsegment AS actual_type
            FROM orders JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment NOT IN ('BUILDING', 'AUTOMOBILE')
            ORDER BY doc_id""",
        "a3_where_counting": """
            SELECT r.r_name AS source,
                   count(CASE WHEN n.n_name LIKE '%A%' THEN 1 END)
                     AS actual,
                   CAST(2 AS BIGINT) AS expected_min,
                   count(CASE WHEN n.n_name LIKE '%A%' THEN 1 END) >= 2
                     AS passed
            FROM region r LEFT JOIN nation n ON r.r_regionkey = n.n_regionkey
            GROUP BY r.r_name ORDER BY source""",
        "c5_drift": """
            WITH cur AS (
              SELECT l_returnflag AS source,
                     CAST(floor(l_quantity/8) AS BIGINT) AS bucket,
                     count(*) AS c
              FROM lineitem WHERE l_linenumber > 3 GROUP BY 1, 2),
            base AS (
              SELECT l_returnflag AS source,
                     CAST(floor(l_quantity/8) AS BIGINT) AS bucket,
                     count(*) AS c
              FROM lineitem WHERE l_linenumber <= 3 GROUP BY 1, 2),
            merged AS (
              SELECT COALESCE(cur.source, base.source) AS source,
                     COALESCE(cur.bucket, base.bucket) AS bucket,
                     COALESCE(cur.c, 0) AS cc, COALESCE(base.c, 0) AS bc
              FROM cur FULL OUTER JOIN base
                ON cur.source = base.source AND cur.bucket = base.bucket),
            tot AS (SELECT source, CAST(sum(cc) AS DOUBLE) AS nc,
                           CAST(sum(bc) AS DOUBLE) AS nb
                    FROM merged GROUP BY source),
            terms AS (
              SELECT m.source, m.cc, m.bc,
                     m.cc / t.nc AS p0, m.bc / t.nb AS q0,
                     greatest(m.cc / t.nc, 1e-6) AS p,
                     greatest(m.bc / t.nb, 1e-6) AS q,
                     sum(m.cc) OVER (PARTITION BY m.source
                                     ORDER BY m.bucket) / t.nc AS cum_c,
                     sum(m.bc) OVER (PARTITION BY m.source
                                     ORDER BY m.bucket) / t.nb AS cum_b,
                     t.nc, t.nb
              FROM merged m JOIN tot t ON m.source = t.source)
            SELECT source,
                   round(sum((p - q) * ln(p / q)), 4) AS psi,
                   round(max(abs(cum_c - cum_b)), 4) AS ks,
                   round(sqrt(-0.5 * ln(0.01/2))
                         * sqrt((nc + nb) / (nc * nb)), 4) AS ks_crit,
                   round(sum(
                     CASE WHEN p0 > 0 THEN
                       0.5 * p0 * ln(p0 / ((p0 + q0) / 2)) / ln(2)
                     ELSE 0 END
                     + CASE WHEN q0 > 0 THEN
                         0.5 * q0 * ln(q0 / ((p0 + q0) / 2)) / ln(2)
                       ELSE 0 END), 4) AS jsd,
                   round(sum(
                     CASE WHEN bc > 0 THEN
                       (cc - q0 * nc) * (cc - q0 * nc) / (q0 * nc)
                     ELSE 0 END), 4) AS chi2,
                   CAST(nc AS BIGINT) AS n_current,
                   CAST(nb AS BIGINT) AS n_baseline
            FROM terms GROUP BY source, nc, nb ORDER BY source""",
    }


