"""Dataset-level rule plans: aggregation / join passes.

Each plan executes as its own Spark job over the (already scoped) input and
returns a violations DataFrame in the unified schema. These are the only
rules that shuffle (SURVEY §4.3): uniqueness and referential integrity are
the scaling-efficiency budget; everything here is written so partial
aggregation, broadcast joins and AQE keep the shuffle proportional to the
*reduced* data, not the input.
"""

from __future__ import annotations

import json
import math
from typing import Any, NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..errors import ErrorCode, RuleConfigurationError, Severity
from ..model import RuleDefinition
from ..session import local_frame
from ..stats import GROUP_ALL

VIOLATION_SCHEMA = (
    "doc_id string, rule_id string, rule_type string, error_code string, "
    "severity string, source string, column string, "
    "detail map<string,string>, stage int"
)

# Rule families whose ``doc_id`` is a VALUE-domain key (the offending
# column value / group name / determinant tuple), not a row key: they
# gate the run, and quarantine routing must never match their doc_id
# against row keys (a colliding value would quarantine an unrelated
# row). Unique is value-keyed too UNLESS the deduplicated column IS the
# row key — ValidationResult.split() special-cases that by comparing
# the violation's ``column`` to the split key.
VALUE_KEYED_RULE_TYPES = frozenset(
    {"GroupShare", "DistinctBand", "HeavyHitters", "FunctionalDependency"})


def _viol_cols(rule: RuleDefinition, stage: int, error_code: str | None = None,
               severity: str | None = None):
    return [
        F.lit(rule.id).alias("rule_id"),
        F.lit(rule.type).alias("rule_type"),
        F.lit(error_code or rule.error_code or "").alias("error_code"),
        F.lit(severity or rule.severity).alias("severity"),
        F.lit(rule.column or "").alias("column"),
        F.lit(stage).alias("stage"),
    ]


def _require_dim(rule: RuleDefinition, plan) -> None:
    dim_name = rule.require_param("dim")
    if dim_name not in plan.dims:
        raise RuleConfigurationError(
            rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
            f"{rule.type} rule needs dim {dim_name!r} passed to the engine "
            f"(have: {sorted(plan.dims)})")


def emitted_error_codes(rule: RuleDefinition) -> tuple[str, ...]:
    """Every error code a compiled rule can emit — SCHEMA-FREE (no dims,
    no input schema), so the authoring surfaces (``explanations``,
    dashboard mappings) can consult it without compiling. :func:`build`
    uses this same function for its plans, so the authoring answer and
    the runtime emission can never drift."""
    from ..compiler import DEFAULT_ERROR_CODES
    t = rule.type
    default = DEFAULT_ERROR_CODES.get(t)
    if default is None:
        # same contract as every other authoring surface: unknown rule
        # types raise RuleConfigurationError, never a bare KeyError
        raise RuleConfigurationError(
            rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
            f"unknown rule type {t!r}")
    codes: tuple[str, ...] = (rule.error_code or default,)
    if (t == "Enum" and not rule.params.get("values")
            and rule.params.get("valueSet")):
        # Phase B.2: unresolvable valueSet compiles to the skip notice —
        # unless notice_cap says it is suppressed (missing/'example'
        # binding, JsonNodeStructuralValidator.cs:366-369)
        from ..compiler import notice_cap
        codes = (() if notice_cap(rule.params.get("binding"),
                                  rule.id) is None
                 else (ErrorCode.ENUM_VALIDATION_SKIPPED,))
    elif t == "Reference" and rule.params.get("expectedTypes"):
        codes = codes + (ErrorCode.REFERENCE_TYPE_MISMATCH,)
    elif t == "CodeSystem":
        codes = (ErrorCode.CODESYSTEM_MISMATCH,
                 ErrorCode.CODE_NOT_IN_VALUESET)
    elif t == "CodeMaster":
        # runtime owns the answer-error vocabulary (any errorCode
        # override is ignored — governance warns about it)
        codes = (ErrorCode.INVALID_QUESTION_CODE,
                 ErrorCode.MULTIPLE_VALUES_NOT_ALLOWED,
                 ErrorCode.INVALID_ANSWER_VALUE)
        if rule.params.get("screeningColumn"):
            codes = codes + (ErrorCode.UNKNOWN_SCREENING_TYPE,
                             ErrorCode.MISSING_QUESTION_CODE)
    return codes


def build(rule: RuleDefinition, stage: int, plan) -> "DatasetPlanImpl":
    from ..compiler import DatasetPlan
    t = rule.type
    codes: tuple[str, ...] = emitted_error_codes(rule)
    if t == "Unique":
        from pyspark.sql.types import MapType
        from ..compiler import _field_type
        ucols = rule.params.get("columns")
        if ucols is not None and (not isinstance(ucols, list) or not ucols):
            raise RuleConfigurationError(
                rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
                "Unique params.columns must be a non-empty list of "
                "column names (or use 'column' for a single key)")
        for c in (ucols or [rule.require_column()]):
            utype = _field_type(plan.schema, c, rule)
            if isinstance(utype, MapType):
                # maps are not groupable — the raw-column groupBy (kept raw
                # for bucketed exchange elimination) would AnalysisException
                # at execute, breaking pre-flight totality
                raise RuleConfigurationError(
                    rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
                    f"Unique key column {c!r} is "
                    f"{utype.simpleString()} — map types are not groupable")
        exec_fn = lambda df, p: unique_plan(df, rule, stage, p)
    elif t == "Reference":
        if not rule.column and not rule.params.get("columns"):
            raise RuleConfigurationError(
                rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
                "Reference needs 'column' or params.columns")
        _require_dim(rule, plan)
        exec_fn = lambda df, p: reference_plan(df, rule, stage, p)
    elif t == "Membership":
        rule.require_column()
        _require_dim(rule, plan)
        rule.require_param("on")
        # resolve the (possibly dotted / element) path at COMPILE like
        # every predicate rule — a typo or unsupported path must raise
        # RuleConfigurationError before any job, not KeyError mid-run
        from ..compiler import _field_type as _ft
        _ft(plan.schema, rule.column, rule)
        exec_fn = lambda df, p: membership_plan(df, rule, stage, p)
    elif t == "CodeSystem":
        rule.require_column()
        _require_dim(rule, plan)
        rule.require_param("system")
        rule.require_param("systemColumn")
        exec_fn = lambda df, p: codesystem_plan(df, rule, stage, p)
    elif t == "CodeMaster":
        rule.require_column()
        _require_dim(rule, plan)
        rule.require_param("keyColumn")
        rule.require_param("dimKey")
        rule.require_param("allowedColumn")
        # pre-flight the row-side columns (typos surface at compile, and
        # CodeMaster has no element lane — reject [*] paths explicitly)
        from ..compiler import _field_type as _ft_cm
        for _c in [rule.column, rule.params["keyColumn"]] + (
                [rule.params["screeningColumn"]]
                if rule.params.get("screeningColumn") else []):
            if "[*]" in _c:
                raise RuleConfigurationError(
                    rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
                    f"CodeMaster does not support element paths "
                    f"({_c!r}) — point it at a scalar or array column")
            _ft_cm(plan.schema, _c, rule)
        exec_fn = lambda df, p: codemaster_plan(df, rule, stage, p)
    elif t == "RequiredResources":
        reqs = rule.require_param("requirements")
        if not isinstance(reqs, list) or not reqs:
            raise RuleConfigurationError(
                rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
                "RequiredResources needs non-empty params.requirements")
        for r in reqs:
            if "source" not in r or "min" not in r:
                raise RuleConfigurationError(
                    rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
                    "each requirement needs 'source' and 'min'")
        exec_fn = lambda df, p: required_resources_plan(df, rule, stage, p)
    elif t == "Drift":
        rule.require_column()
        baseline = rule.require_param("baseline")
        if baseline not in plan.dims:
            raise RuleConfigurationError(
                rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
                f"Drift rule needs baseline dim {baseline!r} in engine dims")
        # numeric knobs validate at COMPILE (pre-flight contract), not at
        # the first execute
        for p, dv in (("bucketWidth", 64), ("psiMax", 0.2),
                      ("ksAlpha", 0.01), ("sampleFraction", 0.0),
                      ("jsdMax", 0.0)):
            try:
                float(rule.params.get(p) if rule.params.get(p) is not None
                      else dv)
            except (TypeError, ValueError) as exc:
                raise RuleConfigurationError(
                    rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
                    f"params.{p} must be numeric: {exc}") from exc
        _bw = rule.params.get("bucketWidth")
        if _bw is not None and float(_bw) <= 0:
            raise RuleConfigurationError(
                rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
                "params.bucketWidth must be > 0 (a zero width divides "
                "by zero at execute)")
        mode = rule.params.get("mode", "numeric")
        if mode not in ("numeric", "tokenFrequency"):
            raise RuleConfigurationError(
                rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
                f"unknown drift mode {mode!r} (numeric | tokenFrequency)")
        # column resolves against the schema at COMPILE like every other
        # dataset rule (a typo must not become a mid-run AnalysisException)
        from pyspark.sql.types import ArrayType as _Arr
        from pyspark.sql.types import NumericType as _Num
        from ..compiler import _field_type
        _dtype = _field_type(plan.schema, rule.column, rule)
        if mode == "numeric" and not isinstance(_dtype, _Num):
            raise RuleConfigurationError(
                rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
                f"Drift numeric mode needs a numeric column, "
                f"{rule.column!r} is {_dtype.simpleString()}")
        if mode == "tokenFrequency" and not isinstance(_dtype, _Arr):
            raise RuleConfigurationError(
                rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
                f"Drift tokenFrequency mode needs an array column, "
                f"{rule.column!r} is {_dtype.simpleString()}")
        exec_fn = lambda df, p: drift_plan(df, rule, stage, p)
    elif t == "AggConsistency":
        _require_dim(rule, plan)
        _validate_agg_consistency(rule, plan.schema)
        from pyspark.sql.types import NumericType as _Num
        child = plan.dims[rule.params["dim"]]
        agg_name = rule.params.get("agg", "sum")
        need = [rule.params["dimKey"]] + (
            [rule.params["valueColumn"]] if agg_name != "count" else [])
        for c in need:
            if c not in child.columns:
                raise RuleConfigurationError(
                    rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
                    f"dim has no column {c!r} (have {child.columns})")
        if agg_name != "count":
            vtype = child.schema[rule.params["valueColumn"]].dataType
            if not isinstance(vtype, _Num):
                raise RuleConfigurationError(
                    rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
                    f"valueColumn {rule.params['valueColumn']!r} is "
                    f"{vtype.simpleString()}, not numeric")
        exec_fn = lambda df, p: agg_consistency_plan(df, rule, stage, p)
    elif t == "GroupShare":
        _validate_group_share(rule, plan.schema)
        exec_fn = lambda df, p: group_share_plan(df, rule, stage, p)
    elif t == "DistinctBand":
        _validate_distinct_band(rule, plan.schema)
        exec_fn = lambda df, p: distinct_band_plan(df, rule, stage, p)
    elif t == "Expectation":
        checks = rule.require_param("checks")
        _validate_expectation_checks(rule, checks, plan.schema)
        exec_fn = lambda df, p: expectation_plan(df, rule, stage, p)
    elif t == "Outlier":
        _validate_outlier_params(rule, plan.schema)
        exec_fn = lambda df, p: outlier_plan(df, rule, stage, p)
    elif t == "Monotonic":
        _validate_monotonic_params(rule, plan.schema)
        exec_fn = lambda df, p: monotonic_plan(df, rule, stage, p)
    elif t == "FunctionalDependency":
        _validate_fd_params(rule, plan.schema)
        exec_fn = lambda df, p: functional_dependency_plan(df, rule, stage, p)
    elif t == "HeavyHitters":
        _validate_heavy_hitters(rule, plan.schema)
        exec_fn = lambda df, p: heavy_hitters_plan(df, rule, stage, p)
    else:
        raise RuleConfigurationError(
            rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
            f"unknown dataset rule type {t!r}")
    return DatasetPlan(rule=rule, stage=stage, execute=exec_fn, codes=codes)


# ---------------------------------------------------------------- Unique (C3)

def unique_plan(df: DataFrame, rule: RuleDefinition, stage: int,
                plan) -> DataFrame:
    """PK uniqueness via hash-partitioned distinct counts (SURVEY §2.8 C3).

    One shuffle on the key with map-side partial aggregation; emits one
    violation per *duplicated key* (detail carries the count) rather than one
    per row, so violation volume is bounded by the number of bad keys.

    Grouping is on the RAW column — casting the key before the groupBy
    would defeat bucketed-table exchange elimination (a table bucketed by
    the key aggregates with NO shuffle at all; the cast happens after the
    aggregation, on the reduced duplicates).
    """
    cols = rule.params.get("columns") or [rule.column]
    dups = (df.groupBy(*[F.col(c) for c in cols])
              .agg(F.count(F.lit(1)).alias("_cnt"),
                   F.min(plan.config.group_col).alias("_src"))
              .where(F.col("_cnt") > 1))
    # composite keys render as a JSON object so the violation names every
    # key part; a single key keeps the plain casted value (round-1 shape)
    key_repr = (F.col(cols[0]).cast("string") if len(cols) == 1
                else F.to_json(F.struct(*[F.col(c) for c in cols])))
    vcols = _viol_cols(rule, stage, rule.error_code or ErrorCode.DUPLICATE_KEY)
    if rule.params.get("columns"):
        # the violation's column names the DEDUPLICATED columns, never a
        # stale rule.column: split()'s row-vs-value-keyed routing
        # compares it to the key col, and a Unique authored as
        # params.columns=['k'] must route exactly like column='k'
        # (round-5 review batch 9 — the empty/mismatched column made
        # identical rules route differently by authoring shape)
        vcols[4] = F.lit(",".join(cols)).alias("column")
    return dups.select(
        key_repr.alias("doc_id"),
        *vcols,
        F.col("_src").alias("source"),
        F.create_map(F.lit("count"), F.col("_cnt").cast("string")).alias("detail"),
    )


# ----------------------------------------------------- Reference (J1/J2 anti-join)

def _reference_pairs(df: DataFrame, cols: list[str], rule: RuleDefinition,
                     plan) -> DataFrame:
    """J3 extraction sweep: (_k, _g, _col, _val) reference occurrences from
    every configured column in ONE scan — scalar columns, dotted struct
    paths, raw array columns and ``a[*].b`` element paths all contribute
    (``ReferenceResolver.cs:175-311`` multi-path extraction re-keyed to a
    fixed schema). Per-row values are de-duplicated before the join (A6,
    ``ReferenceResolver.cs:89-103``).

    ``_val`` keeps the columns' NATIVE leaf type so the dim join compares
    with Spark's own coercion rules (a string-normalized join would break
    numerically-equal keys of different widths, e.g. double 42.0 vs bigint
    42). Mixed leaf types across the sweep therefore need a common
    Catalyst type — enforced at compile with a clear error rather than
    silently string-ified."""
    from pyspark.sql.types import ArrayType
    from ..compiler import _field_type, _leaf_column
    leaf_types = set()
    structs = []
    for c in cols:
        dtype = _field_type(df.schema, c, rule)
        leaf = dtype.elementType if isinstance(dtype, ArrayType) else dtype
        leaf_types.add(leaf.simpleString())
        sc = _leaf_column(c)
        vals = (F.array_distinct(sc) if isinstance(dtype, ArrayType)
                else F.array(sc))
        structs.append((c, vals, leaf))
    if len(cols) == 1 and not isinstance(
            _field_type(df.schema, cols[0], rule), ArrayType):
        # single scalar column: no explode — a plain aliased projection
        # keeps the column's physical properties visible to the planner,
        # so a table BUCKETED on the reference column joins its (bucketed)
        # dim without any fact-side exchange
        sc = _leaf_column(cols[0])
        return (df.where(sc.isNotNull())
                .select(F.col(plan.config.key_col).alias("_k"),
                        F.col(plan.config.group_col).alias("_g"),
                        F.lit(cols[0]).alias("_col"),
                        sc.alias("_val")))
    if len(leaf_types) > 1:
        raise RuleConfigurationError(
            rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
            f"swept reference columns have mixed leaf types {sorted(leaf_types)}"
            " — split into one Reference rule per type so the dim join stays"
            " natively typed")
    arr_type = f"array<{leaf_types.pop()}>"
    arr = F.array(*[
        F.struct(F.lit(c).alias("col"),
                 F.coalesce(vals, F.array().cast(arr_type)).alias("vals"))
        for c, vals, _ in structs])
    return (df.select(F.col(plan.config.key_col).alias("_k"),
                      F.col(plan.config.group_col).alias("_g"),
                      F.explode(arr).alias("_p"))
            .select("_k", "_g", F.col("_p.col").alias("_col"),
                    F.explode("_p.vals").alias("_val"))
            .where(F.col("_val").isNotNull()))


def _reference_bloom_lane(pairs: DataFrame, dim: DataFrame, on: str,
                          rule: RuleDefinition, severity, stage: int,
                          viol_cols) -> DataFrame:
    """Bloom-accelerated J1 (``params.bloom``) — the large-dim scale path.

    A split-block Bloom index (:mod:`..bloom`, ~2 bytes/key at the default
    16 bits/key) over the dim keys splits the fact side at the scan:

    * bloom-NEGATIVE references are **definite** violations (no false
      negatives) — they short-circuit straight to the violation set with
      zero joins against the real dim;
    * bloom-positive references are either valid or the ~``fpp`` false
      positives; in the default ``mode="prefilter"`` they continue into the
      exact anti-join, so the RESULT is bit-identical to the exact lane
      while only the might-be-present subset ever reaches the (sort-merge)
      join — on a dirty corpus the shuffle shrinks by the violation rate,
      and on any corpus the bloom probe itself is one broadcast join on an
      int block id (fact side unshuffled, plan-pinned).

    ``mode="approx"`` skips the exact join entirely: a single pass, zero
    dim-sized joins, missing ~``fpp`` of true violations (documented
    screening mode for 10^12-row corpora; the exact run confirms).

    ``params.bloom`` accepts ``true`` or ``{"bitsPerKey": 16, "hashes": 8,
    "mode": "prefilter"|"approx", "broadcast": true, "nItems": N}``.
    Hashing has no numeric coercion, so the fact and dim key types must
    match exactly (config error otherwise — unlike the coercing exact lane).
    """
    from ..bloom import KeyIndex
    cfg = rule.params["bloom"]
    cfg = cfg if isinstance(cfg, dict) else {}
    mode = cfg.get("mode", "prefilter")
    if mode not in ("prefilter", "approx"):
        raise RuleConfigurationError(
            rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
            f"params.bloom.mode must be 'prefilter' or 'approx', got {mode!r}")
    fact_t = pairs.schema["_val"].dataType.simpleString()
    dim_t = dim.schema[on].dataType.simpleString()
    if fact_t != dim_t:
        raise RuleConfigurationError(
            rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
            f"params.bloom requires exactly matching key types (fact "
            f"{fact_t!r} vs dim {dim_t!r}) — xxhash64 membership has no "
            "numeric coercion; cast one side or drop the bloom")
    idx = KeyIndex.build(dim, on, bits_per_key=cfg.get("bitsPerKey", 16),
                         k=cfg.get("hashes", 8), n_items=cfg.get("nItems"))
    probed = idx.check(pairs, "_val", flag="_kidx_might",
                       broadcast=cfg.get("broadcast", True))
    code = rule.error_code or ErrorCode.REFERENCE_NOT_FOUND
    base = [F.col("_k").cast("string").alias("doc_id")]
    tail = [F.col("_g").cast("string").alias("source"),
            F.create_map(F.lit("value"),
                         F.col("_val").cast("string")).alias("detail")]
    definite = (probed.where(~F.col("_kidx_might"))
                .select(*base, *viol_cols(code), *tail))
    if mode == "approx":
        return definite
    # no dedup of the dim keys: a left-anti join's output does not depend
    # on duplicates on the build side, and the dedup costs a shuffle
    keys = dim.select(F.col(on).alias("_refkey"))
    if rule.params.get("broadcast", True):
        keys = F.broadcast(keys)
    confirmed = (probed.where(F.col("_kidx_might"))
                 .join(keys, on=F.col("_val") == F.col("_refkey"),
                       how="left_anti")
                 .select(*base, *viol_cols(code), *tail))
    return definite.unionByName(confirmed)


def reference_plan(df: DataFrame, rule: RuleDefinition, stage: int,
                   plan) -> DataFrame:
    """Referential integrity via broadcast anti-join (``ReferenceResolver.cs:22-46``),
    plus the J2 target-type check (``ReferenceResolver.cs:143-169``) when
    ``params.expectedTypes`` + ``params.typeColumn`` are configured.

    ``params.columns`` sweeps several reference-bearing columns (scalar,
    nested struct path, array, or ``a[*].b``) through one extraction pass
    and ONE join — the violation's ``column`` names the offending column.

    Dim side is broadcast when small (the common case for closed-world
    dimensions); for large dims, drop the hint and let AQE pick sort-merge —
    controlled by params.broadcast (default true). ``allowExternal`` policy
    downgrades severity to warning (``ReferenceResolver.cs:116-126``).
    """
    cols = rule.params.get("columns") or [rule.column]
    dim = plan.dims[rule.params["dim"]]
    on = rule.params.get("on", cols[0])
    if on not in dim.columns:
        raise RuleConfigurationError(
            rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
            f"dim has no column {on!r} (have {dim.columns})")
    expected_types = rule.params.get("expectedTypes")
    type_col = rule.params.get("typeColumn")
    if expected_types and not type_col:
        raise RuleConfigurationError(
            rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
            "expectedTypes requires params.typeColumn naming the dim's "
            "target-type column")
    if type_col and type_col not in dim.columns:
        raise RuleConfigurationError(
            rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
            f"dim has no typeColumn {type_col!r} (have {dim.columns})")
    severity = (Severity.WARNING if rule.params.get("allowExternal")
                else rule.severity)
    pairs = _reference_pairs(df, cols, rule, plan)
    base = [F.col("_k").cast("string").alias("doc_id")]
    tail = [F.col("_g").cast("string").alias("source")]

    def viol_cols(code):
        # like _viol_cols but the column field names the swept column
        out = _viol_cols(rule, stage, code, severity)
        out[4] = F.col("_col").alias("column")
        return out

    if not expected_types:
        bloom_cfg = rule.params.get("bloom")
        if bloom_cfg:
            return _reference_bloom_lane(pairs, dim, on, rule, severity,
                                         stage, viol_cols)
        # dim key stays natively typed: the join condition compares with
        # Spark's coercion (double 42.0 == bigint 42 matches, as pre-sweep).
        # No dedup: duplicate dim keys cannot change a left-anti join's
        # output, and the dedup costs a shuffle
        keys = dim.select(F.col(on).alias("_refkey"))
        if rule.params.get("broadcast", True):
            keys = F.broadcast(keys)
        missing = pairs.join(keys, on=F.col("_val") == F.col("_refkey"),
                             how="left_anti")
        return missing.select(
            *base,
            *viol_cols(rule.error_code or ErrorCode.REFERENCE_NOT_FOUND),
            *tail,
            F.create_map(F.lit("value"),
                         F.col("_val").cast("string"))
             .alias("detail"))

    # J2 lane: one broadcast LEFT join yields both misses and type
    # mismatches; here duplicate dim rows would multiply the output rows,
    # so the keys are deduplicated
    keys = (dim.select(F.col(on).alias("_refkey"),
                       F.col(type_col).alias("_reftype")).dropDuplicates())
    if rule.params.get("broadcast", True):
        keys = F.broadcast(keys)
    joined = pairs.join(keys, on=F.col("_val") == F.col("_refkey"),
                        how="left")
    missing = joined.where(F.col("_refkey").isNull()).select(
        *base,
        *viol_cols(rule.error_code or ErrorCode.REFERENCE_NOT_FOUND),
        *tail,
        F.create_map(F.lit("value"),
                         F.col("_val").cast("string"))
             .alias("detail"))
    mismatch = (joined.where(F.col("_refkey").isNotNull()
                             & ~F.col("_reftype").isin(expected_types))
                .select(
        *base,
        *viol_cols(ErrorCode.REFERENCE_TYPE_MISMATCH),
        *tail,
        F.create_map(F.lit("value"), F.col("_val").cast("string"),
                     F.lit("actualType"), F.col("_reftype").cast("string"),
                     F.lit("expectedTypes"), F.lit(json.dumps(expected_types)))
         .alias("detail")))
    return missing.unionByName(mismatch)


# ------------------------------------------------ Membership (R6 terminology)

def membership_plan(df: DataFrame, rule: RuleDefinition, stage: int,
                    plan) -> DataFrame:
    """Closed-world terminology membership (``FhirPathRuleEngine.cs:1467-1698``):
    every value (or array element) must exist in the broadcast concept dim;
    one violation per offending element with its value
    (``CODE_NOT_IN_VALUESET``, per-element contract
    ``FhirPathRuleEngine.cs:446-478``). Elements are de-duplicated per row
    before the join (A6, ``ReferenceResolver.cs:89-103``) so violation
    volume is bounded by distinct bad values per row."""
    from pyspark.sql.types import ArrayType
    from ..compiler import _field_type, _leaf_column
    col = rule.column
    dim = plan.dims[rule.params["dim"]]
    on = rule.params["on"]
    if on not in dim.columns:
        raise RuleConfigurationError(
            rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
            f"dim has no column {on!r} (have {dim.columns})")
    # dotted struct paths and [*] element paths resolve through the same
    # helpers as the predicate rules (compile already pre-flighted them)
    dtype = _field_type(df.schema, col, rule)
    src = _leaf_column(col)
    if isinstance(dtype, ArrayType):
        # null elements are skipped like the scalar lane skips null
        # values (open-world nulls: Required owns missingness — a null
        # element must not read as CODE_NOT_IN_VALUESET)
        values = (df.select(F.col(plan.config.key_col).alias("_k"),
                            F.col(plan.config.group_col).alias("_g"),
                            F.explode(F.array_distinct(src))
                             .alias("_v"))
                  .where(F.col("_v").isNotNull()))
    else:
        values = (df.where(src.isNotNull())
                  .select(F.col(plan.config.key_col).alias("_k"),
                          F.col(plan.config.group_col).alias("_g"),
                          src.alias("_v")))
    keys = dim.select(F.col(on).alias("_refkey")).dropDuplicates()
    if rule.params.get("broadcast", True):
        keys = F.broadcast(keys)
    bad = values.join(keys, on=F.col("_v") == F.col("_refkey"),
                      how="left_anti")
    return bad.select(
        F.col("_k").cast("string").alias("doc_id"),
        *_viol_cols(rule, stage,
                    rule.error_code or ErrorCode.CODE_NOT_IN_VALUESET),
        F.col("_g").cast("string").alias("source"),
        F.create_map(F.lit("value"), F.col("_v").cast("string"))
         .alias("detail"))


# -------------------------------------- CodeSystem (R6 (system, code) pairs)

def codesystem_plan(df: DataFrame, rule: RuleDefinition, stage: int,
                    plan) -> DataFrame:
    """(system, code) pair validation (``FhirPathRuleEngine.cs:1527-1698``):

    * element system ≠ ``params.system`` ⇒ ``CODESYSTEM_MISMATCH`` with
      {expectedSystem, actualSystem, index} (``.cs:1645-1667``) — the code
      is NOT checked for a foreign system;
    * system matches but code ∉ the CodeSet resolved for that system ⇒
      ``CODE_NOT_IN_VALUESET`` with {system, code, valueSet, index}
      (``.cs:1668-1693``).

    ``column``/``params.systemColumn`` name the aligned code/system values
    — either two scalar columns or two ``a[*].leaf`` element paths over the
    same array (indexes align by construction: both are native
    GetArrayStructFields extractions of one array<struct>). The CodeSet dim
    is optionally filtered by ``params.dimSystemColumn == params.system``,
    mirroring the reference's resolve-CodeSet-by-system-URL, then broadcast
    for the anti-join.

    Null convention (intentional scalar/array asymmetry): a SCALAR row with
    both system and code null means "no coding present" and is skipped —
    there is no element to judge. An ARRAY element with both fields null is
    a present-but-empty coding entry (the author wrote a slot), so it emits
    ``CODESYSTEM_MISMATCH`` (null system ≠ expected), matching the
    reference's null-system handling for materialized elements
    (``.cs:1645-1667``)."""
    from ..compiler import _field_type, _is_element_path, _spark_path
    from pyspark.sql.types import ArrayType
    code_path, sys_path = rule.column, rule.params["systemColumn"]
    expected = rule.params["system"]
    dim = plan.dims[rule.params["dim"]]
    on = rule.params.get("on", "code")
    if on not in dim.columns:
        raise RuleConfigurationError(
            rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
            f"dim has no column {on!r} (have {dim.columns})")
    dim_sys = rule.params.get("dimSystemColumn")
    if dim_sys and dim_sys not in dim.columns:
        raise RuleConfigurationError(
            rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
            f"dim has no column {dim_sys!r} (have {dim.columns})")
    for pth in (code_path, sys_path):
        if pth.count("[*]") > 1:
            raise RuleConfigurationError(
                rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
                f"nested [*] repetition ({pth!r}) is not supported for "
                "CodeSystem — the (system, code) zip aligns one array level")
    code_el, sys_el = _is_element_path(code_path), _is_element_path(sys_path)
    if code_el != sys_el:
        raise RuleConfigurationError(
            rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
            "column and systemColumn must both be scalar or both be "
            "[*] element paths over the same array")
    if code_el:
        # the zip aligns by position — only lawful when both paths
        # traverse the SAME base array (different arrays would zip-pad and
        # pair unrelated elements)
        base_code = code_path.split("[*]")[0]
        base_sys = sys_path.split("[*]")[0]
        if base_code != base_sys:
            raise RuleConfigurationError(
                rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
                f"element paths must traverse the same array: "
                f"{base_code!r} vs {base_sys!r}")
    code_t = _field_type(df.schema, code_path, rule)
    sys_t = _field_type(df.schema, sys_path, rule)
    if isinstance(code_t, ArrayType) != isinstance(sys_t, ArrayType):
        raise RuleConfigurationError(
            rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
            f"column resolves to {code_t.simpleString()} but systemColumn "
            f"to {sys_t.simpleString()} — both must be arrays (aligned) or "
            "both scalars")
    code_c = F.col(_spark_path(code_path))
    sys_c = F.col(_spark_path(sys_path))

    key = F.col(plan.config.key_col).alias("_k")
    grp = F.col(plan.config.group_col).alias("_g")
    length_mismatch = None
    if isinstance(code_t, ArrayType):
        src = df
        if not code_el:
            # two INDEPENDENT parallel arrays: positional alignment is the
            # author's contract — enforce it. Unequal lengths (or exactly
            # one side null) cannot align; arrays_zip would pad the short
            # side with nulls and judge elements that have no counterpart.
            # Such rows emit ONE alignment violation and skip the zip.
            # Element paths over one base array are length-equal by
            # construction and never take this lane.
            aligned = (F.coalesce(F.size(code_c), F.lit(-1))
                       == F.coalesce(F.size(sys_c), F.lit(-1)))
            length_mismatch = (df.where(~aligned)
                               .select(key, grp)
                               .select(
                F.col("_k").cast("string").alias("doc_id"),
                *_viol_cols(rule, stage, ErrorCode.CODESYSTEM_MISMATCH),
                F.col("_g").cast("string").alias("source"),
                F.create_map(
                    F.lit("check"), F.lit("lengthMismatch"),
                    F.lit("expectedSystem"), F.lit(expected))
                 .alias("detail")))
            src = df.where(aligned)
        # aligned element pairs with their index; posexplode keeps the
        # reference's arrayIndex hint (.cs:1622, ExtractArrayIndexFromLocation)
        pairs = (src.select(key, grp, F.posexplode(
                     F.arrays_zip(sys_c.alias("system"),
                                  code_c.alias("code"))).alias("_i", "_p"))
                 .select("_k", "_g", "_i",
                         F.col("_p.system").alias("_sys"),
                         F.col("_p.code").alias("_code")))
    else:
        pairs = (df.where(sys_c.isNotNull() | code_c.isNotNull())
                 .select(key, grp, F.lit(0).alias("_i"),
                         sys_c.alias("_sys"), code_c.alias("_code")))

    base = [F.col("_k").cast("string").alias("doc_id")]
    tail = [F.col("_g").cast("string").alias("source")]
    # null system ≠ expected ⇒ mismatch, matching the reference's C# `!=`
    mismatch = (pairs.where(~F.col("_sys").eqNullSafe(expected))
                .select(*base,
                        *_viol_cols(rule, stage,
                                    ErrorCode.CODESYSTEM_MISMATCH),
                        *tail,
                        F.create_map(
                            F.lit("expectedSystem"), F.lit(expected),
                            F.lit("actualSystem"),
                            F.col("_sys").cast("string"),
                            F.lit("index"), F.col("_i").cast("string"))
                         .alias("detail")))
    codes_dim = dim
    if dim_sys:
        codes_dim = codes_dim.where(F.col(dim_sys) == expected)
    keys = codes_dim.select(F.col(on).alias("_refkey")).dropDuplicates()
    if rule.params.get("broadcast", True):
        keys = F.broadcast(keys)
    # a NULL code on the expected system IS flagged — the reference's
    # validCodes.Contains(coding.Code) is false for null
    # (FhirPathRuleEngine.cs:1669-1675, detail code ?? "")
    not_in_set = (pairs.where(F.col("_sys").eqNullSafe(expected))
                  .join(keys, on=F.col("_code") == F.col("_refkey"),
                        how="left_anti")
                  .select(*base,
                          *_viol_cols(rule, stage,
                                      ErrorCode.CODE_NOT_IN_VALUESET),
                          *tail,
                          F.create_map(
                              F.lit("system"), F.lit(expected),
                              F.lit("code"), F.col("_code").cast("string"),
                              F.lit("valueSet"),
                              F.lit(rule.params.get("dim")),
                              F.lit("index"), F.col("_i").cast("string"))
                           .alias("detail")))
    out = mismatch.unionByName(not_in_set)
    if length_mismatch is not None:
        out = out.unionByName(length_mismatch)
    return out


# ------------------------------------------- CodeMaster (J4/J5 constraint dim)

def codemaster_plan(df: DataFrame, rule: RuleDefinition, stage: int,
                    plan) -> DataFrame:
    """Two-level constraint-dim validation (``RuleEngines/CodeMasterEngine.cs``):
    broadcast-join rows to a constraint dim on a key column, then

    * key missing from the dim ⇒ ``INVALID_QUESTION_CODE``
      (``CodeMasterEngine.cs:12-143``),
    * ``multiValue`` false and >1 value ⇒ ``MULTIPLE_VALUES_NOT_ALLOWED``
      (``CodeMasterEngine.cs:145-234``),
    * per-element: value ∉ the dim row's allowed list ⇒
      ``INVALID_ANSWER_VALUE`` — ``array_except`` against the joined allowed
      array, one violation per offending element.

    Two-level mode (``params.screeningColumn`` + ``params.dimScreening``
    naming the dim's screening column) mirrors the reference's full
    dispatch (``CodeMasterEngine.cs:22-143``):

    * row's screening value NULL ⇒ skipped entirely (``GetScreeningType``
      null ⇒ continue),
    * screening ∉ dim's screening set ⇒ ``UNKNOWN_SCREENING_TYPE`` (one per
      row, components unchecked),
    * screening known, key column NULL ⇒ ``MISSING_QUESTION_CODE``,
    * (screening, key) pair unknown ⇒ ``INVALID_QUESTION_CODE`` with
      {questionCode, screeningType}.

    Dim schema: (dimKey, allowedColumn array, [multiValueColumn bool,
    dimScreening]).
    """
    from pyspark.sql.types import ArrayType
    val_col, key_col = rule.column, rule.params["keyColumn"]
    dim = plan.dims[rule.params["dim"]]
    dim_key, allowed_col = rule.params["dimKey"], rule.params["allowedColumn"]
    multi_col = rule.params.get("multiValueColumn")
    screening_col = rule.params.get("screeningColumn")
    dim_screening = rule.params.get("dimScreening")
    if bool(screening_col) != bool(dim_screening):
        raise RuleConfigurationError(
            rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
            "screeningColumn and dimScreening come together: a two-level "
            "dim without the row-side screening binding (or vice versa) "
            "would validate answers against an arbitrary screening's row")
    check_cols = [(dim_key, "dim"), (allowed_col, "dim")]
    if dim_screening:
        check_cols.append((dim_screening, "dim"))
    for c, where in check_cols:
        if c not in dim.columns:
            raise RuleConfigurationError(
                rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
                f"{where} has no column {c!r} (have {dim.columns})")
    from ..compiler import _field_type as _ft_exec
    is_array = isinstance(_ft_exec(df.schema, val_col, rule), ArrayType)

    base = [F.col("_k").cast("string").alias("doc_id")]
    tail = [F.col("_g").cast("string").alias("source")]
    dim_sel = [F.col(dim_key).alias("_dkey"),
               F.col(allowed_col).alias("_allowed"),
               (F.col(multi_col) if multi_col else F.lit(True))
               .alias("_multi")]

    sel = [F.col(plan.config.key_col).alias("_k"),
           F.col(plan.config.group_col).alias("_g"),
           F.col(key_col).alias("_qkey"),
           (F.col(val_col) if is_array
            else F.array(F.col(val_col))).alias("_vals")]
    if screening_col:
        # rows with null screening are skipped (GetScreeningType → continue)
        rows = df.where(F.col(screening_col).isNotNull())
        sel.append(F.col(screening_col).alias("_scr"))
        dim_sel.append(F.col(dim_screening).alias("_dscr"))
        dedup_keys = ["_dkey", "_dscr"]
        join_cond = ((F.col("_qkey") == F.col("_dkey"))
                     & (F.col("_scr") == F.col("_dscr")))
    else:
        # single-level: null question keys are simply skipped
        rows = df.where(F.col(key_col).isNotNull())
        dedup_keys = ["_dkey"]
        join_cond = F.col("_qkey") == F.col("_dkey")

    joined = rows.select(*sel)
    if screening_col:
        # screening-set membership rides the same pass as the dim join:
        # one chained broadcast left join, no separate anti/semi scans
        known_s = (dim.select(F.col(dim_screening).alias("_s"))
                   .dropDuplicates())
        joined = joined.join(F.broadcast(known_s),
                             on=F.col("_scr") == F.col("_s"), how="left")
        screening_known = F.col("_s").isNotNull()
    else:
        screening_known = F.lit(True)
    joined = joined.join(
        F.broadcast(dim.select(*dim_sel).dropDuplicates(dedup_keys)),
        on=join_cond, how="left")

    # fused per-row lanes (the predicate-pass pattern): conditions build
    # (code, detail) structs, array_compact + explode emits the fired ones
    # — ONE pass over the input serves every scalar error code
    def _lane(cond, code, detail):
        return F.when(cond, F.struct(
            F.lit(code).alias("code"),
            detail.cast("map<string,string>").alias("detail")))

    unknown_detail = [F.lit("key"), F.col("_qkey").cast("string")]
    if screening_col:
        unknown_detail += [F.lit("screeningType"),
                           F.col("_scr").cast("string")]
    lanes = []
    if screening_col:
        lanes.append(_lane(
            ~screening_known, "UNKNOWN_SCREENING_TYPE",
            F.create_map(F.lit("screeningType"),
                         F.col("_scr").cast("string"))))
        lanes.append(_lane(
            screening_known & F.col("_qkey").isNull(),
            "MISSING_QUESTION_CODE",
            F.create_map().cast("map<string,string>")))
    lanes.append(_lane(
        screening_known & F.col("_qkey").isNotNull()
        & F.col("_dkey").isNull(),
        ErrorCode.INVALID_QUESTION_CODE, F.create_map(*unknown_detail)))
    # the reference extracts only non-empty answer values
    # (CodeMasterEngine.cs:155-180 IsNullOrEmpty guards) — null/empty
    # elements are neither counted for multiplicity nor flagged as
    # invalid. Multiplicity counts DUPLICATES (answerValues is a list);
    # only the invalid-value lane dedups per row (A6).
    from pyspark.sql.types import StringType
    _vt = _ft_exec(df.schema, val_col, rule)
    leaf = _vt.elementType if is_array else _vt
    vals_nonempty = F.array_compact(F.col("_vals"))
    if isinstance(leaf, StringType):
        vals_nonempty = F.array_remove(vals_nonempty, "")
    vals_clean = F.array_distinct(vals_nonempty)
    lanes.append(_lane(
        F.col("_dkey").isNotNull() & ~F.col("_multi")
        & (F.size(vals_nonempty) > 1),
        ErrorCode.MULTIPLE_VALUES_NOT_ALLOWED,
        F.create_map(F.lit("key"), F.col("_qkey").cast("string"),
                     F.lit("count"), F.size(vals_nonempty).cast("string"))))
    scalar = (joined
              .select("_k", "_g",
                      F.explode(F.array_compact(F.array(*lanes)))
                       .alias("_v"))
              .select(*base,
                      F.lit(rule.id).alias("rule_id"),
                      F.lit(rule.type).alias("rule_type"),
                      F.col("_v.code").alias("error_code"),
                      F.lit(rule.severity).alias("severity"),
                      F.lit(rule.column or "").alias("column"),
                      F.lit(stage).alias("stage"),
                      *tail,
                      F.col("_v.detail").alias("detail")))

    # per-element answer lane keeps its own explode (A6 distinct first)
    bad_vals = (joined.where(F.col("_dkey").isNotNull())
                .select(*base[:1], F.col("_g"), F.col("_qkey"),
                        F.explode(F.array_except(vals_clean, "_allowed"))
                         .alias("_bad")))
    invalid = bad_vals.select(
        F.col("doc_id"),
        *_viol_cols(rule, stage, ErrorCode.INVALID_ANSWER_VALUE),
        F.col("_g").cast("string").alias("source"),
        F.create_map(F.lit("key"), F.col("_qkey").cast("string"),
                     F.lit("value"), F.col("_bad").cast("string"))
         .alias("detail"))
    return scalar.unionByName(invalid)


# ------------------------------------------- RequiredResources (A1 cardinality)

def _requirement_aggs(group_col: str, reqs: list[dict[str, Any]],
                      rule: RuleDefinition | None = None):
    """The A1/A2/A3 aggregation core: the grouping key and aggregates of
    ONE conditional hash-aggregation pass reducing the input to a row per
    group — ``_total`` plus a ``count(when(where, 1))`` per requirement
    (map-side combine; shuffle = O(groups)). Shared by
    :func:`required_resources_plan` and the public
    :func:`group_cardinality_counts`."""
    aggs = [F.count(F.lit(1)).alias("_total")]
    for i, req in enumerate(reqs):
        cond = F.lit(True)
        for w in req.get("where", []):
            cond = cond & _where_predicate(rule, w)
        aggs.append(F.count(F.when(cond, 1)).alias(f"_req_{i}"))
    return F.col(group_col).cast("string").alias("_grp"), aggs


def group_cardinality_counts(df: DataFrame, group_col: str,
                             requirements: list[dict[str, Any]]) -> DataFrame:
    """Public per-requirement observability for RequiredResources (A1–A3):
    one row per declared requirement with its observed count and pass flag —
    ``(source, actual, expected_min, expected_max, passed)``.

    Same dataflow as :func:`required_resources_plan` (shared
    :func:`_requirement_aggs` stage + single-row rollup, fully lazy); this
    is the dashboard/contract-query face of the rule, where the plan emits
    the consolidated 0-or-1-row violation."""
    key, aggs = _requirement_aggs(group_col, requirements)
    counts = df.groupBy(key).agg(*aggs)
    roll = []
    for i, req in enumerate(requirements):
        roll.append(F.coalesce(
            F.max(F.when(F.col("_grp") == req["source"],
                         F.col(f"_req_{i}"))),
            F.lit(0)).alias(f"_n_{i}"))
    rolled = counts.agg(*roll)
    entries = []
    for i, req in enumerate(requirements):
        n = F.col(f"_n_{i}")
        lo, hi, exact = req["min"], req.get("max"), req.get("exact", False)
        ok = n >= F.lit(lo)
        if exact:
            ok = ok & (n == F.lit(lo))
        if hi is not None:
            ok = ok & (n <= F.lit(hi))
        entries.append(F.struct(
            F.lit(req["source"]).alias("source"),
            n.alias("actual"),
            F.lit(lo).cast("long").alias("expected_min"),
            F.lit(hi).cast("long").alias("expected_max"),
            ok.alias("passed")))
    return rolled.select(F.inline(F.array(*entries)))


def required_resources_plan(df: DataFrame, rule: RuleDefinition, stage: int,
                            plan) -> DataFrame:
    """Group-cardinality, closed world (``FhirPathRuleEngine.cs:1794-2152``).

    Fully lazy dataflow (no driver-side collect — an eager barrier here
    serializes the whole validate): one conditional hash-aggregation pass
    reduces the input to a row per group (per-requirement
    ``count(when(where, 1))`` + totals), a second single-row rollup compares
    against the declared requirements and assembles the reference's
    consolidated ``{expected, actual, missing, outOfRange, unexpected}``
    detail with Catalyst JSON/array functions. Violation volume: 0 or 1 rows.
    The expressions are built once per compiled plan (``plan.memo``).
    """
    key, aggs, roll, bad, out = plan.memo(
        ("plans.RequiredResources", rule.id),
        lambda: _required_resources_columns(rule, stage, plan))
    return df.groupBy(key).agg(*aggs).agg(*roll).where(bad).select(*out)


def _required_resources_columns(rule: RuleDefinition, stage: int, plan):
    """(group key, per-group aggregates, rollup, violation filter, output
    select) of :func:`required_resources_plan`."""
    reqs: list[dict[str, Any]] = rule.params["requirements"]
    key, aggs = _requirement_aggs(plan.config.group_col, reqs, rule)

    declared = sorted({r["source"] for r in reqs})
    # single-row rollup: per-requirement observed count + observed-group map
    roll = []
    for i, req in enumerate(reqs):
        roll.append(F.coalesce(
            F.max(F.when(F.col("_grp") == req["source"], F.col(f"_req_{i}"))),
            F.lit(0)).alias(f"_n_{i}"))
    roll.append(F.to_json(F.map_from_entries(F.sort_array(F.collect_list(
        F.when(F.col("_grp").isNotNull(),
               F.struct(F.col("_grp"), F.col("_total"))))))).alias("_actual"))
    roll.append(F.sort_array(F.collect_list(
        F.when(F.col("_grp").isNotNull() & ~F.col("_grp").isin(declared),
               F.col("_grp")))).alias("_unexpected"))

    missing_e, oor_e = [], []
    for i, req in enumerate(reqs):
        n = F.col(f"_n_{i}")
        lo, hi, exact = req["min"], req.get("max"), req.get("exact", False)
        # struct fields alphabetical so to_json matches json.dumps(sort_keys)
        entry = F.struct(n.alias("actual"),
                         F.lit(hi).cast("long").alias("expected_max"),
                         F.lit(lo).cast("long").alias("expected_min"),
                         F.lit(req["source"]).alias("source"))
        missing_e.append(F.when(n < lo, entry))
        oor_cond = F.lit(False)
        if exact:
            oor_cond = oor_cond | (n != lo)
        if hi is not None:
            oor_cond = oor_cond | (n > hi)
        oor_e.append(F.when((n >= lo) & oor_cond, entry))
    missing = F.array_compact(F.array(*missing_e))
    oor = F.array_compact(F.array(*oor_e))
    unexpected = (F.col("_unexpected") if rule.params.get("rejectUndeclared")
                  else F.array().cast("array<string>"))
    bad = (F.size(missing) > 0) | (F.size(oor) > 0) | (F.size(unexpected) > 0)

    json_opts = {"ignoreNullFields": "false"}
    detail = F.create_map(
        F.lit("expected"), F.lit(json.dumps(reqs, sort_keys=True)),
        F.lit("actual"), F.col("_actual"),
        F.lit("missing"), F.to_json(missing, json_opts),
        F.lit("outOfRange"), F.to_json(oor, json_opts),
        F.lit("unexpected"), F.to_json(unexpected),
    )
    out = [F.lit(None).cast("string").alias("doc_id"),
           *_viol_cols(rule, stage,
                       rule.error_code
                       or ErrorCode.RESOURCE_REQUIREMENT_VIOLATION),
           F.lit(None).cast("string").alias("source"),
           detail.alias("detail")]
    return key, aggs, roll, bad, out


def _where_predicate(rule: RuleDefinition | None, w: dict[str, Any]):
    """Requirement where-filter ops ``= != contains in``
    (``FhirPathRuleEngine.cs:1888-1923``). ``rule=None`` for the ad-hoc
    :func:`group_cardinality_counts` entry point."""
    rid = rule.id if rule is not None else "<adhoc>"
    col, op, val = w.get("column"), w.get("op", "="), w.get("value")
    if not col:
        raise RuleConfigurationError(
            rid, ErrorCode.RULE_CONFIGURATION_ERROR,
            "where-filter needs 'column'")
    c = F.col(col)
    if op == "=":
        return c == F.lit(val)
    if op == "!=":
        return c != F.lit(val)
    if op == "contains":
        return c.contains(val)
    if op == "in":
        return c.isin(val if isinstance(val, list) else [val])
    raise RuleConfigurationError(
        rid, ErrorCode.RULE_CONFIGURATION_ERROR,
        f"unknown where op {op!r} (expected = != contains in)")


# ------------------------------------------- Expectation (dataset-level stats)

# metric → (needs a column, requires numeric column type)
_EXPECTATION_METRICS: dict[str, tuple[bool, bool]] = {
    "row_count": (False, False),
    "null_count": (True, False),
    "null_fraction": (True, False),
    "distinct_count": (True, False),
    "approx_distinct_count": (True, False),
    "min": (True, True),
    "max": (True, True),
    "mean": (True, True),
    "stddev": (True, True),
    "sum": (True, True),
}


def _validate_expectation_checks(rule: RuleDefinition, checks: Any,
                                 schema) -> None:
    """Pre-flight totality for Expectation rules: every malformed check is
    a compile-time RuleConfigurationError, never a failed job."""
    from pyspark.sql.types import NumericType

    from ..compiler import _field_type
    if not isinstance(checks, list) or not checks:
        raise RuleConfigurationError(
            rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
            "Expectation needs non-empty params.checks")
    for c in checks:
        metric = c.get("metric")
        if metric not in _EXPECTATION_METRICS:
            raise RuleConfigurationError(
                rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
                f"unknown expectation metric {metric!r} "
                f"(expected one of {sorted(_EXPECTATION_METRICS)})")
        needs_col, needs_numeric = _EXPECTATION_METRICS[metric]
        if needs_col:
            col = c.get("column")
            if not col:
                raise RuleConfigurationError(
                    rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
                    f"expectation metric {metric!r} needs 'column'")
            ftype = _field_type(schema, col, rule)
            if needs_numeric and not isinstance(ftype, NumericType):
                raise RuleConfigurationError(
                    rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
                    f"expectation metric {metric!r} needs a numeric "
                    f"column; {col!r} is {ftype.simpleString()}")
        if c.get("min") is None and c.get("max") is None:
            raise RuleConfigurationError(
                rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
                f"expectation check on {metric!r} needs 'min' and/or 'max'")
        for bound in ("min", "max"):
            if c.get(bound) is not None:
                try:
                    float(c[bound])
                except (TypeError, ValueError) as exc:
                    raise RuleConfigurationError(
                        rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
                        f"expectation {bound} must be numeric: {exc}") from exc


def _expectation_rollup(df: DataFrame,
                        checks: list[dict[str, Any]]) -> DataFrame:
    """ONE hash-aggregation pass reducing the input to a single row of
    observed metric values (double ``_obs_i`` per check), deduplicated
    across checks sharing a (metric, column) pair. All aggregates are
    map-side combined; exact ``distinct_count`` over k distinct columns
    plans an Expand (input ×(k+1)) — prefer ``approx_distinct_count``
    (HLL, mergeable, no Expand) at corpus scale."""
    aggs: dict[str, Any] = {"row_count:": F.count(F.lit(1)).cast("double")}
    for c in checks:
        metric, col = c["metric"], c.get("column")
        key = f"{metric}:{col or ''}"
        if key in aggs:
            continue
        if metric == "null_count":
            aggs[key] = F.count(F.when(F.col(col).isNull(),
                                       1)).cast("double")
        elif metric == "null_fraction":
            nulls = F.count(F.when(F.col(col).isNull(), 1))
            total = F.count(F.lit(1))
            # 0 rows → null observed (fails closed-world), never 0/0
            aggs[key] = F.when(total > 0, nulls / total).cast("double")
        elif metric == "distinct_count":
            aggs[key] = F.count_distinct(F.col(col)).cast("double")
        elif metric == "approx_distinct_count":
            aggs[key] = F.approx_count_distinct(F.col(col)).cast("double")
        elif metric == "min":
            aggs[key] = F.min(F.col(col)).cast("double")
        elif metric == "max":
            aggs[key] = F.max(F.col(col)).cast("double")
        elif metric == "mean":
            aggs[key] = F.avg(F.col(col)).cast("double")
        elif metric == "stddev":
            aggs[key] = F.stddev(F.col(col)).cast("double")
        elif metric == "sum":
            aggs[key] = F.sum(F.col(col)).cast("double")
    keyed = {k: v.alias(f"_m{i}") for i, (k, v) in enumerate(aggs.items())}
    rolled = df.agg(*keyed.values())
    name = {k: f"_m{i}" for i, k in enumerate(keyed)}
    entries = []
    for i, c in enumerate(checks):
        metric, col = c["metric"], c.get("column")
        obs = F.col(name[f"{metric}:{col or ''}"])
        lo = (F.lit(float(c["min"])) if c.get("min") is not None
              else F.lit(None).cast("double"))
        hi = (F.lit(float(c["max"])) if c.get("max") is not None
              else F.lit(None).cast("double"))
        # null observed (empty input, stddev of <2 rows, …) FAILS —
        # closed world, same convention as RequiredResources
        ok = (obs.isNotNull()
              & (lo.isNull() | (obs >= lo)) & (hi.isNull() | (obs <= hi)))
        entries.append(F.struct(
            F.lit(metric).alias("metric"),
            F.lit(col).cast("string").alias("column"),
            obs.alias("observed"),
            lo.alias("expected_min"),
            hi.alias("expected_max"),
            ok.alias("passed")))
    return rolled.select(F.array(*entries).alias("_checks"))


def expectation_report(df: DataFrame,
                       checks: list[dict[str, Any]]) -> DataFrame:
    """Public observability face of the Expectation rule (Deequ /
    Great-Expectations-style dataset constraints re-expressed as one
    Catalyst aggregation): one row per declared check —
    ``(metric, column, observed, expected_min, expected_max, passed)``.

    Checks are ``{"metric": ..., "column": ..., "min": ..., "max": ...}``
    with metrics ``row_count · null_count · null_fraction · distinct_count
    · approx_distinct_count · min · max · mean · stddev · sum`` (sample
    stddev; at least one bound required). Same dataflow as
    :func:`expectation_plan` — one map-side-combined aggregation pass over
    the scan, a single-row rollup, O(checks) output."""
    rule = RuleDefinition(id="<adhoc>", type="Expectation")
    _validate_expectation_checks(rule, checks, df.schema)
    return _expectation_rollup(df, checks).select(F.inline("_checks"))


def expectation_plan(df: DataFrame, rule: RuleDefinition, stage: int,
                     plan) -> DataFrame:
    """Dataset-level statistical expectations as a rule: violation volume
    is 0 or 1 rows — a consolidated entry listing every failed check with
    its observed value, mirroring the RequiredResources detail shape.
    ``source`` scopes the pass to one group value (``"*"`` = whole
    dataset)."""
    checks: list[dict[str, Any]] = rule.params["checks"]
    scoped = df
    if rule.source != "*":
        scoped = df.where(
            F.col(plan.config.group_col).cast("string") == rule.source)
    rolled = _expectation_rollup(scoped, checks)
    failed = F.filter("_checks", lambda c: ~c["passed"])
    json_opts = {"ignoreNullFields": "false"}
    detail = F.create_map(
        F.lit("checks"), F.lit(json.dumps(checks, sort_keys=True)),
        F.lit("failed"), F.to_json(failed, json_opts),
        F.lit("observed"), F.to_json(F.col("_checks"), json_opts),
    )
    return (rolled.where(F.size(failed) > 0)
            .select(F.lit(None).cast("string").alias("doc_id"),
                    *_viol_cols(rule, stage,
                                rule.error_code
                                or ErrorCode.EXPECTATION_VIOLATION),
                    F.lit(None if rule.source == "*" else rule.source)
                     .cast("string").alias("source"),
                    detail.alias("detail")))


# ------------------------------------- AggConsistency (cross-table rollup) --

_AGG_FNS = ("sum", "count", "min", "max", "avg")


def _validate_agg_consistency(rule: RuleDefinition, schema) -> None:
    """Compile-time pre-flight (total: any malformed param raises here)."""
    from ..compiler import _field_type
    from pyspark.sql.types import NumericType
    rule.require_column()
    ptype = _field_type(schema, rule.column, rule)
    if not isinstance(ptype, NumericType):
        raise RuleConfigurationError(
            rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
            f"AggConsistency parent column {rule.column!r} is "
            f"{ptype.simpleString()}, not numeric")
    rule.require_param("on")
    _field_type(schema, rule.params["on"], rule)
    rule.require_param("dimKey")
    agg = rule.params.get("agg", "sum")
    if agg not in _AGG_FNS:
        raise RuleConfigurationError(
            rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
            f"unknown agg {agg!r} (expected one of {_AGG_FNS})")
    if agg != "count":
        rule.require_param("valueColumn")
    for p in ("tolerance", "relTolerance"):
        v = rule.params.get(p, 0)
        try:
            if float(v) < 0:
                raise ValueError("must be >= 0")
        except (TypeError, ValueError) as exc:
            raise RuleConfigurationError(
                rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
                f"params.{p} must be a non-negative number: {exc}") from exc


def agg_consistency_plan(df: DataFrame, rule: RuleDefinition, stage: int,
                         plan) -> DataFrame:
    """Cross-table aggregate reconciliation: for every parent row,
    ``agg(child.valueColumn)`` over the child rows sharing its key must
    match the parent's stored rollup column within tolerance — the
    denormalized-total / event-count / balance consistency check a star
    schema needs (no reference analog; the closest is the resource-count
    closed world of ``FhirPathRuleEngine.cs:1794-2152`` generalized to
    value aggregation).

    100-TB plan shape: ONE map-side-combined hash aggregation reduces the
    child table to |distinct child keys| rows, then ONE equi-join back to
    the parent. The parent side shuffles at most once (not at all when
    both tables are bucketed by the key — grouping is on the RAW child
    key, casts happen after the reduce); ``params.broadcast`` broadcasts
    the reduced child when the parent domain is small. Violation volume is
    bounded by bad parents.

    Tolerance: ``max(tolerance, relTolerance × |expected|)`` — absolute
    floor plus relative band, both default 0 (exact). A parent key with NO
    child rows is skipped unless ``requireChildren`` (then it violates on
    the ``noChildren`` lane); ``agg='count'`` never misses (empty = 0).
    A null parent value with children present can never reconcile →
    ``mismatch`` lane with actual null.
    """
    cfg = plan.config
    child = plan.dims[rule.params["dim"]]
    child_key = rule.params["dimKey"]
    for c in [child_key] + ([rule.params["valueColumn"]]
                            if rule.params.get("agg", "sum") != "count"
                            else []):
        if c not in child.columns:
            raise RuleConfigurationError(
                rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
                f"dim has no column {c!r} (have {child.columns})")
    on = rule.params["on"]
    agg = rule.params.get("agg", "sum")
    val = rule.params.get("valueColumn")
    tol_abs = float(rule.params.get("tolerance", 0))
    tol_rel = float(rule.params.get("relTolerance", 0))
    require_children = bool(rule.params.get("requireChildren", False))

    scoped = df
    if rule.source != "*":
        scoped = df.where(
            F.col(cfg.group_col).cast("string") == rule.source)

    if agg == "count":
        agg_expr = F.count(F.lit(1)).cast("double")
    else:
        agg_expr = getattr(F, agg)(F.col(val).cast("double"))
    agged = (child.groupBy(F.col(child_key).alias("_ck"))
                  .agg(agg_expr.alias("_exp"),
                       F.count(F.lit(1)).alias("_n")))
    if rule.params.get("broadcast", False):
        agged = F.broadcast(agged)
    joined = scoped.join(agged, on=F.col(on) == F.col("_ck"), how="left")

    no_children = F.col("_ck").isNull()
    if agg == "count":
        expected = F.coalesce(F.col("_exp"), F.lit(0.0))
        no_children = F.lit(False)
    else:
        expected = F.col("_exp")
    actual = F.col(rule.column).cast("double")
    tol = F.greatest(F.lit(tol_abs), F.lit(tol_rel) * F.abs(expected))
    # expected.isNull(): children exist but the aggregate is NULL (every
    # child value null) — nothing reconciles against that, same as a null
    # parent; without the explicit term the comparison yields NULL and
    # where() silently PASSES the row
    mismatch = ~no_children & (actual.isNull()
                               | expected.isNull()
                               | (F.abs(actual - expected) > tol))
    cond = mismatch | (no_children & F.lit(require_children))
    lane = F.when(no_children, F.lit("noChildren")).otherwise(F.lit("mismatch"))
    detail = _smap_plan(
        ("check", lane), ("agg", agg), ("on", on),
        ("expected", F.round(expected, 6)), ("actual", F.round(actual, 6)),
        ("nChildren", F.coalesce(F.col("_n"), F.lit(0))))
    return joined.where(cond).select(
        F.col(cfg.key_col).cast("string").alias("doc_id"),
        *_viol_cols(rule, stage,
                    rule.error_code or ErrorCode.AGGREGATE_MISMATCH),
        F.col(cfg.group_col).cast("string").alias("source"),
        detail.alias("detail"))


def _smap_plan(*pairs):
    """String-ify a detail map (plan-side twin of compiler._smap)."""
    entries = []
    for k, v in pairs:
        entries.append(F.lit(k))
        entries.append(v.cast("string") if hasattr(v, "cast")
                       else F.lit(str(v)))
    return F.create_map(*entries)


# --------------------------------------------- GroupShare (mix balance) ----

def _validate_group_share(rule: RuleDefinition, schema) -> None:
    from ..compiler import _field_type
    rule.require_column()
    _field_type(schema, rule.column, rule)
    shares = rule.params.get("shares") or {}
    if not isinstance(shares, dict):
        raise RuleConfigurationError(
            rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
            "params.shares must be a {group: {min?, max?}} mapping")
    bounds = list(shares.items()) + [
        ("<default>", {"min": rule.params.get("defaultMin"),
                       "max": rule.params.get("defaultMax")})]
    any_bound = False
    for g, b in bounds:
        if not isinstance(b, dict):
            raise RuleConfigurationError(
                rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
                f"shares[{g!r}] must be a dict with min/max")
        for nm in ("min", "max"):
            v = b.get(nm)
            if v is None:
                continue
            any_bound = True
            try:
                v = float(v)
            except (TypeError, ValueError) as exc:
                raise RuleConfigurationError(
                    rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
                    f"shares[{g!r}].{nm} must be numeric: {exc}") from exc
            if not 0.0 <= v <= 1.0:
                raise RuleConfigurationError(
                    rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
                    f"shares[{g!r}].{nm} must be a fraction in [0, 1]")
    if not any_bound:
        raise RuleConfigurationError(
            rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
            "GroupShare needs at least one min/max bound "
            "(params.shares / defaultMin / defaultMax)")


def group_share_plan(df: DataFrame, rule: RuleDefinition, stage: int,
                     plan) -> DataFrame:
    """Mix-balance validation: every group's row share must sit inside its
    declared [min, max] band — the acceptance gate for a mixed training
    corpus (the validation twin of ``pipeline/selection.domain_mix``).
    Declared groups with ZERO rows still fail their min bound (closed
    world, like RequiredResources); undeclared groups are judged by
    ``defaultMin``/``defaultMax`` when given, else unconstrained.

    100-TB shape: ONE map-side-combined count aggregation reduces the
    input to |groups| rows; the total, the declared-bounds join (a
    literal |declared|-row frame) and the band checks all run on that
    reduced frame — no second pass over the data, no window over a single
    partition. Violation volume ≤ |groups| + |declared|.
    """
    cfg = plan.config
    scoped = df
    if rule.source != "*":
        scoped = df.where(
            F.col(cfg.group_col).cast("string") == rule.source)
    shares: dict = rule.params.get("shares") or {}
    d_min = rule.params.get("defaultMin")
    d_max = rule.params.get("defaultMax")
    min_rows = int(rule.params.get("minRows", 0))

    counts = (scoped.groupBy(F.col(rule.column).cast("string").alias("_g"))
                    .agg(F.count(F.lit(1)).alias("_n")))
    decl = local_frame(
        df.sparkSession,
        [(str(g), (None if b.get("min") is None else float(b["min"])),
          (None if b.get("max") is None else float(b["max"])))
         for g, b in shares.items()],
        "_dg string, _min double, _max double")
    # declared ∪ observed on the reduced frame; the total rides in as a
    # broadcast single-row cross join (computed FROM the counts — no
    # second scan of the input)
    total = counts.agg(F.sum("_n").alias("_tot"))
    merged = (counts.join(decl, on=F.col("_g") == F.col("_dg"), how="full")
                    .crossJoin(F.broadcast(total)))
    grp = F.coalesce(F.col("_g"), F.col("_dg"))
    n = F.coalesce(F.col("_n"), F.lit(0))
    tot = F.coalesce(F.col("_tot"), F.lit(0))
    share = F.when(tot > 0, n.cast("double") / tot).otherwise(F.lit(0.0))
    declared = F.col("_dg").isNotNull()
    lo = F.when(declared, F.col("_min")).otherwise(
        F.lit(None if d_min is None else float(d_min)).cast("double"))
    hi = F.when(declared, F.col("_max")).otherwise(
        F.lit(None if d_max is None else float(d_max)).cast("double"))
    too_low = lo.isNotNull() & (share < lo)
    too_high = hi.isNotNull() & (share > hi)
    detail = _smap_plan(
        ("check", F.when(too_low, F.lit("belowMin"))
                   .otherwise(F.lit("aboveMax"))),
        ("group", grp), ("n", n), ("total", tot),
        ("share", F.round(share, 6)), ("min", lo), ("max", hi))
    return (merged.where((too_low | too_high) & (tot >= min_rows))
            .select(grp.alias("doc_id"),
                    *_viol_cols(rule, stage,
                                rule.error_code
                                or ErrorCode.GROUP_SHARE_VIOLATION),
                    F.lit(None if rule.source == "*" else rule.source)
                     .cast("string").alias("source"),
                    detail.alias("detail")))


# ---------------------------------- DistinctBand (cardinality bands) ------

def _validate_distinct_band(rule: RuleDefinition, schema) -> None:
    from ..compiler import _field_type
    rule.require_column()
    _field_type(schema, rule.column, rule)
    by = rule.params.get("by")
    if by is not None:
        _field_type(schema, by, rule)
    bands = rule.params.get("bands") or {}
    if not isinstance(bands, dict):
        raise RuleConfigurationError(
            rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
            "params.bands must be a {group: {min?, max?}} mapping")
    if bands and by is None:
        raise RuleConfigurationError(
            rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
            "params.bands needs params.by (the grouping column)")
    any_bound = False
    checks = list(bands.items()) + [
        ("<default>", {"min": rule.params.get("min"),
                       "max": rule.params.get("max")})]
    for g, b in checks:
        if not isinstance(b, dict):
            raise RuleConfigurationError(
                rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
                f"bands[{g!r}] must be a dict with min/max")
        for nm in ("min", "max"):
            v = b.get(nm)
            if v is None:
                continue
            any_bound = True
            if isinstance(v, bool) or not isinstance(v, int) or v < 0:
                raise RuleConfigurationError(
                    rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
                    f"bands[{g!r}].{nm} must be an integer >= 0 "
                    f"(got {v!r})")
    if not any_bound:
        raise RuleConfigurationError(
            rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
            "DistinctBand needs at least one min/max bound "
            "(params.min / params.max / params.bands)")
    rsd = rule.params.get("approxRsd")
    if rsd is not None:
        try:
            ok = 0.0 < float(rsd) < 1.0
        except (TypeError, ValueError):
            ok = False
        if not ok:
            raise RuleConfigurationError(
                rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
                f"params.approxRsd must be a fraction in (0, 1) "
                f"(got {rsd!r})")


def distinct_band_plan(df: DataFrame, rule: RuleDefinition, stage: int,
                       plan) -> DataFrame:
    """Cardinality validation: the count of distinct non-null values of
    ``column`` — dataset-wide or per ``params.by`` group — must sit
    inside its declared [min, max] band. The coverage twin of GroupShare:
    shares bound how MUCH each group contributes, DistinctBand bounds how
    VARIED a column is ("every source ships ≥ 1000 distinct docs", "the
    label column stays ≤ 10 classes", "enum drift adds no new values").
    Declared bands are closed-world: a banded group with zero rows counts
    0 distinct and fails its min. ``params.min``/``params.max`` judge
    every group not named in ``bands`` (and the ``<dataset>`` row when
    ``by`` is absent).

    100-TB shape: exact ``count(distinct)`` is Spark's two-phase
    partial-distinct aggregate — the per-partition distinct set bounds
    shuffle width at (groups × distinct values), the same shape as
    FunctionalDependency. For truly unbounded columns set
    ``params.approxRsd``: ``approx_count_distinct`` ships a constant-size
    HLL sketch per group instead (mergeable, one map-side-combined pass)
    at the documented relative error. All band logic runs on the
    |groups|-row reduced frame. No reference analog (the reference
    validates per-resource payloads); dataset-quality surface.
    """
    cfg = plan.config
    scoped = df
    if rule.source != "*":
        scoped = df.where(
            F.col(cfg.group_col).cast("string") == rule.source)
    by = rule.params.get("by")
    bands: dict = rule.params.get("bands") or {}
    d_min = rule.params.get("min")
    d_max = rule.params.get("max")
    rsd = rule.params.get("approxRsd")
    cnt = (F.approx_count_distinct(rule.column, float(rsd)) if rsd
           else F.count_distinct(F.col(rule.column)))
    if by is not None:
        counts = (scoped.groupBy(F.col(by).cast("string").alias("_g"))
                        .agg(cnt.alias("_d")))
    else:
        counts = scoped.agg(cnt.alias("_d")).select(
            F.lit("<dataset>").alias("_g"), "_d")
    decl = local_frame(
        df.sparkSession,
        [(str(g), (None if b.get("min") is None else int(b["min"])),
          (None if b.get("max") is None else int(b["max"])))
         for g, b in bands.items()],
        "_dg string, _min long, _max long")
    merged = counts.join(decl, on=F.col("_g") == F.col("_dg"), how="full")
    grp = F.coalesce(F.col("_g"), F.col("_dg"))
    d = F.coalesce(F.col("_d"), F.lit(0))  # declared-but-absent: 0 distinct
    declared = F.col("_dg").isNotNull()
    lo = F.when(declared, F.col("_min")).otherwise(
        F.lit(None if d_min is None else int(d_min)).cast("long"))
    hi = F.when(declared, F.col("_max")).otherwise(
        F.lit(None if d_max is None else int(d_max)).cast("long"))
    too_low = lo.isNotNull() & (d < lo)
    too_high = hi.isNotNull() & (d > hi)
    detail = _smap_plan(
        ("check", F.when(too_low, F.lit("belowMin"))
                   .otherwise(F.lit("aboveMax"))),
        ("group", grp), ("column", F.lit(rule.column)),
        ("distinct", d), ("min", lo), ("max", hi),
        ("mode", F.lit("approx" if rsd else "exact")))
    return (merged.where(too_low | too_high)
            .select(grp.alias("doc_id"),
                    *_viol_cols(rule, stage,
                                rule.error_code
                                or ErrorCode.DISTINCT_BAND_VIOLATION),
                    F.lit(None if rule.source == "*" else rule.source)
                     .cast("string").alias("source"),
                    detail.alias("detail")))


# -------------------------------------------- Monotonic (per-key ordering)

_MONO_DIRECTIONS = {
    # direction -> (comparison that VIOLATES, human label)
    "nonDecreasing": (lambda cur, prev: cur < prev, "decreased"),
    "increasing": (lambda cur, prev: cur <= prev, "did not increase"),
    "nonIncreasing": (lambda cur, prev: cur > prev, "increased"),
    "decreasing": (lambda cur, prev: cur >= prev, "did not decrease"),
}


def _validate_monotonic_params(rule: RuleDefinition, schema) -> None:
    """Compile-time totality for Monotonic rules (pre-flight contract)."""
    from pyspark.sql.types import (AtomicType, DateType, NumericType,
                                   StringType, TimestampNTZType,
                                   TimestampType)

    from ..compiler import _field_type
    col = rule.require_column()
    for name in (col, rule.require_param("keyColumn"),
                 rule.require_param("orderBy")):
        ftype = _field_type(schema, name, rule)
        if name == col and not isinstance(
                ftype, (NumericType, StringType, DateType,
                        TimestampType, TimestampNTZType)):
            raise RuleConfigurationError(
                rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
                f"Monotonic needs an orderable column; {col!r} is "
                f"{ftype.simpleString()}")
    direction = rule.params.get("direction", "nonDecreasing")
    if direction not in _MONO_DIRECTIONS:
        raise RuleConfigurationError(
            rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
            f"unknown direction {direction!r} "
            f"(expected one of {sorted(_MONO_DIRECTIONS)})")
    max_step = rule.params.get("maxStep")
    if max_step is not None:
        if isinstance(max_step, bool) or \
                not isinstance(max_step, (int, float)) or max_step <= 0:
            raise RuleConfigurationError(
                rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
                f"params.maxStep must be a number > 0 (got {max_step!r})")
        if not isinstance(_field_type(schema, col, rule), NumericType):
            raise RuleConfigurationError(
                rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
                f"params.maxStep needs a numeric column; {col!r} is not")


def monotonic_plan(df: DataFrame, rule: RuleDefinition, stage: int,
                   plan) -> DataFrame:
    """Per-key ordered-sequence validation: within each ``keyColumn``
    group, ordered by ``orderBy``, the rule column must move in
    ``direction`` (nonDecreasing | increasing | nonIncreasing |
    decreasing) — the event-stream invariant (sequence numbers never
    rewind, cumulative counters never drop, timestamps never go back).
    One violation per row that breaks the ordering vs its predecessor;
    detail carries (prev, observed, order position).

    ``params.maxStep`` (numeric column only) adds a GAP lane in the SAME
    window pass: consecutive values must also differ by at most
    ``maxStep`` in absolute value — missing sequence numbers, skipped
    days, counter resets that direction alone can't see. ``detail.check``
    says which lane fired.

    100-TB shape: ONE shuffle on ``keyColumn`` (per-key ordered semantics
    cannot be expressed without co-locating each key), then a single
    codegen ``lag`` window — no self-join, no second pass. The window
    orders by ``(orderBy, key_col)`` so same-timestamp rows compare
    deterministically. Rows with a NULL metric or NULL order value are
    skipped (open world — ``Required`` owns null presence); a hot key
    (one user owning 10% of events) is the skew to watch: pre-split such
    keys upstream or scope the rule per source."""
    from pyspark.sql.window import Window

    cfg = plan.config
    scoped = df
    if rule.source != "*":
        scoped = df.where(
            F.col(cfg.group_col).cast("string") == rule.source)
    key, order = rule.params["keyColumn"], rule.params["orderBy"]
    col = rule.column
    violates, label = _MONO_DIRECTIONS[
        rule.params.get("direction", "nonDecreasing")]
    scoped = scoped.where(F.col(col).isNotNull()
                          & F.col(order).isNotNull())
    w = (Window.partitionBy(F.col(key))
               .orderBy(F.col(order), F.col(cfg.key_col)))
    cur = F.col(col)
    max_step = rule.params.get("maxStep")
    prev = F.col("_prev")
    breaks = violates(cur, prev)
    cond, check = breaks, F.lit(label)
    if max_step is not None:
        gap = F.abs(cur - prev) > F.lit(float(max_step))
        cond = breaks | gap
        check = F.when(breaks, F.lit(label)).otherwise(
            F.lit(f"step > {max_step}"))
    detail = _smap_plan(
        ("key", F.col(key)), ("orderBy", F.col(order)),
        ("prev", F.col("_prev")), ("observed", cur),
        ("check", check))
    return (scoped
            .withColumn("_prev", F.lag(cur).over(w))
            .where(F.col("_prev").isNotNull() & cond)
            .select(F.col(cfg.key_col).cast("string").alias("doc_id"),
                    *_viol_cols(rule, stage,
                                rule.error_code
                                or ErrorCode.MONOTONICITY_VIOLATION),
                    F.col(cfg.group_col).cast("string").alias("source"),
                    detail.alias("detail")))


# --------------------------- FunctionalDependency (determinant -> dependent)

def _validate_fd_params(rule: RuleDefinition, schema) -> None:
    """Compile-time totality for FunctionalDependency rules."""
    from ..compiler import _field_type
    col = rule.require_column()
    dets = rule.require_param("determinants")
    if not isinstance(dets, list) or not dets:
        raise RuleConfigurationError(
            rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
            "FunctionalDependency needs a non-empty params.determinants "
            "list")
    if col in dets:
        raise RuleConfigurationError(
            rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
            f"dependent column {col!r} cannot be its own determinant")
    for name in [col] + list(dets):
        _field_type(schema, name, rule)
    mv = rule.params.get("maxValues", 1)
    if not isinstance(mv, int) or mv < 1:
        raise RuleConfigurationError(
            rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
            f"params.maxValues must be an int >= 1 (got {mv!r})")


def functional_dependency_plan(df: DataFrame, rule: RuleDefinition,
                               stage: int, plan) -> DataFrame:
    """Functional-dependency validation (determinants → dependent): every
    group of rows sharing the determinant columns must agree on the
    dependent column (≤ ``maxValues`` distinct non-null values; default
    1) — the denormalized-table consistency check (one ``order_id`` must
    map to one ``customer_id``; one ``(system, code)`` to one display
    string). One violation per OFFENDING GROUP (volume bounded by bad
    keys, never rows); detail carries the distinct count and the min/max
    witnesses — two provably different values a human can diff.

    100-TB shape: ONE groupBy on the determinants; ``count(distinct)``
    executes as Spark's two-phase partial-distinct aggregation
    (map-side dedup, then merge), min/max ride the same pass; everything
    after runs on the reduced |groups| frame. NULL dependents don't count
    toward the distinct values (open world); NULL determinant values form
    their own group (they name a real key in denormalized data)."""
    cfg = plan.config
    scoped = df
    if rule.source != "*":
        scoped = df.where(
            F.col(cfg.group_col).cast("string") == rule.source)
    dets = list(rule.params["determinants"])
    dep = rule.column
    max_values = int(rule.params.get("maxValues", 1))
    bad = (scoped
           .groupBy(*[F.col(c) for c in dets])
           .agg(F.countDistinct(F.col(dep)).alias("_nv"),
                F.min(F.col(dep)).alias("_lo"),
                F.max(F.col(dep)).alias("_hi"),
                F.count(F.lit(1)).alias("_rows"),
                F.min(F.col(cfg.group_col)).alias("_src"))
           .where(F.col("_nv") > max_values))
    key_repr = (F.col(dets[0]).cast("string") if len(dets) == 1
                else F.to_json(F.struct(*[F.col(c) for c in dets])))
    detail = _smap_plan(
        ("determinants", F.lit(",".join(dets))),
        ("nValues", F.col("_nv")), ("rows", F.col("_rows")),
        ("minValue", F.col("_lo")), ("maxValue", F.col("_hi")))
    vcols = _viol_cols(rule, stage,
                       rule.error_code
                       or ErrorCode.FUNCTIONAL_DEPENDENCY_VIOLATION)
    return bad.select(key_repr.alias("doc_id"), *vcols,
                      F.col("_src").cast("string").alias("source"),
                      detail.alias("detail"))


# ------------------------------------------------- Outlier (stat-driven rows)

_OUTLIER_METHODS = ("zscore", "iqr", "quantile")


def _validate_outlier_params(rule: RuleDefinition, schema) -> None:
    """Compile-time totality for Outlier rules (pre-flight contract)."""
    from pyspark.sql.types import NumericType

    from ..compiler import _field_type
    col = rule.require_column()
    ftype = _field_type(schema, col, rule)
    if not isinstance(ftype, NumericType):
        raise RuleConfigurationError(
            rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
            f"Outlier needs a numeric column; {col!r} is "
            f"{ftype.simpleString()}")
    method = rule.params.get("method", "zscore")
    if method not in _OUTLIER_METHODS:
        raise RuleConfigurationError(
            rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
            f"unknown outlier method {method!r} "
            f"(expected one of {_OUTLIER_METHODS})")
    if method == "quantile":
        lo = rule.params.get("lower", 0.001)
        hi = rule.params.get("upper", 0.999)
        try:
            lo, hi = float(lo), float(hi)
        except (TypeError, ValueError) as exc:
            raise RuleConfigurationError(
                rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
                f"quantile lower/upper must be numeric: {exc}") from exc
        if not (0.0 < lo < hi < 1.0):
            raise RuleConfigurationError(
                rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
                f"quantile bounds need 0 < lower < upper < 1 "
                f"(got {lo}, {hi})")
    else:
        try:
            k = float(rule.params.get("k", 3.0 if method == "zscore"
                                       else 1.5))
        except (TypeError, ValueError) as exc:
            raise RuleConfigurationError(
                rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
                f"params.k must be numeric: {exc}") from exc
        if k <= 0:
            raise RuleConfigurationError(
                rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
                f"params.k must be > 0 (got {k})")


def outlier_bounds(df: DataFrame, column: str, method: str = "zscore",
                   k: float | None = None,
                   lower: float = 0.001, upper: float = 0.999,
                   accuracy: int = 10_000,
                   group_col: str | None = None) -> DataFrame:
    """Pass 1 of the Outlier rule, exposed for observability: one
    aggregation reducing the input to ``(group, lo, hi, n)`` fences.

    Methods — ``zscore`` (μ ± k·σ, default k=3), ``iqr`` (Tukey fences
    q1−k·IQR / q3+k·IQR, default k=1.5; EXACT percentile — sort-based,
    use only when the per-group row count fits a single aggregation
    buffer) and ``quantile`` (fences directly at the lower/upper
    ``approx_percentile`` — the mergeable-sketch 100-TB path;
    approximate, so not oracle-comparable). Output is one row per group
    (or one row total): broadcast-sized by construction.

    Determinism: for INTEGRAL columns the zscore fences derive from
    exact order-free reductions — ``(n, Σx, Σx²)`` in DECIMAL — through
    a fixed chain of IEEE double ops (each correctly rounded on
    identical inputs), so lo/hi are bit-identical across partitionings
    AND across engines (an oracle stating the same chain — DuckDB
    ``sqrt(CAST(n·s2 − s1·s1 AS DOUBLE) / (n·(n−1)))`` over hugeint
    sums — reproduces them to the last ulp; the variance numerator
    stays in exact integer arithmetic, so there is no catastrophic
    cancellation either). Floating-point columns cannot sum exactly, so they
    keep ``avg``/``stddev``, whose partial-moment merge order makes the
    last ulp plan- and engine-dependent: deterministic within one plan,
    NOT cross-engine reproducible."""
    if method not in _OUTLIER_METHODS:
        raise ValueError(f"unknown outlier method {method!r}")
    kk = float(k if k is not None else (3.0 if method == "zscore" else 1.5))
    c = F.col(column).cast("double")
    # NULL groups key as "<null>" (the engine's verdict convention): the
    # fence row must join back to its rows, and a NULL key never
    # equi-matches — unguarded, NULL-group rows would silently escape
    # outlier checking
    group = (F.lit(GROUP_ALL) if group_col is None
             else F.coalesce(F.col(group_col).cast("string"),
                             F.lit("<null>"))).alias("_grp")
    exact = False
    if method == "zscore":
        try:
            from pyspark.sql.types import IntegralType
            exact = isinstance(df.schema[column].dataType, IntegralType)
        except Exception:
            exact = False
    if method == "zscore" and exact:
        # decimal(19,0) holds ANY bigint (max ~9.2e18, 19 digits) and
        # its square fits decimal(38,0) (max ~8.5e37), so the casts can
        # never overflow. The numerator below cannot exceed decimal(38,0)
        # (< 1e38) either: the lane is exact only while n·Σx² < 1e38,
        # which implies |Σx| < 1e19 — about 1e4 rows of ~1e15 values, or
        # two rows of 5e18 (two of 4999999999999999999 stay exact). Past
        # that the try_* ops give NULL instead of an ANSI crash, and
        # each group falls back to the avg/stddev moments computed IN
        # THE SAME single aggregation — while DuckDB's hugeint oracle
        # stays exact, so the two engines may then differ.
        # Exact groups stay bit-identical; overflowing groups degrade to
        # the engine-deterministic (not cross-engine) fences rather than
        # failing the run or silently dropping rows (round-5 review).
        x = F.col(column).cast("decimal(19,0)")
        aggs = [F.try_sum(x).alias("_s1"), F.try_sum(x * x).alias("_s2"),
                F.count(c).alias("n"),
                F.avg(c).alias("_mu_f"), F.stddev(c).alias("_sd_f")]
        nd = F.col("n").cast("double")
        s1, s2 = F.col("_s1"), F.col("_s2")
        # variance NUMERATOR n·Σx² − (Σx)² entirely in decimal — exact
        # integer arithmetic, so no catastrophic cancellation for
        # large-magnitude values (the double form s2 − s1²/n loses ALL
        # significant digits for e.g. epoch-nanosecond columns, round-5
        # review batch 2); the single cast of the exact numerator to
        # double is correctly rounded, keeping bit-exactness. try_* ops
        # turn any decimal(38) overflow into NULL → that group falls
        # back to the stable central-moment stddev from the same pass.
        num = F.try_subtract(
            F.try_multiply(F.col("n").cast("decimal(38,0)"), s2),
            F.try_multiply(s1, s1))
        exact_ok = num.isNotNull()
        mu = F.when(exact_ok, s1.cast("double") / nd) \
             .otherwise(F.col("_mu_f"))
        sd = F.when(
            F.col("n") >= 2,
            F.when(exact_ok, F.sqrt(
                num.cast("double") / (nd * (nd - F.lit(1.0)))))
             .otherwise(F.col("_sd_f")))
        lo = mu - F.lit(kk) * sd
        hi = mu + F.lit(kk) * sd
    elif method == "zscore":
        aggs = [F.avg(c).alias("_mu"), F.stddev(c).alias("_sd"),
                F.count(c).alias("n")]
        lo = F.col("_mu") - F.lit(kk) * F.col("_sd")
        hi = F.col("_mu") + F.lit(kk) * F.col("_sd")
    elif method == "iqr":
        aggs = [F.percentile(c, F.lit([0.25, 0.75])).alias("_q"),
                F.count(c).alias("n")]
        iqr = F.col("_q")[1] - F.col("_q")[0]
        lo = F.col("_q")[0] - F.lit(kk) * iqr
        hi = F.col("_q")[1] + F.lit(kk) * iqr
    else:  # quantile
        aggs = [F.percentile_approx(c, F.lit([float(lower), float(upper)]),
                                    F.lit(int(accuracy))).alias("_q"),
                F.count(c).alias("n")]
        lo, hi = F.col("_q")[0], F.col("_q")[1]
    return (df.groupBy(group).agg(*aggs)
            .select(F.col("_grp").alias("group"), lo.alias("lo"),
                    hi.alias("hi"), "n"))


def outlier_plan(df: DataFrame, rule: RuleDefinition, stage: int,
                 plan) -> DataFrame:
    """Statistical outlier detection as a rule: two-pass — ONE aggregation
    computes per-group (or dataset-wide) fences, then the fence row(s)
    BROADCAST back onto the scan and rows outside [lo, hi] become
    violations (detail: observed/lo/hi/side/method). Shuffle cost is pass
    1's partial agg only; pass 2 is a map-side broadcast join, so the plan
    scales with input size, never with fence cardinality.

    ``perGroup: true`` (default) fences each ``group_col`` value
    separately — per-source length anomalies, robust to mixture corpora.
    Fewer than 2 observed rows in a group → no fences → no violations
    (open world: too little data to call anything anomalous, unlike the
    Expectation rule's closed-world convention, because an outlier claim
    is about a DISTRIBUTION, which two rows don't establish).
    """
    col, params = rule.column, rule.params
    method = params.get("method", "zscore")
    per_group = bool(params.get("perGroup", True))
    scoped = df
    if rule.source != "*":
        scoped = df.where(
            F.col(plan.config.group_col).cast("string") == rule.source)
    fences = outlier_bounds(
        scoped, col, method=method, k=params.get("k"),
        lower=float(params.get("lower", 0.001)),
        upper=float(params.get("upper", 0.999)),
        accuracy=int(params.get("accuracy", 10_000)),
        group_col=plan.config.group_col if per_group else None)
    fences = (fences.where(F.col("lo").isNotNull() & (F.col("n") >= 2))
              # rename before joining back: fences derive from `scoped`'s
              # own lineage, so an unrenamed self-join condition resolves
              # both sides to the fence plan and matches nothing
              .select(F.col("group").alias("_fence_grp"), "lo", "hi"))
    if per_group:
        joined = (scoped
                  .withColumn("_fence_grp",
                              F.coalesce(F.col(plan.config.group_col)
                                         .cast("string"),
                                         F.lit("<null>")))
                  .join(F.broadcast(fences), "_fence_grp"))
    else:
        joined = scoped.crossJoin(F.broadcast(fences.drop("_fence_grp")))
    c = F.col(col).cast("double")
    bad = joined.where(c.isNotNull() & ((c < F.col("lo")) | (c > F.col("hi"))))
    detail = F.create_map(
        F.lit("observed"), c.cast("string"),
        F.lit("lo"), F.col("lo").cast("string"),
        F.lit("hi"), F.col("hi").cast("string"),
        F.lit("side"), F.when(c < F.col("lo"), "below").otherwise("above"),
        F.lit("method"), F.lit(method))
    return bad.select(
        F.col(plan.config.key_col).cast("string").alias("doc_id"),
        *_viol_cols(rule, stage,
                    rule.error_code or ErrorCode.OUTLIER_VALUE),
        F.col(plan.config.group_col).cast("string").alias("source"),
        detail.alias("detail"))


# ----------------------------------------------------------- Drift (C5 KS/PSI)

DRIFT_RESULT_SCHEMA = ("source string, psi double, ks double, ks_crit double, "
                       "jsd double, chi2 double, "
                       "n_current long, n_baseline long")


def _dbl(x: float) -> str:
    """A SQL double literal that round-trips ``x`` exactly."""
    return f"CAST('{float(x)!r}' AS DOUBLE)"


def _drift_fold_sql(ks_alpha: float) -> str:
    """The statistics of :func:`drift_compare` as one SQL expression over
    a source's sorted ``h = array<struct<bucket, c, b>>`` (current and
    baseline counts) and its totals ``n_current`` / ``n_baseline``.

    One ``aggregate`` fold walks the buckets in order. Runs of one bucket
    merge into the pending entry; a new bucket flushes the pending one
    into the running PSI, KS (cumulative counts), the two JSD halves and
    chi-square. A sentinel bucket after the last one flushes it. The fold
    runs only when both totals are positive: otherwise every statistic is
    NULL (and ANSI division by zero never runs)."""
    eps = _dbl(1e-6)
    p0, q0 = "(a.c / n_current)", "(a.b / n_baseline)"
    p, q = f"greatest({p0}, {eps})", f"greatest({q0}, {eps})"
    m = f"(0.5D * ({p0} + {q0}))"
    dev = f"(a.c - {q0} * n_current)"
    flush = (
        "'cc', a.cc + a.c, 'cb', a.cb + a.b, "
        f"'psi', a.psi + ({p} - {q}) * ln({p} / {q}), "
        "'ks', greatest(a.ks, abs((a.cc + a.c) / n_current "
        "- (a.cb + a.b) / n_baseline)), "
        f"'jp', a.jp + IF({p0} > 0, {p0} * log2({p0} / {m}), 0D), "
        f"'jq', a.jq + IF({q0} > 0, {q0} * log2({q0} / {m}), 0D), "
        f"'chi', a.chi + IF(a.b > 0, {dev} * {dev} / ({q0} * n_current), 0D)")
    keep = ("'cc', a.cc, 'cb', a.cb, 'psi', a.psi, 'ks', a.ks, "
            "'jp', a.jp, 'jq', a.jq, 'chi', a.chi")
    fold = (
        "aggregate(concat(h, array(named_struct("
        "'bucket', CAST(NULL AS BIGINT), 'c', 0L, 'b', 0L))), "
        "named_struct('k', CAST(NULL AS BIGINT), 'c', 0L, 'b', 0L, "
        "'cc', 0L, 'cb', 0L, 'psi', 0D, 'ks', 0D, 'jp', 0D, 'jq', 0D, "
        "'chi', 0D), "
        "(a, x) -> IF(a.k <=> x.bucket, "
        f"named_struct('k', a.k, 'c', a.c + x.c, 'b', a.b + x.b, {keep}), "
        f"named_struct('k', x.bucket, 'c', x.c, 'b', x.b, {flush})), "
        "a -> named_struct('psi', a.psi, 'ks', a.ks, "
        "'jsd', 0.5D * a.jp + 0.5D * a.jq, 'chi2', a.chi))")
    ks_c = math.sqrt(-0.5 * math.log(ks_alpha / 2.0))
    crit = (f"{_dbl(ks_c)} * sqrt((CAST(n_current AS DOUBLE) + n_baseline) "
            "/ (CAST(n_current AS DOUBLE) * n_baseline))")
    both = "n_current > 0 AND n_baseline > 0"
    return (f"CASE WHEN {both} THEN named_struct('stats', {fold}, "
            f"'ks_crit', {crit}) END")


def drift_comparer(ks_alpha: float = 0.01):
    """:func:`drift_compare` for one ``ks_alpha`` with its ``Column``
    trees built once: a function ``(current, baseline) -> stats``, which
    the Drift rule's compiled plan keeps in ``plan.memo``."""
    zero = F.lit(0).cast("bigint")
    # a NULL bucket is no bucket: its rows count on neither side
    n = (F.when(F.col("bucket").isNull(), zero)
         .otherwise(F.coalesce(F.col("cnt").cast("bigint"), zero)))
    keys = [F.col("source").cast("string").alias("source"),
            F.col("bucket").cast("bigint").alias("bucket")]
    cur_cols = [*keys, n.alias("c"), zero.alias("b")]
    base_cols = [*keys, zero.alias("c"), n.alias("b")]
    aggs = [F.expr("array_sort(collect_list(struct(bucket, c, b)))")
            .alias("h"),
            F.sum("c").alias("n_current"), F.sum("b").alias("n_baseline")]
    s = F.expr(_drift_fold_sql(ks_alpha)).alias("_s")
    # DRIFT_RESULT_SCHEMA, every field nullable
    out = ["source", F.col("_s.stats.psi").alias("psi"),
           F.col("_s.stats.ks").alias("ks"),
           F.col("_s.ks_crit").alias("ks_crit"),
           F.col("_s.stats.jsd").alias("jsd"),
           F.col("_s.stats.chi2").alias("chi2"), "n_current", "n_baseline"]

    def compare(current: DataFrame, baseline: DataFrame) -> DataFrame:
        return (current.select(*cur_cols)
                .unionByName(baseline.select(*base_cols))
                .groupBy("source").agg(*aggs)
                .select("source", "n_current", "n_baseline", s)
                .select(*out))
    return compare


def drift_compare(current: DataFrame, baseline: DataFrame,
                  ks_alpha: float = 0.01) -> DataFrame:
    """PSI, two-sample KS, Jensen-Shannon divergence, and chi-square
    between two reduced histograms (each ``(source, bucket, cnt)``), all
    in Catalyst: the two sides union into one ``groupBy(source)`` that
    collects each source's sorted ``(bucket, current, baseline)`` counts,
    and one ``aggregate`` fold over them computes the four statistics
    (duplicate buckets merge inside the fold). No Python worker runs.
    Output: ``(source, psi, ks, ks_crit, jsd, chi2, n_current,
    n_baseline)``.

    Statistic conventions: PSI over eps-clamped rates (industry form —
    sensitive to mass appearing in empty buckets); JSD in bits (base 2,
    bounded [0, 1], zero-rate terms contribute 0 — no clamping needed);
    chi-square of current counts against baseline-rate expectations over
    buckets WITH baseline support (mass in baseline-empty buckets is
    PSI/JSD's job — the classical statistic is undefined there); KS on the
    bucket-ordered CDFs (meaningful only for ordered supports).

    A source present on one side only gets NULL statistics (its other
    total is 0), so no threshold ever flags it.

    The shared comparison core of the Drift rule (C5) and
    :func:`~..stats.snapshot_drift`."""
    return drift_comparer(ks_alpha)(current, baseline)


def drift_plan(df: DataFrame, rule: RuleDefinition, stage: int,
               plan) -> DataFrame:
    """Distribution drift vs a persisted baseline histogram (SURVEY §2.8 C5).

    Two-phase, all in Catalyst: (1) JVM-side partial+final hash
    aggregation reduces the input to per-(source, bucket) counts — shuffle
    size = O(groups × buckets), not O(rows); (2) :func:`drift_compare`
    computes PSI, the two-sample KS statistic, JSD and chi-square per
    source in one aggregation and one ``aggregate`` fold over the
    *reduced* histograms. Violation when PSI > psiMax or KS exceeds its
    asymptotic critical value at ksAlpha (or JSD > jsdMax). A source on
    one side only has NULL statistics and never flags (RequiredResources
    covers a vanished source).

    Baseline dim schema: (source, column_name, bucket, count) — F6 in
    FIXTURES.md. The expressions, the comparison and the baseline side,
    which do not depend on the input, are built once per compiled plan
    (``plan.memo``).
    """
    c = plan.memo(("plans.Drift", rule.id),
                  lambda: _drift_columns(rule, stage, plan))
    if c.histogram is None:
        # north-star token-frequency drift: the histogram key is the token
        # id itself (explode + partial-agg count — at 10^12 sequences the
        # explode is the big shuffle; params.sampleFraction computes RATES
        # on a deterministic row sample instead). KS over token-id order is
        # meaningless (ids are categorical) — only PSI gates violations.
        from ..stats import grouped_token_counts
        frac = rule.params.get("sampleFraction")
        # keep the token-id bucket at its native width (grouped_token_counts
        # emits bigint); narrowing to int would abort under ANSI (or wrap and
        # merge buckets off-ANSI) for ids >= 2^31 — the baseline dim is
        # widened to bigint below instead
        current = (grouped_token_counts(
                       df, rule.column, group_col=plan.config.group_col,
                       sample_fraction=float(frac) if frac else None)
                   .withColumnRenamed("group", "source")
                   .withColumn("bucket", F.col("bucket").cast("bigint")))
    else:
        present, keys, cnt = c.histogram
        current = df.where(present).groupBy(*keys).agg(cnt)
    stats = c.compare(current, c.baseline)
    return stats.where(c.bad).select(*c.out)


class _DriftColumns(NamedTuple):
    """The input-independent parts of :func:`drift_plan`."""
    histogram: tuple | None    # numeric mode: (filter, keys, count agg)
    baseline: DataFrame        # the baseline dim's histogram of the column
    compare: Any               # drift_comparer(ksAlpha)
    bad: Column                # drift verdict over the compared stats
    out: list                  # violation select list


def _drift_columns(rule: RuleDefinition, stage: int, plan) -> _DriftColumns:
    col = rule.column
    width = float(rule.params.get("bucketWidth", 64))
    psi_max = float(rule.params.get("psiMax", 0.2))
    ks_alpha = float(rule.params.get("ksAlpha", 0.01))
    mode = rule.params.get("mode", "numeric")
    if mode == "numeric":
        histogram = (F.col(col).isNotNull(),
                     [F.col(plan.config.group_col).alias("source"),
                      F.floor(F.col(col) / width).cast("bigint")
                      .alias("bucket")],
                     F.count(F.lit(1)).alias("cnt"))
    elif mode == "tokenFrequency":
        histogram = None
    else:
        raise RuleConfigurationError(
            rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
            f"unknown drift mode {mode!r} (numeric | tokenFrequency)")
    baseline = (plan.dims[rule.params["baseline"]]
                .where(F.col("column_name") == col)
                .select(F.col("source"), F.col("bucket").cast("bigint"),
                        F.col("count").alias("cnt")))
    jsd_max = rule.params.get("jsdMax")
    viol_cond = F.col("psi") > psi_max
    if mode != "tokenFrequency":  # KS needs an ordered support
        viol_cond = viol_cond | (F.col("ks") > F.col("ks_crit"))
    if jsd_max is not None:  # JSD is support-order-free: valid in any mode
        viol_cond = viol_cond | (F.col("jsd") > float(jsd_max))
    out = [
        F.lit(None).cast("string").alias("doc_id"),
        *_viol_cols(rule, stage, rule.error_code or ErrorCode.DISTRIBUTION_DRIFT),
        F.col("source"),
        F.create_map(
            F.lit("psi"), F.round("psi", 6).cast("string"),
            F.lit("psiMax"), F.lit(str(psi_max)),
            F.lit("ks"), F.round("ks", 6).cast("string"),
            F.lit("ksCrit"), F.round("ks_crit", 6).cast("string"),
            F.lit("jsd"), F.round("jsd", 6).cast("string"),
            F.lit("chi2"), F.round("chi2", 6).cast("string"),
            F.lit("nCurrent"), F.col("n_current").cast("string"),
            F.lit("nBaseline"), F.col("n_baseline").cast("string"),
        ).alias("detail"),
    ]
    return _DriftColumns(histogram, baseline, drift_comparer(ks_alpha),
                         viol_cond, out)


# ---------------------------------- HeavyHitters (dominance over open domain)

def _validate_heavy_hitters(rule: RuleDefinition, schema) -> None:
    from ..compiler import _field_type
    rule.require_column()
    _field_type(schema, rule.column, rule)
    max_share = rule.params.get("maxShare")
    max_count = rule.params.get("maxCount")
    if max_share is None and max_count is None:
        raise RuleConfigurationError(
            rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
            "HeavyHitters needs params.maxShare and/or params.maxCount")
    if max_share is not None:
        try:
            ok = 0.0 < float(max_share) <= 1.0
        except (TypeError, ValueError):
            ok = False
        if not ok:
            raise RuleConfigurationError(
                rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
                f"params.maxShare must be a fraction in (0, 1] "
                f"(got {max_share!r})")
    if max_count is not None and (isinstance(max_count, bool)
                                  or not isinstance(max_count, int)
                                  or max_count < 1):
        raise RuleConfigurationError(
            rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
            f"params.maxCount must be an integer >= 1 (got {max_count!r})")
    k = rule.params.get("k", 100)
    if isinstance(k, bool) or not isinstance(k, int) or k < 1:
        raise RuleConfigurationError(
            rule.id, ErrorCode.RULE_CONFIGURATION_ERROR,
            f"params.k must be an integer >= 1 (got {k!r})")


def heavy_hitters_plan(df: DataFrame, rule: RuleDefinition, stage: int,
                       plan) -> DataFrame:
    """Dominance validation over an OPEN value domain: no single value of
    ``column`` may account for more than ``params.maxShare`` of rows (or
    exceed ``params.maxCount`` occurrences) — the dedup-health /
    hot-key-exposure gate GroupShare cannot express (GroupShare needs the
    groups declared up front; here the offender is whichever value shows
    up, out of an unbounded domain — a crawl dup-storm URL, one doc_id
    exploding in a join, one fingerprint dominating a shard).

    100-TB shape: the :func:`stats.heavy_hitters` Misra-Gries pass
    shuffles ≤ k × partitions summary rows, never the domain. Judgments
    use the sketch's LOWER bound, so a flagged value truly violates (no
    sketch-error false positives); detection is guaranteed for any value
    whose true share exceeds ``maxShare + error_bound/n`` — exact when
    ``k`` covers the domain (error_bound 0). Choose ``k`` ≥ a few ×
    1/maxShare so real offenders cannot hide below the summary.
    """
    from ..stats import heavy_hitters as _hh
    cfg = plan.config
    scoped = df
    if rule.source != "*":
        scoped = df.where(
            F.col(cfg.group_col).cast("string") == rule.source)
    k = int(rule.params.get("k", 100))
    max_share = rule.params.get("maxShare")
    max_count = rule.params.get("maxCount")
    hh = _hh(scoped, rule.column, k=k)
    over_share = (F.lit(False) if max_share is None else
                  F.col("n_lo") > F.lit(float(max_share)) * F.col("n_group"))
    over_count = (F.lit(False) if max_count is None else
                  F.col("n_lo") > F.lit(int(max_count)))
    share_lo = F.when(F.col("n_group") > 0,
                      F.col("n_lo").cast("double") / F.col("n_group"))
    detail = _smap_plan(
        ("check", F.when(over_share, F.lit("maxShare"))
                   .otherwise(F.lit("maxCount"))),
        ("value", F.col("value")), ("column", F.lit(rule.column)),
        ("countLo", F.col("n_lo")), ("countHi", F.col("n_hi")),
        ("shareLo", F.round(share_lo, 6)),
        ("maxShare", F.lit(None if max_share is None
                           else float(max_share))),
        ("maxCount", F.lit(None if max_count is None
                           else int(max_count)).cast("long")),
        ("n", F.col("n_group")),
        ("errorBound", F.col("error_bound")), ("k", F.lit(k)))
    return (hh.where(over_share | over_count)
            .select(F.col("value").alias("doc_id"),
                    *_viol_cols(rule, stage,
                                rule.error_code
                                or ErrorCode.HEAVY_HITTER_VIOLATION),
                    F.lit(None if rule.source == "*" else rule.source)
                     .cast("string").alias("source"),
                    detail.alias("detail")))
